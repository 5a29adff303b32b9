"""Multi-index SyncRunner: N trees off one CDC stream with a SHARED
bronze layer — each index's docs must equal its own full recompute from
the final table state (the reference runs one Sync per schema.json
entry over the same change feed, ref: pgsync/__main__.py:60-85)."""

import json

import pytest
from pyspark.sql import functions as F

from pgsync_spark import Catalog, compile_assembled, schemas
from pgsync_spark.streaming import SyncRunner, payloads_from_rows

from conftest import SF_DIR


def _docs_equal(a, b):
    return (
        a.select("_id", "doc").subtract(b.select("_id", "doc")).count() == 0
        and b.select("_id", "doc").subtract(a.select("_id", "doc")).count() == 0
    )


# schema name -> index name (Tree.index, the engine key in the runner)
TREES = {"orders_full": "orders", "customer_orders_lineitems": "customer"}


@pytest.fixture()
def runner(spark):
    r = SyncRunner(
        spark,
        [schemas.tree(n) for n in TREES],
        Catalog(spark, SF_DIR),
    )
    r.full_sync()
    return r


def _batch(spark, runner):
    """One batch touching orders (both trees), customer (both trees,
    different positions), and lineitem (leaf of both)."""
    cat = runner.catalog
    o = cat.df("orders").filter(F.col("o_orderkey") == 7).collect()[0].asDict()
    return payloads_from_rows(
        spark,
        [
            {
                "op": "UPDATE",
                "table": "orders",
                "old": {"o_orderkey": 7},
                "new": dict(o, o_orderpriority="9-MULTI"),
                "txid": 10,
            },
            {
                "op": "UPDATE",
                "table": "customer",
                "old": {"c_custkey": 4},
                "new": {
                    "c_custkey": 4,
                    "c_name": "MULTI-RENAMED",
                    "c_nationkey": 4,
                    "c_mktsegment": "MACHINERY",
                },
                "txid": 11,
            },
            {
                "op": "INSERT",
                "table": "lineitem",
                "new": {
                    "l_orderkey": 3,
                    "l_partkey": 1,
                    "l_suppkey": 1,
                    "l_linenumber": 77,
                    "l_quantity": 2.0,
                    "l_extendedprice": 10.0,
                    "l_discount": 0.0,
                    "l_tax": 0.0,
                    "l_returnflag": "M",
                    "l_linestatus": "M",
                    "l_shipdate": "2025-02-01 00:00:00",
                },
                "txid": 12,
            },
        ],
    )


@pytest.mark.slow
def test_both_indices_match_full_recompute(spark, runner):
    runner.process_batch(_batch(spark, runner))
    for schema_name, idx in TREES.items():
        eng = runner.engines[idx]
        full = compile_assembled(runner.catalog, schemas.tree(schema_name))[0]
        assert _docs_equal(eng.docs, full), idx


def test_shared_snapshot_applied_once(spark, runner):
    """Both engines share one materializer instance and the catalog's
    registered snapshot reflects exactly one application of the batch."""
    assert (
        runner.engines["orders"].materializer
        is runner.engines["customer"].materializer
    )
    runner.process_batch(_batch(spark, runner))
    snap = runner.catalog.df("customer").filter(F.col("c_custkey") == 4)
    rows = snap.collect()
    assert len(rows) == 1 and rows[0]["c_name"] == "MULTI-RENAMED"


def test_cross_tree_effects_land_in_both(spark, runner):
    runner.process_batch(_batch(spark, runner))
    # orders_full: order 7 doc carries the new priority; customer rename
    # reaches order docs through the customer child node
    docs_a = runner.docs("orders")
    assert "9-MULTI" in docs_a.filter(F.col("_id") == "7").collect()[0]["doc"]
    affected = docs_a.filter(F.col("doc").contains("MULTI-RENAMED"))
    assert affected.count() > 0
    # customer_orders_lineitems: customer 4's doc renames, and order 3's
    # new lineitem lands inside its customer's nested doc
    docs_b = runner.docs("customer")
    doc4 = docs_b.filter(F.col("_id") == "4").collect()[0]["doc"]
    assert "MULTI-RENAMED" in doc4
    o3_cust = (
        runner.catalog.df("orders")
        .filter(F.col("o_orderkey") == 3)
        .collect()[0]["o_custkey"]
    )
    doc_o3 = docs_b.filter(F.col("_id") == str(o3_cust)).collect()[0]["doc"]
    assert '"l_linenumber":77' in doc_o3


def test_runner_from_config(spark, tmp_path):
    """config_loader list entry → one engine per index, like the CLI."""
    cfg = [
        {
            "database": "db",
            "index": "orders_idx",
            "nodes": {
                "table": "orders",
                "columns": ["o_orderkey", "o_orderstatus"],
            },
        },
        {
            "database": "db",
            "index": "customer_idx",
            "nodes": {
                "table": "customer",
                "columns": ["c_custkey", "c_name"],
            },
        },
    ]
    p = tmp_path / "schema.json"
    p.write_text(json.dumps(cfg))
    r = SyncRunner.from_config(spark, str(p), Catalog(spark, SF_DIR))
    assert set(r.engines) == {"orders_idx", "customer_idx"}
    docs = r.full_sync()
    assert docs["orders_idx"].count() > 0
    assert docs["customer_idx"].count() > 0
    ev = payloads_from_rows(
        spark,
        [
            {
                "op": "UPDATE",
                "table": "customer",
                "old": {"c_custkey": 1},
                "new": {"c_custkey": 1, "c_name": "CFG-RENAMED"},
                "txid": 20,
            }
        ],
    )
    r.process_batch(ev)
    assert r.checkpoint == 20
    doc = r.docs("customer_idx").filter(F.col("_id") == "1").collect()[0]["doc"]
    assert "CFG-RENAMED" in doc
    # the orders index ignored the event entirely
    assert r.engines["orders_idx"].stats["events"] == 0


@pytest.mark.slow
def test_runner_streams_one_feed_into_both_indices(spark, runner, tmp_path):
    """readStream → foreachBatch(runner.process_batch): ONE JSON event
    feed drives BOTH indices end to end; each converges to its own full
    recompute from the final table state."""
    import os

    from pgsync_spark.streaming.stream import start_cdc_stream

    events_dir = str(tmp_path / "events")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(events_dir)
    # two files -> two micro-batches (maxFilesPerTrigger=1); the second
    # updates the same order again, exercising overlay-on-overlay
    row = {
        r["o_orderkey"]: r.asDict()
        for r in runner.catalog.df("orders").filter(F.col("o_orderkey") == 2).collect()
    }[2]
    with open(os.path.join(events_dir, "b1.json"), "w") as f:
        f.write(json.dumps({
            "op": "UPDATE", "schema": "public", "table": "orders",
            "old": {"o_orderkey": "2"},
            "new": {k: str(v) for k, v in dict(row, o_orderpriority="S1").items()},
            "txid": 101,
        }))
    with open(os.path.join(events_dir, "b2.json"), "w") as f:
        f.write(json.dumps({
            "op": "UPDATE", "schema": "public", "table": "orders",
            "old": {"o_orderkey": "2"},
            "new": {k: str(v) for k, v in dict(row, o_orderpriority="S2").items()},
            "txid": 102,
        }))
    q = start_cdc_stream(spark, runner, events_dir, ckpt, max_files_per_trigger=1)
    q.processAllAvailable()
    q.stop()
    assert runner.checkpoint == 102
    snap = runner.catalog.df("orders").filter(F.col("o_orderkey") == 2).collect()
    assert len(snap) == 1 and snap[0]["o_orderpriority"] == "S2"
    for name, schema_name in (("orders", "orders_full"),
                              ("customer", "customer_orders_lineitems")):
        full = compile_assembled(runner.catalog, schemas.tree(schema_name))[0]
        assert _docs_equal(runner.docs(name), full), name


def test_runner_close_releases_shared_state(spark, tmp_path):
    """close() frees the shared materializer's snapshots: the catalog
    re-resolves raw sources afterwards (CDC-modified rows gone)."""
    from pyspark.sql import functions as F

    from pgsync_spark import Catalog, schemas
    from pgsync_spark.streaming import payloads_from_rows
    from pgsync_spark.streaming.runner import SyncRunner

    cat = Catalog(spark, SF_DIR)
    runner = SyncRunner(spark, [schemas.tree("orders_lineitems")], cat)
    runner.full_sync()
    runner.process_batch(
        payloads_from_rows(
            spark,
            [
                {
                    "op": "UPDATE",
                    "table": "orders",
                    "old": {"o_orderkey": 7},
                    "new": {"o_orderkey": 7, "o_orderpriority": "CLOSED-TEST"},
                    "txid": 1,
                }
            ],
        )
    )
    assert (
        cat.df("orders")
        .filter(F.col("o_orderpriority") == "CLOSED-TEST")
        .count()
        == 1
    )
    runner.close()
    # raw source again: the CDC change is gone from the catalog view
    assert (
        cat.df("orders")
        .filter(F.col("o_orderpriority") == "CLOSED-TEST")
        .count()
        == 0
    )
