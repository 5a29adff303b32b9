"""Structured Streaming wrapper + plugin + sink tests."""

import json
import os
import tempfile

from pyspark.sql import functions as F

from pgsync_spark import Catalog, compile_assembled, schemas
from pgsync_spark.catalog import with_event_time
from pgsync_spark.plugin import Plugin, apply_plugins
from pgsync_spark.sinks import build_index_mapping, write_jsonl
from pgsync_spark.streaming import IncrementalEngine
from pgsync_spark.streaming.stream import start_cdc_stream

from conftest import SF_DIR
import pytest


@pytest.mark.slow
def test_cdc_stream_files(spark):
    """JSON files → readStream → foreachBatch(process_batch): docs
    converge to full recompute, offsets checkpointed."""
    tree = schemas.tree("orders_full")
    eng = IncrementalEngine(spark, tree, Catalog(spark, SF_DIR))
    eng.full_sync()
    with tempfile.TemporaryDirectory() as tmp:
        events_dir = os.path.join(tmp, "events")
        ckpt = os.path.join(tmp, "ckpt")
        os.makedirs(events_dir)
        # two event files = at least two micro-batches (maxFilesPerTrigger=1)
        with open(os.path.join(events_dir, "b1.json"), "w") as f:
            f.write(
                json.dumps(
                    {
                        "op": "UPDATE",
                        "schema": "public",
                        "table": "orders",
                        "old": {"o_orderkey": "7"},
                        "new": {
                            "o_orderkey": "7",
                            "o_custkey": "85",
                            "o_orderstatus": "F",
                            "o_totalprice": "1.25",
                            "o_orderdate": "1997-01-15 00:00:00",
                            "o_orderpriority": "STREAMED",
                        },
                        "txid": 1,
                    }
                )
            )
        with open(os.path.join(events_dir, "b2.json"), "w") as f:
            f.write(
                json.dumps(
                    {
                        "op": "DELETE",
                        "schema": "public",
                        "table": "orders",
                        "old": {"o_orderkey": "8"},
                        "new": {},
                        "txid": 2,
                    }
                )
            )
        q = start_cdc_stream(spark, eng, events_dir, ckpt, max_files_per_trigger=1)
        q.processAllAvailable()
        q.stop()
    assert "STREAMED" in eng.docs.filter(F.col("_id") == "7").collect()[0]["doc"]
    assert eng.docs.filter(F.col("_id") == "8").count() == 0
    full = compile_assembled(eng.catalog, schemas.tree("orders_full"))[0]
    assert eng.docs.select("_id", "doc").subtract(full).count() == 0


class _Upper(Plugin):
    name = "upper"

    def transform(self, doc, _id, _index):
        doc["o_orderstatus"] = doc["o_orderstatus"].upper()
        return doc


class _DropAll(Plugin):
    name = "drop"

    def transform(self, doc, _id, _index):
        return None


def test_plugin_chain_order_and_drop(spark):
    docs, _ = compile_assembled(
        Catalog(spark, SF_DIR), schemas.tree("root_only")
    )
    out = apply_plugins(docs, [_Upper()], index="orders")
    assert out.count() == docs.count()
    assert apply_plugins(docs, [_Upper(), _DropAll()], index="orders").count() == 0


def test_jsonl_sink_roundtrip(spark, tmp_path):
    docs, _ = compile_assembled(
        Catalog(spark, SF_DIR), schemas.tree("root_only")
    )
    path = str(tmp_path / "out")
    write_jsonl(docs, path)
    back = spark.read.text(path)
    assert back.count() == docs.count()
    row = json.loads(back.limit(1).collect()[0]["value"])
    assert "_id" in row and "_source" in row and "_meta" in row["_source"]


def test_index_mapping_generation(spark):
    tree = schemas.tree("orders_full")
    structured, _ = compile_assembled(
        Catalog(spark, SF_DIR), tree, structured=True
    )
    mapping = build_index_mapping(tree, structured.schema)
    props = mapping["mappings"]["properties"]
    assert props["o_totalprice"] == {"type": "double"}
    assert props["o_orderdate"] == {"type": "text"}  # canonicalized string
    assert "properties" in props["customer"]
    assert props["customer"]["properties"]["nation"]["properties"]["n_name"] == {
        "type": "text"
    }
    assert props["lineitems"]["properties"]["l_quantity"] == {"type": "double"}


@pytest.mark.slow
def test_docstore_save_restore_resume(spark, tmp_path):
    """Persist engine state, restore into a fresh engine, resume with a
    new batch — result equals a full recompute (restart durability)."""
    from pgsync_spark.sinks.store import DocStore
    from pgsync_spark.streaming import payloads_from_rows

    tree = schemas.tree("orders_full")
    cat = Catalog(spark, SF_DIR)
    eng = IncrementalEngine(spark, tree, cat)
    eng.full_sync()
    eng.process_batch(
        payloads_from_rows(
            spark,
            [{"op": "DELETE", "table": "orders", "old": {"o_orderkey": 4}, "txid": 7}],
        )
    )
    store = DocStore(spark, str(tmp_path / "store"))
    v1 = store.save(eng)
    assert v1 == 1

    # fresh engine, restored state, SAME catalog (snapshots) — resume
    eng2 = IncrementalEngine(spark, tree, cat)
    assert store.load(eng2)
    assert eng2.checkpoint == 7
    assert eng2.docs.filter(F.col("_id") == "4").count() == 0
    eng2.process_batch(
        payloads_from_rows(
            spark,
            [{"op": "DELETE", "table": "orders", "old": {"o_orderkey": 6}, "txid": 8}],
        )
    )
    full = compile_assembled(eng2.catalog, tree)[0]
    assert eng2.docs.select("_id", "doc").subtract(full).count() == 0
    assert full.subtract(eng2.docs.select("_id", "doc")).count() == 0
    assert store.save(eng2) == 2
    assert store._current() == 2


@pytest.mark.slow
def test_streaming_windowed_agg_with_watermark(spark, tmp_path):
    """Watermarked tumbling-window aggregation over the events table
    driven as a stream — the §2.7 'available for free' window semantics,
    exercised end-to-end (readStream → watermark → window → memory sink)."""
    batch = Catalog(spark, SF_DIR).df("events")
    # stream the same rows via a parquet dir copy
    src = str(tmp_path / "events_stream")
    batch.write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(src)
    )
    # event-time ops (withWatermark/window) require TIMESTAMP, not the
    # TIMESTAMP_NTZ the tz-less parquet reads as — normalize first
    stream = with_event_time(stream, "ts")
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("ev_win")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.sql(
        "SELECT window.start AS h, event_type, n AS got_n FROM ev_win"
    )
    expect = with_event_time(batch, "ts").groupBy(
        F.date_trunc("hour", "ts").alias("h"), "event_type"
    ).agg(F.count(F.lit(1)).alias("exp_n"))
    # append mode with watermark may hold back the final (open) window;
    # everything emitted must match the batch answer exactly
    emitted = got.join(expect, ["h", "event_type"], "left")
    mismatches = emitted.filter(
        F.col("exp_n").isNull() | (F.col("got_n") != F.col("exp_n"))
    ).count()
    assert mismatches == 0
    assert got.count() > 0


@pytest.mark.slow
def test_stateful_running_totals(spark, tmp_path):
    """applyInPandasWithState: per-user totals accumulate ACROSS
    micro-batches (state persists between epochs)."""
    from pgsync_spark.streaming.stateful import running_user_totals

    src = str(tmp_path / "ev")
    # two files → with maxFilesPerTrigger=1, two micro-batches
    full = Catalog(spark, SF_DIR).df("events")
    full.filter(F.col("event_id") % 2 == 0).select("user_id", "value", "ts")\
        .coalesce(1).write.mode("overwrite").parquet(src + "/f1")
    full.filter(F.col("event_id") % 2 == 1).select("user_id", "value", "ts")\
        .coalesce(1).write.mode("overwrite").parquet(src + "/f2")
    stream = (
        spark.readStream.schema(
            full.select("user_id", "value", "ts").schema
        ).option("maxFilesPerTrigger", 1).parquet(src + "/*")
    )
    q = (
        running_user_totals(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("user_totals")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    # last emitted row per user must equal the batch aggregate
    got = spark.sql(
        """SELECT user_id, events_total FROM (
             SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                       ORDER BY events_total DESC) AS r FROM user_totals)
           WHERE r = 1"""
    )
    expect = full.groupBy("user_id").agg(F.count(F.lit(1)).alias("exp"))
    bad = (
        got.join(expect, "user_id")
        .filter(F.col("events_total") != F.col("exp"))
        .count()
    )
    assert bad == 0
    assert got.count() == expect.count()


@pytest.mark.slow
def test_debezium_envelope_to_cdc(spark):
    """Debezium JSON (PG schema field or MySQL db field) maps onto the
    CDC schema and drives process_batch end to end."""
    from pgsync_spark.streaming import debezium_to_cdc

    tree = schemas.tree("orders_full")
    eng = IncrementalEngine(spark, tree, Catalog(spark, SF_DIR))
    eng.full_sync()
    row = eng.catalog.df("orders").filter(F.col("o_orderkey") == 7).collect()[0]
    after = {k: row[k] for k in row.asDict()}
    after["o_orderpriority"] = "DEBEZIUM"
    after = {k: str(v) for k, v in after.items()}
    raw = [
        # PostgreSQL-style: source.schema + numeric txId
        json.dumps({"op": "u", "before": {"o_orderkey": "7"}, "after": after,
                    "source": {"table": "orders", "schema": "public", "txId": "41"},
                    "ts_ms": 1}),
        # MySQL-style: db only, GTID txId (non-numeric -> ts_ms ordering)
        json.dumps({"op": "d", "before": {"o_orderkey": "9"},
                    "source": {"table": "orders", "db": "public",
                               "txId": "uuid:1-5"}, "ts_ms": 42}),
        # snapshot read + unknown op (dropped)
        json.dumps({"op": "x", "source": {"table": "orders", "db": "public"},
                    "ts_ms": 3}),
    ]
    events = debezium_to_cdc(spark.createDataFrame([(v,) for v in raw], "value string"))
    rows = {(r["op"], r["txid"]) for r in events.collect()}
    assert rows == {("UPDATE", 41), ("DELETE", 42)}
    eng.process_batch(events)
    assert "DEBEZIUM" in eng.docs.filter(F.col("_id") == "7").collect()[0]["doc"]
    assert eng.docs.filter(F.col("_id") == "9").count() == 0
    assert eng.checkpoint == 42
    full = compile_assembled(eng.catalog, schemas.tree("orders_full"))[0]
    assert eng.docs.select("_id", "doc").subtract(full).count() == 0


@pytest.mark.slow
def test_streaming_session_window(spark, tmp_path):
    """session_window (30-min gap) over the events stream — the
    streaming twin of the batch events_sessionize operator: same gap
    rule, watermarked state, append output. Emitted sessions must match
    the batch recomputation of closed sessions."""
    batch = Catalog(spark, SF_DIR).df("events")
    src = str(tmp_path / "ev_sess")
    batch.write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(src)
    )
    stream = with_event_time(stream, "ts")
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("ev_sess")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.sql(
        "SELECT user_id, session_window.start AS s, n AS got_n FROM ev_sess"
    )
    # batch recomputation with the same 30-min gap rule
    from pyspark.sql import Window as W
    from pgsync_spark.catalog import time_micros

    b = with_event_time(batch, "ts")
    b = b.withColumn("us", time_micros(b, "ts"))
    w = W.partitionBy("user_id").orderBy("us", "event_id")
    lag_us = F.lag("us").over(w)
    is_new = F.when((F.col("us") - lag_us > 1_800_000_000) | lag_us.isNull(), 1).otherwise(0)
    sess = (
        b.withColumn("is_new", is_new)
        .withColumn("sno", F.sum("is_new").over(w.rowsBetween(W.unboundedPreceding, 0)))
        .groupBy("user_id", "sno")
        .agg(F.min("ts").alias("s"), F.count(F.lit(1)).alias("exp_n"))
    )
    # append mode holds back sessions the watermark hasn't closed;
    # everything emitted must match the batch answer exactly
    joined = got.join(sess, ["user_id", "s"], "left")
    assert joined.filter(
        F.col("exp_n").isNull() | (F.col("got_n") != F.col("exp_n"))
    ).count() == 0
    assert got.count() > 0


@pytest.mark.slow
def test_docstore_restores_snapshots_into_fresh_catalog(spark, tmp_path):
    """Restart durability for the BRONZE layer: after save, a fresh
    engine over a FRESH catalog (simulating a new session) must see the
    CDC-applied table state — docs, recomputes, and new batches all run
    against post-CDC rows, not the original parquet."""
    from pgsync_spark.sinks.store import DocStore
    from pgsync_spark.streaming import payloads_from_rows

    tree = schemas.tree("orders_full")
    cat = Catalog(spark, SF_DIR)
    eng = IncrementalEngine(spark, tree, cat)
    eng.full_sync()
    row = {
        k: r for k, r in (
            cat.df("orders").filter(F.col("o_orderkey") == 27).collect()[0]
            .asDict().items()
        )
    }
    eng.process_batch(payloads_from_rows(
        spark,
        [{"op": "UPDATE", "table": "orders", "old": {"o_orderkey": 27},
          "new": dict(row, o_orderpriority="P-PERSISTED"), "txid": 90}],
    ))
    store = DocStore(spark, str(tmp_path / "store"))
    store.save(eng)

    # brand-new catalog: nothing registered, would read original parquet
    eng2 = IncrementalEngine(spark, tree, Catalog(spark, SF_DIR))
    assert store.load(eng2)
    snap = eng2.catalog.df("orders").filter(F.col("o_orderkey") == 27).collect()
    assert len(snap) == 1 and snap[0]["o_orderpriority"] == "P-PERSISTED"
    # incremental state equals a full recompute from the restored catalog
    full = compile_assembled(eng2.catalog, tree)[0]
    assert eng2.docs.select("_id", "doc").subtract(full).count() == 0
    assert full.subtract(eng2.docs.select("_id", "doc")).count() == 0
    # and a further batch applies on top of the restored snapshots
    eng2.process_batch(payloads_from_rows(
        spark,
        [{"op": "UPDATE", "table": "orders", "old": {"o_orderkey": 27},
          "new": dict(row, o_orderpriority="P-AGAIN"), "txid": 91}],
    ))
    assert eng2.checkpoint == 91
    doc = eng2.docs.filter(F.col("_id") == "27").collect()[0]["doc"]
    assert "P-AGAIN" in doc


def test_docstore_load_into_warm_engine(spark, tmp_path):
    """DocStore.load into a WARM engine — one holding its own full-sync
    stores and a live bronze overlay on the saved table — serves the
    restored rows, applies the next batch on top, and releases every
    checkpoint the warm state held: afterwards the session holds the
    same persistent RDDs as after loading into a fresh engine (which
    adds none)."""
    from pgsync_spark.sinks.store import DocStore
    from pgsync_spark.streaming import payloads_from_rows

    def persisted() -> set:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    tree = schemas.tree("orders_full")
    cat = Catalog(spark, SF_DIR)
    row = cat.df("orders").filter(F.col("o_orderkey") == 27).collect()[0].asDict()

    def update(prio: str, txid: int):
        return payloads_from_rows(
            spark,
            [{"op": "UPDATE", "table": "orders", "old": {"o_orderkey": 27},
              "new": dict(row, o_orderpriority=prio), "txid": txid}],
        )

    src = IncrementalEngine(spark, tree, cat)
    src.full_sync()
    src.process_batch(update("P-SAVED", 90))
    store = DocStore(spark, str(tmp_path / "store"))
    store.save(src)

    before = persisted()
    warm = IncrementalEngine(spark, tree, Catalog(spark, SF_DIR))
    warm.full_sync()
    warm.process_batch(update("P-WARM", 91))
    assert warm.materializer.store("orders").overlay is not None
    assert persisted() - before  # the warm state holds checkpoints
    assert store.load(warm)
    assert persisted() - before == set()
    fresh = IncrementalEngine(spark, tree, Catalog(spark, SF_DIR))
    after_warm = persisted()
    assert store.load(fresh)
    assert persisted() - after_warm == set()

    # the restored rows are served: bronze snapshot and docs
    snap = warm.catalog.df("orders").filter(F.col("o_orderkey") == 27).collect()
    assert [r["o_orderpriority"] for r in snap] == ["P-SAVED"]
    assert warm.checkpoint == 90
    full = compile_assembled(warm.catalog, tree)[0]
    assert warm.docs.select("_id", "doc").subtract(full).count() == 0
    assert full.subtract(warm.docs.select("_id", "doc")).count() == 0
    # and the next batch applies on top of them
    warm.process_batch(update("P-NEXT", 92))
    snap = warm.catalog.df("orders").filter(F.col("o_orderkey") == 27).collect()
    assert [r["o_orderpriority"] for r in snap] == ["P-NEXT"]
    doc = warm.docs.filter(F.col("_id") == "27").collect()[0]["doc"]
    assert "P-NEXT" in doc
    for eng in (src, warm, fresh):
        eng._teardown_stores()
