"""End-to-end relational-CDC → engine-owned search index (r8 verdict
item 2): one CDC stream keeps the engine's OWN BM25 index in sync —
insert/update/delete rows in ``orders`` and the engine-maintained
index must hash-match a one-shot index built from the final
denormalized corpus (the reference's topology: sync loop → search
index, ref: pgsync/sync.py:1495-1528 + search_client.py:100-212)."""

import pytest
from pyspark.sql import functions as F

from pgsync_spark import Catalog, schemas
from pgsync_spark.functions.bm25_index import BM25Index
from pgsync_spark.streaming import (
    IncrementalEngine,
    SearchIndexMaintainer,
    payloads_from_rows,
)

from conftest import SF_DIR

# field-targeted indexing (the recommended deployment: the engine
# tokenizes on whitespace, so raw JSON would glue terms to their
# keys); the update below injects the distinctive second term
TEXT_EXPR = "get_json_object(doc, '$.o_orderpriority')"
QUERY = ("1-urgent", "incrementalpriority")


def _order_row(catalog, key):
    r = catalog.df("orders").filter(F.col("o_orderkey") == key).collect()[0]
    return {k: r[k] for k in r.asDict()}


def _oneshot_topk(spark, docs):
    """Fresh index over the CURRENT sink-facing corpus — the parity
    baseline the maintained index must match bit-for-bit."""
    ref = BM25Index(spark)
    ref.ingest(
        docs.selectExpr(
            "CAST(_id AS BIGINT) AS doc_id",
            f"{TEXT_EXPR} AS text",
            "CAST(NULL AS STRING) AS lang",
            "CAST(NULL AS STRING) AS source",
        )
    )
    out = [tuple(r) for r in ref.topk(QUERY, k=10).collect()]
    ref.close()
    return out


@pytest.fixture()
def synced(spark):
    tree = schemas.tree("orders_full")
    eng = IncrementalEngine(spark, tree, Catalog(spark, SF_DIR))
    eng.full_sync()
    idx = BM25Index(spark)
    m = SearchIndexMaintainer(idx, text_expr=TEXT_EXPR)
    m.seed(eng.docs_for_sink())
    eng.doc_consumers.append(m)
    yield eng, idx
    idx.close()
    eng._teardown_stores()


@pytest.mark.slow
def test_cdc_keeps_engine_owned_index_in_sync(spark, synced):
    """INSERT + UPDATE + DELETE through process_batch: the maintained
    index's top-k must equal a one-shot index over the post-CDC
    corpus after every batch."""
    eng, idx = synced
    cat = eng.catalog

    # seed parity before any CDC
    assert [tuple(r) for r in idx.topk(QUERY, k=10).collect()] == (
        _oneshot_topk(spark, eng.docs_for_sink())
    )

    # one batch carrying all three ops: a brand-new order, an update
    # injecting a distinctive query term, and a delete of an existing
    # order
    base = _order_row(cat, 3)
    upd = _order_row(cat, 7)
    ev = payloads_from_rows(
        spark,
        [
            {"op": "INSERT", "table": "orders",
             "new": dict(base, o_orderkey=777001,
                         o_orderpriority="1-URGENT"), "txid": 10},
            {"op": "UPDATE", "table": "orders",
             "old": {"o_orderkey": 7},
             "new": dict(upd, o_orderpriority="incrementalpriority"),
             "txid": 11},
            {"op": "DELETE", "table": "orders",
             "old": {"o_orderkey": 5}, "txid": 12},
        ],
    )
    eng.process_batch(ev)

    got = [tuple(r) for r in idx.topk(QUERY, k=10).collect()]
    want = _oneshot_topk(spark, eng.docs_for_sink())
    assert got == want
    ids = {t[0] for t in got}
    assert 7 in ids  # the injected term ranks the updated doc
    # the deleted order is not in the corpus at all
    live = idx.topk(("1-urgent",), k=10000).collect()
    assert 5 not in {r.doc_id for r in live}

    # a second batch: delete the doc the update just ranked (stale
    # version must not resurface) and PK-change another order
    row11 = _order_row(cat, 11)
    ev2 = payloads_from_rows(
        spark,
        [
            {"op": "DELETE", "table": "orders",
             "old": {"o_orderkey": 7}, "txid": 13},
            {"op": "UPDATE", "table": "orders",
             "old": {"o_orderkey": 11},
             "new": dict(row11, o_orderkey=777002), "txid": 14},
        ],
    )
    eng.process_batch(ev2)
    got2 = [tuple(r) for r in idx.topk(QUERY, k=10).collect()]
    assert got2 == _oneshot_topk(spark, eng.docs_for_sink())
    assert 7 not in {t[0] for t in got2}


@pytest.mark.slow
def test_replayed_batch_converges(spark, synced):
    """The maintainer is effect-idempotent: re-applying the same batch
    (foreachBatch's at-least-once replay mode) leaves queries
    unchanged."""
    eng, idx = synced
    cat = eng.catalog
    upd = _order_row(cat, 9)
    mk = lambda: payloads_from_rows(  # noqa: E731
        spark,
        [{"op": "UPDATE", "table": "orders",
          "old": {"o_orderkey": 9},
          "new": dict(upd, o_orderpriority="incrementalpriority"),
          "txid": 20}],
    )
    eng.process_batch(mk())
    before = [tuple(r) for r in idx.topk(QUERY, k=10).collect()]
    # replay: the engine recomputes the same doc, the maintainer
    # appends a version identical to the one it shadows
    eng.process_batch(mk())
    after = [tuple(r) for r in idx.topk(QUERY, k=10).collect()]
    assert after == before
    assert after == _oneshot_topk(spark, eng.docs_for_sink())


def test_root_truncate_clears_engine_owned_index(spark, synced):
    """Root TRUNCATE through process_batch: the maintained index
    empties with the doc store; post-truncate inserts in the SAME
    batch re-enter both."""
    eng, idx = synced
    cat = eng.catalog
    base = _order_row(cat, 3)
    ev = payloads_from_rows(
        spark,
        [
            {"op": "TRUNCATE", "table": "orders", "txid": 30},
            {"op": "INSERT", "table": "orders",
             "new": dict(base, o_orderkey=777003,
                         o_orderpriority="incrementalpriority"),
             "txid": 31},
        ],
    )
    eng.process_batch(ev)
    assert eng.docs.count() == 1
    got = [tuple(r) for r in idx.topk(QUERY, k=10).collect()]
    assert got == _oneshot_topk(spark, eng.docs_for_sink())
    assert {t[0] for t in got} == {777003}


def test_plugin_chain_reaches_consumers(spark):
    """With a plugin chain declared, the batch's doc delta reaches the
    consumers through it (ref: pgsync/sync.py:1571-1572): the
    maintained index serves what a one-shot index over
    ``docs_for_sink()`` serves, the update ranked and the delete
    gone."""
    from pgsync_spark.plugin import load_plugins

    tree = schemas.tree("orders_full")
    eng = IncrementalEngine(spark, tree, Catalog(spark, SF_DIR))
    eng.plugins = load_plugins(["slug"])
    eng.full_sync()
    idx = BM25Index(spark)
    m = SearchIndexMaintainer(idx, text_expr=TEXT_EXPR)
    m.seed(eng.docs_for_sink())
    eng.doc_consumers.append(m)
    try:
        eng.process_batch(_cdc_batch(spark, eng.catalog, 90))
        got = [tuple(r) for r in idx.topk(QUERY, k=10).collect()]
        assert got == _oneshot_topk(spark, eng.docs_for_sink())
        assert 7 in {t[0] for t in got}
        live = idx.topk(("1-urgent",), k=10000).collect()
        assert 5 not in {r.doc_id for r in live}
    finally:
        idx.close()
        eng._teardown_stores()


def test_seed_rejects_null_ids(spark):
    """r9 review finding: a NULL-producing id_expr (composite/string
    root PK) would silently collapse every doc onto one NULL identity
    in the index. Under ANSI mode the DEFAULT strict cast already
    throws NumberFormatException on its own (loud, not silent); the
    seed() guard covers the NULL-producing forms — try_cast, or the
    default under a non-ANSI session."""
    import pyspark.errors

    docs = spark.createDataFrame(
        [("a|b", '{"t": 1}'), ("c|d", '{"t": 2}')], "_id string, doc string"
    )
    idx = BM25Index(spark)
    m = SearchIndexMaintainer(idx)
    with pytest.raises(pyspark.errors.PySparkException):
        m.seed(docs)  # ANSI strict cast: loud failure
    idx.close()
    idx2 = BM25Index(spark)
    m2 = SearchIndexMaintainer(idx2, id_expr="TRY_CAST(_id AS BIGINT)")
    with pytest.raises(ValueError, match="NULL doc_id"):
        m2.seed(docs)  # NULL-producing expr: the guard fires
    idx2.close()


@pytest.mark.slow
def test_maintainer_compact_cadence(spark):
    """r9 review pass 3: the compact_every branch needs unit coverage
    — two CDC applies at cadence 2 must collapse the index to one
    segment, reset the overlay, and keep serving the same answers."""
    eng_docs = spark.createDataFrame(
        [("1", '{"o_orderpriority":"1-URGENT"}'),
         ("2", '{"o_orderpriority":"2-HIGH"}')],
        "_id string, doc string",
    )
    idx = BM25Index(spark)
    m = SearchIndexMaintainer(idx, text_expr=TEXT_EXPR, compact_every=2)
    m.seed(eng_docs)
    up1 = spark.createDataFrame(
        [("3", '{"o_orderpriority":"incrementalpriority"}')],
        "_id string, doc string",
    )
    empty = spark.createDataFrame([], "_id string")
    m.apply(up1, empty)
    # store-less index: in-memory parts are the segment analog
    assert len(idx._val_parts) > 1  # cadence not reached yet
    up2 = spark.createDataFrame(
        [("1", '{"o_orderpriority":"incrementalpriority"}')],
        "_id string, doc string",
    )
    m.apply(up2, spark.createDataFrame([("2",)], "_id string"))
    # second apply hit the cadence: one folded part, overlay reset
    assert len(idx._val_parts) == 1
    assert not idx._has_cdc and idx._overlay_rows == 0
    got = idx.topk(("incrementalpriority",), k=10).collect()
    assert sorted(r.doc_id for r in got) == [1, 3]
    # deleted doc 2 is physically gone post-fold
    assert idx.vals.filter(F.col("doc_id") == 2).count() == 0
    idx.close()


# ---------------------------------------------------------------------------
# VectorIndexMaintainer: the Embedding side of the engine-owned index
# story (r9 verdict item 1) — vectors derive from doc content, so CDC
# updates move them
# ---------------------------------------------------------------------------

from pgsync_spark.functions.hashing import hash_embed_py, hash_embed_sparksql
from pgsync_spark.functions.vector_index import VectorIndex
from pgsync_spark.streaming import (
    HASH64_ID_EXPR,
    VectorIndexMaintainer,
)
from pgsync_spark.streaming.index_sync import default_id_expr

VEC_TEXT = "get_json_object(doc, '$.o_orderpriority')"


def _oneshot_ann(spark, docs, queries):
    ref = VectorIndex(spark)
    ref.ingest(
        docs.selectExpr(
            "CAST(_id AS BIGINT) AS vec_id",
            f"{hash_embed_sparksql(VEC_TEXT)} AS embedding",
        )
    )
    out = [
        tuple(r)
        for r in ref.topk(queries, k=10).orderBy("query_id", "rank").collect()
    ]
    ref.close()
    return out


def _qframe(spark, *texts):
    return spark.createDataFrame(
        [(i, hash_embed_py(t)) for i, t in enumerate(texts)],
        "query_id bigint, embedding array<double>",
    )


@pytest.mark.slow
def test_vector_maintainer_cdc_moves_vectors(spark):
    """INSERT + UPDATE + DELETE through process_batch: the maintained
    VectorIndex must equal a one-shot index over the post-CDC corpus,
    and the updated doc must be served under its NEW content's vector
    (cosine 1.0) — the update-visibility proof."""
    tree = schemas.tree("orders_full")
    eng = IncrementalEngine(spark, tree, Catalog(spark, SF_DIR))
    eng.full_sync()
    idx = VectorIndex(spark)
    m = VectorIndexMaintainer(idx, vec_expr=hash_embed_sparksql(VEC_TEXT))
    m.seed(eng.docs_for_sink())
    eng.doc_consumers.append(m)
    try:
        q = _qframe(spark, "movedpriority", "1-URGENT")
        assert [
            tuple(r)
            for r in idx.topk(q, k=10).orderBy("query_id", "rank").collect()
        ] == _oneshot_ann(spark, eng.docs_for_sink(), q)

        cat = eng.catalog
        upd = _order_row(cat, 7)
        base = _order_row(cat, 3)
        ev = payloads_from_rows(
            spark,
            [
                {"op": "INSERT", "table": "orders",
                 "new": dict(base, o_orderkey=777001,
                             o_orderpriority="1-URGENT"), "txid": 10},
                {"op": "UPDATE", "table": "orders",
                 "old": {"o_orderkey": 7},
                 "new": dict(upd, o_orderpriority="movedpriority"),
                 "txid": 11},
                {"op": "DELETE", "table": "orders",
                 "old": {"o_orderkey": 5}, "txid": 12},
            ],
        )
        eng.process_batch(ev)

        got = [
            tuple(r)
            for r in idx.topk(q, k=10).orderBy("query_id", "rank").collect()
        ]
        assert got == _oneshot_ann(spark, eng.docs_for_sink(), q)
        # update visibility: only doc 7 has content 'movedpriority'
        # post-CDC, so query 0 ranks it first at cosine 1.0
        q0 = [t for t in got if t[0] == 0]
        assert q0[0][1] == 7 and q0[0][2] == 1.0
        # delete visibility: doc 5 ranks nowhere for any query
        assert 5 not in {t[1] for t in got}

        # root TRUNCATE propagates to the vector index too
        eng.process_batch(
            payloads_from_rows(
                spark,
                [{"op": "TRUNCATE", "table": "orders", "txid": 13}],
            )
        )
        assert idx.topk(q, k=10).count() == 0
    finally:
        idx.close()
        eng._teardown_stores()


def test_default_id_expr_picks_hash_for_string_pk(spark):
    import json

    from pgsync_spark.node import parse_tree

    eng = IncrementalEngine(
        spark, schemas.tree("orders_full"), Catalog(spark, SF_DIR)
    )
    assert default_id_expr(eng) == "CAST(_id AS BIGINT)"

    string_tree = parse_tree({
        "index": "nations_by_name",
        "nodes": {
            "table": "nation",
            "primary_key": ["n_name"],
            "columns": ["n_name", "n_regionkey"],
        },
    })
    eng2 = IncrementalEngine(spark, string_tree, Catalog(spark, SF_DIR))
    assert default_id_expr(eng2) == HASH64_ID_EXPR


def test_string_pk_tree_seeds_and_serves_via_hash_id(spark):
    """A string-PK tree runs the engine-owned index end to end with
    the HASH64_ID_EXPR recipe: seed accepts it (no NULL ids), CDC
    keeps it current, and the hash identity is stable across the
    update (same _id -> same doc_id)."""
    from pgsync_spark.node import parse_tree

    tree = parse_tree({
        "index": "nations_by_name",
        "nodes": {
            "table": "nation",
            "primary_key": ["n_name"],
            "columns": ["n_name", "n_regionkey"],
        },
    })
    eng = IncrementalEngine(spark, tree, Catalog(spark, SF_DIR))
    eng.full_sync()
    idx = BM25Index(spark)
    m = SearchIndexMaintainer(
        idx,
        id_expr=default_id_expr(eng),
        text_expr="get_json_object(doc, '$.n_name')",
    )
    m.seed(eng.docs_for_sink())  # would raise under the default cast
    eng.doc_consumers.append(m)
    try:
        hits = idx.topk(("nation_3",), k=5).collect()
        assert len(hits) == 1
        # rename: old string id tombstones, new one enters
        eng.process_batch(
            payloads_from_rows(spark, [{
                "op": "UPDATE", "table": "nation",
                "old": {"n_nationkey": 3, "n_name": "NATION_3"},
                "new": {"n_nationkey": 3, "n_name": "RENAMED_3",
                        "n_regionkey": 3},
                "txid": 1,
            }])
        )
        assert idx.topk(("nation_3",), k=5).count() == 0
        assert idx.topk(("renamed_3",), k=5).count() == 1
    finally:
        idx.close()
        eng._teardown_stores()


@pytest.mark.slow
def test_two_maintainers_one_engine(spark):
    """The hybrid deployment (engine_sync_hybrid_topk's topology):
    a BM25Index AND a VectorIndex registered as two doc_consumers on
    ONE engine — a single CDC batch must keep BOTH current, and a
    root TRUNCATE must clear BOTH."""
    tree = schemas.tree("orders_full")
    eng = IncrementalEngine(spark, tree, Catalog(spark, SF_DIR))
    eng.full_sync()
    bidx = BM25Index(spark)
    vidx = VectorIndex(spark)
    bm = SearchIndexMaintainer(bidx, text_expr=TEXT_EXPR)
    vm = VectorIndexMaintainer(vidx, vec_expr=hash_embed_sparksql(VEC_TEXT))
    docs = eng.docs_for_sink()
    bm.seed(docs)
    vm.seed(docs)
    eng.doc_consumers.extend([bm, vm])
    try:
        cat = eng.catalog
        upd = _order_row(cat, 7)
        ev = payloads_from_rows(
            spark,
            [
                {"op": "UPDATE", "table": "orders",
                 "old": {"o_orderkey": 7},
                 "new": dict(upd, o_orderpriority="incrementalpriority"),
                 "txid": 40},
                {"op": "DELETE", "table": "orders",
                 "old": {"o_orderkey": 5}, "txid": 41},
            ],
        )
        eng.process_batch(ev)
        post = eng.docs_for_sink()
        # lexical leg: parity with a fresh one-shot index, update visible
        got_lex = [tuple(r) for r in bidx.topk(QUERY, k=10).collect()]
        assert got_lex == _oneshot_topk(spark, post)
        assert 7 in {t[0] for t in got_lex}
        # semantic leg: parity with a fresh one-shot index off the SAME
        # post-CDC corpus, the moved vector serves at cosine 1.0
        q = _qframe(spark, "incrementalpriority")
        got_sem = [
            tuple(r)
            for r in vidx.topk(q, k=10).orderBy("query_id", "rank").collect()
        ]
        assert got_sem == _oneshot_ann(spark, post, q)
        assert got_sem[0][1] == 7 and got_sem[0][2] == 1.0
        assert 5 not in {t[1] for t in got_sem}

        # TRUNCATE reaches every registered consumer
        eng.process_batch(
            payloads_from_rows(
                spark,
                [{"op": "TRUNCATE", "table": "orders", "txid": 42}],
            )
        )
        assert bidx.topk(QUERY, k=10).count() == 0
        assert vidx.topk(q, k=10).count() == 0
    finally:
        bidx.close()
        vidx.close()
        eng._teardown_stores()


@pytest.mark.slow
def test_vector_maintainer_rebuild_policy(spark):
    """r11 verdict item 2: the --ann-rebuild-when policy as maintainer
    mechanics. Seed trains on 2 modes of the clustered featurizer;
    one hot unseen mode arrives as a batch and spikes the cell
    imbalance past the threshold -> EXACTLY one policy rebuild fires
    (logged, counted in the maintainer AND durably in the manifest),
    the rebuilt index equals a fresh build over the live corpus, and
    the post-rebuild imbalance floor prevents thrash on the next
    batch (measured trajectory: 2.17 -> 2.15 -> 4.42 -> rebuild ->
    2.19 -> 2.15)."""
    import json as _json

    from pgsync_spark.functions.hashing import (
        cluster_center_py,
        cluster_embed_py,
        cluster_embed_sparksql,
    )
    from pgsync_spark.functions.vector_index import IVFVectorIndex

    # entry guards: LSH never retrains; threshold must exceed 1
    lsh = VectorIndex(spark)
    with pytest.raises(ValueError, match="rebuild"):
        VectorIndexMaintainer(lsh, rebuild_when=2.5)
    lsh.close()
    ivf_g = IVFVectorIndex(spark)
    with pytest.raises(ValueError, match="must be > 1"):
        VectorIndexMaintainer(ivf_g, rebuild_when=1.0)
    ivf_g.close()

    # driver-side mode buckets over the mirrored clustered featurizer
    by_mode: dict[int, list[str]] = {}
    j = 0
    while (
        len(by_mode.get(0, [])) < 35
        or len(by_mode.get(1, [])) < 35
        or len(by_mode.get(5, [])) < 200
    ):
        t = f"w{j}"
        by_mode.setdefault(cluster_center_py(t), []).append(t)
        j += 1

    def docs(texts, start):
        return spark.createDataFrame(
            [
                (str(start + i), _json.dumps({"t": t}))
                for i, t in enumerate(texts)
            ],
            "_id string, doc string",
        )

    vec_expr = cluster_embed_sparksql("get_json_object(doc, '$.t')")
    idx = IVFVectorIndex(spark)
    m = VectorIndexMaintainer(idx, vec_expr=vec_expr, rebuild_when=2.5)
    empty_del = spark.createDataFrame([], "_id string")
    all_docs = []

    def batch(texts, start):
        all_docs.append((texts, start))
        m.apply(docs(texts, start), empty_del)

    m.seed(docs(by_mode[0][:30] + by_mode[1][:30], 0))
    all_docs.append((by_mode[0][:30] + by_mode[1][:30], 0))

    # same-distribution batch: imbalance stays at the seed's level
    batch(by_mode[0][30:35], 1000)
    assert m.policy_rebuilds == 0 and idx._rebuilds == 0

    # one hot unseen mode: imbalance spikes past the threshold ->
    # exactly one rebuild, durable in the manifest counter
    batch(by_mode[5][:200], 2000)
    assert m.policy_rebuilds == 1 and idx._rebuilds == 1
    assert m._post_rebuild_imb is not None

    # rebuild == fresh build over the same live corpus (same ids,
    # same vectors): identical codebook, identical answers — the
    # rebuild invariant, exercised through the policy path
    live_rows = [
        (start + i, cluster_embed_py(t))
        for ts, start in all_docs
        for i, t in enumerate(ts)
    ]
    fresh = IVFVectorIndex(spark)
    fresh.ingest(
        spark.createDataFrame(
            live_rows, "vec_id bigint, embedding array<double>"
        )
    )
    assert fresh._cents == idx._cents
    q = spark.createDataFrame(
        [(0, cluster_embed_py(by_mode[5][0]))],
        "query_id bigint, embedding array<double>",
    )
    want = [
        tuple(r)
        for r in fresh.topk(q, k=10).orderBy("rank").collect()
    ]
    got = [
        tuple(r)
        for r in idx.topk(q, k=10).orderBy("rank").collect()
    ]
    assert got == want and len(got) == 10
    fresh.close()

    # same-distribution follow-up: above-threshold-but-below-floor
    # does NOT re-fire (anti-thrash)
    batch(by_mode[1][30:35], 5000)
    assert m.policy_rebuilds == 1 and idx._rebuilds == 1
    idx.close()


def test_rebuild_policy_check_reads_zero_key_segments(spark):
    """r12 verdict item 1: arming ``rebuild_when`` switches the
    per-batch occupancy check from an O(live keys) scan to the
    index's incremental counters — a driver-side dict read. Pinned
    by forbidding keys access outright: with the ``keys`` property
    replaced by a raiser, the armed maintainer's check still answers
    (and equals the exact scan-derived statistic, since an
    ingest-only index has zero counter drift)."""
    from unittest import mock

    from pgsync_spark.functions.hashing import cluster_embed_py
    from pgsync_spark.functions.vector_index import IVFVectorIndex

    idx = IVFVectorIndex(spark)
    idx.ingest(
        spark.createDataFrame(
            [(i, cluster_embed_py(f"w{i}")) for i in range(60)],
            "vec_id bigint, embedding array<double>",
        )
    )
    exact = IVFVectorIndex.occupancy_imbalance(idx.live_cell_counts())
    m = VectorIndexMaintainer(idx, rebuild_when=1e9)

    def _forbidden(self):
        raise AssertionError(
            "the policy's occupancy check scanned the keys segments"
        )

    with mock.patch.object(IVFVectorIndex, "keys", property(_forbidden)):
        imb = m._imbalance()
    assert imb is not None and imb == pytest.approx(exact)
    idx.close()


@pytest.mark.slow
def test_occupancy_counters_reconcile_at_every_fold(spark, tmp_path):
    """The incremental counters' contract end to end: exact on an
    ingest-only index, a gross upper envelope of the live counts
    between physical folds (upserts add their new cell without
    decrementing the old; deletes decrement nothing — drift bounded
    by the overlay), re-derived EXACTLY at compact / rebuild /
    truncate, persisted in the manifest's atomic flip (load restores
    them), and --ann-stats prints the same statistic at every fold
    boundary."""
    import io
    import json

    from pgsync_spark.__main__ import main
    from pgsync_spark.functions.hashing import cluster_embed_py
    from pgsync_spark.functions.vector_index import IVFVectorIndex

    store = str(tmp_path / "ivf_occ")
    idx = IVFVectorIndex(spark, store_dir=store)
    idx.enable_occupancy_tracking()
    assert idx.occupancy_counts == {}
    idx.ingest(
        spark.createDataFrame(
            [(i, cluster_embed_py(f"w{i}")) for i in range(60)],
            "vec_id bigint, embedding array<double>",
        )
    )
    # append-only: counters ARE the exact live counts
    assert idx.occupancy_counts == idx.live_cell_counts()

    # 6 moves + 4 deletes: gross keeps the shadowed/dead key rows
    # (exactly 10 of them) and envelopes the live counts per cell
    idx.apply_cdc(
        spark.createDataFrame(
            [(i, cluster_embed_py(f"moved{i}"), "u") for i in range(6)]
            + [(i, None, "d") for i in range(50, 54)],
            "vec_id bigint, embedding array<double>, op string",
        )
    )
    live = idx.live_cell_counts()
    gross = idx.occupancy_counts
    assert sum(gross.values()) == sum(live.values()) + 10
    assert all(gross.get(c, 0) >= n for c, n in live.items())

    # compact is a physical fold: counters reconcile exactly, and
    # the manifest persists them — load restores counters AND the
    # tracking state
    idx.compact()
    assert idx.occupancy_counts == idx.live_cell_counts()
    idx.close()
    idx = IVFVectorIndex.load(spark, store)
    restored = idx.occupancy_counts
    assert restored and restored == idx.live_cell_counts()

    # the CLI prints THE same statistic (shared implementation) at a
    # fold boundary
    buf = io.StringIO()
    assert (
        main(["--ann-stats", "--store-dir", store], spark=spark, out=buf)
        == 0
    )
    stats = json.loads(buf.getvalue())
    assert stats["imbalance"] == round(
        IVFVectorIndex.occupancy_imbalance(restored), 2
    )
    # a store carrying the policy's counters reports their reading
    # too; at a fold boundary the two forms agree exactly
    assert stats["imbalance_tracked"] == stats["imbalance"]

    # --ann-no-scan: the manifest-only answer (the 10^10-vector
    # operational form) — tracked stats present, scan-derived keys
    # absent, and the flag refuses outside --ann-stats
    buf = io.StringIO()
    assert (
        main(
            ["--ann-stats", "--store-dir", store, "--ann-no-scan"],
            spark=spark,
            out=buf,
        )
        == 0
    )
    fast = json.loads(buf.getvalue())
    assert fast["imbalance_tracked"] == stats["imbalance_tracked"]
    assert fast["cells_used"] == stats["cells_used"]
    assert fast["occupancy_max"] == stats["occupancy_max"]
    assert "live_vectors" not in fast and "imbalance" not in fast
    assert main(["--ann-no-scan"], spark=spark) == 2

    # rebuild reconciles under the NEW cell geometry
    idx.apply_cdc(
        spark.createDataFrame(
            [(i, cluster_embed_py(f"again{i}"), "u") for i in range(6, 12)],
            "vec_id bigint, embedding array<double>, op string",
        )
    )
    idx.rebuild()
    assert idx.occupancy_counts == idx.live_cell_counts()

    # truncate: empty corpus, empty counters
    idx.truncate()
    assert idx.occupancy_counts == {}
    idx.close()


@pytest.mark.slow
def test_policy_confirms_crossing_before_firing(spark):
    """A stale-envelope crossing must NOT fire a rebuild: a run of
    single-doc updates shadows versions into one cell, inflating the
    GROSS counters past the threshold while the live corpus stays
    balanced. The policy confirms with one exact scan, refuses to
    fire, and re-trues the counters (so the same stale drift cannot
    re-trip on every later batch)."""
    import json as _json

    from pgsync_spark.functions.hashing import cluster_embed_sparksql
    from pgsync_spark.functions.vector_index import IVFVectorIndex

    vec_expr = cluster_embed_sparksql("get_json_object(doc, '$.t')")
    idx = IVFVectorIndex(spark)
    m = VectorIndexMaintainer(
        idx, vec_expr=vec_expr, rebuild_when=2.5, compact_every=None
    )
    empty_del = spark.createDataFrame([], "_id string")

    def docs(rows):
        return spark.createDataFrame(
            [(str(i), _json.dumps({"t": t})) for i, t in rows],
            "_id string, doc string",
        )

    m.seed(docs([(i, f"w{i}") for i in range(40)]))
    base_live = idx.live_cell_counts()
    # the scenario is only meaningful if live truth sits BELOW the
    # threshold while ten shadowed versions of doc 7's cell push the
    # gross envelope ABOVE it (measured: live 1.75, envelope 3.2)
    assert IVFVectorIndex.occupancy_imbalance(base_live) <= 2.5
    cell7 = tuple(
        idx.keys.filter(F.col("vec_id") == 7)
        .select("band", "bucket")
        .distinct()
        .collect()[0]
    )
    sim = dict(base_live)
    sim[cell7] = sim.get(cell7, 0) + 10
    assert IVFVectorIndex.occupancy_imbalance(sim) > 2.5
    # shadow versions into one cell: the SAME doc, same text, same
    # cell, one upsert per batch — live state never changes
    for k in range(10):
        m.apply(docs([(7, "w7")]), empty_del)
    assert m.policy_rebuilds == 0 and idx._rebuilds == 0
    # live truth never moved, and the refuted crossing's confirm scan
    # re-trued the counters mid-run: without it the envelope would
    # carry all 10 shadowed keys (sum drift == 10); reconciliation
    # leaves only the shadows appended SINCE the refutation
    live = idx.live_cell_counts()
    assert live == base_live
    gross = idx.occupancy_counts
    assert all(gross.get(c, 0) >= n for c, n in live.items())
    drift = sum(gross.values()) - sum(live.values())
    assert 0 < drift < 10, (drift, gross)
    idx.close()


@pytest.mark.slow
def test_occupancy_counter_fuzz_seeded(spark, tmp_path):
    """Seeded random lifecycle fuzz over the incremental counters:
    arbitrary interleavings of CDC upserts (new + moved ids),
    deletes, compact, rebuild, and close/load must preserve the two
    invariants the design rests on — the counters envelope the exact
    live counts per cell at ALL times (gross never undercounts), and
    every physical fold reconciles them to exactly the scan-derived
    counts. 12 ops is enough to hit move-then-delete, delete-then-
    compact-then-rebuild, and reload-mid-drift interleavings."""
    import random

    from pgsync_spark.functions.hashing import cluster_embed_py
    from pgsync_spark.functions.vector_index import IVFVectorIndex

    rng = random.Random(13)
    store = str(tmp_path / "fuzz_occ")
    idx = IVFVectorIndex(spark, store_dir=store)
    idx.enable_occupancy_tracking()
    next_id = 0

    def fresh_ids(n):
        nonlocal next_id
        ids = list(range(next_id, next_id + n))
        next_id += n
        return ids

    live_ids: set[int] = set()
    seed = fresh_ids(40)
    idx.ingest(
        spark.createDataFrame(
            [(i, cluster_embed_py(f"s{i}")) for i in seed],
            "vec_id bigint, embedding array<double>",
        )
    )
    live_ids.update(seed)

    def check(folded: bool) -> None:
        live = idx.live_cell_counts()
        gross = idx.occupancy_counts
        assert all(gross.get(c, 0) >= n for c, n in live.items()), (
            gross, live,
        )
        if folded:
            assert gross == live

    for step in range(12):
        op = rng.choice(
            ["cdc", "cdc", "cdc", "compact", "rebuild", "reload"]
        )
        if op == "cdc":
            new = fresh_ids(rng.randint(1, 6))
            moved = rng.sample(
                sorted(live_ids), min(len(live_ids), rng.randint(0, 4))
            )
            deletable = sorted(live_ids - set(moved))
            dels = rng.sample(
                deletable, min(len(deletable), rng.randint(0, 3))
            )
            rows = [
                (i, cluster_embed_py(f"v{step}-{i}"), "u")
                for i in new + moved
            ] + [(i, None, "d") for i in dels]
            idx.apply_cdc(
                spark.createDataFrame(
                    rows,
                    "vec_id bigint, embedding array<double>, op string",
                )
            )
            live_ids.update(new)
            live_ids.difference_update(dels)
            check(folded=False)
        elif op == "compact":
            idx.compact()
            check(folded=True)
        elif op == "rebuild":
            idx.rebuild()
            check(folded=True)
        else:  # reload: counters survive the manifest round-trip
            before = dict(idx.occupancy_counts)
            idx.close()
            idx = IVFVectorIndex.load(spark, store)
            assert idx.occupancy_counts == before
            check(folded=False)
    # terminal fold: exact agreement however the walk ended
    idx.compact()
    check(folded=True)
    assert sum(idx.occupancy_counts.values()) == len(live_ids)
    idx.close()


# ---------------------------------------------------------------------------
# The consumer wave: every doc consumer of one batch applies concurrently
# ---------------------------------------------------------------------------


def _new_persistent_rdds(spark, since: int) -> int:
    """Persistent RDDs with an id above ``since`` — the blocks a piece
    of work left cached (older RDDs the ContextCleaner may drop at any
    time are not counted)."""
    return sum(
        1
        for rid in spark.sparkContext._jsc.getPersistentRDDs().keys()
        if int(rid) > since
    )


def _rdd_high_water(spark) -> int:
    return spark.sparkContext.emptyRDD().id()


class _RaisingConsumer:
    def apply(self, upserts, deleted_ids):
        raise RuntimeError("consumer down")

    def truncate(self):
        pass


def _cdc_batch(spark, cat, txid):
    upd = _order_row(cat, 7)
    return payloads_from_rows(
        spark,
        [
            {"op": "UPDATE", "table": "orders",
             "old": {"o_orderkey": 7},
             "new": dict(upd, o_orderpriority="incrementalpriority"),
             "txid": txid},
            {"op": "DELETE", "table": "orders",
             "old": {"o_orderkey": 5}, "txid": txid + 1},
        ],
    )


def test_raising_consumer_waits_for_the_wave_and_releases(spark):
    """A consumer that raises does not stop its neighbour: the real
    maintainer registered AFTER it still commits its epoch before
    process_batch re-raises, and the batch's temporaries are released
    all the same — the session keeps exactly as many persistent RDDs
    as a clean run of the same batch leaves."""
    tree = schemas.tree("orders_full")

    def run(extra):
        eng = IncrementalEngine(spark, tree, Catalog(spark, SF_DIR))
        eng.full_sync()
        idx = BM25Index(spark)
        m = SearchIndexMaintainer(idx, text_expr=TEXT_EXPR)
        m.seed(eng.docs_for_sink())
        eng.doc_consumers.extend(extra + [m])
        ev = _cdc_batch(spark, eng.catalog, 50)
        since = _rdd_high_water(spark)
        return eng, idx, ev, since

    eng, idx, ev, since = run([_RaisingConsumer()])
    try:
        with pytest.raises(RuntimeError, match="consumer down"):
            eng.process_batch(ev)
        failed = _new_persistent_rdds(spark, since)
        assert idx.epoch_applied(1)
        got = [tuple(r) for r in idx.topk(QUERY, k=10).collect()]
        assert got == _oneshot_topk(spark, eng.docs_for_sink())
    finally:
        idx.close()
        eng._teardown_stores()

    eng, idx, ev, since = run([])
    try:
        eng.process_batch(ev)
        assert idx.epoch_applied(1)
        clean = _new_persistent_rdds(spark, since)
    finally:
        idx.close()
        eng._teardown_stores()
    assert failed == clean


def test_concurrent_maintainers_compact_every_batch(spark):
    """The hybrid deployment on the default tier: a BM25 and a vector
    maintainer on ONE engine, both compacting after every batch, so
    each batch runs two applies and two compactions in the same
    concurrent wave. After each of two CDC batches both indexes serve
    exactly what one-shot indexes over ``docs_for_sink()`` serve."""
    tree = schemas.tree("orders_full")
    eng = IncrementalEngine(spark, tree, Catalog(spark, SF_DIR))
    eng.full_sync()
    bidx, vidx = BM25Index(spark), VectorIndex(spark)
    bm = SearchIndexMaintainer(bidx, text_expr=TEXT_EXPR, compact_every=1)
    vm = VectorIndexMaintainer(
        vidx, vec_expr=hash_embed_sparksql(VEC_TEXT), compact_every=1
    )
    docs = eng.docs_for_sink()
    bm.seed(docs)
    vm.seed(docs)
    eng.doc_consumers.extend([bm, vm])
    q = _qframe(spark, "incrementalpriority", "1-URGENT")
    try:
        cat = eng.catalog
        base, row11 = _order_row(cat, 3), _order_row(cat, 11)
        batches = [
            _cdc_batch(spark, cat, 60),
            payloads_from_rows(
                spark,
                [
                    {"op": "INSERT", "table": "orders",
                     "new": dict(base, o_orderkey=777010,
                                 o_orderpriority="incrementalpriority"),
                     "txid": 70},
                    {"op": "DELETE", "table": "orders",
                     "old": {"o_orderkey": 7}, "txid": 71},
                    {"op": "UPDATE", "table": "orders",
                     "old": {"o_orderkey": 11},
                     "new": dict(row11, o_orderpriority="1-URGENT"),
                     "txid": 72},
                ],
            ),
        ]
        for n, ev in enumerate(batches, start=1):
            eng.process_batch(ev)
            assert bidx.epoch_applied(n) and vidx.epoch_applied(n)
            # compacted: one part per side, overlay folded away
            for idx in (bidx, vidx):
                assert not idx._has_cdc and idx._overlay_rows == 0
                assert len(idx._val_parts) == 1
            post = eng.docs_for_sink()
            got_lex = [tuple(r) for r in bidx.topk(QUERY, k=10).collect()]
            assert got_lex == _oneshot_topk(spark, post)
            got_sem = [
                tuple(r)
                for r in vidx.topk(q, k=10)
                .orderBy("query_id", "rank")
                .collect()
            ]
            assert got_sem == _oneshot_ann(spark, post, q)
        assert 7 not in {t[0] for t in got_lex}
        assert 777010 in {t[0] for t in got_lex}
    finally:
        bidx.close()
        vidx.close()
        eng._teardown_stores()


class _PhaseJobs(dict):
    """A ``process_batch(timings=)`` dict that also records the Spark
    jobs each phase ran: every phase end writes its timing, so the
    scheduler's job total between two writes is that phase's."""

    def __init__(self, sched):
        super().__init__()
        self.sched = sched
        self.last = sched.numTotalJobs()
        self.jobs: dict[str, int] = {}

    def __setitem__(self, label, seconds):
        n = self.sched.numTotalJobs()
        self.jobs[label] = self.jobs.get(label, 0) + n - self.last
        self.last = n
        super().__setitem__(label, seconds)


def test_doc_consumer_job_budget(spark, monkeypatch):
    """The Spark jobs of one seeded CDC batch (an order update, an
    order delete and a customer rename) through an engine with a BM25
    and a vector maintainer, every compaction cadence at 1, are
    pinned per phase and per maintainer: an added job shows up here as
    a diff with a reason. The doc delta is materialized once per batch
    (2 jobs, beside the stores' overlay wave), each maintainer's apply
    reads it as leaves, and each compaction reads its overlay from its
    one CDC part. The wave runs serially here, so each job is
    attributed to its maintainer. The recompute tree runs 10 or 11
    jobs: adaptive execution folds one shuffle stage into the final
    job on some runs."""
    from pgsync_spark.streaming import TableMaterializer, incremental

    monkeypatch.setattr(
        incremental, "_consumer_wave", lambda calls: [c() for c in calls]
    )
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    cat = Catalog(spark, SF_DIR)
    eng = IncrementalEngine(
        spark,
        schemas.tree("orders_full"),
        cat,
        TableMaterializer(cat, compact_every=1),
    )
    eng.STORE_COMPACT_EVERY = 1
    eng.full_sync()
    text = (
        "concat_ws(' ', get_json_object(doc, '$.customer.c_name'), "
        f"{TEXT_EXPR})"
    )
    bidx, vidx = BM25Index(spark), VectorIndex(spark)
    bm = SearchIndexMaintainer(bidx, text_expr=text, compact_every=1)
    vm = VectorIndexMaintainer(
        vidx, vec_expr=hash_embed_sparksql(text), compact_every=1
    )
    docs = eng.docs_for_sink()
    bm.seed(docs)
    vm.seed(docs)
    eng.doc_consumers.extend([bm, vm])
    applies = {}
    for name, m in (("bm25", bm), ("vector", vm)):

        def counted(ups, gone, apply=m.apply, name=name):
            jobs0 = sched.numTotalJobs()
            apply(ups, gone)
            applies[name] = sched.numTotalJobs() - jobs0

        monkeypatch.setattr(m, "apply", counted)
    try:
        o7 = _order_row(cat, 7)
        cust = (
            cat.df("customer")
            .filter(F.col("c_custkey") == o7["o_custkey"])
            .collect()[0]
            .asDict()
        )
        ev = payloads_from_rows(
            spark,
            [
                {"op": "UPDATE", "table": "orders",
                 "old": {"o_orderkey": 7},
                 "new": dict(o7, o_orderpriority="incrementalpriority"),
                 "txid": 80},
                {"op": "DELETE", "table": "orders",
                 "old": {"o_orderkey": 5}, "txid": 81},
                {"op": "UPDATE", "table": "customer",
                 "old": {"c_custkey": cust["c_custkey"]},
                 "new": dict(cust, c_name="renamed customer"),
                 "txid": 82},
            ],
        ).localCheckpoint(eager=True)
        phases = _PhaseJobs(sched)
        eng.process_batch(ev, timings=phases)
        jobs = phases.jobs
        assert jobs.pop("recompute_tree") in (10, 11)
        assert jobs == {
            "events_ckpt": 1,
            "resolve_build": 0,
            "bronze_resolve_wave": 15,
            "ids_count": 0,
            "affected_ckpt": 2,
            "stores_overlay": 8,
            "doc_consumers": 22,
        }
        assert applies == {"bm25": 12, "vector": 10}
        # the same answers as a one-shot index over the post-batch docs
        terms = ("incrementalpriority", "renamed", "1-urgent")
        ref = BM25Index(spark)
        ref.ingest(
            eng.docs_for_sink().selectExpr(
                "CAST(_id AS BIGINT) AS doc_id",
                f"{text} AS text",
                "CAST(NULL AS STRING) AS lang",
                "CAST(NULL AS STRING) AS source",
            )
        )
        want = [tuple(r) for r in ref.topk(terms, k=10).collect()]
        ref.close()
        got = [tuple(r) for r in bidx.topk(terms, k=10).collect()]
        assert got == want
        assert 7 in {t[0] for t in got} and 5 not in {t[0] for t in got}
    finally:
        bidx.close()
        vidx.close()
        eng._teardown_stores()
