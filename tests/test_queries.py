"""Every registry query hash-matches its oracle at sf0.001, and in the
slow tier at sf0.01 (the scale the driver samples) + plan-shape
assertions for scale."""

import pytest

from pgsync_spark import caching
from pgsync_spark.queries import PPL_SAMPLE_MOD, REGISTRY
from pgsync_spark.testing import compare

from conftest import SF_DIR, SF_DIR_01


# sf0.001 cases keep the bare query name as their id; the sf0.01
# sweep runs in the slow tier:
#     pytest tests/test_queries.py -m slow -k test_query_matches_oracle
@pytest.mark.parametrize(
    "sf_dir, name",
    [pytest.param(SF_DIR, n, id=n) for n in sorted(REGISTRY)]
    + [
        pytest.param(SF_DIR_01, n, id=f"sf0.01-{n}", marks=pytest.mark.slow)
        for n in sorted(REGISTRY)
    ],
)
def test_query_matches_oracle(spark, sf_dir, name):
    qdef = REGISTRY[name]
    df = qdef.fn(spark, sf_dir)
    # Output contract: atomic columns only. The driver's pandas
    # canonicalizer (multi-column sort_values) cannot hash list/
    # struct/map cells — emit to_json(...) at the registry boundary
    # (the minhash_signatures precedent). Enforced here so no future
    # registry addition can repeat the embedding_pq_codes red row.
    from pyspark.sql.types import ArrayType, MapType, StructType

    bad = [
        f"{f.name}: {f.dataType.simpleString()}"
        for f in df.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not bad, (
        f"{name} emits non-atomic column(s) {bad}; wrap in to_json() "
        "on both the Spark and oracle sides"
    )
    if qdef.oracle is None:
        assert df.count() >= 0
    else:
        ok, msg = compare(df, qdef.oracle, sf_dir)
        assert ok, msg
    caching.release(df)


def test_projection_pushdown_reaches_scan(spark):
    """The parquet scan must carry PushedFilters and a pruned ReadSchema."""
    df = REGISTRY["projection_pushdown"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan
    assert "IsNotNull(l_shipdate)" in plan or "LessThan(l_shipdate" in plan


def test_broadcast_join_is_broadcast(spark):
    df = REGISTRY["join_fk_broadcast"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_dedup_caches_released(spark):
    """Multi-consumer dedup stages persist intermediates; after
    caching.release(result) nothing stays pinned in executor memory.
    (dedup_clusters is excluded: its localCheckpoint label frames are
    owned by the returned result and freed by the ContextCleaner.)"""
    import time as _time

    from pgsync_spark import caching

    def _pinned_ids():
        # RDD IDS, not a count: stale pre-test RDDs reclaimed by the
        # background ContextCleaner mid-test shrink a count and could
        # mask (or fake) a leak — the exact invariant is that no NEW
        # id introduced by these ops stays pinned
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in jmap.keySet().toArray()}

    caching.release_all()
    spark.catalog.clearCache()
    base_ids = _pinned_ids()
    for name in (
        "dedup_minhash_signatures",
        "dedup_minhash_lsh_pairs",
        "dedup_ngram_jaccard_pairs",
    ):
        df = REGISTRY[name].fn(spark, SF_DIR)
        df.count()
        caching.release(df)
    # unpersist is ASYNC (DataFrame.unpersist and rdd.unpersist(False)
    # both enqueue the removal) — poll instead of racing the cleaner
    deadline = _time.time() + 15
    leaked = _pinned_ids() - base_ids
    while leaked and _time.time() < deadline:
        _time.sleep(0.2)
        leaked = _pinned_ids() - base_ids
    assert not leaked, f"dedup ops left RDDs pinned: {sorted(leaked)}"


def test_lsh_bucket_cap_drops_hot_buckets(spark):
    """A corpus where every doc shares one band bucket (identical text)
    must not go quadratic: the hot bucket is dropped and the pair set
    is capped, while small buckets still pair."""
    from pgsync_spark.functions import dedup

    n = dedup.MAX_BUCKET_WIDTH + 10
    docs = spark.range(n).selectExpr(
        "id AS doc_id",
        # identical text -> identical signature -> one bucket per band,
        # every bucket width n > MAX_BUCKET_WIDTH
        "'the same boilerplate text repeated across every document' AS text",
    )
    from pgsync_spark import caching

    pairs = dedup.minhash_lsh_pairs(docs, log_drops=True)
    assert pairs.count() == 0  # all buckets hot -> all dropped
    caching.release(pairs)


def test_connected_components_nonconvergence_signals(spark, caplog):
    """A path graph with diameter > max_rounds must NOT return wrong
    labels silently: strict=True raises, default logs a warning with
    the count of still-changing labels (VERDICT r2 item 6)."""
    import logging
    import pytest
    from pgsync_spark.functions import dedup

    # path 0-1-2-...-29: diameter 29 > max_rounds=3
    pairs = spark.range(29).selectExpr("id AS id1", "id + 1 AS id2")
    with pytest.raises(dedup.NonConvergenceError, match="still changing"):
        dedup.connected_components(pairs, max_rounds=3, strict=True)
    with caplog.at_level(logging.WARNING, logger="pgsync_spark.functions.dedup"):
        labels = dedup.connected_components(pairs, max_rounds=3)
        labels.count()
    assert any("did not converge" in r.message for r in caplog.records)


def test_connected_components_converged_is_quiet(spark, caplog):
    """A graph that fits in the round budget converges with no warning
    and the correct min-label components."""
    import logging
    from pgsync_spark.functions import dedup

    # two components: {0,1,2}, {10,11}
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (10, 11)], "id1 long, id2 long"
    )
    with caplog.at_level(logging.WARNING, logger="pgsync_spark.functions.dedup"):
        got = {
            (r["id"], r["label"])
            for r in dedup.connected_components(pairs, max_rounds=9).collect()
        }
    assert got == {(0, 0), (1, 0), (2, 0), (10, 10), (11, 10)}
    assert not any("did not converge" in r.message for r in caplog.records)


@pytest.mark.slow
def test_connected_components_pointer_doubling_round_budget(spark):
    """The O(log d) claim as a test, not a comment (VERDICT r5 item 7):
    a single chain of 100k nodes (diameter 100k) must converge inside
    the default 21-round budget — possible only because the shortcut
    step grows reach multiplicatively (plain min-propagation needs
    ~100k rounds). A 10-round budget (reach ~2^10) must NOT suffice;
    together the two runs bracket the actual round count inside
    (10, 21] ≈ 1.2·log2(d)."""
    import pytest
    from pyspark.sql import functions as F
    from pgsync_spark.functions import dedup

    n = 100_000
    pairs = spark.range(n - 1).selectExpr("id AS id1", "id + 1 AS id2")
    labels = dedup.connected_components(pairs, max_rounds=21, strict=True)
    stats = labels.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("label").alias("lo"),
        F.max("label").alias("hi"),
    ).first()
    assert (stats["n"], stats["lo"], stats["hi"]) == (n, 0, 0)

    # negative control: without enough doubling rounds the chain cannot
    # resolve — proves the budget above is doing real work, and that a
    # too-short budget still signals instead of mislabeling silently
    with pytest.raises(dedup.NonConvergenceError, match="still changing"):
        dedup.connected_components(pairs, max_rounds=10, strict=True)


def test_canonical_attach_non_broadcast_fallback(spark, monkeypatch):
    """VERDICT r5 item 4: when the duplicate-label set outgrows the
    broadcast row limit, canonical_attach must fall back to a shuffled
    anti-join — same output, no BroadcastHashJoin in the executed
    plan."""
    from pgsync_spark.functions.dedup import canonical_attach
    from pgsync_spark.operators import joins

    corpus = spark.range(500).selectExpr("id AS doc_id")
    labels = spark.createDataFrame(
        [(i, 0) for i in range(5)] + [(i, 10) for i in (10, 11, 12)],
        "id long, label long",
    ).localCheckpoint(eager=True)

    expected = {
        (r["doc_id"], r["cluster_size"])
        for r in canonical_attach(corpus, labels, "doc_id").collect()
    }
    assert (0, 5) in expected and (10, 3) in expected
    assert len(expected) == 500 - 8 + 2  # survivors + canonicals

    # force the fallback: row guard trips, and the JVM-side broadcast
    # thresholds are disabled so AQE can't re-promote the join
    monkeypatch.setattr(joins, "BROADCAST_ROW_LIMIT", 4)
    restore = {}
    for key in (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    ):
        try:
            restore[key] = spark.conf.get(key)
        except Exception:  # noqa: BLE001 — unset in this session
            restore[key] = None
        spark.conf.set(key, "-1")
    try:
        out = canonical_attach(corpus, labels, "doc_id")
        got = {(r["doc_id"], r["cluster_size"]) for r in out.collect()}
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan
        assert got == expected
    finally:
        for key, val in restore.items():
            if val is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, val)


def test_uuid_equality_guard_empty_not_error(spark):
    """DEVIATIONS #9 (ref pgsync/querybuilder.py:81-98): filtering a
    uuid-typed column against an int literal must yield an EMPTY result,
    not a runtime error. Spark's ANSI-mode implicit cast RAISES on
    non-numeric strings (this test found that — the pre-r4 deviation
    text assumed null-on-cast), so the guard now collapses mixed
    string-vs-number comparisons to plan-time FALSE, exactly the
    reference's type guard."""
    from pgsync_spark.operators.filters import filters_to_spark_sql

    df = spark.createDataFrame(
        [("b74b3bb1-1b1a-4a0e-9d3e-6d2b8e1a0f00", "x"),
         ("0e3fb4a5-7a55-4cb2-8d0f-bc7e1c6f2a11", "y")],
        "uid string, payload string",
    )
    dt = dict(df.dtypes)
    out = df.filter(filters_to_spark_sql([{"uid": 7}], dt))
    assert out.count() == 0  # empty, no exception
    # composite clause: int guard on uuid AND a matching string literal
    out2 = df.filter(filters_to_spark_sql([{"uid": 123, "payload": "x"}], dt))
    assert out2.count() == 0
    # sanity: a real uuid literal still matches
    out3 = df.filter(
        filters_to_spark_sql(
            [{"uid": "b74b3bb1-1b1a-4a0e-9d3e-6d2b8e1a0f00"}], dt
        )
    )
    assert out3.count() == 1


def test_numeric_column_vs_string_literal_guard(spark):
    """Reverse direction of the type guard: a NUMERIC column filtered
    against a string literal. Parseable strings match their numeric
    value (CDC images arrive stringly, '7' must find key 7);
    unparseable strings yield EMPTY — not an ANSI cast crash, and NOT a
    null-match (<=> against a silently-nulled cast would wrongly
    match rows whose key IS NULL)."""
    from pgsync_spark.operators.filters import filters_to_spark_sql

    df = spark.createDataFrame(
        [(7, "a"), (8, "b"), (None, "c")], "k long, payload string"
    )
    dt = dict(df.dtypes)
    assert df.filter(filters_to_spark_sql([{"k": "7"}], dt)).count() == 1
    # unparseable: empty, no exception, and the NULL-keyed row must NOT match
    assert df.filter(filters_to_spark_sql([{"k": "abc"}], dt)).count() == 0
    # int literal on numeric col: unaffected
    assert df.filter(filters_to_spark_sql([{"k": 8}], dt)).count() == 1


def test_lsh_hot_bucket_drop_count_observed(spark):
    """The hot-bucket drop count rides the bucket aggregation itself
    (Dataset.observe, zero extra actions) and still reaches the log:
    after the terminal action the observation must report every
    all-hot bucket, and the warning thread must emit it."""
    import logging

    from pgsync_spark import caching
    from pgsync_spark.functions import dedup

    n = dedup.MAX_BUCKET_WIDTH + 10
    docs = spark.range(n).selectExpr(
        "id AS doc_id",
        "'identical boilerplate body shared by every document here' AS text",
    )
    with _capture_dedup_warnings() as records:
        pairs = dedup.minhash_lsh_pairs(docs, log_drops=True)
        assert pairs.count() == 0
        probe = dedup.HOT_BUCKET_PROBES["minhash_lsh_pairs"]
        probe.thread.join(timeout=30)
        assert not probe.thread.is_alive()
        # identical text -> identical signature -> one hot bucket per band
        assert probe.n_hot == dedup.N_BANDS
        caching.release(pairs)
    assert any("hot buckets" in r.message for r in records)


def test_lsh_hot_bucket_recall_through_other_bands(spark):
    """Docs whose signatures collide into a hot bucket in SOME bands
    must still pair through their other, non-hot bands: the cap drops
    buckets, not documents."""
    from pgsync_spark import caching
    from pgsync_spark.functions import dedup

    n = dedup.MAX_BUCKET_WIDTH + 40
    # two families of documents sharing a long common prefix (collides
    # some bands) with family-specific tails; the near-identical PAIR
    # inside each family must survive via its distinctive bands
    common = "the quick brown fox jumps over the lazy dog again and again "
    rows = []
    for i in range(n):
        rows.append((i, common + f"unique tail number {i} with filler words"))
    # a true near-duplicate pair with ids beyond the crowd
    rows.append((100001, common + "special shared ending that matches exactly"))
    rows.append((100002, common + "special shared ending that matches exactly!"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = dedup.minhash_lsh_pairs(docs, log_drops=True)
    got = {(r["id1"], r["id2"]) for r in pairs.collect()}
    caching.release(pairs)
    assert (100001, 100002) in got


import contextlib


@contextlib.contextmanager
def _capture_dedup_warnings():
    import logging

    records = []

    class _H(logging.Handler):
        def emit(self, record):
            records.append(record)

    h = _H(level=logging.WARNING)
    logger = logging.getLogger("pgsync_spark.functions.dedup")
    logger.addHandler(h)
    try:
        yield records
    finally:
        logger.removeHandler(h)


def test_connected_components_empty_graph(spark):
    """An empty pair graph must return empty labels promptly (no
    max_rounds spin, no hang on lost observe metrics under AQE
    empty-relation propagation)."""
    from pgsync_spark.functions import dedup

    pairs = spark.createDataFrame([], "id1 long, id2 long")
    assert dedup.connected_components(pairs, max_rounds=5).count() == 0


def test_dedup_spans_global_semantics(spark):
    """Cross-doc repeated spans keep only the (min doc_id, min pos)
    occurrence; unique spans survive; a doc can lose every span; counts
    are exact. k=4 keeps the fixture readable."""
    from pgsync_spark.functions import dedup

    boiler = "all rights reserved contact us"  # 5 tokens → spans [0:4],[4:5]
    docs = spark.createDataFrame(
        [
            (1, f"unique alpha beta gamma {boiler}"),
            (2, f"other text entirely here {boiler}"),  # same trailing spans
            (3, boiler),  # nothing but the boilerplate → loses everything
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in dedup.dedup_spans_global(docs, k=4).collect()
    }
    # doc 1 owns both boilerplate spans (first occurrence)
    assert out[1]["clean_text"] == f"unique alpha beta gamma {boiler}"
    assert out[1]["n_removed"] == 0 and out[1]["n_spans"] == 3
    # doc 2 keeps its own head, loses the repeated trail
    assert out[2]["clean_text"] == "other text entirely here"
    assert out[2]["n_removed"] == 2 and out[2]["n_spans"] == 3
    # doc 3 is entirely boilerplate → empty output, full removal count
    assert out[3]["clean_text"] == "" and out[3]["n_removed"] == 2


def test_semantic_dedup_canonical_semantics(spark):
    """SemDeDup composition: identical/near-identical vectors collapse
    to one survivor (min vec_id) with the cluster count; distinct
    vectors survive with size 1."""
    from pgsync_spark.functions import similarity

    base = [1.0] * 16
    near = [1.0] * 15 + [0.9]
    ortho = [1.0, -1.0] * 8
    emb = spark.createDataFrame(
        [(1, base, 0), (2, base, 0), (5, near, 0), (9, ortho, 1)],
        "vec_id long, embedding array<float>, label int",
    )
    got = {
        r["vec_id"]: r["cluster_size"]
        for r in similarity.semantic_dedup_canonical(emb).collect()
    }
    assert got == {1: 3, 9: 1}


def test_determinism_under_parallelism(spark):
    """README's determinism claim, pinned: the same query collects the
    SAME multiset (including JSON doc bytes and array orderings) under
    different shuffle-partition settings — canonical array sorting
    makes output independent of partitioning and AQE re-plans."""
    from collections import Counter

    from pgsync_spark import caching
    from pgsync_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    results = []
    try:
        for parts in ("3", "17"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            snap = {}
            for name in ("denorm_orders_full", "dedup_canonical"):
                df = REGISTRY[name].fn(spark, sf)
                snap[name] = Counter(tuple(r) for r in df.collect())
                caching.release(df)
            results.append(snap)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    for name in results[0]:
        assert results[0][name] == results[1][name], name


def test_bm25_corpus_never_shuffles(spark):
    """The BM25 scorer computes tf in-scan and broadcasts one 1-row
    stats aggregate — the corpus side must have ZERO hash-partition
    exchanges (the explode→groupBy tf formulation would shuffle
    |tokens| rows)."""
    from conftest import SF_DIR
    from pgsync_spark.queries import REGISTRY

    df = REGISTRY["text_bm25_topk"].fn(spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning" not in plan, plan
    assert "TakeOrdered" in plan  # global top-k is a heap, not a sort


def test_hybrid_rrf_candidate_lists_are_takeordered(spark):
    """Both hybrid legs must rank via TakeOrdered top-K, never a
    global row_number window over the corpus (single-partition
    serialization at scale)."""
    from conftest import SF_DIR
    from pgsync_spark.queries import REGISTRY

    df = REGISTRY["hybrid_search_rrf"].fn(spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning" not in plan, plan
    assert plan.count("TakeOrdered") >= 2


def test_ccnet_perplexity_semantics_and_plan(spark):
    """ccnet_perplexity_buckets: (a) docs made of common reference-
    slice bigrams score LOWER cross-entropy than out-of-distribution
    garbage (the CCNet head/tail contract); (b) terciles are balanced
    per language; (c) the cost table carrying ln() is built on the
    bucket domain and BROADCAST back — the corpus side must show no
    per-bigram ln evaluation shuffle (its only exchanges: the doc_id
    aggregation and the per-lang ntile window)."""
    from conftest import SF_DIR
    from pgsync_spark.queries import REGISTRY

    df = REGISTRY["ccnet_perplexity_buckets"].fn(spark, SF_DIR)
    rows = df.collect()
    assert rows
    by_lang: dict = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, rs in by_lang.items():
        counts = {"head": 0, "middle": 0, "tail": 0}
        for r in rs:
            counts[r["ppl_bucket"]] += 1
        assert max(counts.values()) - min(counts.values()) <= 1, (
            lang,
            counts,
        )
        # bucket assignment must follow the ce_micro order exactly
        ordered = sorted(rs, key=lambda r: (r["ce_micro"], r["doc_id"]))
        labels = [r["ppl_bucket"] for r in ordered]
        n = len(labels)
        assert labels == (
            ["head"] * labels.count("head")
            + ["middle"] * labels.count("middle")
            + ["tail"] * labels.count("tail")
        ), lang
        assert n == sum(counts.values())
    # head docs (lowest cross-entropy) score strictly below tail docs
    # within every language — the quantity orders correctly
    for lang, rs in by_lang.items():
        heads = [r["ce_micro"] for r in rs if r["ppl_bucket"] == "head"]
        tails = [r["ce_micro"] for r in rs if r["ppl_bucket"] == "tail"]
        if heads and tails:
            assert max(heads) <= min(tails), lang
    plan = df._jdf.queryExecution().executedPlan().toString()
    # exactly the two sanctioned corpus-side exchanges (doc agg + lang
    # window) plus the <=256-row reference-histogram shuffles; the
    # cost table reaches the corpus via broadcast join only. Count the
    # AQE FINAL plan — the trailing "Initial Plan" section repeats
    # every exchange.
    final = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in final
    assert final.count("Exchange hashpartitioning") <= 4, final


def test_quality_classifier_semantics_and_plan(spark):
    """text_quality_classifier (the fastText-style model filter): the
    keep decision is exactly score >= QC_KEEP_MILLI, identical texts
    score identically, both classes are populated (the threshold sits
    inside the score distribution, not degenerate), and the plan has
    ZERO exchanges — the weight table rides the plan as a literal
    array, pure in-scan map."""
    from pgsync_spark.functions.text import QC_KEEP_MILLI

    df = REGISTRY["text_quality_classifier"].fn(spark, SF_DIR)
    rows = df.collect()
    assert len(rows) == 500
    kept = sum(r["keep"] for r in rows)
    assert 0 < kept < len(rows)
    for r in rows:
        assert r["keep"] == (
            r["score_milli"] is not None
            and r["score_milli"] >= QC_KEEP_MILLI
        )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan.split("== Initial Plan ==")[0], plan

    # determinism: duplicated text scores identically
    from pgsync_spark.functions.text import quality_classifier

    d = spark.createDataFrame(
        [(1, "alpha beta gamma delta", "en"),
         (2, "alpha beta gamma delta", "en")],
        "doc_id bigint, text string, lang string",
    )
    s = {r["doc_id"]: r["score_milli"]
         for r in quality_classifier(d).collect()}
    assert s[1] == s[2]


@pytest.mark.slow
def test_ccnet_sampled_thresholds_agreement_and_plan(spark):
    """The 100 TB CCNet path (ccnet_perplexity_buckets_sampled: fit
    per-lang tercile thresholds on a deterministic hash-sample, assign
    the corpus by comparison — CCNet's own method): (a) assignment
    agrees with the exact ntile terciles >= 95% where the sample is
    statistically meaningful (sf0.1, 5k docs; measured 97.3%) and
    >= 90% at the oracle SF (sf0.01, 500 docs — a 1/2 sample of a
    ~64-doc language caps agreement near 94% by order-statistic
    variance alone, salt-sweep measured 0.89-0.944; the hash is fixed
    so the number is deterministic and the bound is a regression
    floor); (b) every language lands docs in the threshold sample at
    the oracle SF, so the NULL-thresholds->tail fallback is
    unreachable (each lang shows all three buckets); (c) the exact
    form's corpus-wide ntile window is GONE: no ntile anywhere, the
    only window runs over the pmod hash-sample, and assignment
    reaches the corpus via broadcast join."""
    from conftest import SF_DIR

    exact = REGISTRY["ccnet_perplexity_buckets"]
    sampled = REGISTRY["ccnet_perplexity_buckets_sampled"]

    def agreement(sf_dir: str) -> float:
        e = {r["doc_id"]: r["ppl_bucket"]
             for r in exact.fn(spark, sf_dir).collect()}
        s = {r["doc_id"]: r["ppl_bucket"]
             for r in sampled.fn(spark, sf_dir).collect()}
        assert set(e) == set(s)  # same docs, both assigners total
        return sum(e[d] == s[d] for d in e) / len(e)

    assert agreement("/root/testdata/sf0.1") >= 0.95
    assert agreement(SF_DIR) >= 0.90

    df = sampled.fn(spark, SF_DIR)
    rows = df.collect()
    by_lang: dict = {}
    for r in rows:
        by_lang.setdefault(r["lang"], set()).add(r["ppl_bucket"])
    for lang, buckets in by_lang.items():
        assert buckets == {"head", "middle", "tail"}, (lang, buckets)

    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "ntile" not in final, final
    # the sample predicate (h32(doc_id) % MOD = 0) appears EXACTLY
    # once — as a Filter pushed through the threshold branch's doc
    # aggregation to its scan, so that branch scores only the sample
    # (at MOD~10^3 that pass is ~0.1% of the corpus); the corpus-side
    # assignment branch is unfiltered and windowless, taking the
    # thresholds via broadcast
    mod_filters = [
        ln for ln in final.splitlines()
        if f"% {PPL_SAMPLE_MOD})" in ln
    ]
    assert len(mod_filters) == 1 and "Filter" in mod_filters[0], final
    assert "BroadcastHashJoin" in final
    # corpus-side exchanges unchanged vs the exact form's budget: two
    # doc aggs (sample scoring + corpus scoring), the reference
    # histogram, and the sample's own tiny lang window
    assert final.count("Exchange hashpartitioning") <= 4, final


@pytest.mark.slow
def test_ann_recall_eval_semantics(spark):
    """Recall rows are complete and internally consistent: one row per
    (query, method), hits bounded by k, recall = hits/k, and IVF
    (nprobe=3 of 10 cells) beats single-probe sign-LSH on this corpus
    in aggregate — the signal the eval exists to surface."""
    from pgsync_spark.functions.similarity import N_QUERIES, TOP_K

    rows = REGISTRY["ann_recall_eval"].fn(spark, SF_DIR).collect()
    assert len(rows) == 10 * N_QUERIES
    by_method = {}
    for r in rows:
        assert 0 <= r["n_hits"] <= TOP_K
        assert abs(r["recall"] - r["n_hits"] / TOP_K) < 1e-9
        by_method.setdefault(r["method"], []).append(r["n_hits"])
    assert set(by_method) == {
        "ivf", "ivf_trained", "lsh", "lsh_multiprobe",
        "lsh_multiprobe2", "pq_adc", "pq_adc_trained", "ivfpq",
        "ivfpq_trained", "ivfpq_fully_trained",
    }
    # ivfpq's candidate set is a subset of pq_adc's, scored
    # identically — empirically it loses here (pinned). NOTE the
    # subset argument bounds CANDIDATES, not top-k hits: pruning can
    # accidentally IMPROVE recall@k when the quantized scorer is
    # imperfect (a wrong-but-good-ADC candidate pruned away lets a
    # true neighbor into the top-k) — the trained codebook at
    # sf0.001 is a live counterexample (ivfpq_trained 11 hits vs
    # pq_adc_trained 8), so no such assertion for the trained pair.
    assert sum(by_method["ivfpq"]) <= sum(by_method["pq_adc"])
    assert sum(by_method["ivf"]) >= sum(by_method["lsh"])
    # multi-probe exists BECAUSE the eval showed single-probe at ~0:
    # probing the Hamming-1 buckets must strictly improve here
    assert sum(by_method["lsh_multiprobe"]) > sum(by_method["lsh"])
    # and the width dial is monotone: Hamming-2's candidate superset
    # can only add exact-scored hits
    assert sum(by_method["lsh_multiprobe2"]) >= sum(
        by_method["lsh_multiprobe"]
    )


def test_global_windows_use_bounded_chokepoint():
    """r11 verdict item 4: every global-ORDER (unpartitioned) window
    in the package must come through
    operators/windows.bounded_rank_window — the audited "this frame
    is <= k rows by construction" chokepoint. get_spark() silences
    WindowExec's per-query warning, so THIS check is what now flags a
    real unbounded window, at review time. A window with a partition
    key is untouched by this rule."""
    import pathlib
    import re

    # anchor on this test file so the scan is cwd-independent (an
    # empty rglob would vacuously pass)
    pkg = pathlib.Path(__file__).resolve().parent.parent / "pgsync_spark"
    bad = []
    pat = re.compile(r"\b(?:W|Window)\s*\.\s*orderBy\s*\(")
    n_files = 0
    for f in pkg.rglob("*.py"):
        if f.name == "windows.py" or "__pycache__" in f.parts:
            continue
        n_files += 1
        for i, line in enumerate(f.read_text().splitlines(), 1):
            if pat.search(line):
                bad.append(f"{f}:{i}: {line.strip()}")
    assert n_files > 20, f"package scan found only {n_files} files"
    assert not bad, (
        "unpartitioned Window.orderBy outside the bounded_rank_window "
        "chokepoint (prove the frame is bounded and route through it, "
        "or partition the window):\n" + "\n".join(bad)
    )


def test_one_production_form_per_query():
    """Every registry query and index topk has ONE Spark form; the
    DuckDB oracle is its independent second form. A Column-API twin
    kept beside the production form, a module/class ``_SQL_*``
    switch choosing between two forms, or a SQL-text copy of the CDC
    overlay fold (_AppendOnlyIndex._cdc_live is the one fold) is
    flagged here."""
    import pathlib
    import re

    pkg = pathlib.Path(__file__).resolve().parent.parent / "pgsync_spark"
    pats = (
        re.compile(r"^(?:    )?_SQL_[A-Z_]+\s*="),
        re.compile(r"\bdef (?:_topk|_recall_eval|_bruteforce_topk)_df\b"),
        re.compile(r"\bdef _\w+_df\(\s*spark\s*,\s*sf_dir\s*\)"),
        re.compile(r"max\(struct\(ver", re.IGNORECASE),
    )
    bad = []
    n_files = 0
    for f in pkg.rglob("*.py"):
        if "__pycache__" in f.parts:
            continue
        n_files += 1
        for i, line in enumerate(f.read_text().splitlines(), 1):
            if any(p.search(line) for p in pats):
                bad.append(f"{f}:{i}: {line.strip()}")
    assert n_files > 20, f"package scan found only {n_files} files"
    assert not bad, (
        "second Spark form of a query (delete it; the DuckDB oracle "
        "is the reference):\n" + "\n".join(bad)
    )


def test_one_view_registrar():
    """sqlgen.ViewScope is the only code that registers or drops a
    temp view: a second registrar, or a fixed view name that two
    threads constructing at once would share, is flagged here."""
    import pathlib
    import re

    pkg = pathlib.Path(__file__).resolve().parent.parent / "pgsync_spark"
    registrar = pkg / "plans" / "sqlgen.py"
    pat = re.compile(
        r"\b(?:createOrReplace(?:Global)?TempView|create(?:Global)?TempView"
        r"|drop(?:Global)?TempView|registerTempTable)\b"
        r"|__(?:annq|recall|docq)_"
    )
    bad = []
    n_files = 0
    for f in pkg.rglob("*.py"):
        if "__pycache__" in f.parts or f == registrar:
            continue
        n_files += 1
        for i, line in enumerate(f.read_text().splitlines(), 1):
            if pat.search(line):
                bad.append(f"{f}:{i}: {line.strip()}")
    assert n_files > 20, f"package scan found only {n_files} files"
    assert not bad, (
        "temp view registered outside sqlgen.ViewScope (lease it "
        "instead):\n" + "\n".join(bad)
    )


def test_no_scratch_scripts():
    """Every check lives in a test tier and every measurement in
    perfbench: no tools/ directory, and no scratch_*.py anywhere in the
    repo (a one-shot script no suite runs guards nothing)."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent
    assert (root / "pgsync_spark").is_dir() and (root / "tests").is_dir()
    assert not (root / "tools").exists(), "tools/ is back"
    bad = sorted(
        str(f.relative_to(root))
        for f in root.rglob("scratch_*.py")
        if ".git" not in f.parts
    )
    assert not bad, (
        "one-shot scratch script(s) in the repo (move the check into a "
        "test or the measurement into perfbench):\n" + "\n".join(bad)
    )


def test_one_spark_form_per_kernel():
    """Every expression kernel has ONE Spark body, its Spark-SQL text
    builder ``X_sparksql``. A same-module ``def X`` may only parse it
    (a docstring, then ``return F.expr(X_sparksql(...))``); a
    Column-API body beside the text builder, or an
    ``isinstance(<arg>, str)`` dispatch choosing between the two forms
    in ``functions/``, is flagged here."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / "pgsync_spark"

    def parses_only(fn, builder):
        body = fn.body
        if body and isinstance(body[0], ast.Expr) and isinstance(
            body[0].value, ast.Constant
        ):
            body = body[1:]  # docstring
        if len(body) != 1 or not isinstance(body[0], ast.Return):
            return False
        call = body[0].value
        return (
            isinstance(call, ast.Call)
            and ast.unparse(call.func) == "F.expr"
            and len(call.args) == 1
            and isinstance(call.args[0], ast.Call)
            and ast.unparse(call.args[0].func) == builder
        )

    bad = []
    n_kernels = 0
    for f in sorted(pkg.rglob("*.py")):
        if "__pycache__" in f.parts:
            continue
        tree = ast.parse(f.read_text())
        defs = {
            n.name: n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)
        }
        for name, fn in defs.items():
            builder = f"{name}_sparksql"
            if builder in defs:
                n_kernels += 1
                if not parses_only(fn, builder):
                    bad.append(f"{f}:{fn.lineno}: def {name}")
        if "functions" in f.parts:
            for n in ast.walk(tree):
                if (
                    isinstance(n, ast.Call)
                    and ast.unparse(n.func) == "isinstance"
                    and len(n.args) == 2
                    and ast.unparse(n.args[1]) == "str"
                ):
                    bad.append(f"{f}:{n.lineno}: {ast.unparse(n)}")
    assert n_kernels >= 4, f"kernel scan found only {n_kernels} pairs"
    assert not bad, (
        "second Spark body of a kernel (the *_sparksql text builder is "
        "the one form; a Column name may only F.expr it):\n"
        + "\n".join(bad)
    )


@pytest.mark.parametrize("escaped", ["false", "true"])
def test_text_kernels_read_the_same_under_escaped_literals(spark, escaped):
    """The text builders' string literals must parse to the same
    values under both spark.sql.parser.escapedStringLiterals settings
    — a backslash in one reads differently under each (a '\\\\s+'
    split pattern returned a whole document as ONE token, no error).
    Tokens, every analyzer, h32, perm and combine_shingles are checked
    against the driver-side Python mirrors; a root-filter value and a
    BM25Index.topk term holding both a quote and a backslash must
    match the row that holds them."""
    from pgsync_spark.functions.bm25_index import BM25Index
    from pgsync_spark.functions.hashing import (
        ANALYZERS,
        MERSENNE_P,
        SHINGLE_P,
        _MIX,
        analyze_py,
        analyze_sparksql,
        combine_shingles_sparksql,
        h32_py,
        h32_sparksql,
        perm_params,
        perm_sparksql,
        tokens_sparksql,
    )
    from pgsync_spark.operators.filters import filters_to_spark_sql

    texts = [
        "Hello  big\tWorld's\nend of\x0bthe\x0cline\rnow",
        "The priorities: 1-URGENT classes, dogs and a kiss",
        "",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    odd = "it's\\b"
    named = spark.createDataFrame([(1, odd), (2, "its ab")], "id int, name string")
    idx = BM25Index(spark)
    idx.ingest(
        spark.createDataFrame(
            [(1, f"{odd} plain", "en", "s0"), (2, "plain its ab", "en", "s0")],
            "doc_id bigint, text string, lang string, source string",
        )
    )
    key = "spark.sql.parser.escapedStringLiterals"
    prev = spark.conf.get(key)
    spark.conf.set(key, escaped)
    try:
        toks = df.selectExpr(
            "text",
            f"{tokens_sparksql('text')} AS tok",
            *[f"{analyze_sparksql('text', a)} AS {a}" for a in ANALYZERS],
        )
        hashed = toks.selectExpr(
            "text", f"transform(tok, t -> {h32_sparksql('t')}) AS th"
        )
        rows = toks.collect()
        mixed = (
            hashed.filter("size(th) >= 3")
            .selectExpr(
                "text",
                "th",
                f"{combine_shingles_sparksql('th', 3)} AS sh",
                f"transform(th, h -> {perm_sparksql('h', 5)}) AS p5",
            )
            .collect()
        )
        pred = filters_to_spark_sql([{"name": odd}], dict(named.dtypes))
        filtered = [r["id"] for r in named.filter(pred).collect()]
        hits = [r["doc_id"] for r in idx.topk((odd,)).collect()]
    finally:
        spark.conf.set(key, prev)
        idx.close()
    assert filtered == [1], (escaped, pred)
    assert hits == [1], escaped
    by_text = {r["text"]: r for r in rows}
    assert len(by_text) == len(texts)
    for t, r in by_text.items():
        assert r["tok"] == t.lower().split(), (escaped, t)
        for a in ANALYZERS:
            assert r[a] == analyze_py(t, a), (escaped, a, t)
    a5, b5 = perm_params(5)
    assert len(mixed) == 2
    for r in mixed:
        th = [h32_py(w) for w in r["text"].lower().split()]
        assert r["th"] == th, escaped
        sh = []
        for i in range(len(th) - 2):
            c = th[i]
            for j in (1, 2):
                c = (c * _MIX + th[i + j]) % SHINGLE_P
            sh.append(c)
        assert r["sh"] == sh, escaped
        assert r["p5"] == [(h * a5 + b5) % MERSENNE_P for h in th], escaped


@pytest.mark.slow
def test_clustered_recall_orderings(spark):
    """r11 verdict item 1: on the mixture-of-centers corpus the
    recall eval measures SEMANTIC recall, and training must buy what
    it claims — the trained coarse quantizer beats the corpus-seeded
    codebook, the trained PQ codebook beats the hash codebook, and
    the multiprobe ladder is monotone. (On the near-orthogonal hash
    corpus these orderings are noise; here they are the point.)"""
    from pgsync_spark.functions.similarity import N_QUERIES, TOP_K

    rows = REGISTRY["ann_recall_eval_clustered"].fn(spark, SF_DIR).collect()
    assert len(rows) == 10 * N_QUERIES
    tot = {}
    for r in rows:
        tot[r["method"]] = tot.get(r["method"], 0) + r["n_hits"]
    # training the coarse quantizer aligns cells to modes: strict win
    assert tot["ivf_trained"] > tot["ivf"], tot
    # ... and reaches (near-)perfect recall on the idealized
    # one-cell-per-mode corpus, which partition-balance alone never
    # guaranteed (the r11 rebuild measurement's missing half)
    assert tot["ivf_trained"] >= 0.95 * TOP_K * N_QUERIES, tot
    # NO pq_adc_trained > pq_adc assertion: PQ quantizes 8-dim
    # SUBSPACES, and the mixture's modes live in the full space —
    # per-subspace the signal-to-offset ratio is low enough that
    # Lloyd-trained sub-codebooks land within one hit of the hash
    # sub-codebooks (19 vs 20 of 50 at sf0.001) in either direction.
    # The coarse-quantizer claim is the one training provably buys.
    # clusters share sign patterns: multiprobe ladder stays monotone
    assert tot["lsh_multiprobe"] > tot["lsh"], tot
    assert tot["lsh_multiprobe2"] >= tot["lsh_multiprobe"], tot


@pytest.mark.slow
def test_probe_cost_frontier_shapes(spark):
    """The nprobe frontier carries the mode story as a CURVE: on the
    clustered corpus the query's mode is found immediately (recall
    ~1 at nprobe=1-2, extra probes buy only candidates); on the hash
    corpus recall tracks the probed fraction with no early
    saturation. Both curves pay monotonically more rerank
    candidates. (Measured at sf0.001: clustered 0.98/1.0/1.0/1.0/1.0
    at 84→282 candidates; hash 0.3→0.70 at 57→257.)"""
    from pgsync_spark import caching

    def rows(name):
        df = REGISTRY[name].fn(spark, SF_DIR)
        out = {
            r["nprobe"]: (r["mean_candidates"], r["mean_recall"])
            for r in df.collect()
        }
        caching.release(df)
        return out

    clu = rows("ann_probe_frontier_clustered")
    assert sorted(clu) == [1, 2, 3, 4, 5]
    cands = [clu[n][0] for n in range(1, 6)]
    assert cands == sorted(cands) and cands[0] < cands[-1]
    # mode found immediately; saturated by 2 probes
    assert clu[1][1] >= 0.9, clu
    assert clu[2][1] >= 0.98, clu
    assert clu[5][1] >= clu[2][1], clu

    hsh = rows("ann_probe_cost_frontier")
    hc = [hsh[n][0] for n in range(1, 6)]
    hr = [hsh[n][1] for n in range(1, 6)]
    assert hc == sorted(hc) and hc[0] < hc[-1]
    # recall keeps climbing with probed fraction — no mode to find
    assert hr == sorted(hr) and hr[0] < hr[-1], hr
    assert hr[4] < 0.9, hr


@pytest.mark.slow
def test_semantic_dedup_ivf_is_mode_local(spark):
    """The faithful SemDeDup (k-means cells, dedup within cells)
    keeps decisions mode-local where the banded-LSH variant's
    transitive cosine graph chains across correlated modes: on the
    10-mode clustered corpus the LSH variant collapses into 2
    mega-components (259 + 241 of 500) while the cell-blocked
    variant keeps ~one representative per mode-local group — the
    difference between discarding 99.6% of a 10-topic corpus and
    pruning within topics."""
    from pgsync_spark import caching
    from pgsync_spark.functions.similarity import (
        clustered_corpus,
        semantic_dedup_canonical,
    )
    from pgsync_spark.catalog import Catalog

    ivf = REGISTRY["semantic_dedup_ivf_clustered"].fn(spark, SF_DIR)
    rows = ivf.collect()
    sizes = sorted((r["cluster_size"] for r in rows), reverse=True)
    n_total = sum(sizes)
    caching.release(ivf)
    # every vector accounted for exactly once; ~one survivor per
    # mode-local group (measured: 12 survivors, top size 66); no
    # mega-cluster anywhere near the corpus scale
    assert n_total == 500, sizes
    assert 10 <= len(sizes) <= 20, sizes
    assert sizes[0] < 100, sizes

    corpus = clustered_corpus(
        Catalog(spark, SF_DIR).df("embeddings")
    ).persist()
    try:
        lsh = semantic_dedup_canonical(corpus)
        lsh_sizes = sorted(
            (r["cluster_size"] for r in lsh.collect()), reverse=True
        )
        caching.release(lsh)
    finally:
        corpus.unpersist()
    # the pathology the cell blocking removes, pinned as the contrast
    assert len(lsh_sizes) < len(sizes), (lsh_sizes, sizes)
    assert lsh_sizes[0] > 200, lsh_sizes


def test_corpus_drift_kl_semantics(spark):
    """KL is non-negative for every batch (Gibbs), batches partition
    the corpus exactly, and the hashed batch key is NOT aliased with
    the synthetic source assignment (which would pin every batch at
    ln(n_batches))."""
    import math

    from pgsync_spark.catalog import Catalog
    from pgsync_spark.queries import DRIFT_BATCHES

    rows = REGISTRY["corpus_drift_kl"].fn(spark, SF_DIR).collect()
    assert len(rows) == DRIFT_BATCHES
    n_docs = Catalog(spark, SF_DIR).df("documents").count()
    assert sum(r["n_docs"] for r in rows) == n_docs
    for r in rows:
        assert r["kl"] >= 0.0
        assert r["kl"] < math.log(DRIFT_BATCHES) - 1e-6


@pytest.mark.slow
def test_training_shard_export_sink(spark, tmp_path):
    """write_training_shards: manifest totals match the corpus, every
    shard respects the budget within one-doc overrun, files on disk
    match the manifest exactly, and a re-run is byte-stable."""
    import json
    import os

    from pgsync_spark.catalog import Catalog
    from pgsync_spark.sinks.shards import write_training_shards

    docs = Catalog(spark, SF_DIR).df("documents")
    out = str(tmp_path / "export")
    m = write_training_shards(docs, out, budget=200, lanes=2)

    assert m["n_docs"] == docs.count()
    with open(os.path.join(out, "MANIFEST.json")) as f:
        assert json.load(f) == m
    max_doc_tok = max(s["n_tokens"] for s in m["shards"])
    for s in m["shards"]:
        # start-offset binning: a shard holds < budget of PRIOR tokens
        # plus its last doc, so n_tokens < budget + max single doc
        assert s["n_tokens"] < 200 + max_doc_tok
        assert s["min_doc_id"] <= s["max_doc_id"]
        back = spark.read.parquet(os.path.join(out, s["path"]))
        assert back.count() == s["n_docs"]
    # shards partition the corpus: no doc in two shards
    assert sum(s["n_docs"] for s in m["shards"]) == m["n_docs"]

    # re-export: content-idempotent under a NEW version (the committed
    # data dir is never rewritten in place — a crashed re-export stays
    # invisible to manifest readers), old version cleaned post-flip
    m2 = write_training_shards(docs, out, budget=200, lanes=2)
    assert m2["version"] == m["version"] + 1
    assert m2["data_dir"] != m["data_dir"]
    strip = lambda d: {  # noqa: E731
        k: v for k, v in d.items() if k not in ("version", "data_dir")
    }
    assert strip(m2) == {
        **strip(m),
        "shards": [
            {**s, "path": s["path"].replace(m["data_dir"], m2["data_dir"])}
            for s in m["shards"]
        ],
    }
    assert not os.path.isdir(os.path.join(out, m["data_dir"]))


def test_cluster_balanced_sample_semantics(spark):
    """Every cell is capped at CBS_PER_CELL, kept members are each
    cell's most-central (cos non-increasing in pick order), and no
    vector is sampled twice (assignment is a partition)."""
    from pgsync_spark.functions.similarity import CBS_PER_CELL

    rows = REGISTRY["cluster_balanced_sample"].fn(spark, SF_DIR).collect()
    ids = [r["vec_id"] for r in rows]
    assert len(ids) == len(set(ids))
    by_cell = {}
    for r in rows:
        by_cell.setdefault(r["cell_id"], []).append((r["pick"], r["cos"]))
    for cell, members in by_cell.items():
        assert len(members) <= CBS_PER_CELL
        ordered = sorted(members)
        assert [p for p, _ in ordered] == list(range(1, len(members) + 1))
        coss = [c for _, c in ordered]
        assert coss == sorted(coss, reverse=True)


def test_training_shard_loader(spark, tmp_path):
    """read_training_shards honors the manifest contract: full read
    returns every exported doc, a shard-slice read returns exactly
    that shard's docs with partition pruning in the plan, and unknown
    shard ids fail loudly."""
    import os

    import pytest

    from pgsync_spark.catalog import Catalog
    from pgsync_spark.sinks.shards import (
        read_training_shards,
        write_training_shards,
    )

    docs = Catalog(spark, SF_DIR).df("documents")
    out = str(tmp_path / "export")
    m = write_training_shards(docs, out, budget=200, lanes=2)

    back = read_training_shards(spark, out)
    assert back.count() == m["n_docs"]

    first = m["shards"][0]
    one = read_training_shards(spark, out, [first["shard_id"]])
    assert one.count() == first["n_docs"]
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "shard_id" in plan

    with pytest.raises(ValueError, match="not in MANIFEST"):
        read_training_shards(spark, out, [999_999_999])


def test_pq_encode_rejects_zero_norm_vectors(spark):
    """r7 advice: an all-zero embedding would divide to NaN subdistances
    whose argmin placement need not match the oracle — encode fails
    loudly instead of silently diverging between engines."""
    import pytest

    from pgsync_spark.functions.similarity import pq_encode

    rows = [
        (i, [float((i * 7 + d) % 13 + 1) for d in range(64)])
        for i in range(1, 40)  # covers the codebook id range
    ] + [(0, [0.0] * 64)]
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    )
    with pytest.raises(Exception, match="zero-norm"):
        pq_encode(df).collect()


@pytest.mark.slow
def test_trained_pq_codebook_beats_hash_codebook(spark):
    """r7 verdict item 6 'done' criterion: at sf0.01 (enough sample to
    fit 16 centroids/subspace) the Lloyd-trained codebook's recall
    beats the hash-derived codebook's at identical serving cost. Also
    pins that training is integer-exact: the trained centroids are
    plain ints (bit-reproducible by the SQL oracle's unrolled
    iterations — the property the full value-match rests on)."""
    from pgsync_spark import caching
    from pgsync_spark.functions.similarity import _pq_trained_centroids
    from pgsync_spark.queries import REGISTRY

    from pyspark.sql import functions as F

    df = REGISTRY["ann_recall_eval"].fn(spark, "/root/testdata/sf0.01")
    by = {
        r["method"]: r["r"]
        for r in df.groupBy("method").agg(F.avg("recall").alias("r")).collect()
    }
    caching.release(df)
    assert by["pq_adc_trained"] > by["pq_adc"], by
    # r8 verdict item 5 'done' criterion: the Lloyd-trained coarse
    # quantizer lifts IVF recall above the hash-picked cells at
    # identical serving cost (measured 0.52 vs 0.42 at sf0.01)
    assert by["ivf_trained"] > by["ivf"], by
    # and inside the IVF-PQ composition, training the cells lifts the
    # composed recall too (0.22 vs 0.14 at sf0.01) — the pruning dial
    # was the binding loss, exactly what ivf_trained's lone number
    # predicted
    assert by["ivfpq_fully_trained"] > by["ivfpq_trained"], by

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    cents = _pq_trained_centroids(emb)
    flat = [q for m in cents for c in m for q in c]
    assert all(isinstance(q, int) for q in flat)
    assert any(q != 0 for q in flat)

def test_clear_trained_cache_retrains(spark):
    """r10 verdict item 4: the trained-artifact cache keys on the
    input PLAN, not data content — clear_trained_cache() is the
    public escape hatch after an in-place corpus mutation. Memoized
    hit proven by a sentinel; a cleared cache retrains to the real
    (oracle-matching) centroids."""
    from pgsync_spark.functions.similarity import (
        _TRAINED_CACHE,
        _ivf_trained_centroids,
        clear_trained_cache,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    real = _ivf_trained_centroids(emb)
    assert _TRAINED_CACHE  # populated
    # tamper every entry: a second call must serve the memo, not
    # retrain
    sentinel = [[123456]]
    for k in _TRAINED_CACHE:
        _TRAINED_CACHE[k] = sentinel
    assert _ivf_trained_centroids(emb) == sentinel
    clear_trained_cache()
    assert not _TRAINED_CACHE
    retrained = _ivf_trained_centroids(emb)
    assert retrained == real  # deterministic Lloyd, genuinely re-run


def test_single_parse_scoring_trees_match_column_forms(spark):
    """r13 optimization guard: bm25_term_micro and _hash_dim_sparksql
    are single-parse Spark-SQL text builders (driver-side construction
    cost); the analyzed trees must stay canonically identical to the
    documented Column-API chains kept here as references — the
    fixed-point bit-parity contract (oracle floors) rides on the exact
    IEEE fold order."""
    from pyspark.sql import functions as F

    from pgsync_spark.queries import (
        BM25_K1,
        BM25_K1_PLUS_1,
        BM25_B,
        BM25_ONE_MINUS_B,
        _hash_dim_sparksql,
        bm25_term_micro,
    )

    df = spark.range(3).selectExpr(
        "CAST(id AS BIGINT) AS tf0",
        "CAST(id + 1 AS BIGINT) AS df0",
        "CAST(100 AS BIGINT) AS n_docs",
        "CAST(10 AS BIGINT) AS dl",
        "CAST(9.5 AS DOUBLE) AS avgdl",
        "CAST(id AS STRING) AS text",
    )

    def column_term_micro(tf, dfq, n_docs, dl, avgdl):
        # the pre-r13 Column-API tree, verbatim
        idf_micro = F.floor(
            F.log(
                F.lit(1.0) + (n_docs - dfq + F.lit(0.5)) / (dfq + F.lit(0.5))
            )
            * F.lit(1e6)
            + F.lit(0.5)
        ).cast("bigint")
        tfn = (tf * F.lit(float(BM25_K1_PLUS_1))) / (
            tf
            + F.lit(float(BM25_K1))
            * (
                F.lit(float(BM25_ONE_MINUS_B))
                + F.lit(float(BM25_B)) * (dl / avgdl)
            )
        )
        return F.floor(idf_micro * tfn + F.lit(0.5)).cast("bigint")

    def column_hash_dim(text_col, i):
        # the pre-r13 Column-API chain, verbatim
        h = F.conv(
            F.substring(F.md5(F.concat(text_col, F.lit(f"|{i}"))), 1, 8),
            16,
            10,
        ).cast("bigint")
        x = 2.0 * (h / F.lit(4294967296.0)) - 1.0
        return F.floor(x * 1e6 + 0.5).cast("bigint")

    def same(a, b):
        return (
            a._jdf.queryExecution()
            .analyzed()
            .sameResult(b._jdf.queryExecution().analyzed())
        )

    old_tm = df.select(
        column_term_micro(
            F.col("tf0"),
            F.coalesce(F.col("df0"), F.lit(0).cast("long")),
            F.col("n_docs"),
            F.col("dl"),
            F.col("avgdl"),
        ).alias("s")
    )
    new_tm = df.select(
        F.expr(
            bm25_term_micro(
                "tf0",
                "coalesce(df0, CAST(0 AS BIGINT))",
                "n_docs",
                "dl",
                "avgdl",
            )
        ).alias("s")
    )
    assert same(old_tm, new_tm)

    old_hd = df.select(column_hash_dim(F.col("text"), 3).alias("e"))
    new_hd = df.selectExpr(f"{_hash_dim_sparksql('text', 3)} AS e")
    assert same(old_hd, new_hd)


def test_analyze_single_parse_trees_match_column_forms(spark):
    """r13: analyze() must build the identical tree as the Column-API
    analyzer chain, for every analyzer (the frozen index-vocabulary
    contract rides on token-for-token equality). Optimized plans: the
    text form spells the whitespace split pattern as
    concat(chr(92), 's+') so it reads the same under both
    escapedStringLiterals settings, and constant folding turns it into
    the Column chain's literal \\s+."""
    from pyspark.sql import functions as F

    from pgsync_spark.functions.hashing import (
        ANALYZERS,
        STOPWORDS,
        _STANDARD_RE,
        _STEM_RULES,
        analyze,
    )

    df = spark.range(3).selectExpr("CAST(id AS STRING) AS text")

    def stem_chain(tok):
        for pat, _, suf in _STEM_RULES:
            tok = F.regexp_replace(tok, pat, "$1" + suf)
        return tok

    def column_analyze(col, analyzer):
        # the pre-r13 Column-API chain, verbatim
        if analyzer == "whitespace":
            return F.filter(
                F.split(F.lower(col), r"\s+"), lambda x: x != F.lit("")
            )
        toks = F.regexp_extract_all(F.lower(col), F.lit(_STANDARD_RE), 0)
        if analyzer in ("standard_stop", "standard_stem"):
            stop = F.array(*[F.lit(w) for w in STOPWORDS])
            toks = F.filter(toks, lambda x: ~F.array_contains(stop, x))
        if analyzer == "standard_stem":
            toks = F.transform(toks, stem_chain)
        return toks

    for an in ANALYZERS:
        a = df.select(
            column_analyze(F.coalesce(F.col("text"), F.lit("")), an).alias(
                "t"
            )
        )
        b = df.select(analyze("coalesce(text, \'\')", an).alias("t"))
        assert (
            a._jdf.queryExecution()
            .optimizedPlan()
            .sameResult(b._jdf.queryExecution().optimizedPlan())
        ), an
