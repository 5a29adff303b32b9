"""The one-SQL topk serving paths (BM25Index._topk_sql /
VectorIndex._topk_sql) against independent references: the DuckDB
mirrors (vector_topk_sql, _bm25_scored_sql) for single-part stores,
and a one-shot index over the post-CDC corpus for multi-part,
multi-epoch CDC and post-compact stores. Covers exclude_self on/off,
probe_hamming 0/1/2, single- and multi-term BM25 queries, hostile
query terms and frames bound to a cloned session."""

import pytest
from pyspark.sql import functions as F

from pgsync_spark.functions.bm25_index import BM25Index
from pgsync_spark.functions.similarity import N_QUERIES
from pgsync_spark.functions.vector_index import VectorIndex, vector_topk_sql
from pgsync_spark.queries import BM25_QUERY_TERMS, _bm25_scored_sql
from pgsync_spark.testing import compare

from conftest import SF_DIR


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _check_oracle(df, sql, label):
    ok, msg = compare(df, sql, SF_DIR)
    assert ok, f"{label}: {msg}"
    assert df.count() > 0, f"{label}: vacuous (no rows)"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture()
def queries(emb):
    return emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


def _vcdc(emb):
    return emb.filter("vec_id >= 5 and vec_id < 25").select(
        "vec_id",
        F.expr("transform(embedding, x -> -x)").alias("embedding"),
        F.when(F.col("vec_id") < 15, F.lit("u"))
        .otherwise(F.lit("d"))
        .alias("op"),
    )


def _vector_oneshot(spark, corpus, queries, k, exclude_self):
    ref = VectorIndex(spark)
    try:
        ref.ingest(corpus)
        return _rows(ref.topk(queries, k=k, exclude_self=exclude_self))
    finally:
        ref.close()


def _bm25_oneshot(spark, corpus, terms, k):
    ref = BM25Index(spark)
    try:
        ref.ingest(corpus)
        return _rows(ref.topk(terms, k=k))
    finally:
        ref.close()


@pytest.mark.parametrize(
    "k,exclude_self,hamming",
    [(10, True, 1), (3, False, 1), (10, True, 0), (10, True, 2)],
)
def test_vector_topk_sql_parity(spark, emb, queries, k, exclude_self, hamming):
    vidx = VectorIndex(spark, probe_hamming=hamming)
    try:
        vidx.ingest(emb)
        oracle = (
            f"WITH vq AS (SELECT vec_id AS query_id, embedding "
            f"FROM embeddings WHERE vec_id < {N_QUERIES}), "
            + vector_topk_sql(
                "embeddings",
                "vq",
                k=k,
                probe_hamming=hamming,
                exclude_self=exclude_self,
            )
        )
        _check_oracle(
            vidx.topk(queries, k=k, exclude_self=exclude_self),
            oracle,
            f"vector k={k} self={exclude_self} h={hamming}",
        )
    finally:
        vidx.close()


def _post_cdc(base, idc, cols, epochs):
    """The corpus a sequence of CDC epochs leaves behind: each epoch's
    ids leave, its non-delete rows come in."""
    for e in epochs:
        base = base.join(e.select(idc), idc, "left_anti").unionByName(
            e.filter("op != 'd'").select(*cols)
        )
    return base


# (BroadcastHashJoin, Exchange, Union, HashAggregate) of the executed
# topk plan: a dirty topk folds each parts view once (_cdc_live), a
# compacted one reads the single compacted part
_OPS = ("BroadcastHashJoin", "Exchange", "Union", "HashAggregate")


def _shape(df):
    from test_recall_eval_sql_parity import _counts

    c = _counts(df)
    return tuple(c[k] for k in _OPS)


def test_vector_topk_sql_parity_cdc_and_compact(spark, emb, queries):
    """Two CDC epochs (the second re-updates, deletes and re-adds ids
    the first touched), a delete-only epoch after a topk already
    registered the folded views, then compact. Each topk equals a
    one-shot index over the corpus the epochs leave behind; the dirty
    and compacted plans keep their operator counts."""
    cols = ("vec_id", "embedding")
    # ids 5..14 negated, 15..24 deleted
    e1 = _vcdc(emb)
    # 7 back to its original vector, 8 deleted, 16 re-added
    e2 = emb.filter("vec_id IN (7, 8, 16)").select(
        "vec_id",
        "embedding",
        F.expr("CASE WHEN vec_id = 8 THEN 'd' ELSE 'u' END").alias("op"),
    )
    epochs = []
    vidx = VectorIndex(spark)

    def check():
        post = _post_cdc(emb.select(*cols), "vec_id", cols, epochs)
        expected = _vector_oneshot(spark, post, queries, 10, True)
        assert expected, "vacuous (no rows)"
        got = vidx.topk(queries, exclude_self=True)
        assert _rows(got) == expected
        return got

    try:
        # two bulk parts + CDC epochs: multi-part union AND overlay
        vidx.ingest(emb.filter("vec_id % 2 = 0"))
        vidx.ingest(emb.filter("vec_id % 2 = 1"))
        for e in (e1, e2):
            vidx.apply_cdc(e)
            epochs.append(e)
        assert vidx._has_cdc
        got = check()
        assert _shape(got) == (10, 8, 7, 4)
        top = _rows(got)
        # every query's best neighbor deleted: an epoch that appends
        # no keys must still re-register the memoized keys view
        e3 = spark.createDataFrame(
            sorted({(r[1], None, "d") for r in top if r[3] == 1}),
            "vec_id bigint, embedding array<float>, op string",
        )
        vidx.apply_cdc(e3)
        epochs.append(e3)
        assert _rows(check()) != top
        # compact folds the overlay physically and swaps the parts —
        # the memoized views must re-register over the plain parts
        vidx.compact(force=True)
        assert not vidx._has_cdc
        assert _shape(check()) == (5, 11, 0, 4)
    finally:
        vidx.close()


def _bm25_oracle(terms, k):
    return f"""SELECT doc_id, lang, source, score_micro,
               CAST(ROW_NUMBER() OVER (
                 ORDER BY score_micro DESC, doc_id) AS INT) AS rank
        FROM ({_bm25_scored_sql(terms)})
        WHERE score_micro > 0
        ORDER BY score_micro DESC, doc_id LIMIT {k}"""


@pytest.mark.parametrize(
    "terms,k",
    [(BM25_QUERY_TERMS, 10), (("spark",), 5)],
)
def test_bm25_topk_sql_parity(spark, docs, terms, k):
    bidx = BM25Index(spark)
    try:
        bidx.ingest(docs)
        _check_oracle(
            bidx.topk(terms, k=k), _bm25_oracle(terms, k), f"bm25 {terms}"
        )
    finally:
        bidx.close()


def test_bm25_topk_sql_parity_cdc(spark, docs):
    """The BM25 twin of test_vector_topk_sql_parity_cdc_and_compact.
    The delete-only epoch appends no postings, so a keys view memoized
    on the keys parts alone would keep scoring the deleted docs."""
    cols = ("doc_id", "text", "lang", "source")

    def epoch(where, tag, op):
        return docs.filter(where).select(
            "doc_id",
            F.concat(F.lit(tag), F.col("text")).alias("text"),
            "lang",
            "source",
            F.expr(op).alias("op"),
        )

    e1 = epoch(
        "doc_id < 40",
        "spark vector updated ",
        "CASE WHEN doc_id % 3 = 0 THEN 'd' ELSE 'u' END",
    )
    # 1 re-updated, 2 deleted (both updated by e1), 3 re-added
    e2 = epoch(
        "doc_id IN (1, 2, 3)",
        "spark spark again ",
        "CASE WHEN doc_id = 2 THEN 'd' ELSE 'u' END",
    )
    epochs = []
    bidx = BM25Index(spark)

    def check():
        post = _post_cdc(docs.select(*cols), "doc_id", cols, epochs)
        expected = _bm25_oneshot(spark, post, BM25_QUERY_TERMS, 10)
        assert expected, "vacuous (no rows)"
        got = bidx.topk(BM25_QUERY_TERMS, k=10)
        assert _rows(got) == expected
        return got

    try:
        bidx.ingest(docs.filter("doc_id % 2 = 0"))
        bidx.ingest(docs.filter("doc_id % 2 = 1"))
        for e in (e1, e2):
            bidx.apply_cdc(e)
            epochs.append(e)
        assert bidx._has_cdc
        got = check()
        assert _shape(got) == (10, 14, 13, 12)
        top = _rows(got)
        # the three best docs deleted
        e3 = spark.createDataFrame(
            [(r[0], None, None, None, "d") for r in top if r[4] <= 3],
            "doc_id bigint, text string, lang string, source string, "
            "op string",
        )
        bidx.apply_cdc(e3)
        epochs.append(e3)
        assert _rows(check()) != top
        bidx.compact()
        assert not bidx._has_cdc
        assert _shape(check()) == (2, 8, 0, 12)
    finally:
        bidx.close()


def test_bm25_topk_escapes_hostile_terms(spark, docs):
    """A query term with a quote/backslash must stay a literal (the
    _spark_sql_str escaper): no parse error, no injection. It matches
    no posting, so its df is 0 and it adds 0 to every score — the
    result equals the query without it."""
    bidx = BM25Index(spark)
    try:
        bidx.ingest(docs)
        hostile = _rows(bidx.topk(("spark", "o'brien\\x) OR (1=1"), k=10))
        plain = _rows(bidx.topk(("spark",), k=10))
        assert plain, "vacuous (no rows)"
        assert hostile == plain
    finally:
        bidx.close()


def test_topk_views_drop_on_close(spark, docs):
    bidx = BM25Index(spark)
    bidx.ingest(docs)
    bidx.topk(BM25_QUERY_TERMS, k=10).count()
    names = [f"global_temp.{n}" for n in bidx._views._names]
    assert names and all(
        spark.catalog.tableExists(n) for n in names
    )
    bidx.close()
    assert not any(spark.catalog.tableExists(n) for n in names)


def test_topk_sql_from_cloned_session_frames(spark, docs):
    """foreachBatch hands the index frames bound to a CLONED
    SparkSession whose session-temp-view catalog is isolated — the
    one-SQL path must still resolve (global temp views). Clone via
    newSession(), the same catalog-isolation shape; the answer must
    equal an index whose parts are bound to the index's own
    session."""
    expected = _bm25_oneshot(spark, docs, BM25_QUERY_TERMS, 10)
    assert expected, "vacuous (no rows)"
    clone = spark.newSession()
    cdocs = clone.read.parquet(f"{SF_DIR}/documents.parquet")
    bidx = BM25Index(spark)
    try:
        bidx.ingest(cdocs)  # parts bound to the clone
        assert _rows(bidx.topk(BM25_QUERY_TERMS, k=10)) == expected
    finally:
        bidx.close()
