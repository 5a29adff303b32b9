"""Plan pins for the one-SQL ann_recall_eval construction and the
persisted-artifact ANN queries.

The eval's ten method legs + hit/spine tail are built as ONE
spark.sql text (similarity._recall_eval_sparksql) over temp views of
the artifact frames; test_queries.py::test_query_matches_oracle
value-checks it against the DuckDB oracle. These tests pin:

- the output schema and the physical plan's operator counts
  (exchanges, joins, windows, aggregates, cache scans) — a change in
  how the eval executes shows up here;
- the persisted artifact frames actually serve the legs
  (InMemoryTableScan present): dropTempView on a frame-backed view
  UNCACHES the frame (CacheManager cascade), after which every leg
  silently recomputes its artifact subtree;
- the leased view set stays bounded across calls
  (replaced, never accumulated).
"""

import re

from conftest import SF_DIR
from pgsync_spark import Catalog, caching
from pgsync_spark.functions import similarity as S


def _counts(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    # whole operator names only: "Exchange" is not "BroadcastExchange",
    # "HashAggregate(" counts
    return {
        k: len(re.findall(rf"(?<![A-Za-z]){k}(?![A-Za-z])", plan))
        for k in (
            "Exchange",
            "BroadcastHashJoin",
            "SortMergeJoin",
            "Window",
            "HashAggregate",
            "InMemoryTableScan",
            "Union",
        )
    }


def test_recall_eval_sql_plan_shape_matches(spark):
    df = Catalog(spark, SF_DIR).df("embeddings")
    a = S.ann_recall_eval(df)
    try:
        assert [
            (f.name, f.dataType.simpleString()) for f in a.schema.fields
        ] == [
            ("query_id", "bigint"),
            ("method", "string"),
            ("n_hits", "bigint"),
            ("recall", "double"),
        ]
        ca = _counts(a)
        # the artifact caches must actually serve the legs: exact,
        # 2x(ranked|tranked consumers), 5 codes readers, ... — an
        # uncached SQL form re-executes Lloyd/encode per leg
        assert ca["InMemoryTableScan"] >= 10, ca
        assert ca == {
            "Exchange": 27,
            "BroadcastHashJoin": 17,
            "SortMergeJoin": 3,
            "Window": 18,
            "HashAggregate": 4,
            "InMemoryTableScan": 17,
            "Union": 1,
        }, ca
    finally:
        caching.release(a)


def test_recall_eval_views_bounded(spark):
    """A second sequential eval replaces the first one's views: the
    registrar's global-view count does not grow."""
    from pgsync_spark.plans.sqlgen import default_scope

    df = Catalog(spark, SF_DIR).df("embeddings")
    prefix = default_scope(spark).prefix + "_"
    counts = []
    for _ in range(2):
        out = S.ann_recall_eval(df)
        out.count()
        caching.release(out)
        counts.append(
            sum(
                t.name.startswith(prefix)
                for t in spark.catalog.listTables("global_temp")
            )
        )
    assert counts[0] >= 8 and counts[1] == counts[0], counts


def test_ivfpq_fully_trained_reads_persisted_artifacts(spark):
    """The persisted trained codes and the persisted trained cell
    ranking (read by both candidate consumers) must serve the one-SQL
    plan through the cache — a dropped view would uncache the ranking
    and recompute the Arrow assignment per consumer with no error."""
    df = Catalog(spark, SF_DIR).df("embeddings")
    out = S.ann_ivfpq_fully_trained_topk(df)
    try:
        assert _counts(out)["InMemoryTableScan"] >= 3, _counts(out)
        assert out.count() > 0
    finally:
        caching.release(out)
