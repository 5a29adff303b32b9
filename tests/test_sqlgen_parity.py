"""The one tree compiler (plans/sqlgen.py) on the engine-shaped
variants: root-keys restricted compiles, root filters (alone and with
root keys), the multi-pair self-join OR, the filter renderer's literal
semantics, broadcast hints, ViewScope, the full-sync memo and an engine
batch. Every topology's documents are checked against the DuckDB
oracle by test_queries.py::test_query_matches_oracle[denorm_*] and
test_denorm_oracle.py.
"""

import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from pgsync_spark import Catalog, caching, parse_tree, schemas
from pgsync_spark.operators.filters import (
    UnrenderableLiteral,
    filters_to_spark_sql,
)
from pgsync_spark.plans.sqlgen import compile_assembled

from conftest import SF_DIR


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _canon(df):
    """Lineage key arrays sorted: collect_list order follows execution,
    and the arrays are sets to their consumers."""
    return df.select(
        *[
            F.array_sort(c).alias(c) if c.startswith("__k_") else F.col(c)
            for c in df.columns
        ]
    )


def _restrict(df, keys, pks):
    return df.join(keys, on=pks, how="left_semi").select(*df.columns)


def _root_keys(cat, tree, n):
    pks = list(cat.primary_key(tree.root.table, tree.root))
    keys = cat.df(tree.root.table).select(*pks).orderBy(*pks).limit(n)
    return pks, keys.localCheckpoint(eager=True)


@pytest.mark.parametrize(
    "name",
    ["orders_full", "supplier_parts_through", "lineitem_composite_root",
     "customer_orders_lineitems"],
)
def test_sqlgen_root_keys_combined_frame(spark, name):
    """The engine's per-batch shape — restricted recompute with typed
    root keys riding along plus lineage key arrays (include_pks +
    include_keys) — equals the full compile restricted to the keys."""
    cat = Catalog(spark, SF_DIR)
    tree = schemas.tree(name)
    pks, keys = _root_keys(cat, tree, 7)
    try:
        full, fmeta = compile_assembled(
            cat, tree, include_pks=True, include_keys=True
        )
        new, meta = compile_assembled(
            cat, tree, root_keys=keys, root_keys_rows=7,
            include_pks=True, include_keys=True,
        )
        assert new.columns == full.columns
        assert meta.keys_cols == fmeta.keys_cols
        got = _rows(_canon(new))
        assert len(got) == 7, name
        assert got == _rows(_canon(_restrict(full, keys, pks))), name
    finally:
        caching.release_local_checkpoint(keys)


def test_sqlgen_root_filters(spark):
    """root_keys and root_filters together: the restricted, filtered
    compile equals the filtered full compile restricted to the keys,
    with a filter column (o_orderpriority) the tree does not project.
    A filter-only column keeps the mixed-type guard: a number against
    the string column folds to FALSE instead of an ANSI cast error."""
    from pgsync_spark.queries import _DENORM_FILTERS

    cat = Catalog(spark, SF_DIR)
    tree = schemas.tree("orders_lineitems")
    assert "o_orderpriority" not in {c.name for c in tree.root.columns}
    pks, keys = _root_keys(cat, tree, 400)
    try:
        full, _ = compile_assembled(
            cat, tree, root_filters=_DENORM_FILTERS, include_pks=True
        )
        new, _ = compile_assembled(
            cat, tree, root_keys=keys, root_keys_rows=400,
            root_filters=_DENORM_FILTERS, include_pks=True,
        )
        got = _rows(new)
        assert 0 < len(got) < 400
        assert got == _rows(_restrict(full, keys, pks))
    finally:
        caching.release_local_checkpoint(keys)
    guarded, _ = compile_assembled(
        cat, tree, root_filters=[{"o_orderpriority": 5}]
    )
    assert guarded.count() == 0


def test_sqlgen_broadcast_hint_parity(spark):
    """The analyzed plan carries the root-keys broadcast hint exactly
    when the key count is within operators/joins.BROADCAST_ROW_LIMIT
    (maybe_broadcast's rule)."""
    cat = Catalog(spark, SF_DIR)
    tree = schemas.tree("orders_lineitems")
    pks = list(cat.primary_key(tree.root.table, tree.root))
    keys = cat.df(tree.root.table).select(*pks).limit(3)

    small, _ = compile_assembled(cat, tree, root_keys=keys, root_keys_rows=3)
    assert "UnresolvedHint" not in small._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" in small._jdf.queryExecution().analyzed().toString()

    big, _ = compile_assembled(
        cat, tree, root_keys=keys, root_keys_rows=10**7
    )
    assert "ResolvedHint" not in big._jdf.queryExecution().analyzed().toString()


def test_nation_related_compiles_in_one_sql(spark, monkeypatch):
    """The multi-pair self-join OR (nation_related) compiles through
    one spark.sql: a UNION ALL of per-pair equi-joins deduped by
    GROUP BY with first()."""
    texts = []
    real_sql = SparkSession.sql

    def counting_sql(self, text, *args, **kwargs):
        texts.append(text)
        return real_sql(self, text, *args, **kwargs)

    monkeypatch.setattr(SparkSession, "sql", counting_sql)
    cat = Catalog(spark, SF_DIR)
    df, _ = compile_assembled(cat, schemas.tree("nation_related"))
    assert len(texts) == 1
    assert "UNION ALL" in texts[0] and "first(" in texts[0]
    assert df.count() == 25


def test_one_to_one_self_or_duplicates_parent_rows(spark):
    """DEVIATIONS #14: a one_to_one self-join with several OR pairs keeps
    one row per match, so a parent with several matching children
    repeats (the reference's join does the same). At sf0.001 every
    nation matches the 5 nations of its region: 125 rows, 25 _id."""
    tree = parse_tree(
        {
            "index": "nation",
            "nodes": {
                "table": "nation",
                "columns": ["n_nationkey", "n_name"],
                "children": [
                    {
                        "table": "nation",
                        "label": "related",
                        "columns": ["n_nationkey", "n_name"],
                        "relationship": {
                            "type": "one_to_one",
                            "variant": "object",
                            "foreign_key": {
                                "parent": ["n_nationkey", "n_regionkey"],
                                "child": ["n_regionkey", "n_regionkey"],
                            },
                        },
                    }
                ],
            },
        }
    )
    df, _ = compile_assembled(Catalog(spark, SF_DIR), tree)
    assert df.count() == 125
    assert df.select("_id").distinct().count() == 25


_FILTER_CASES = [
    ([{"i": 1}], {1}),
    ([{"i": 2**40}], set()),            # BIGINT literal
    ([{"d": 2.0}], {2}),
    ([{"s": "1"}], {1}),
    ([{"s": "x'y\\z"}], set()),       # quote + backslash escaping
    ([{"s": 1}], set()),                # stringy col vs number → FALSE
    ([{"i": "2"}], {2}),                # numeric col vs string → try_cast
    ([{"i": "not-a-number"}], set()),
    ([{"dec": "1.00"}], {1}),
    ([{"dec": "1.5"}], set()),
    ([{"ts": "2024-01-01 00:00:00"}], {0, 1, 2}),
    ([{"b": True}, {"b": "true"}], {0, 2}),
    ([{"i": True}], set()),             # bool vs non-bool col → FALSE
    ([{"b": 3}], set()),                # bool col vs number → FALSE
    ([{"i": None}], set()),
    ([{"n": None}], {1}),               # null-safe: NULL matches NULL
    ([{"i": 1, "s": "1"}, {"d": 2.0}], {1, 2}),   # AND within, OR across
    ([{"i": 1, "s": "2"}], set()),
    ([], {0, 1, 2}),
]


def test_filters_to_spark_sql_expected_ids(spark):
    """filters_to_spark_sql across every guard branch (mixed-type
    guards, try_cast, null-safe equality, AND/OR shape) selects these
    literal id sets."""
    df = spark.range(3).selectExpr(
        "id AS i",
        "CAST(id AS DOUBLE) AS d",
        "CAST(id AS STRING) AS s",
        "id % 2 = 0 AS b",
        "CAST(id AS DECIMAL(12,2)) AS dec",
        "TIMESTAMP '2024-01-01 00:00:00' AS ts",
        "IF(id = 1, NULL, id) AS n",
    )
    dtypes = dict(df.dtypes)
    for clauses, want in _FILTER_CASES:
        got = df.filter(F.expr(filters_to_spark_sql(clauses, dtypes)))
        assert {r.i for r in got.collect()} == want, clauses


def test_filters_spark_sql_nonfinite_literals(spark):
    """inf/nan filter values render as parseable SQL ('infD'/'nanD'
    are parse errors) and each matches exactly its own row (Spark
    orders NaN equal to itself)."""
    df = spark.createDataFrame(
        [(0, 0.0), (1, float("inf")), (2, float("-inf")), (3, float("nan"))],
        "i int, d double",
    )
    dtypes = dict(df.dtypes)
    for v, want in ((float("inf"), {1}), (float("-inf"), {2}),
                    (float("nan"), {3})):
        got = df.filter(F.expr(filters_to_spark_sql([{"d": v}], dtypes)))
        assert {r.i for r in got.collect()} == want, v


def test_filters_out_of_bigint_raises(spark):
    """An int filter value outside bigint range has no Spark SQL literal
    form: compile_assembled raises the typed error instead of emitting
    an unparseable 'L' literal."""
    cat = Catalog(spark, SF_DIR)
    with pytest.raises(UnrenderableLiteral):
        compile_assembled(
            cat,
            schemas.tree("orders_lineitems"),
            root_filters=[{"o_orderkey": 2**63 + 5}],
        )


def test_view_scope_reuses_unchanged_frames(spark):
    """ViewScope must re-register a table's view only when the frame
    object changes, and release() must drop everything it created."""
    from pgsync_spark.plans.sqlgen import ViewScope

    cat = Catalog(spark, SF_DIR)
    scope = ViewScope(spark)
    df = cat.df("orders")
    v1 = scope.view_for("orders", df)
    assert spark.catalog.tableExists(v1)
    assert scope.view_for("orders", df) == v1
    other = df.limit(1)
    assert scope.view_for("orders", other) == v1  # same name, new plan
    assert spark.table(v1).count() == 1
    scope.release()
    assert not spark.catalog.tableExists(v1)


def test_full_sync_memo_reexecutes(spark):
    """The full_sync compile memo reuses the PLAN only: each sync must
    materialize a fresh checkpoint (a reused Dataset would replay the
    first sync's blocks — result caching — and break once those blocks
    are released by store teardown)."""
    from pgsync_spark.streaming.incremental import IncrementalEngine

    cat = Catalog(spark, SF_DIR)
    eng = IncrementalEngine(spark, schemas.tree("orders_lineitems"), cat)
    eng.full_sync()
    first_rdd = eng._shared_base.rdd.id()
    n1 = eng.docs.count()
    eng.full_sync()  # memo hit (catalog unchanged) — must re-execute
    assert eng._shared_base.rdd.id() != first_rdd
    assert eng.docs.count() == n1
    eng.full_sync()  # third sync crosses a released shared base
    assert eng.docs.count() == n1
    eng._teardown_stores()


def test_engine_batch_uses_sqlgen_and_matches(spark):
    """End-to-end engine smoke: a CDC batch processed through the
    one-SQL recompute leaves the doc store byte-identical to a fresh
    full re-denormalization of the post-batch snapshots."""
    import pyspark.sql.types as T

    from pgsync_spark.streaming.incremental import IncrementalEngine

    cat = Catalog(spark, SF_DIR)
    tree = schemas.tree("orders_lineitems")
    eng = IncrementalEngine(spark, tree, cat)
    eng.full_sync()

    schema = T.StructType(
        [
            T.StructField("table", T.StringType()),
            T.StructField("schema", T.StringType()),
            T.StructField("op", T.StringType()),
            T.StructField("txid", T.LongType()),
            T.StructField("old", T.MapType(T.StringType(), T.StringType())),
            T.StructField("new", T.MapType(T.StringType(), T.StringType())),
        ]
    )
    events = spark.createDataFrame(
        [
            ("orders", "public", "update", 1,
             {"o_orderkey": "1"},
             {"o_orderkey": "1", "o_orderstatus": "Z", "o_totalprice": "9.5"}),
            ("lineitem", "public", "delete", 2,
             {"l_orderkey": "2", "l_linenumber": "1"}, None),
        ],
        schema,
    )
    eng.process_batch(events)

    fresh, meta = compile_assembled(
        cat, tree, include_pks=True, include_keys=True
    )
    doc_cols = [c for c in fresh.columns if not c.startswith("__k_")]
    expect = _rows(fresh.select(*doc_cols))
    got = _rows(eng.docs)
    assert got == expect
