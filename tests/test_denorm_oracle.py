"""Golden e2e: every topology's Spark plan hash-matches its DuckDB
oracle (reference model: golden-doc tests in tests/test_sync_*.py of
/root/reference, verified here against an oracle instead of hand-written
goldens — see SURVEY.md §5 port strategy)."""

import json

import pytest

from pgsync_spark import Catalog, compile_assembled, schemas
from pgsync_spark.catalog import TPCH_TABLES
from pgsync_spark.plans.oracle import oracle_doc_sql
from pgsync_spark.testing import compare

from conftest import SF_DIR


@pytest.mark.parametrize("name", schemas.tree_names())
def test_topology_matches_oracle(spark, name):
    tree = schemas.tree(name)
    df = compile_assembled(Catalog(spark, SF_DIR), tree)[0]
    sql = oracle_doc_sql(
        tree, TPCH_TABLES, schemas.columns_of, schemas.column_type_of
    )
    ok, msg = compare(df, sql, SF_DIR)
    assert ok, msg


def test_flagship_doc_shape(spark):
    df, _ = compile_assembled(
        Catalog(spark, SF_DIR), schemas.tree("orders_full")
    )
    row = df.orderBy("_id").limit(1).collect()[0]
    doc = json.loads(row["doc"])
    assert set(doc["_meta"]) == {"orders", "customer", "nation", "lineitem"}
    assert isinstance(doc["lineitems"], list)
    assert doc["customer"]["nation"]["n_name"].startswith("NATION")
    # _meta arrays sorted + distinct
    arr = doc["_meta"]["lineitem"]["l_linenumber"]
    assert arr == sorted(set(arr))


def test_resync_idempotent(spark):
    """assert_resync_empty analog (ref: tests/testing_utils.py:41-67):
    running the same tree twice yields identical docs."""
    cat = Catalog(spark, SF_DIR)
    a = compile_assembled(cat, schemas.tree("orders_lineitems"))[0]
    b, _ = compile_assembled(
        Catalog(spark, SF_DIR), schemas.tree("orders_lineitems")
    )
    assert a.subtract(b).count() == 0 and b.subtract(a).count() == 0
