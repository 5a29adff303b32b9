"""Multi-format Catalog sources: the same tree compiles identically
over parquet / orc / json / csv table directories. The reference's
"source" is a database connection (ref: pgsync/base.py:306-345); the
Spark engine's is any format the DataFrame reader speaks — columnar
formats preferred (pushdown + vectorized scan), row formats supported
for interop with a declared schema so no inference pre-scan happens."""

import os

import pytest

from pyspark.sql import functions as F

from pgsync_spark import Catalog, compile_assembled, schemas
from pgsync_spark.catalog import TPCH_TABLES, TableMeta
from pgsync_spark import exc

from conftest import SF_DIR

ORDERS_DDL = (
    "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
    "o_totalprice STRING, o_orderdate STRING, o_orderpriority STRING"
)


@pytest.fixture(scope="module")
def fmt_dir(spark, tmp_path_factory):
    """orders re-materialized in every supported format, stringified
    where the format can't carry the type (csv/json carry the same
    VALUES; the declared schema restores the types)."""
    base = str(tmp_path_factory.mktemp("formats"))
    src = spark.read.parquet(os.path.join(SF_DIR, "orders.parquet")).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("string"),
        F.col("o_orderdate").cast("string"),
        "o_orderpriority",
    )
    src.write.orc(os.path.join(base, "orders_orc", "orders.orc"))
    src.write.json(os.path.join(base, "orders_json", "orders.json"))
    src.write.option("header", "true").csv(
        os.path.join(base, "orders_csv", "orders.csv")
    )
    src.write.parquet(os.path.join(base, "orders_parquet", "orders.parquet"))
    return base


def _docs(spark, base_dir, declared=None):
    tables = dict(TPCH_TABLES)
    tables["orders"] = TableMeta("orders", ("o_orderkey",), schema=declared)
    cat = Catalog(spark, base_dir, tables=tables)
    tree = schemas.tree("root_only")
    return compile_assembled(cat, tree)[0]


def test_all_formats_agree(spark, fmt_dir):
    expected = _docs(spark, os.path.join(fmt_dir, "orders_parquet"))
    rows = expected.count()
    assert rows > 0
    for sub, declared in [
        ("orders_orc", None),
        ("orders_json", ORDERS_DDL),
        ("orders_csv", ORDERS_DDL),
    ]:
        got = _docs(spark, os.path.join(fmt_dir, sub), declared)
        assert got.count() == rows, sub
        assert got.subtract(expected).count() == 0, sub
        assert expected.subtract(got).count() == 0, sub


def test_csv_infers_without_declared_schema(spark, fmt_dir):
    cat = Catalog(spark, os.path.join(fmt_dir, "orders_csv"))
    df = cat.df("orders")
    assert df.count() > 0
    # header respected, inference produced a numeric key
    assert dict(df.dtypes)["o_orderkey"] in ("int", "bigint")


def test_missing_table_lists_formats(spark, fmt_dir):
    cat = Catalog(spark, os.path.join(fmt_dir, "orders_csv"))
    with pytest.raises(exc.TableNotFoundError, match="parquet,orc,json,csv"):
        cat.df("nope")
