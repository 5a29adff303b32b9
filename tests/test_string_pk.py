import json
from pyspark.sql import functions as F
from pgsync_spark import Catalog, compile_assembled, schemas
from pgsync_spark.node import parse_tree
from pgsync_spark.streaming import IncrementalEngine, payloads_from_rows
from conftest import SF_DIR
import pytest

TREE = {
    "index": "nations_by_name",
    "nodes": {
        "table": "nation",
        "primary_key": ["n_name"],
        "columns": ["n_name", "n_regionkey"],
        "children": [
            {
                "table": "region",
                "label": "region",
                "columns": ["r_name"],
                "relationship": {"type": "one_to_one", "variant": "object"},
            }
        ],
    },
}

@pytest.mark.slow
def test_string_pk_full_and_incremental(spark):
    tree = parse_tree(TREE)
    eng = IncrementalEngine(spark, tree, Catalog(spark, SF_DIR))
    eng.full_sync()
    ids = {r["_id"] for r in eng.docs.select("_id").collect()}
    assert "NATION_3" in ids and len(ids) == 25  # _id is the string PK
    # update under the string key
    ev = payloads_from_rows(spark, [{
        "op": "UPDATE", "table": "nation",
        "old": {"n_nationkey": 3, "n_name": "NATION_3"},
        "new": {"n_nationkey": 3, "n_name": "NATION_3", "n_regionkey": 3},
        "txid": 1,
    }])
    eng.process_batch(ev)
    full = compile_assembled(eng.catalog, parse_tree(TREE))[0]
    assert eng.docs.select("_id", "doc").subtract(full).count() == 0
    assert full.subtract(eng.docs.select("_id", "doc")).count() == 0
    # string-PK change: rename the nation -> old doc gone, new doc present
    ev2 = payloads_from_rows(spark, [{
        "op": "UPDATE", "table": "nation",
        "old": {"n_nationkey": 3, "n_name": "NATION_3"},
        "new": {"n_nationkey": 3, "n_name": "NATION_3X", "n_regionkey": 3},
        "txid": 2,
    }])
    eng.process_batch(ev2)
    assert eng.docs.filter(F.col("_id") == "NATION_3").count() == 0
    assert eng.docs.filter(F.col("_id") == "NATION_3X").count() == 1
