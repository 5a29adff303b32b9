"""OPTIONAL live-cluster integration tests for the search sink.

The sandbox has no Elasticsearch/OpenSearch cluster, so the bulk
writer is contract-tested against an in-process HTTP stub
(test_search_sink.py). These tests close the remaining gap WHEN a
cluster is available: point ``SPARK_GRAFT_ES_URL`` at one (e.g.
``http://localhost:9200``) and the same writer paths run end-to-end —
index DDL from the generated mapping, bulk upsert, idempotent re-run,
delete — with results read back through the cluster's own search API.
Without the env var every test here skips (collected, visible, zero
cost), so CI on a bare sandbox stays green while an operator gets a
one-env-var smoke suite against staging.

ref: pgsync/search_client.py:100-212 (bulk), 261-354 (mapping DDL) —
the operational surface these verify against a real implementation
instead of the stub's idealization.
"""

import json
import os
import time
import urllib.error
import urllib.request
import uuid

import pytest

ES_URL = os.environ.get("SPARK_GRAFT_ES_URL")

pytestmark = pytest.mark.skipif(
    not ES_URL, reason="SPARK_GRAFT_ES_URL not set (no live cluster)"
)


def _get(path: str) -> dict:
    with urllib.request.urlopen(f"{ES_URL}{path}", timeout=30) as resp:
        return json.loads(resp.read())


def _delete_index(index: str) -> None:
    req = urllib.request.Request(f"{ES_URL}/{index}", method="DELETE")
    try:
        urllib.request.urlopen(req, timeout=30)
    except urllib.error.HTTPError as e:
        if e.code != 404:
            raise


@pytest.fixture()
def index_name():
    name = f"pgsync-spark-it-{uuid.uuid4().hex[:8]}"
    yield name
    _delete_index(name)


def _search_ids(index: str) -> set:
    # refresh explicitly so the docs are visible to search
    urllib.request.urlopen(
        urllib.request.Request(f"{ES_URL}/{index}/_refresh", method="POST"),
        timeout=30,
    )
    hits = _get(f"/{index}/_search?size=100")["hits"]["hits"]
    return {h["_id"] for h in hits}


def test_create_index_and_bulk_roundtrip(spark, index_name):
    """Generated mapping PUTs cleanly, upsert lands, a re-run is
    idempotent, deletes remove — against the real implementation."""
    from pgsync_spark import Catalog, compile_assembled
    from pgsync_spark.node import parse_tree
    from pgsync_spark.sinks.search import BulkHttpWriter

    from conftest import SF_DIR

    tree = parse_tree(
        {
            "index": index_name,
            "nodes": {"table": "orders", "columns": ["o_orderkey", "o_custkey"]},
        }
    )
    typed, _ = compile_assembled(Catalog(spark, SF_DIR), tree, structured=True)
    schema = typed.schema
    w = BulkHttpWriter(ES_URL, index_name, chunk_docs=500)
    assert w.create_index(tree, schema).get("acknowledged") is True
    # second create must HEAD-skip, not 400
    assert w.create_index(tree, schema) == {
        "acknowledged": False,
        "exists": True,
    }

    docs = spark.createDataFrame(
        [(str(i), json.dumps({"v": i})) for i in range(25)],
        "_id string, doc string",
    )
    w.upsert(docs)
    w.upsert(docs)  # idempotent by _id
    time.sleep(0.5)
    assert _search_ids(index_name) == {str(i) for i in range(25)}
    total = _get(f"/{index_name}/_count")["count"]
    assert total == 25

    w.delete(spark.createDataFrame([(str(i),) for i in range(5)], "_id string"))
    time.sleep(0.5)
    assert _get(f"/{index_name}/_count")["count"] == 20


def test_mapping_types_accepted(spark, index_name):
    """The declared-mapping passthrough (geo_point etc.) produces a
    body the real cluster accepts."""
    from pgsync_spark import Catalog, compile_assembled
    from pgsync_spark.node import parse_tree
    from pgsync_spark.sinks.search import BulkHttpWriter

    from conftest import SF_DIR

    tree = parse_tree(
        {
            "index": index_name,
            "nodes": {
                "table": "nation",
                "columns": ["n_nationkey", "n_name"],
                "transform": {
                    "mapping": {
                        "coordinates": {"type": "geo_point"},
                        "shape": {"type": "geo_shape"},
                    }
                },
            },
        }
    )
    typed, _ = compile_assembled(Catalog(spark, SF_DIR), tree, structured=True)
    w = BulkHttpWriter(ES_URL, index_name)
    assert w.create_index(tree, typed.schema).get(
        "acknowledged"
    ) is True
    props = _get(f"/{index_name}/_mapping")[index_name]["mappings"]["properties"]
    assert props["coordinates"]["type"] == "geo_point"
    assert props["shape"]["type"] == "geo_shape"
