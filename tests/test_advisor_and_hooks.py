"""Advisor, plugin auth hook, config-from-URL, and the streaming
metrics listener (SURVEY §2.9 status loop + analyze)."""

import json
import os
import tempfile
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from pgsync_spark import Catalog, schemas
from pgsync_spark import exc
from pgsync_spark.advisor import analyze, analyze_report
from pgsync_spark.config import config_loader
from pgsync_spark.plugin import Plugin, auth_value

from conftest import SF_DIR


# -- advisor ----------------------------------------------------------


@pytest.mark.slow
def test_advisor_orders_full(spark):
    cat = Catalog(spark, SF_DIR)
    advice = analyze(cat, schemas.tree("orders_full"))
    by_child = {a.child_table: a for a in advice}
    # every non-root node produced advice for its join edge
    assert set(by_child) == {"customer", "nation", "lineitem"}
    # small testdata: everything broadcastable; keys match the FKs the
    # reference would index
    assert by_child["lineitem"].join_keys == ["l_orderkey"]
    assert "BROADCAST" in by_child["lineitem"].recommendation
    report = analyze_report(cat, schemas.tree("orders_full"))
    assert "lineitem" in report and "skew=" in report


def test_advisor_through_and_bucket_ddl(spark):
    cat = Catalog(spark, SF_DIR)
    advice = analyze(cat, schemas.tree("supplier_parts_through"))
    # through join contributes two edges (parent->through, through->child)
    assert len(advice) == 2
    # force the bucket branch to check DDL rendering
    import pgsync_spark.advisor as adv

    old = adv.BROADCAST_MAX_ROWS
    adv.BROADCAST_MAX_ROWS = 0
    try:
        bucketed = analyze(cat, schemas.tree("orders_lineitems"))
        assert any(a.ddl and "bucketBy" in a.ddl for a in bucketed)
    finally:
        adv.BROADCAST_MAX_ROWS = old


# -- plugin auth hook -------------------------------------------------


class _AuthPlugin(Plugin):
    name = "auth"

    def transform(self, doc, _id, _index):
        return doc

    def auth(self, key):
        return {"es_password": "sekrit"}.get(key)


class _BrokenAuth(Plugin):
    name = "broken"

    def transform(self, doc, _id, _index):
        return doc

    def auth(self, key):
        raise RuntimeError("boom")


class _NoAuth(Plugin):
    name = "plain"

    def transform(self, doc, _id, _index):
        return doc


def test_plugin_auth_hook():
    assert auth_value([_NoAuth(), _AuthPlugin()], "es_password") == "sekrit"
    assert auth_value([_AuthPlugin()], "missing") is None
    # first plugin with an auth attr answers; exceptions -> None
    assert auth_value([_BrokenAuth(), _AuthPlugin()], "es_password") is None
    assert auth_value([_NoAuth()], "es_password") is None


# -- config from URL --------------------------------------------------


class _CfgHandler(BaseHTTPRequestHandler):
    def do_GET(self):
        body = json.dumps(
            {"index": "orders", "nodes": {"table": "orders"}}
        ).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *a):
        pass


def test_config_from_http_url():
    server = ThreadingHTTPServer(("127.0.0.1", 0), _CfgHandler)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    try:
        trees = config_loader(
            f"http://127.0.0.1:{server.server_address[1]}/schema.json"
        )
        assert len(trees) == 1 and trees[0].index == "orders"
    finally:
        server.shutdown()


def test_config_s3_url_validation():
    # malformed S3 URL is rejected before any client call; a well-formed
    # one proceeds to boto3 (fails fast without credentials here)
    with pytest.raises(exc.SchemaError, match="invalid S3"):
        config_loader("s3://bucket-only")
    with pytest.raises(Exception):  # noqa: B017 — no AWS creds in env
        config_loader("s3://bucket/key.json")


def test_config_missing_local():
    with pytest.raises(exc.SchemaError, match="not found"):
        config_loader("/nonexistent/schema.json")


# -- streaming metrics listener ---------------------------------------


def test_metrics_listener_captures_progress(spark):
    from pyspark.sql import functions as F

    from pgsync_spark.streaming import EngineMetricsListener

    listener = EngineMetricsListener()
    spark.streams.addListener(listener)
    try:
        with tempfile.TemporaryDirectory() as tmp:
            src = os.path.join(tmp, "in")
            os.makedirs(src)
            with open(os.path.join(src, "a.json"), "w") as f:
                f.write('{"v": 1}\n{"v": 2}\n')
            q = (
                spark.readStream.schema("v long")
                .json(src)
                .groupBy()
                .agg(F.sum("v").alias("s"))
                .writeStream.format("memory")
                .queryName("metrics_probe")
                .outputMode("complete")
                .start()
            )
            q.processAllAvailable()
            q.stop()
            q.awaitTermination(30)
        # listener events arrive on an async bus — poll briefly
        import time

        deadline = time.time() + 20
        while time.time() < deadline:
            c = listener.counters.get(str(q.id), {})
            if c.get("batches", 0) >= 1 and c.get("running") is False:
                break
            time.sleep(0.2)
        counters = listener.counters[str(q.id)]
        assert counters["batches"] >= 1
        assert counters["input_rows"] == 2
        assert counters["running"] is False
        status = json.loads(listener.status({"events": 2}))
        assert status["engine"]["events"] == 2
        assert str(q.id) in status["streams"]
    finally:
        spark.streams.removeListener(listener)


def test_embedding_enrichment_plugin_chain(spark):
    """Model-in-executor enrichment (ref plugins/
    sentence_transformer_plugin.py): the encoder loads lazily inside
    the mapInPandas workers, short docs drop via the falsy-return
    contract, surviving docs gain a deterministic embedding, and the
    drop plugin's auth hook answers credential lookups."""
    import json

    from pgsync_spark.plugin import apply_plugins, auth_value
    from pgsync_spark.plugin_examples import (
        EmbeddingEnrichmentPlugin,
        ShortDocDropPlugin,
        hash_embedding,
    )

    rows = [
        ("1", json.dumps({"text": "tiny"}, separators=(",", ":"))),
        ("2", json.dumps({"text": "a document long enough to keep and embed"},
                         separators=(",", ":"))),
    ]
    docs = spark.createDataFrame(rows, "_id string, doc string")
    enrich = EmbeddingEnrichmentPlugin(text_field="text", dims=8)
    out = apply_plugins(
        docs, [ShortDocDropPlugin(min_chars=10), enrich], index="docs"
    ).collect()
    assert [r["_id"] for r in out] == ["2"]  # short doc dropped
    doc = json.loads(out[0]["doc"])
    assert doc["embedding"] == hash_embedding(
        "a document long enough to keep and embed", 8
    )
    assert len(doc["embedding"]) == 8
    # the driver-side plugin object must NOT have loaded an encoder —
    # it loads lazily in the executor processes (model-per-executor)
    assert enrich._encoder is None
    # auth hook rides the chain (ref: pgsync/plugin.py:106-115)
    assert auth_value(
        [enrich, ShortDocDropPlugin()], "search_token"
    ) == "example-token"


def test_geometry_plugin_enriches_and_maps(spark):
    """The geo half of the ES vocabulary end-to-end (ref:
    plugins/sample.py GeometryPlugin): GeoJSON Point/Polygon doc fields
    (dict OR raw ST_AsGeoJSON string) become geo_point coordinates and
    a geo_shape passthrough, and the declared transform.mapping entries
    for the plugin-ADDED fields land in the generated index mapping
    even though the doc schema never carried them."""
    import json

    from pgsync_spark.node import parse_tree
    from pgsync_spark import compile_assembled
    from pgsync_spark.plugin import apply_plugins
    from pgsync_spark.plugin_examples import GeometryPlugin
    from pgsync_spark.sinks.search import build_index_mapping
    from pgsync_spark import Catalog

    from conftest import SF_DIR

    point = {"type": "Point", "coordinates": [13.4, 52.5]}
    polygon = {
        "type": "Polygon",
        "coordinates": [[[0, 0], [0, 1], [1, 1], [0, 0]]],
    }
    rows = [
        ("1", json.dumps({"point": point, "polygon": polygon})),
        # raw GeoJSON string, as a PostGIS ST_AsGeoJSON column arrives
        ("2", json.dumps({"point": json.dumps(point)})),
        ("3", json.dumps({"point": None, "note": "untouched"})),
    ]
    docs = spark.createDataFrame(rows, "_id string, doc string")
    out = {
        r["_id"]: json.loads(r["doc"])
        for r in apply_plugins(docs, [GeometryPlugin()], index="geo").collect()
    }
    assert out["1"]["coordinates"] == [13.4, 52.5]
    assert out["1"]["shape"] == polygon
    assert out["2"]["coordinates"] == [13.4, 52.5]
    assert "coordinates" not in out["3"] and out["3"]["note"] == "untouched"

    # lon/lat column-pair form
    lonlat = spark.createDataFrame(
        [("9", json.dumps({"lon": 2.35, "lat": 48.86}))], "_id string, doc string"
    )
    got = json.loads(
        apply_plugins(
            lonlat,
            [GeometryPlugin(lon_field="lon", lat_field="lat")],
            index="geo",
        ).collect()[0]["doc"]
    )
    assert got["coordinates"] == [2.35, 48.86]

    # declared mapping for the plugin-added fields reaches the index body
    raw = {
        "index": "geo",
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
    tree = parse_tree(raw)
    typed, _ = compile_assembled(Catalog(spark, SF_DIR), tree, structured=True)
    body = build_index_mapping(tree, typed.schema)
    props = body["mappings"]["properties"]
    assert props["coordinates"] == {"type": "geo_point"}
    assert props["shape"] == {"type": "geo_shape"}
    assert props["n_name"] == {"type": "text"}  # inferred fields intact


def test_masking_plugin_rules(spark):
    """Reference MaskingPlugin parity (ref: plugins/masking_plugin.py:
    10-96): redact wholesale, partial-mask email/phone/credit card
    keyed on the field name, one-way-hash ids, skip falsy/absent
    fields, never drop a doc."""
    import hashlib
    import json

    from pgsync_spark.plugin import apply_plugins
    from pgsync_spark.plugin_examples import MaskingPlugin

    rows = [
        ("1", json.dumps({
            "user_id": 42,
            "ssn": "123-45-6789",
            "email": "alice.smith@corp.example",
            "phone": "+1 (555) 867-5309",
            "credit_card": "4111 1111 1111 1234",
            "note": "untouched",
        })),
        # edge shapes: @-less email passes through, 1-char local fully
        # starred, short phone collapses, falsy user_id skips the hash,
        # absent fields are skipped entirely
        ("2", json.dumps({
            "email": "not-an-email",
            "phone": "12",
            "user_id": 0,
        })),
        ("3", json.dumps({"email": "a@b.co"})),
    ]
    docs = spark.createDataFrame(rows, "_id string, doc string")
    out = {
        r["_id"]: json.loads(r["doc"])
        for r in apply_plugins(docs, [MaskingPlugin()], index="m").collect()
    }
    assert len(out) == 3  # masking never drops documents
    d1 = out["1"]
    assert d1["ssn"] == "[REDACTED]"
    assert d1["email"] == "a***@corp.example"
    assert d1["phone"] == "***-***-5309"
    assert d1["credit_card"] == "****-****-****-1234"
    assert d1["user_id"] == hashlib.sha256(b"42").hexdigest()[:16]
    assert d1["note"] == "untouched"
    d2 = out["2"]
    assert d2["email"] == "not-an-email"  # no '@' → unchanged (ref :47)
    assert d2["phone"] == "***"
    assert d2["user_id"] == 0  # falsy → hash skipped (ref :92)
    assert out["3"]["email"] == "***@b.co"  # 1-char local fully starred


def test_load_plugins_resolution_and_order():
    """load_plugins (ref: pgsync/plugin.py:24-91): case-insensitive
    name match against the built-in examples, instances in DECLARED
    order, loud SchemaError with the inventory on a miss."""
    from pgsync_spark import exc
    from pgsync_spark.plugin import load_plugins
    from pgsync_spark.plugin_examples import GeometryPlugin, MaskingPlugin

    got = load_plugins(["Masking", "GEOMETRY"])
    assert [type(p) for p in got] == [MaskingPlugin, GeometryPlugin]
    assert load_plugins([]) == []
    import pytest

    with pytest.raises(exc.SchemaError, match="masking"):
        load_plugins(["nope"])  # message lists what IS available


def test_load_plugins_walks_nested_packages(tmp_path, monkeypatch):
    """Packages are walked recursively at ANY depth (ref: the reference
    globs plugins/**; a plugin three levels down must be discoverable,
    not just children and grandchildren)."""
    import sys
    import textwrap

    pkg = tmp_path / "deep_plugins"
    leaf = pkg / "vendor" / "pii"
    leaf.mkdir(parents=True)
    for d in (pkg, pkg / "vendor", leaf):
        (d / "__init__.py").write_text("")
    (leaf / "mask.py").write_text(
        textwrap.dedent(
            """
            from pgsync_spark.plugin import Plugin

            class DeepMask(Plugin):
                name = "DeepMask"

                def transform(self, doc, **kwargs):
                    return doc
            """
        )
    )
    monkeypatch.syspath_prepend(str(tmp_path))
    from pgsync_spark.plugin import load_plugins

    got = load_plugins(["deepmask"], module="deep_plugins")
    assert [type(p).__name__ for p in got] == ["DeepMask"]
    for m in list(sys.modules):
        if m.startswith("deep_plugins"):
            del sys.modules[m]


def test_apply_plugins_passthrough_routing(spark):
    """_routing must survive the plugin crossing (routed indexes), and
    a dropped doc takes its passthrough values with it."""
    import json

    from pgsync_spark.plugin import apply_plugins
    from pgsync_spark.plugin_examples import ShortDocDropPlugin

    docs = spark.createDataFrame(
        [
            ("1", json.dumps({"text": "long enough"}), "rA"),
            ("2", json.dumps({"text": ""}), "rB"),  # dropped
        ],
        "_id string, doc string, _routing string",
    )
    out = apply_plugins(
        docs, [ShortDocDropPlugin()], index="i", passthrough=("_routing",)
    ).collect()
    assert [(r["_id"], r["_routing"]) for r in out] == [("1", "rA")]


def test_slug_and_infinity_plugins(spark):
    """The last two reference plugin shapes (ref: plugins/slug_plugin
    .py, plugins/infinity.py): unicode-aware slugification with
    word-boundary truncation, and PG infinity-date mapping — through
    the real chain."""
    import json

    from pgsync_spark.plugin import apply_plugins
    from pgsync_spark.plugin_examples import InfinityDatePlugin, SlugPlugin

    rows = [
        ("1", json.dumps({
            "title": "Héllo Wörld! This_is  a Tëst",
            "publish_date": "Infinity",
        })),
        ("2", json.dumps({"title": "", "publish_date": "-infinity"})),
        ("3", json.dumps({"title": 42, "publish_date": "2021-06-01"})),
    ]
    docs = spark.createDataFrame(rows, "_id string, doc string")
    out = {
        r["_id"]: json.loads(r["doc"])
        for r in apply_plugins(
            docs, [SlugPlugin(), InfinityDatePlugin()], index="p"
        ).collect()
    }
    assert out["1"]["slug"] == "hello-world-this-is-a-test"
    assert out["1"]["publish_date"] == InfinityDatePlugin.MAX_ISO
    assert "slug" not in out["2"]  # falsy source → untouched (ref :43)
    assert out["2"]["publish_date"] == InfinityDatePlugin.MIN_ISO
    assert "slug" not in out["3"]  # non-string source → untouched
    assert out["3"]["publish_date"] == "2021-06-01"  # real dates pass

    # truncation breaks at the last word boundary inside max_length
    s = SlugPlugin(max_length=12)
    assert s.slugify("alpha beta gamma delta") == "alpha-beta"
    # no hyphen inside the limit → hard cut
    assert SlugPlugin(max_length=5).slugify("abcdefgh") == "abcde"


def test_geometry_plugin_null_coordinates_guard(spark):
    """Code-review regression: a Point with missing/null coordinates
    must leave the doc unchanged, never write a null geo field."""
    import json

    from pgsync_spark.plugin import apply_plugins
    from pgsync_spark.plugin_examples import GeometryPlugin

    docs = spark.createDataFrame(
        [("1", json.dumps({"point": {"type": "Point"}, "coordinates": [1, 2]}))],
        "_id string, doc string",
    )
    out = json.loads(
        apply_plugins(docs, [GeometryPlugin()], index="geo").collect()[0]["doc"]
    )
    assert out["coordinates"] == [1, 2]  # pre-existing value untouched
