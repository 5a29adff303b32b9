"""Search-sink contract tests against a local in-process bulk endpoint
stub — exercises the real write path (executor-side HTTP, NDJSON bulk
format, chunking, retries, routing, mapping PUT) without a cluster.
ref: pgsync/search_client.py:100-212 (bulk), 261-354 (mapping)."""

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from pyspark.sql import functions as F

from pgsync_spark import Catalog, compile_assembled
from pgsync_spark.node import parse_tree
from pgsync_spark.sinks.search import BulkHttpWriter, build_index_mapping

from conftest import SF_DIR


class _Handler(BaseHTTPRequestHandler):
    def _respond(self, payload: dict):
        body = json.dumps(payload).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def _drop_connection(self):
        """Abruptly kill the socket mid-exchange (no HTTP response) —
        the client sees a connection reset, i.e. a URLError."""
        import socket as _socket

        self.close_connection = True
        try:
            self.connection.shutdown(_socket.SHUT_RDWR)
        except OSError:
            pass

    def do_POST(self):
        body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
        with self.server.lock:
            if self.server.fail_first > 0:
                self.server.fail_first -= 1
                self.send_response(429)
                self.send_header("Content-Length", "2")
                self.end_headers()
                self.wfile.write(b"{}")
                return
            # chaos knobs default to off: other suites (test_cli) reuse
            # this handler on servers that never set them
            if getattr(self.server, "drop_next", 0) > 0:
                # connection dies BEFORE the server applies anything
                self.server.drop_next -= 1
                self._drop_connection()
                return
            self.server.requests.append(("POST", self.path, body))
            # per-item response: 200 unless the id is marked to fail;
            # applied items land in the stub's index view (upsert by _id)
            items = []
            errors = False
            lines = [ln for ln in body.splitlines() if ln]
            i = 0
            while i < len(lines):
                parsed = json.loads(lines[i])
                kind = next((k for k in ("index", "delete") if k in parsed), None)
                src = None
                if kind == "index" and i + 1 < len(lines):
                    src = lines[i + 1]
                    i += 2
                else:
                    i += 1
                if kind is None:
                    continue
                _id = parsed[kind]["_id"]
                status = 200
                if kind == "index" and src is None:
                    # malformed body (action with no source line): answer
                    # a per-item 400 instead of crashing the handler
                    # thread, which the client would misread as a drop
                    status = 400
                elif _id in self.server.item_fail_permanent:
                    status = 400
                elif self.server.item_fail_transient.get(_id, 0) > 0:
                    self.server.item_fail_transient[_id] -= 1
                    status = 429
                elif kind == "delete" and _id not in getattr(
                    self.server, "indexed", {}
                ):
                    # real ES semantics: deleting a missing doc answers
                    # per-item 404 not_found — the replayed-delete
                    # convergence path depends on the client treating
                    # that as idempotent success, not a failure
                    status = 404
                if status >= 300:
                    errors = True
                elif kind == "index":
                    if hasattr(self.server, "indexed"):
                        self.server.indexed[_id] = json.loads(src)
                elif hasattr(self.server, "indexed"):
                    self.server.indexed.pop(_id, None)
                inner = {"_id": _id, "status": status}
                if kind == "delete" and status == 404:
                    # real ES shapes: doc-level not_found carries a
                    # result field and NO error object; an index-level
                    # 404 (missing/typo'd index) carries an error
                    # object and must stay fatal client-side
                    if getattr(self.server, "delete_index_missing", False):
                        inner["error"] = {
                            "type": "index_not_found_exception",
                            "reason": "no such index [idx]",
                        }
                    else:
                        inner["result"] = "not_found"
                items.append({kind: inner})
            if getattr(self.server, "drop_after_processing", 0) > 0:
                # the classic mid-stream failure: the server APPLIED the
                # chunk, then died before acknowledging it
                self.server.drop_after_processing -= 1
                self._drop_connection()
                return
        self._respond({"errors": errors, "items": items})

    def do_PUT(self):
        body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
        with self.server.lock:
            self.server.requests.append(("PUT", self.path, body))
        self._respond({"acknowledged": True})

    def do_HEAD(self):
        # index existence probe: exists iff it was PUT before
        with self.server.lock:
            exists = any(
                m == "PUT" and p == self.path
                for m, p, _ in self.server.requests
            )
        self.send_response(200 if exists else 404)
        self.send_header("Content-Length", "0")
        self.end_headers()

    def log_message(self, *args):  # silence test output
        pass


@pytest.fixture()
def stub():
    server = ThreadingHTTPServer(("127.0.0.1", 0), _Handler)
    server.requests = []
    server.lock = threading.Lock()
    server.fail_first = 0
    server.item_fail_transient = {}  # _id -> remaining 429 responses
    server.item_fail_permanent = set()  # _ids answering 400 forever
    server.drop_next = 0  # bulk POSTs to kill before applying
    server.drop_after_processing = 0  # bulk POSTs to kill after applying
    server.indexed = {}  # _id -> last successfully applied source doc
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    yield server
    server.shutdown()


def _url(server):
    return f"http://127.0.0.1:{server.server_address[1]}"


def _bulk_lines(server):
    lines = []
    for method, path, body in server.requests:
        if path == "/_bulk":
            lines.extend(json.loads(ln) for ln in body.splitlines() if ln)
    return lines


def test_upsert_bulk_bodies(spark, stub):
    docs = spark.createDataFrame(
        [(str(i), json.dumps({"v": i})) for i in range(5)], "_id string, doc string"
    ).repartition(1)
    w = BulkHttpWriter(_url(stub), "idx", chunk_docs=2)
    w.upsert(docs)
    # chunking: 5 docs / chunk of 2 on one partition -> 3 requests
    posts = [r for r in stub.requests if r[0] == "POST"]
    assert len(posts) == 3
    lines = _bulk_lines(stub)
    actions = [ln for ln in lines if "index" in ln]
    sources = [ln for ln in lines if "index" not in ln]
    assert len(actions) == 5 and len(sources) == 5
    assert {a["index"]["_id"] for a in actions} == {str(i) for i in range(5)}
    assert all(a["index"]["_index"] == "idx" for a in actions)
    assert sorted(s["v"] for s in sources) == list(range(5))


def test_upsert_routing_and_pipeline(spark, stub):
    docs = spark.createDataFrame(
        [("1", '{"v": 1}', "route-a")], "_id string, doc string, _routing string"
    )
    w = BulkHttpWriter(_url(stub), "idx", pipeline="my-pipe")
    w.upsert(docs)
    actions = [ln for ln in _bulk_lines(stub) if "index" in ln]
    assert actions[0]["index"]["routing"] == "route-a"
    assert actions[0]["index"]["pipeline"] == "my-pipe"


def test_delete_bulk_bodies(spark, stub):
    # these _ids were never indexed, so the stub answers per-item 404
    # not_found (real ES semantics) — which the writer must classify as
    # idempotent success, not a permanent failure
    ids = spark.createDataFrame([("7",), ("8",)], "_id string").repartition(1)
    BulkHttpWriter(_url(stub), "idx").delete(ids)
    lines = _bulk_lines(stub)
    assert all("delete" in ln for ln in lines)
    assert {ln["delete"]["_id"] for ln in lines} == {"7", "8"}
    # no retry storm: the 404s settled on the first exchange
    assert len([r for r in stub.requests if r[1] == "/_bulk"]) == 1


def test_delete_replay_after_connection_drop_converges(spark, stub):
    """ADVICE r5: the transport retry replays whole chunks; a delete
    chunk the cluster already applied answers per-item 404 not_found on
    the replay. That is the converged state — the writer must treat it
    as success (the upsert twin of this test is
    test_connection_drop_mid_stream_retries_and_converges)."""
    docs = spark.createDataFrame(
        [(str(i), json.dumps({"v": i})) for i in range(4)],
        "_id string, doc string",
    ).repartition(1)
    w = BulkHttpWriter(_url(stub), "idx", chunk_docs=4, backoff=0.01)
    w.upsert(docs)
    assert set(stub.indexed) == {str(i) for i in range(4)}

    stub.drop_after_processing = 1  # apply the first delete chunk, then die
    ids = spark.createDataFrame(
        [(str(i),) for i in range(4)], "_id string"
    ).repartition(1)
    BulkHttpWriter(_url(stub), "idx", chunk_docs=2, backoff=0.01).delete(ids)
    assert stub.indexed == {}  # every delete landed despite the replay


def test_delete_against_missing_index_fails_loudly(spark, stub):
    """Only the DOC-level not_found (no error object) is idempotent
    success; an index-level 404 (index_not_found_exception — missing
    or typo'd index) must fail the job, or a misconfigured delete
    silently reports success while the stale docs live on."""
    stub.delete_index_missing = True
    ids = spark.createDataFrame([("7",)], "_id string").repartition(1)
    with pytest.raises(Exception, match="index_not_found_exception"):
        BulkHttpWriter(_url(stub), "idx", backoff=0.01).delete(ids)


def test_retry_on_429(spark, stub):
    stub.fail_first = 1
    docs = spark.createDataFrame([("1", '{"v": 1}')], "_id string, doc string")
    BulkHttpWriter(_url(stub), "idx", backoff=0.01).upsert(docs)
    assert len(_bulk_lines(stub)) == 2  # retried and landed


def test_mapping_roundtrip_with_routing(spark, stub):
    raw = {
        "index": "orders",
        "routing": "o_custkey",
        "nodes": {"table": "orders", "columns": ["o_orderkey", "o_custkey"]},
    }
    tree = parse_tree(raw)
    typed, _ = compile_assembled(Catalog(spark, SF_DIR), tree, structured=True)
    schema = typed.schema
    mapping = build_index_mapping(tree, schema)
    assert mapping["mappings"]["_routing"] == {"required": True}
    assert "_routing" not in mapping["mappings"]["properties"]
    assert mapping["mappings"]["properties"]["o_orderkey"] == {"type": "long"}
    w = BulkHttpWriter(_url(stub), "orders")
    w.create_index(tree, schema)
    puts = [r for r in stub.requests if r[0] == "PUT"]
    assert puts and puts[0][1] == "/orders"
    assert json.loads(puts[0][2]) == mapping
    # idempotent re-run (ref: search_client.py:273 exists guard): the
    # second create HEADs, sees the index, and does NOT PUT again
    out = w.create_index(tree, schema)
    assert out == {"acknowledged": False, "exists": True}
    assert len([r for r in stub.requests if r[0] == "PUT"]) == 1


def test_engine_docs_flow_to_bulk(spark, stub):
    """compile_assembled output (with _routing) flows through upsert
    unchanged — the doc-store -> sink contract end to end."""
    raw = {
        "index": "orders",
        "routing": "o_custkey",
        "nodes": {"table": "orders", "columns": ["o_orderkey", "o_custkey"]},
    }
    tree = parse_tree(raw)
    cat = Catalog(spark, SF_DIR)
    docs = compile_assembled(cat, tree)[0]
    n = docs.count()
    BulkHttpWriter(_url(stub), "orders").upsert(docs)
    actions = [ln for ln in _bulk_lines(stub) if "index" in ln]
    assert len(actions) == n
    assert all("routing" in a["index"] for a in actions)


def test_writer_from_tree_wires_pipeline_and_routing(spark, stub):
    """BulkHttpWriter.from_tree picks up index + pipeline from the tree
    declaration, and a tree-declared routing column lands as per-action
    routing metadata — no hand-plumbing (VERDICT r2 item 7)."""
    raw = {
        "index": "orders_idx",
        "routing": "o_custkey",
        "pipeline": "enrich-orders",
        "nodes": {"table": "orders", "columns": ["o_orderkey", "o_custkey"]},
    }
    tree = parse_tree(raw)
    w = BulkHttpWriter.from_tree(_url(stub), tree, chunk_docs=5)
    assert w.index == "orders_idx"
    assert w.pipeline == "enrich-orders"
    docs = compile_assembled(Catalog(spark, SF_DIR), tree)[0]
    w.upsert(docs.limit(3))
    actions = [ln for ln in _bulk_lines(stub) if "index" in ln]
    assert len(actions) == 3
    for a in actions:
        assert a["index"]["_index"] == "orders_idx"
        assert a["index"]["pipeline"] == "enrich-orders"
        assert a["index"]["routing"] is not None


def test_runner_writers_from_trees(spark, stub):
    """SyncRunner.writers builds one wired writer per index."""
    from pgsync_spark.streaming.runner import SyncRunner

    trees = [
        parse_tree({
            "index": "orders_idx",
            "pipeline": "p-orders",
            "nodes": {"table": "orders", "columns": ["o_orderkey"]},
        }),
        parse_tree({
            "index": "customers_idx",
            "nodes": {"table": "customer", "columns": ["c_custkey"]},
        }),
    ]
    runner = SyncRunner(spark, trees, Catalog(spark, SF_DIR))
    ws = runner.writers(_url(stub), chunk_docs=7)
    assert set(ws) == {"orders_idx", "customers_idx"}
    assert ws["orders_idx"].pipeline == "p-orders"
    assert ws["customers_idx"].pipeline is None
    assert ws["orders_idx"].chunk_docs == 7


def test_per_item_429_retries_only_failed_items(spark, stub):
    """A 429 on ONE item inside a 200 bulk response retries just that
    item (with backoff) until it lands — the other items are not
    re-sent and nothing is dropped (ref: search_client raise_on_error;
    VERDICT r3 item 6)."""
    stub.item_fail_transient["1"] = 2  # doc 1: two 429s, then success
    docs = spark.createDataFrame(
        [(str(i), json.dumps({"v": i})) for i in range(3)],
        "_id string, doc string",
    ).repartition(1)
    BulkHttpWriter(_url(stub), "idx", backoff=0.01).upsert(docs)
    posts = [b for m, p, b in stub.requests if p == "/_bulk"]
    assert len(posts) == 3  # initial + 2 item-level retries
    # retry requests carry ONLY the failed doc
    for body in posts[1:]:
        actions = [json.loads(ln) for ln in body.splitlines() if ln][::2]
        assert [a["index"]["_id"] for a in actions] == ["1"]


def test_per_item_400_raises_not_drops(spark, stub):
    """A permanent per-item 400 (mapping conflict / malformed doc)
    inside a 200 bulk response must fail the job loudly — silent drops
    are data loss."""
    stub.item_fail_permanent.add("1")
    docs = spark.createDataFrame(
        [("0", '{"v": 0}'), ("1", '{"v": 1}')], "_id string, doc string"
    ).repartition(1)
    with pytest.raises(Exception, match="failed permanently"):
        BulkHttpWriter(_url(stub), "idx", backoff=0.01).upsert(docs)


def test_per_item_429_exhausts_retries_raises(spark, stub):
    """Item-level 429s beyond the retry budget surface as an error
    carrying the failing statuses, never a silent drop."""
    stub.item_fail_transient["0"] = 99
    docs = spark.createDataFrame([("0", '{"v": 0}')], "_id string, doc string")
    with pytest.raises(Exception, match="still failing"):
        BulkHttpWriter(
            _url(stub), "idx", backoff=0.01, max_retries=2
        ).upsert(docs)


def test_mapping_nested_declared_settings_and_validation(spark):
    """Child-node transform.mapping lands on the NESTED field, tree
    'setting' becomes index settings, and bad types/parameters raise
    (ref: pgsync/search_client.py:271-286, 317-335)."""
    raw = {
        "index": "orders_nested_map",
        "setting": {"number_of_replicas": 0, "refresh_interval": "30s"},
        "nodes": {
            "table": "orders",
            "columns": ["o_orderkey", "o_orderpriority"],
            "transform": {
                "mapping": {
                    "o_orderpriority": {"type": "keyword", "ignore_above": 64}
                }
            },
            "children": [
                {
                    "table": "lineitem",
                    "label": "lineitems",
                    "columns": ["l_linenumber", "l_returnflag"],
                    "relationship": {"type": "one_to_many", "variant": "object"},
                    "transform": {
                        "mapping": {
                            "l_returnflag": {
                                "type": "text",
                                "analyzer": "standard",
                            }
                        }
                    },
                }
            ],
        },
    }
    tree = parse_tree(raw)
    typed, _ = compile_assembled(Catalog(spark, SF_DIR), tree, structured=True)
    body = build_index_mapping(tree, typed.schema)
    assert body["settings"] == {
        "index": {"number_of_replicas": 0, "refresh_interval": "30s"}
    }
    props = body["mappings"]["properties"]
    assert props["o_orderpriority"] == {"type": "keyword", "ignore_above": 64}
    nested = props["lineitems"]["properties"]
    assert nested["l_returnflag"] == {"type": "text", "analyzer": "standard"}
    assert nested["l_linenumber"] == {"type": "integer"}

    from pgsync_spark import exc

    bad_type = parse_tree(
        {
            "index": "x",
            "nodes": {
                "table": "orders",
                "columns": ["o_orderkey"],
                "transform": {"mapping": {"o_orderkey": {"type": "nope"}}},
            },
        }
    )
    with pytest.raises(exc.SchemaError, match="invalid Elasticsearch type"):
        build_index_mapping(bad_type, typed.schema)

    bad_param = parse_tree(
        {
            "index": "x",
            "nodes": {
                "table": "orders",
                "columns": ["o_orderkey"],
                "transform": {
                    "mapping": {"o_orderkey": {"type": "long", "bogus": 1}}
                },
            },
        }
    )
    with pytest.raises(exc.SchemaError, match="mapping parameter"):
        build_index_mapping(bad_param, typed.schema)


def test_connection_drop_mid_stream_retries_and_converges(spark, stub):
    """Chunk-boundary chaos: the endpoint applies one mid-stream chunk
    and then drops the connection before acknowledging (the ambiguous
    failure a real cluster produces). The partition task must retry the
    unacknowledged chunk — a duplicate send — and the idempotent _id
    upserts must converge to exactly-once state."""
    stub.drop_after_processing = 1
    docs = spark.createDataFrame(
        [(str(i), json.dumps({"v": i})) for i in range(6)],
        "_id string, doc string",
    ).repartition(1)
    BulkHttpWriter(
        _url(stub), "idx", chunk_docs=2, backoff=0.01
    ).upsert(docs)
    # every doc present exactly once despite the duplicated chunk
    assert stub.indexed == {str(i): {"v": i} for i in range(6)}
    # 6 docs / chunk_docs=2 → 3 chunks, +1 re-send of the dropped one
    assert len([r for r in stub.requests if r[1] == "/_bulk"]) == 4


def test_connection_drop_exhausts_retries_fails_loudly(spark, stub):
    """A dead endpoint must fail the Spark job (nothing silently
    dropped), and a rerun once it recovers must converge."""
    stub.drop_next = 10**6
    docs = spark.createDataFrame(
        [(str(i), json.dumps({"v": i})) for i in range(4)],
        "_id string, doc string",
    ).repartition(1)
    w = BulkHttpWriter(
        _url(stub), "idx", chunk_docs=2, max_retries=1, backoff=0.01
    )
    with pytest.raises(Exception, match="(?i)urlerror|connection|reset|aborted"):
        w.upsert(docs)
    # endpoint recovers → the SAME writer call converges (idempotent)
    stub.drop_next = 0
    w.upsert(docs)
    assert stub.indexed == {str(i): {"v": i} for i in range(4)}


def test_declared_mapping_reserved_and_scalar_graft_guards(spark):
    """Code-review regressions: a declared mapping for a reserved name
    (_routing) must not land under properties, and a declared dotted
    path nesting under a scalar-typed field is a loud config error,
    not an invalid mapping body."""
    from pgsync_spark import exc

    raw = {
        "index": "orders",
        "routing": "o_custkey",
        "nodes": {
            "table": "orders",
            "columns": ["o_orderkey", "o_custkey"],
            "transform": {"mapping": {"_routing": {"type": "keyword"}}},
        },
    }
    tree = parse_tree(raw)
    typed, _ = compile_assembled(Catalog(spark, SF_DIR), tree, structured=True)
    schema = typed.schema
    body = build_index_mapping(tree, schema)
    assert "_routing" not in body["mappings"]["properties"]
    assert body["mappings"]["_routing"] == {"required": True}

    raw["nodes"]["transform"] = {
        "mapping": {"o_orderkey.sub": {"type": "keyword"}}
    }
    bad = parse_tree(raw)
    typed, _ = compile_assembled(Catalog(spark, SF_DIR), bad, structured=True)
    with pytest.raises(exc.SchemaError, match="scalar type"):
        build_index_mapping(bad, typed.schema)
