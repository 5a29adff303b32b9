"""Elasticsearch/OpenSearch sink.

Two layers, mirroring the reference's SearchClient:

- ``build_index_mapping``: derive the index mapping from the node tree's
  declared transform/mapping blocks + inferred field types
  (ref: pgsync/search_client.py:261-354 _create_setting/_build_mapping;
  type vocabulary ref: pgsync/constants.py:83-162). ``tree.routing``
  adds ``_routing: {required: true}`` (ref: search_client.py:345-346).
- ``BulkHttpWriter``: the reference's operational heart re-expressed
  Spark-first — executor-parallel ``_bulk`` NDJSON over plain HTTP via
  ``foreachPartition`` (stdlib urllib, no connector jar needed), with
  the reference's chunking (5000 docs / 100 MB,
  ref: pgsync/settings.py:145-167) and retry/backoff on 429/5xx
  (ref: pgsync/search_client.py:100-212). Each partition streams its
  own chunks, so bulk throughput scales with executors exactly like
  the reference's multi-threaded parallel_bulk scales with threads.
"""

from __future__ import annotations

import http.client
import json
import logging
import time
import urllib.error
import urllib.request

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .. import exc
from ..node import Node, Tree

log = logging.getLogger(__name__)

# Declarable ES field types and mapping parameters (the public ES
# vocabulary; ref: pgsync/constants.py:83-162). The reference's
# _build_mapping raises on anything outside these lists
# (ref: pgsync/search_client.py:317-335); the TYPE list matches the
# reference's exactly (incl. its interval_*/time entries, which modern
# ES itself rejects — accepted here for config parity, the sink will
# surface the cluster's own error); the PARAMETER list is a superset
# (see the type-mandatory note below).
ES_TYPES = frozenset({
    "binary", "boolean", "byte", "completion", "constant_keyword", "date",
    "date_range", "dense_vector", "double", "double_range", "flattened",
    "float", "float_range", "geo_point", "geo_shape", "half_float",
    "integer", "integer_range", "interval_day", "interval_day_to_hour",
    "interval_day_to_minute", "interval_day_to_second", "interval_hour",
    "interval_hour_to_minute", "interval_hour_to_second",
    "interval_minute", "interval_minute_to_second", "interval_month",
    "interval_second", "interval_year", "interval_year_to_month", "ip",
    "keyword", "knn_vector", "long", "long_range", "nested", "null",
    "object", "scaled_float", "search_as_you_type", "shape", "short",
    "text", "time",
})
ES_MAPPING_PARAMETERS = frozenset({
    "analyzer", "boost", "coerce", "copy_to", "dimension", "dims",
    "doc_values", "dynamic", "eager_global_ordinals", "enabled",
    "fielddata", "fielddata_frequency_filter", "fields", "format",
    "ignore_above", "ignore_malformed", "index", "index_options",
    "index_phrases", "index_prefixes", "meta", "normalizer", "norms",
    "null_value", "position_increment_gap", "properties",
    "search_analyzer", "similarity", "store", "term_vector",
    # type-mandatory parameters: scaled_float requires scaling_factor,
    # dense_vector takes element_type/index — a whitelist that admits a
    # type must admit the parameters that type cannot be declared without
    "scaling_factor", "element_type",
})

# ES core types the mapping generator emits (subset of the reference's
# vocabulary, ref: pgsync/constants.py:83-129)
_SPARK_TO_ES = {
    T.LongType: "long",
    T.IntegerType: "integer",
    T.ShortType: "integer",
    T.DoubleType: "double",
    T.FloatType: "float",
    T.BooleanType: "boolean",
    T.TimestampType: "date",
    T.TimestampNTZType: "date",
    T.DateType: "date",
    T.StringType: "text",
}


def _field_mapping(
    dt: T.DataType, declared: dict | None = None, path: str = ""
) -> dict:
    """Infer one field's mapping; a declared spec at this dotted path
    wins (child-node declarations land on the nested field, matching
    the reference's per-node _mapping nesting under node.label,
    ref: pgsync/search_client.py:340-342)."""
    spec = declared.get(path) if declared else None
    if spec:
        return dict(spec)
    if isinstance(dt, T.StructType):
        return {
            "properties": {
                f.name: _field_mapping(
                    f.dataType, declared, f"{path}.{f.name}" if path else f.name
                )
                for f in dt.fields
            }
        }
    if isinstance(dt, T.ArrayType):
        return _field_mapping(dt.elementType, declared, path)  # arrays implicit
    for cls, es in _SPARK_TO_ES.items():
        if isinstance(dt, cls):
            return {"type": es}
    return {"type": "text"}


def _validate_spec(field: str, spec: dict) -> None:
    """ref: pgsync/search_client.py:317-335 — unknown type or mapping
    parameter is a config error, raised at build time."""
    if not isinstance(spec, dict) or "type" not in spec:
        raise exc.SchemaError(
            f"mapping for {field!r} must be a dict with a 'type'"
        )
    if spec["type"] not in ES_TYPES:
        raise exc.SchemaError(
            f"invalid Elasticsearch type {spec['type']!r} for {field!r}"
        )
    for param in spec:
        if param != "type" and param not in ES_MAPPING_PARAMETERS:
            raise exc.SchemaError(
                f"invalid Elasticsearch mapping parameter {param!r} "
                f"for {field!r}"
            )


def _declared_mappings(node: Node, out: dict, prefix: str = "") -> None:
    mapping = (node.transform or {}).get("mapping") or {}
    for field, spec in mapping.items():
        _validate_spec(prefix + field, spec)
        out[prefix + field] = spec
    for ch in node.children:
        _declared_mappings(ch, out, prefix=f"{prefix}{ch.name}.")


def _insert_declared(props: dict, path: str, spec: dict) -> None:
    """Place a declared mapping at its dotted path, creating nested
    ``properties`` levels as needed; a spec already placed by the
    schema walk (which gave declared entries precedence) is left
    untouched. Descending through a level the schema inferred as a
    SCALAR would graft ``properties`` beside its ``type`` — an invalid
    ES body — so that is a config error, raised loudly."""
    parts = path.split(".")
    cur = props
    for p in parts[:-1]:
        node = cur.setdefault(p, {})
        if "type" in node and node.get("type") not in ("object", "nested"):
            raise exc.SchemaError(
                f"declared mapping {path!r} nests under {p!r}, which maps "
                f"to scalar type {node['type']!r}"
            )
        cur = node.setdefault("properties", {})
    cur.setdefault(parts[-1], dict(spec))


def build_index_mapping(tree: Tree, doc_schema: T.StructType) -> dict:
    """Index body from the structured doc schema: inferred field types,
    node-declared ``transform.mapping`` entries taking precedence (at
    any nesting depth), ``_routing`` requirement, and the tree's
    ``setting`` block as index settings
    (ref: pgsync/search_client.py:271-286 _create_setting)."""
    declared: dict = {}
    _declared_mappings(tree.root, declared)
    props = {}
    for f in doc_schema.fields:
        if f.name in ("_id", "_meta", "_routing"):
            continue
        props[f.name] = _field_mapping(f.dataType, declared, f.name)
    # declared mappings for fields the schema does NOT carry still land
    # (the reference emits every declared mapping unconditionally,
    # ref: pgsync/search_client.py:336-344) — this is how plugin-added
    # fields (e.g. GeometryPlugin's geo_point/geo_shape outputs) get
    # typed in the index. Reserved names keep the schema walk's skip:
    # mapping _id/_meta/_routing under properties would be rejected by
    # the cluster.
    for path, spec in declared.items():
        if path.split(".", 1)[0] in ("_id", "_meta", "_routing"):
            continue
        _insert_declared(props, path, spec)
    mappings: dict = {"properties": props}
    if tree.routing:
        # ref: pgsync/search_client.py:345-346
        mappings["_routing"] = {"required": True}
    body: dict = {"mappings": mappings}
    if tree.setting:
        # ref: pgsync/search_client.py:274-275
        body["settings"] = {"index": dict(tree.setting)}
    return body


# ---------------------------------------------------------------------------
# Executor-side bulk HTTP transport (stdlib only, pickled to workers)
# ---------------------------------------------------------------------------

def _http_json(url: str, data: bytes, method: str, content_type: str,
               max_retries: int, backoff: float) -> dict:
    """POST/PUT with retry+exponential backoff on 429/5xx/connection
    errors (ref: pgsync/search_client.py retry/backoff settings)."""
    attempt = 0
    while True:
        req = urllib.request.Request(
            url, data=data, method=method,
            headers={"Content-Type": content_type},
        )
        try:
            with urllib.request.urlopen(req, timeout=30) as resp:
                return json.loads(resp.read() or b"{}")
        except urllib.error.HTTPError as e:
            transient = e.code == 429 or e.code >= 500
            if not transient or attempt >= max_retries:
                raise
        except (
            urllib.error.URLError,
            # NOT URLError subclasses: urllib only wraps errors raised
            # while SENDING the request; a connection that dies while
            # the response is being read (RemoteDisconnected,
            # IncompleteRead, a reset, a socket timeout) surfaces raw —
            # and that ambiguous mid-exchange death is the single most
            # common transient failure a real cluster produces
            ConnectionError,
            http.client.HTTPException,
            TimeoutError,
        ):
            if attempt >= max_retries:
                raise
        time.sleep(backoff * (2 ** attempt))
        attempt += 1


def _item_status(item: dict) -> int:
    """Status of one bulk-response item ({"index": {...}} / {"delete":
    {...}} envelope)."""
    return list(item.values())[0].get("status", 200)


def _send_bulk_partition(
    rows, url: str, index: str, pipeline: str | None,
    chunk_docs: int, chunk_bytes: int, max_retries: int, backoff: float,
):
    """foreachPartition body: stream this partition's rows as _bulk
    NDJSON chunks. Rows are (op, _id, doc_json, _routing).

    Per-item failure semantics inside a 200 bulk response (the
    reference raises on item errors via parallel_bulk raise_on_error,
    ref: pgsync/search_client.py:100-212; we add the standard bulk-
    client refinement):

    - item status 429/5xx (rejected-execution, shard unavailable) →
      RETRY just those items with exponential backoff, up to
      ``max_retries``; still failing → raise.
    - item status other 4xx (mapping conflict, malformed doc) →
      permanent → raise immediately with the failing items.

    Nothing is ever silently dropped: every row either lands or the
    task (and the Spark job) fails."""
    buf: list[bytes] = []  # one NDJSON block per doc (action [+ source])
    n_docs = 0
    n_bytes = 0

    def flush():
        nonlocal buf, n_docs, n_bytes
        if not buf:
            return
        pending = buf
        attempt = 0
        while True:
            result = _http_json(
                url, b"".join(pending), "POST", "application/x-ndjson",
                max_retries, backoff,
            )
            if not result.get("errors"):
                break
            items = result.get("items", [])
            if len(items) != len(pending):
                raise RuntimeError(
                    f"bulk response reported errors but returned "
                    f"{len(items)} items for {len(pending)} actions"
                )
            statuses = [_item_status(it) for it in items]

            def _settled(it: dict, st: int) -> bool:
                # 404 on a DELETE action is idempotent success: the
                # transport-level retry replays whole chunks, so a
                # delete the cluster already applied answers not_found
                # on the replay — that is the converged state, not a
                # failure (index actions converge by _id the same way).
                # ONLY the doc-level not_found qualifies: it carries no
                # "error" object, while an index-level 404
                # (index_not_found_exception — missing/typo'd index)
                # does, and must stay fatal or a misconfigured delete
                # would silently report success.
                if st < 300:
                    return True
                inner = it.get("delete")
                return st == 404 and inner is not None and "error" not in inner

            fatal = [
                it for it, st in zip(items, statuses)
                if 300 <= st < 500 and st != 429 and not _settled(it, st)
            ]
            if fatal:
                raise RuntimeError(
                    f"bulk items failed permanently: {fatal[:5]}"
                )
            retry = [
                blk for blk, it, st in zip(pending, items, statuses)
                if st >= 300 and not _settled(it, st)
            ]
            if not retry:
                break
            if attempt >= max_retries:
                raise RuntimeError(
                    f"{len(retry)} bulk items still failing after "
                    f"{max_retries} retries (last statuses: "
                    f"{[st for st in statuses if st >= 300][:5]})"
                )
            time.sleep(backoff * (2 ** attempt))
            attempt += 1
            pending = retry
        buf, n_docs, n_bytes = [], 0, 0

    for row in rows:
        meta: dict = {"_index": index, "_id": row["_id"]}
        if row["_routing"] is not None:
            meta["routing"] = row["_routing"]
        if row["op"] == "delete":
            action = json.dumps({"delete": meta}).encode() + b"\n"
            lines = action
        else:
            if pipeline:
                meta["pipeline"] = pipeline
            action = json.dumps({"index": meta}).encode() + b"\n"
            lines = action + row["doc"].encode() + b"\n"
        buf.append(lines)
        n_docs += 1
        n_bytes += len(lines)
        if n_docs >= chunk_docs or n_bytes >= chunk_bytes:
            flush()
    flush()


class BulkHttpWriter:
    """Executor-parallel ``_bulk`` writer over plain HTTP.

    Input contract: a DataFrame with ``_id`` and ``doc`` (JSON string)
    columns, optionally ``_routing`` — exactly the incremental engine's
    doc store / ``compile_assembled`` output. Deletes take an ``_id``-only
    frame. Chunk and retry defaults mirror the reference
    (ref: pgsync/settings.py:145-167 ELASTICSEARCH_CHUNK_SIZE=2000,
    MAX_CHUNK_BYTES=100MB, MAX_RETRIES/RETRY semantics).
    """

    def __init__(
        self,
        base_url: str,
        index: str,
        pipeline: str | None = None,
        chunk_docs: int = 2000,
        chunk_bytes: int = 100 * 1024 * 1024,
        max_retries: int = 4,
        backoff: float = 0.2,
    ):
        self.base_url = base_url.rstrip("/")
        self.index = index
        self.pipeline = pipeline
        self.chunk_docs = chunk_docs
        self.chunk_bytes = chunk_bytes
        self.max_retries = max_retries
        self.backoff = backoff

    @classmethod
    def from_tree(cls, base_url: str, tree: Tree, **kwargs) -> "BulkHttpWriter":
        """Writer wired from the tree declaration: index name and ES
        ingest pipeline come straight from the schema config (ref:
        pgsync/sync.py:120-121 reads ``index``/``pipeline`` from the
        document config; pgsync/search_client.py passes the pipeline to
        every bulk helper). Routing needs no wiring here — when the tree
        declares ``routing``, doc assembly emits a ``_routing`` column
        and upsert/delete forward it per action."""
        return cls(
            base_url,
            tree.index or tree.root.table,
            pipeline=tree.pipeline,
            **kwargs,
        )

    def index_exists(self) -> bool:
        """HEAD the index (driver-side): 200 → exists, 404 → absent."""
        req = urllib.request.Request(
            f"{self.base_url}/{self.index}", method="HEAD"
        )
        try:
            with urllib.request.urlopen(req, timeout=30) as resp:
                return resp.status == 200
        except urllib.error.HTTPError as e:
            if e.code == 404:
                return False
            raise

    def create_index(self, tree: Tree, doc_schema: T.StructType) -> dict:
        """PUT the index with the generated mapping (driver-side),
        ONLY if it does not already exist — the reference's
        ``_create_setting`` guards the same way (ref:
        pgsync/search_client.py:273 ``if not indices.exists``), so a
        re-run of a sync never 400s on resource_already_exists."""
        if self.index_exists():
            return {"acknowledged": False, "exists": True}
        body = json.dumps(build_index_mapping(tree, doc_schema)).encode()
        return _http_json(
            f"{self.base_url}/{self.index}", body, "PUT", "application/json",
            self.max_retries, self.backoff,
        )

    def _run(self, rows_df: DataFrame) -> None:
        url = f"{self.base_url}/_bulk"
        index, pipeline = self.index, self.pipeline
        chunk_docs, chunk_bytes = self.chunk_docs, self.chunk_bytes
        max_retries, backoff = self.max_retries, self.backoff

        def body(it):
            _send_bulk_partition(
                it, url, index, pipeline, chunk_docs, chunk_bytes,
                max_retries, backoff,
            )

        rows_df.foreachPartition(body)

    def upsert(self, docs: DataFrame) -> None:
        from pyspark.sql import functions as F

        routing = (
            F.col("_routing") if "_routing" in docs.columns
            else F.lit(None).cast("string")
        )
        self._run(
            docs.select(
                F.lit("index").alias("op"),
                F.col("_id").cast("string").alias("_id"),
                F.col("doc"),
                routing.alias("_routing"),
            )
        )

    def delete(self, ids: DataFrame) -> None:
        from pyspark.sql import functions as F

        routing = (
            F.col("_routing") if "_routing" in ids.columns
            else F.lit(None).cast("string")
        )
        self._run(
            ids.select(
                F.lit("delete").alias("op"),
                F.col("_id").cast("string").alias("_id"),
                F.lit(None).cast("string").alias("doc"),
                routing.alias("_routing"),
            )
        )

