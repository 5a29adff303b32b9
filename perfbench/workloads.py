"""The benchmark's workloads. Each drives only public entry points of
``pgsync_spark`` in a closed loop (one caller; the next operation starts
when the previous one returns) and checks its outputs.

A workload is a class with:
- ``setup()``: build the serving state from the generated inputs; run
  ``SETUP_REPEATS`` times, the first one cold; their mean is
  ``setup_s``;
- ``prepare()``: untimed work before the clock starts (inputs built
  and checkpointed, warm-up operations);
- ``op()``: one closed-loop operation; returns the items it completed;
- ``check()``: output checks after the loop; returns (attempted,
  failed).

``timings`` holds the named per-operation timings (batch, search, ...)
the runner reports as medians and tails.
"""

from __future__ import annotations

import glob
import math
import os
import time
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor

from .gen import CdcStream, digest

TREE = "orders_full"


def _canon(v) -> str:
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return "NULL" if v is None else str(v)


def _multiset(cols: list[str], rows) -> list[str]:
    """Order-insensitive canonical form of a result (columns sorted by
    name), the same comparison the repo's oracle gate makes."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("\x01".join(_canon(r[i]) for i in order) for r in rows)


def _duck(data_dir: str):
    from pgsync_spark.testing import duckdb_connect

    return duckdb_connect(data_dir)


class Workload:
    SETUP_REPEATS = 4
    items_name = "items"

    def __init__(self, spark, tracer, data_dir: str, tmp: str, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.data_dir = data_dir
        self.tmp = tmp
        self.seed = seed
        self.notes: dict = {}
        self.timings: dict[str, list[float]] = defaultdict(list)

    def setup(self) -> None:
        raise NotImplementedError

    def prepare(self) -> None:
        pass

    def op(self) -> int:
        raise NotImplementedError

    def check(self) -> tuple[int, int]:
        return 0, 0

    def exhausted(self) -> bool:
        """Whether the prebuilt inputs ran out (the loop must stop)."""
        return False

    def close(self) -> None:
        pass


def install_library_spans(tracer) -> None:
    """Span the library functions the engine calls internally (only
    reachable through it): the one-SQL compiler, the bronze snapshot
    materializer and the keyed store overlays."""
    from pgsync_spark.operators.overlay import KeyedOverlay
    from pgsync_spark.plans import sqlgen
    from pgsync_spark.streaming.cdc import TableMaterializer

    tracer.wrap(sqlgen, "compile_assembled", "plans.compile")
    tracer.wrap(TableMaterializer, "apply", "cdc.materializer_apply")
    tracer.wrap(TableMaterializer, "compact", "cdc.compact")
    tracer.wrap(KeyedOverlay, "compact", "overlay.compact")


# --------------------------------------------------------------------- CDC
# the doc fields the engine-owned indexes see: the customer's name
# (renames fan out to every order of the customer) plus the order's
# priority and status
INDEX_TEXT = (
    "concat_ws(' ', get_json_object(doc, '$.customer.c_name'), "
    "get_json_object(doc, '$.o_orderpriority'), "
    "get_json_object(doc, '$.o_orderstatus'))"
)
SEARCH_K = 10
CAND_K = 20


def _query_vec(spark, text: str):
    from pgsync_spark.functions.hashing import hash_embed_py

    return spark.createDataFrame(
        [(0, hash_embed_py(text))], "query_id bigint, embedding array<double>"
    )


class BulkSync(Workload):
    """Repeated initial loads of the ``orders_full`` tree. One operation
    is a fresh Catalog and engine, ``full_sync``, and the JSONL export
    of ``docs_for_sink()``; set-up is a scan of the source tables."""

    SF = 0.1
    items_name = "docs"
    # compaction cadence (applies per compaction) of the engine's
    # bronze snapshots and doc/lineage stores and of the index
    # maintainers; None keeps the library's defaults
    COMPACT_EVERY: int | None = None

    def setup(self) -> None:
        from pgsync_spark import Catalog

        cat = Catalog(self.spark, self.data_dir)
        for t in ("orders", "lineitem", "customer", "part", "supplier"):
            cat.df(t).count()
        # orders_full has one document per order
        self.n_docs = cat.df("orders").count()

    def op(self) -> int:
        t0 = time.perf_counter()
        self._load()
        self.timings["full_sync_s"].append(time.perf_counter() - t0)
        return self.n_docs

    def _load(self) -> None:
        from pgsync_spark import Catalog, schemas
        from pgsync_spark.sinks.jsonl import write_jsonl
        from pgsync_spark.streaming import IncrementalEngine, TableMaterializer

        self.close()
        self.export = os.path.join(self.tmp, "docs_jsonl")
        t = self.tracer
        cat = Catalog(self.spark, self.data_dir)
        mat = None
        if self.COMPACT_EVERY is not None:
            mat = TableMaterializer(cat, compact_every=self.COMPACT_EVERY)
        self.eng = IncrementalEngine(self.spark, schemas.tree(TREE), cat, mat)
        if self.COMPACT_EVERY is not None:
            self.eng.STORE_COMPACT_EVERY = self.COMPACT_EVERY
        with t.span("incremental.full_sync"):
            self.eng.full_sync()
        with t.span("sinks.write_jsonl"):
            write_jsonl(self.eng.docs_for_sink(), self.export)
        for part in glob.glob(os.path.join(self.export, "part-*")):
            t.count("sinks.bytes", os.path.getsize(part))
            with open(part, "rb") as f:
                t.count("sinks.docs", sum(1 for _ in f))

    def _export_check(self) -> bool:
        """The initial load's JSONL export equals the DuckDB oracle's
        documents over the same (pre-CDC) tables."""
        from pgsync_spark import schemas
        from pgsync_spark.catalog import TPCH_TABLES
        from pgsync_spark.plans.oracle import oracle_doc_sql

        sql = oracle_doc_sql(
            schemas.tree(TREE), TPCH_TABLES, schemas.columns_of, schemas.column_type_of
        )
        con = _duck(self.data_dir)
        try:
            want = sorted(
                f'{{"_id":"{_id}","_source":{doc}}}'
                for _id, doc in con.execute(f"SELECT _id, doc FROM ({sql})").fetchall()
            )
        finally:
            con.close()
        got: list[str] = []
        for part in glob.glob(os.path.join(self.export, "part-*")):
            with open(part, encoding="utf-8") as f:
                got.extend(line.rstrip("\n") for line in f)
        got.sort()
        ok = got == want and len(want) > 0
        self.notes["check_export"] = {"ok": ok, "docs": len(got), "oracle": len(want)}
        return ok

    def check(self) -> tuple[int, int]:
        return 1, 0 if self._export_check() else 1

    def close(self) -> None:
        eng = getattr(self, "eng", None)
        if eng is not None:
            eng._teardown_stores()
            self.eng = None


class CdcSteady(BulkSync):
    """Set-up is one initial load (``BulkSync``'s operation). The loop
    is a stream of distinct seeded CDC batches through
    ``process_batch``."""

    SF = 0.1
    BATCH_EVENTS = 3000
    WARM_BATCHES = 1
    MAX_BATCHES = 3
    # the timed batches alternate plain and compacting ones
    COMPACT_EVERY = 2
    # an initial load costs seconds; three keep a run within budget
    SETUP_REPEATS = 3
    items_name = "events"

    def setup(self) -> None:
        self._load()

    def op(self) -> int:
        return self._apply_next()

    def prepare(self) -> None:
        from pgsync_spark.streaming import payloads_from_rows

        stream = CdcStream(self.data_dir, self.seed)
        self.batches = []
        digests = []
        for _ in range(self.WARM_BATCHES + self.MAX_BATCHES):
            rows = stream.next_batch(self.BATCH_EVENTS)
            digests.append(digest(rows))
            ev = payloads_from_rows(self.spark, rows).localCheckpoint(eager=True)
            self.batches.append((ev, len(rows), list(stream.renamed)))
        self.notes["batch_digests"] = digests
        self.notes["batch_events"] = [n for _, n, _ in self.batches]
        self._install_layer_spans()
        for _ in range(self.WARM_BATCHES):
            self.op()
        self.timings.clear()

    def _install_layer_spans(self) -> None:
        pass

    def _apply_next(self) -> int:
        from pgsync_spark import caching

        ev, n, renamed = self.batches.pop(0)
        phases: dict = {}
        stats0 = dict(self.eng.stats)
        t0 = time.perf_counter()
        with self.tracer.span("incremental.process_batch"):
            self.eng.process_batch(ev, timings=phases)
        self.timings["batch_s"].append(time.perf_counter() - t0)
        t = self.tracer
        for k, v in phases.items():
            t.count(f"incremental.phase.{k}_s", v)
        for k in ("events", "recomputed_docs", "suppressed_updates"):
            t.count(f"incremental.{k}", self.eng.stats[k] - stats0[k])
        self.last_renamed = renamed
        caching.release_local_checkpoint(ev)
        return n

    def exhausted(self) -> bool:
        return not self.batches

    def _store_check(self) -> bool:
        """The maintained store equals a fresh full compile over the
        post-run snapshots (symmetric exceptAll is empty)."""
        from pgsync_spark import caching, schemas
        from pgsync_spark.plans.sqlgen import compile_assembled

        fresh, _ = compile_assembled(self.eng.catalog, schemas.tree(TREE))
        # computed once for both directions
        fresh = fresh.select("_id", "doc").localCheckpoint(eager=True)
        store = self.eng.docs.select("_id", "doc")
        extra = store.exceptAll(fresh).count()
        missing = fresh.exceptAll(store).count()
        caching.release_local_checkpoint(fresh)
        self.notes["check_store"] = {"extra": extra, "missing": missing}
        return extra == 0 and missing == 0

    def check(self) -> tuple[int, int]:
        # the export check runs in DuckDB, beside the Spark checks
        with ThreadPoolExecutor(1) as pool:
            export = pool.submit(self._export_check)
            results = [self._store_check(), export.result()]
        self.notes["engine_stats"] = dict(self.eng.stats)
        return len(results), results.count(False)


class CdcSearch(CdcSteady):
    """Set-up is the initial load, as on cdc_steady. Before the loop, a
    BM25 and a vector index are seeded from the last load and their
    maintainers registered on ``engine.doc_consumers``. One operation is
    a small CDC batch followed by a hybrid search (BM25 leg + ANN leg +
    driver-side RRF fuse) for a customer name the batch just wrote, so
    every batch checks read-after-write."""

    SF = 0.003
    BATCH_EVENTS = 200
    # one batch fills a run on 4 cores; the set-up loads warm the JVM
    WARM_BATCHES = 0
    MAX_BATCHES = 2
    # every batch compacts the bronze snapshots, the doc/lineage stores
    # and both indexes, so each run measures compaction and each search
    # reads one compacted segment
    COMPACT_EVERY = 1

    def _seed_indexes(self) -> None:
        from pgsync_spark.functions.bm25_index import BM25Index
        from pgsync_spark.functions.hashing import hash_embed_sparksql
        from pgsync_spark.functions.vector_index import VectorIndex
        from pgsync_spark.streaming import (
            SearchIndexMaintainer,
            VectorIndexMaintainer,
        )

        self.bidx = BM25Index(self.spark)
        self.vidx = VectorIndex(self.spark)
        self.bm = SearchIndexMaintainer(
            self.bidx, text_expr=INDEX_TEXT, compact_every=self.COMPACT_EVERY
        )
        self.vm = VectorIndexMaintainer(
            self.vidx,
            vec_expr=hash_embed_sparksql(INDEX_TEXT),
            compact_every=self.COMPACT_EVERY,
        )
        docs = self.eng.docs_for_sink()
        with self.tracer.span("index_sync.seed"), ThreadPoolExecutor(1) as pool:
            vec = pool.submit(self.vm.seed, docs)
            self.bm.seed(docs)
            vec.result()
        self.eng.doc_consumers += [self.bm, self.vm]

    def _install_layer_spans(self) -> None:
        t = self.tracer
        for m in (self.bm, self.vm):
            t.wrap(m, "apply", "index_sync.apply")
        t.wrap(self.bidx, "apply_cdc", "bm25.apply_cdc")
        t.wrap(self.bidx, "compact", "bm25.compact")
        t.wrap(self.vidx, "apply_cdc", "vector.apply_cdc")
        t.wrap(self.vidx, "compact", "vector.compact")

    def prepare(self) -> None:
        self.searches = 0
        self.search_fail: list = []
        self._seed_indexes()
        super().prepare()

    def _hybrid(self, text: str):
        from pgsync_spark.queries import HYBRID_RRF_K

        t = self.tracer
        # raw text would miss: the index holds analyzed terms
        terms = self.bidx.analyze_terms(text)
        with t.span("bm25.topk", jobs=True):
            lex_rows = self.bidx.topk(terms, k=CAND_K).collect()
        with t.span("vector.topk", jobs=True):
            sem_rows = self.vidx.topk(_query_vec(self.spark, text), k=CAND_K).collect()
        self.last_search = (text, terms, lex_rows, sem_rows)
        lex = {r["doc_id"]: r["rank"] for r in lex_rows}
        sem = {r["neighbor_id"]: r["rank"] for r in sem_rows}
        k = float(HYBRID_RRF_K)
        fused = sorted(
            (
                (sum(1.0 / (k + r[d]) for r in (lex, sem) if d in r), d)
                for d in set(lex) | set(sem)
            ),
            key=lambda s: (-s[0], s[1]),
        )[:SEARCH_K]
        return lex, sem, fused

    def _search(self) -> None:
        """One hybrid search for the first customer the last batch
        renamed; it must reach one of that customer's orders."""
        name, keys = self.last_renamed[0]
        text = f"{name} 1-URGENT"
        t0 = time.perf_counter()
        lex, sem, fused = self._hybrid(text)
        self.timings["search_s"].append(time.perf_counter() - t0)
        self.searches += 1
        if not (lex and sem and fused and {int(k) for k in keys} & set(lex)):
            self.search_fail.append({"text": text, "lex": len(lex), "sem": len(sem)})

    def op(self) -> int:
        n = self._apply_next()
        self._search()
        return n

    def _index_check(self) -> bool:
        """The last search's top-k from the maintained indexes equals
        the top-k of fresh indexes ingested from ``docs_for_sink()``."""
        from pgsync_spark.functions.bm25_index import BM25Index
        from pgsync_spark.functions.hashing import hash_embed_sparksql
        from pgsync_spark.functions.vector_index import VectorIndex

        text, terms, lex_rows, sem_rows = self.last_search
        docs = self.eng.docs_for_sink()
        fb, fv = BM25Index(self.spark), VectorIndex(self.spark)
        try:
            fb.ingest(docs.selectExpr(
                "CAST(_id AS BIGINT) AS doc_id",
                f"CAST(({INDEX_TEXT}) AS STRING) AS text",
                "CAST(NULL AS STRING) AS lang",
                "CAST(NULL AS STRING) AS source",
            ))
            fv.ingest(docs.selectExpr(
                "CAST(_id AS BIGINT) AS vec_id",
                f"{hash_embed_sparksql(INDEX_TEXT)} AS embedding",
            ))
            want_b = fb.topk(terms, k=CAND_K).collect()
            want_v = fv.topk(_query_vec(self.spark, text), k=CAND_K).collect()
        finally:
            fb.close()
            fv.close()
        same_b = sorted(map(tuple, lex_rows)) == sorted(map(tuple, want_b))
        same_v = sorted(map(tuple, sem_rows)) == sorted(map(tuple, want_v))
        self.notes["check_index"] = {
            "bm25_rows": len(lex_rows), "bm25_equal": same_b,
            "ann_rows": len(sem_rows), "ann_equal": same_v,
        }
        return bool(lex_rows) and same_b and bool(sem_rows) and same_v

    def check(self) -> tuple[int, int]:
        with ThreadPoolExecutor(1) as pool:
            index = pool.submit(self._index_check)
            attempted, failed = super().check()
            ok = index.result()
        self.notes["searches"] = self.searches
        if self.search_fail:
            self.notes["search_failures"] = self.search_fail[:5]
        return (
            attempted + 1 + self.searches,
            failed + (0 if ok else 1) + len(self.search_fail),
        )

    def close(self) -> None:
        super().close()
        for idx in (getattr(self, "bidx", None), getattr(self, "vidx", None)):
            if idx is not None:
                idx.close()
        self.bidx = self.vidx = None


# ----------------------------------------------------------------- curation
# the registered pass: functions.* (text, BM25, hybrid, ANN, DSIR, CCNet),
# the plugin Arrow crossing and sessionize
CURATION_QUERIES = [
    "text_bm25_topk",
    "hybrid_search_rrf",
    "ann_ivfpq_topk",
    "dsir_select",
    "ccnet_perplexity_buckets",
    "plugin_masking_docs",
    "events_sessionize",
]
# plus the three slowest on 4 cores (~30 s of a ~45 s cold pass),
# run by hand as curation_full
CURATION_FULL = [
    "dedup_minhash_lsh_pairs",
    "dedup_canonical",
    *CURATION_QUERIES[:2],
    "ann_recall_eval",
    *CURATION_QUERIES[2:],
]


class CurationBatch(Workload):
    """Passes over a fixed list of registry queries; one operation is one
    pass, each query constructed and executed to a driver-side result.
    The first pass is cold, as in a batch curation job, which runs each
    query once in a fresh session."""

    SF = 0.005
    QUERIES = CURATION_QUERIES
    items_name = "queries"

    def setup(self) -> None:
        from pgsync_spark import Catalog

        cat = Catalog(self.spark, self.data_dir)
        for t in ("documents", "embeddings", "events", "customer"):
            cat.df(t).count()

    def prepare(self) -> None:
        self.results: dict[str, tuple[list[str], list]] = {}

    def op(self) -> int:
        from pgsync_spark import caching
        from pgsync_spark.queries import REGISTRY

        t = self.tracer
        for name in self.QUERIES:
            t0 = time.perf_counter()
            with t.span(f"queries.{name}.construct"):
                df = REGISTRY[name].fn(self.spark, self.data_dir)
            with t.span(f"queries.{name}.execute"):
                rows = df.collect()
            self.timings[f"{name}_s"].append(time.perf_counter() - t0)
            self.results[name] = (df.columns, rows)
            caching.release_all()
        return len(self.QUERIES)

    def check(self) -> tuple[int, int]:
        """Each query's last result equals its REGISTRY DuckDB oracle."""
        from pgsync_spark.queries import REGISTRY

        con = _duck(self.data_dir)
        bad = []
        try:
            for name, (cols, rows) in sorted(self.results.items()):
                cur = con.execute(REGISTRY[name].oracle)
                o_cols = [d[0] for d in cur.description]
                o_rows = cur.fetchall()
                if sorted(cols) != sorted(o_cols) or not rows or (
                    _multiset(cols, rows) != _multiset(o_cols, o_rows)
                ):
                    bad.append(name)
        finally:
            con.close()
        self.notes["check_queries"] = {"checked": len(self.results), "failed": bad}
        return len(self.results), len(bad)


class CurationFull(CurationBatch):
    QUERIES = CURATION_FULL


WORKLOADS = {
    "bulk_sync": BulkSync,
    "cdc_steady": CdcSteady,
    "cdc_search": CdcSearch,
    "curation_batch": CurationBatch,
    "curation_full": CurationFull,
}
