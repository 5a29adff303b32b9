"""Command-line entry point: ``python -m pgsync_spark``.

The reference ships ``bin/pgsync`` wrapping ``pgsync/sync.py main()``
(ref: bin/pgsync:1-8, pgsync/sync.py:2156-2447). Flag mapping:

- ``--config`` — one flag covers the reference's mutually-exclusive
  ``--config/--schema_url/--s3_schema_url`` trio: ``config_loader``
  dispatches on the URL scheme (local path / http(s) / s3).
- default (no mode flag) — the reference's one-shot ``pull()``: initial
  full sync of every index in the config, docs written to the sink.
- ``--daemon`` — keep consuming changes after the initial load (ref:
  sync.py:2423-2426 ``sync.receive()``): a Structured Streaming query
  over a CDC event directory drives ``SyncRunner.process_batch``.
- ``--polling INTERVAL`` — the reference's read-only-cluster polling
  loop (ref: sync.py:2368-2382) maps to a ProcessingTime trigger on the
  same stream.
- ``--analyze`` — print index advice per tree and exit (ref:
  sync.py:2360-2366 ``sync.analyze()``).
- ``--drain`` — daemon mode, but process everything currently available
  and exit; what a test (or a cron-style catch-up run) wants instead of
  a blocking ``awaitTermination``.

Sinks: ``--sink-dir`` writes per-index JSONL (the test/e2e sink);
``--search-url`` creates each index with its generated mapping and bulk
upserts through ``BulkHttpWriter`` — both may be given.

Beyond the reference surface, ``--dedup-stream DOCS_DIR`` runs the
streaming training-data ingestion pipeline (no schema config needed):
JSON docs → incremental MinHash/Embedding dedup index probe →
accepted docs + drop decisions (+ per-epoch drift stats with
``--drift-column``) under ``--dedup-out``; ``--store-dir`` makes the
index durable and the pipeline exactly-once, ``--compact-every`` runs
segment maintenance on a cadence.

One mode per invocation: a single-shot mode flag (``--dedup-stream``,
``--export-shards``, ``--bm25-topk``, ``--ann-stats`` ...), a config
sub-mode (``--analyze``, ``--validate``, ``--print-mapping``), or, with
none of them, a sync. ``_modes()`` is the one table of the flags each
mode requires and reads: a second mode, or a flag given explicitly
that the chosen mode does not read, exits 2 instead of being silently
ignored.

There is no singleton/pidfile analog (ref: pgsync/singleton.py:6-39
guards one process per (database, index)): one SparkSession per driver
already serializes the engine, and concurrent drivers against one sink
are a deployment error Spark cannot detect portably.
"""

from __future__ import annotations

import argparse
import contextlib
import os
import sys
from typing import Callable, NamedTuple

from .catalog import Catalog
from .config import config_loader


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="python -m pgsync_spark",
        description="PySpark-native pgsync: denormalize tables into "
        "nested JSON documents and keep a search index in sync.",
    )
    p.add_argument(
        "-c", "--config", default=None,
        help="schema config: local path, http(s) URL, or s3:// URL "
        "(required by a sync and by --analyze/--validate/--print-mapping)",
    )
    p.add_argument(
        "--data-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"),
        help="directory of <table>.parquet source tables",
    )
    p.add_argument(
        "-d", "--daemon", action="store_true",
        help="after the initial load, stream CDC events from --events-dir",
    )
    p.add_argument(
        "--drain", action="store_true",
        help="with --daemon: process available events, then exit",
    )
    p.add_argument(
        "--polling", metavar="INTERVAL", default=None,
        help="ProcessingTime trigger for daemon or --dedup-stream "
        'mode, e.g. "5 seconds"',
    )
    p.add_argument(
        "--analyze", action="store_true",
        help="print join-key/index advice per tree and exit",
    )
    p.add_argument(
        "--print-mapping", action="store_true",
        help="print each index's generated settings/mappings JSON and exit",
    )
    p.add_argument(
        "--validate", action="store_true",
        help="run each tree's compiled plan AND its generated DuckDB "
        "oracle SQL against --data-dir and compare results "
        "(hash-equality gate as a CLI mode); exit 1 on any mismatch",
    )
    p.add_argument(
        "--events-dir", default=None,
        help="directory of JSON CDC event files (daemon mode)",
    )
    p.add_argument(
        "--checkpoint-dir", default=None,
        help="Structured Streaming checkpoint location (daemon mode)",
    )
    p.add_argument(
        "--store-dir", default=None,
        help="persist/restore engine state (per-index versioned parquet "
        "DocStore) — a restart resumes from the saved docs, lineage, "
        "checkpoint, and CDC-modified snapshots instead of re-syncing",
    )
    p.add_argument(
        "--sink-dir", default=None,
        help="write per-index JSONL documents under this directory",
    )
    p.add_argument(
        "--search-url", default=None,
        help="Elasticsearch/OpenSearch base URL for bulk indexing",
    )
    p.add_argument(
        "--no-create-index", action="store_true",
        help="skip PUT of the generated index mapping (index exists)",
    )
    p.add_argument(
        "--max-files-per-trigger", type=int, default=10,
        help="micro-batch size cap (the LOGICAL_SLOT_CHUNK_SIZE analog)",
    )
    # -- streaming ingestion dedup (the training-data pipeline mode) --
    p.add_argument(
        "--dedup-stream", metavar="DOCS_DIR", default=None,
        help="stream JSON docs from this directory through the "
        "incremental dedup index: accepted docs, drop decisions, and "
        "(with --drift-column) per-epoch drift stats land under "
        "--dedup-out; needs --checkpoint-dir; --store-dir makes the "
        "index durable and the pipeline exactly-once",
    )
    p.add_argument(
        "--dedup-index",
        choices=("minhash", "embedding", "bm25", "vector", "ivf"),
        default="minhash",
        help="index maintained by --dedup-stream: MinHash near-dup "
        "over text docs, sign-LSH near-dup over embedding vectors, "
        "a BM25 inverted search index, or an ANN vector serving "
        "index — 'vector' (sign-LSH keys) or 'ivf' (trained frozen "
        "coarse codebook; the FIRST batch trains the centroids over "
        "its hash-sample — any seed with enough sampled vectors "
        "works, but make it representative; --ivf-sample-mod dials "
        "the training budget for large seeds, --ann-rebuild "
        "retrains later). Serving indexes "
        "accept everything — decisions stay empty; the same "
        "exactly-once epoch pipeline keeps them continuously "
        "queryable",
    )
    p.add_argument(
        "--dedup-out", default=None,
        help="output directory for --dedup-stream "
        "(accepted/ decisions/ stats/)",
    )
    p.add_argument(
        "--drift-column", default=None,
        help="with --dedup-stream: write per-epoch mix + KL drift "
        "stats over this column (e.g. source)",
    )
    p.add_argument(
        "--probe-hamming", type=int, default=None, choices=(0, 1, 2),
        help="with --dedup-index embedding: multi-probe width for the "
        "banded LSH dedup probe (0 = own bucket only, default 1 = "
        "+every 1-bit band perturbation, 2 = +2-bit)",
    )
    p.add_argument(
        "--drift-alert-kl", type=float, default=None,
        help="with --drift-column: epochs whose KL(batch ‖ corpus) "
        "exceeds this threshold are marked alert:true in their stats "
        "file and logged at WARNING (epoch 0 never alerts)",
    )
    p.add_argument(
        "--compact-every", type=int, default=None,
        help="compact index segments every N epochs/batches — applies "
        "to --dedup-stream and to --bm25-store (whose maintainer "
        "defaults to 8; 0 disables the cadence, leaving only the "
        "overlay-size auto-compaction)",
    )
    p.add_argument(
        "--rebind", action="store_true",
        help="with --dedup-stream: allow pairing an existing index "
        "store with a NEW checkpoint (keeps the corpus, restarts "
        "epoch bookkeeping)",
    )
    p.add_argument(
        "--pre-filter", default=None,
        help="with --dedup-stream: SQL boolean quality gate applied "
        'BEFORE the dedup probe (e.g. "length(text) >= 100"); '
        "rejects land under <out>/rejected/epoch=N",
    )
    p.add_argument(
        "--cdc-ops", action="store_true",
        help="with --dedup-stream: the doc stream is CDC-shaped (an "
        "op column; 'd' deletes the doc, u/c/i/r/a or NULL upserts, anything else raises) — "
        "updates/deletes flow into the index's versioned overlay "
        "(BM25 postings, minhash/embedding dedup state)",
    )
    p.add_argument(
        "--bm25-topk", metavar="QUERY", default=None,
        help="query a stored BM25 index (--store-dir, built by "
        "--dedup-stream --dedup-index bm25): tokenize QUERY like the "
        "engine (lowercase whitespace split), print the top-k docs as "
        "JSON lines",
    )
    p.add_argument(
        "--topk-k", type=int, default=10,
        help="result count for --bm25-topk / --ann-topk / "
        "--hybrid-topk (default 10)",
    )
    p.add_argument(
        "--hybrid-topk", metavar="QUERY", default=None,
        help="hybrid retrieval over TWO engine-owned stores: the BM25 "
        "store at --store-dir (lexical leg — QUERY analyzed with the "
        "store's analyzer) and the vector store at --ann-store-dir "
        "(semantic leg — QUERY through the hash featurizer), fused by "
        "reciprocal-rank fusion (rrf = sum(1/(60+rank)), exact "
        "fixed-point); prints the fused top-k as JSON lines",
    )
    p.add_argument(
        "--ann-store-dir", default=None,
        help="the vector store for --hybrid-topk's semantic leg "
        "(--store-dir holds the BM25 store)",
    )
    p.add_argument(
        "--export-shards", metavar="DOCS_DIR", default=None,
        help="read parquet documents (doc_id, text, ...) from this "
        "directory — e.g. a dedup stream's accepted/ output — and "
        "export token-budgeted training shards + MANIFEST.json under "
        "--export-out",
    )
    p.add_argument(
        "--export-out", default=None,
        help="output directory for --export-shards",
    )
    p.add_argument(
        "--shard-budget", type=int, default=None,
        help="tokens per shard for --export-shards (default 512)",
    )
    p.add_argument(
        "--shard-lanes", type=int, default=None,
        help="parallel writer lanes for --export-shards (default 4)",
    )
    p.add_argument(
        "--bm25-store", default=None, metavar="DIR",
        help="maintain an ENGINE-OWNED BM25 index per configured tree "
        "under DIR/<index> (the reference's sync→search-index "
        "topology with the index state owned by the engine instead "
        "of an external cluster): seeded from the initial sync, kept "
        "current by every CDC batch (upserts + deletes + truncate), "
        "queryable afterwards via --bm25-topk --store-dir DIR/<index>. "
        "Reloading an EXISTING store after a full sync does NOT "
        "reconcile it against the just-synced corpus — the stream "
        "checkpoint is the source of truth, so the index lags until "
        "its CDC batches replay (re-seed into a fresh DIR for an "
        "immediately-consistent snapshot)",
    )
    p.add_argument(
        "--bm25-text-expr", default=None, metavar="SQL",
        help="SQL expression over the sink-facing doc schema (_id, "
        "doc JSON string) selecting the text to index for "
        "--bm25-store, e.g. \"get_json_object(doc, '$.title')\" "
        "(default: the serialized doc — coarse whitespace tokens)",
    )
    p.add_argument(
        "--vector-store", default=None, metavar="DIR",
        help="maintain an ENGINE-OWNED ANN vector index per configured "
        "tree under DIR/<index> (the reference's embedding-plugin → "
        "dense_vector/knn_vector topology with the index state owned "
        "by the engine): vectors derive from doc content via the "
        "deterministic hash featurizer (see --vector-expr), seeded "
        "from the initial sync, kept current by every CDC batch, "
        "queryable afterwards via --ann-topk --store-dir DIR/<index>. "
        "Same staleness note as --bm25-store when reloading an "
        "existing store after a full sync",
    )
    p.add_argument(
        "--vector-expr", default=None, metavar="SQL",
        help="SQL expression over the sink-facing doc schema producing "
        "the embedding (array<double>) for --vector-store — e.g. a "
        "learned-encoder output column, or hash_embed over specific "
        "fields (default: the hash featurizer over the whole doc, so "
        "any content change moves the vector)",
    )
    p.add_argument(
        "--vector-index", default=None, choices=("lsh", "ivf"),
        help="index family for a FRESH --vector-store: lsh (sign-LSH "
        "bands; the default) or ivf (trained frozen coarse codebook "
        "— the seed sync trains it over the doc vectors, so the "
        "seeded tree needs >= 10 hash-sampled docs; retrain later "
        "with --ann-rebuild). The family is index state: an existing "
        "store keeps the family it was built with (reload dispatches "
        "on the manifest), and passing the other one is an error",
    )
    p.add_argument(
        "--ann-rebuild-when", type=float, default=None,
        metavar="IMBALANCE",
        help="automatic rebuild policy for an engine-maintained IVF "
        "vector store (--vector-store with --vector-index ivf): "
        "after each applied engine epoch the maintainer reads the "
        "same max/mean cell-occupancy imbalance --ann-stats prints "
        "and fires an in-place rebuild() (retrain + reassign behind "
        "ONE manifest flip) when it exceeds IMBALANCE (> 1; e.g. "
        "1.5). Closes the measure->act loop without an operator: "
        "--ann-stats to watch, --ann-rebuild to act by hand, this "
        "flag to automate. Logged as one event per firing",
    )
    p.add_argument(
        "--ann-nprobe", type=int, default=None, metavar="N",
        help="probe width for an IVF store's --ann-topk /"
        " --hybrid-topk read (cells probed per query; default 3 of "
        "10): the serving half of the recall-vs-rerank-cost frontier "
        "ann_probe_cost_frontier measures — widen where the curve "
        "still climbs, narrow to 1-2 where it saturates. Probe-time "
        "behavior, not index state; refuses on sign-LSH stores "
        "(their width dial is --probe-hamming)",
    )
    p.add_argument(
        "--ann-topk", metavar="QUERY", default=None,
        help="query a stored VectorIndex (--store-dir): QUERY is "
        "either a JSON array literal (the vector itself — use for "
        "stores built with a custom --vector-expr) or text to run "
        "through the default hash featurizer; prints the top-k "
        "(neighbor_id, cosine, rank) as JSON lines",
    )
    p.add_argument(
        "--ivf-sample-mod", type=int, default=None, metavar="N",
        help="IVF training hash-sample modulus (keep 1 in N corpus "
        "rows for the driver-side Lloyd fit; default 2): raise it "
        "when a large seed corpus overflows the ~100k-row training "
        "budget. Training state — a committed store keeps the "
        "modulus it trained with (a mismatch refuses); with "
        "--ann-rebuild it overrides for the retrain and persists at "
        "the flip. Applies to --dedup-index ivf, --vector-index "
        "ivf, and --ann-rebuild",
    )
    p.add_argument(
        "--ann-stats", action="store_true",
        help="print one JSON line describing a stored vector index "
        "(--store-dir): live vector count, per-cell/bucket occupancy "
        "of the coarse partition (max/mean imbalance), CDC overlay "
        "size, rebuild count, featurizer stamp. For IVF stores the "
        "imbalance is the when-to-rebuild signal: a codebook fit to "
        "a corpus that has since drifted partitions the live set "
        "unevenly, and probe cost follows the biggest cells",
    )
    p.add_argument(
        "--bm25-stats", action="store_true",
        help="print one JSON line describing a stored BM25 index "
        "(--store-dir): live docs, avgdl (the scorer's length "
        "normalization state), postings and vocabulary size, CDC "
        "overlay, analyzer, and the highest-document-frequency terms "
        "with their df/N ratio — the lexical analog of --ann-stats' "
        "cell occupancy. A term with df/N near 1 bloats every "
        "matching query's postings slice while its idf scores "
        "~nothing: measure here, then choose --bm25-analyzer "
        "standard_stop/standard_stem (a fresh index) to drop or fold "
        "exactly those",
    )
    p.add_argument(
        "--ann-no-scan", action="store_true",
        help="with --ann-stats: answer from the manifest alone — "
        "overlay/rebuild/featurizer state plus the rebuild policy's "
        "incremental occupancy counters (imbalance_tracked and the "
        "cell stats derived from them) when the store carries them; "
        "skips the exact corpus scan (live_vectors, exact "
        "imbalance). The operational form at corpus sizes where even "
        "one column-pruned keys scan is a real cost; the tracked "
        "statistic is exact at every compact/rebuild boundary and a "
        "gross upper envelope between them",
    )
    p.add_argument(
        "--ann-frontier", action="store_true",
        help="measure a stored vector index's probe-width frontier "
        "(--store-dir): one JSON line per width — IVF sweeps nprobe "
        "1..--ann-frontier-max-width, sign-LSH sweeps --probe-hamming "
        "0..2 — with the mean "
        "exact-rerank candidates per query (the serving cost) and "
        "mean recall@10 vs brute-force exact cosine over the live "
        "corpus, using a deterministic hash-sample of held vectors "
        "as queries — the operational form of the "
        "ann_probe_cost_frontier registry eval: measure here, pick "
        "--ann-nprobe / --probe-hamming, automate IVF rebuilds with "
        "--ann-rebuild-when",
    )
    p.add_argument(
        "--ann-frontier-queries", type=int, default=5, metavar="Q",
        help="query-sample size for --ann-frontier (default 5): the "
        "Q held vectors with the smallest (h32(vec_id), vec_id)",
    )
    p.add_argument(
        "--ann-frontier-max-width", type=int, default=None, metavar="N",
        help="widest nprobe the --ann-frontier sweep prices for an "
        "IVF store (default: the registry eval's IVF_FRONTIER_MAX, "
        "so CLI and ann_probe_cost_frontier measure the same range; "
        "always clamped to the codebook's cell count). The sign-LSH "
        "sweep is unaffected (its dial is Hamming width 0..2 — "
        "wider perturbation sets grow combinatorially, not linearly)",
    )
    p.add_argument(
        "--ann-rebuild", action="store_true",
        help="retrain a stored IVF vector index (--store-dir): "
        "re-fit the coarse codebook over the CURRENT live corpus "
        "and reassign every live vector under it, cut over as ONE "
        "atomic manifest flip (crash-safe: the old geometry serves "
        "until the flip; epoch-less, so a paired stream's numbering "
        "is untouched). Use after the corpus has grown or drifted "
        "past the seed batch the frozen codebook was trained on; "
        "prints a JSON summary",
    )
    p.add_argument(
        "--bm25-analyzer", default=None,
        choices=("whitespace", "standard", "standard_stop",
                 "standard_stem"),
        help="tokenizer for a FRESH --bm25-store index: whitespace "
        "(lowercase + whitespace split; the default), standard "
        "(lowercase + ASCII-alnum runs, so 'Priority.' matches "
        "'priority'), standard_stop (standard + drop the classic "
        "English stopword list, so 'the' indexes and scores "
        "nothing), or standard_stem (standard_stop + a plural-only "
        "S-removal stemmer, so 'priorities' matches 'priority'). "
        "The analyzer is index state — an existing "
        "store keeps the analyzer it was built with, and passing a "
        "different one here is an error, not a silent re-tokenize",
    )
    p.add_argument("-v", "--verbose", action="store_true")
    return p


def _write_docs(runner, args, out=sys.stdout) -> None:
    """Flush every index's current documents to the configured sinks."""
    writers = (
        runner.writers(args.search_url) if args.search_url else {}
    )
    for name, eng in runner.engines.items():
        # the tree's config-declared plugin chain runs on the way OUT
        # to the sinks (ref: pgsync/sync.py:1571-1572)
        docs = eng.docs_for_sink()
        if docs is None:
            continue
        if args.sink_dir:
            from .sinks.jsonl import write_jsonl

            path = os.path.join(args.sink_dir, name)
            write_jsonl(docs, path)
            if args.verbose:
                print(f"[{name}] wrote JSONL to {path}", file=out)
        if args.search_url:
            writer = writers[name]
            if not args.no_create_index:
                from .plans.sqlgen import compile_assembled

                typed, _ = compile_assembled(
                    runner.catalog, eng.tree, structured=True
                )
                writer.create_index(eng.tree, typed.schema)
            writer.upsert(docs)
            if args.verbose:
                print(
                    f"[{name}] bulk-upserted to "
                    f"{args.search_url}/{writer.index}",
                    file=out,
                )


class _Refused(Exception):
    """A refusal main() prints to stderr and exits 2 on."""


@contextlib.contextmanager
def _session(spark, app_name: str):
    """Yield ``spark``; when the caller injected none, a session built
    for this run and stopped when the mode ends."""
    if spark is not None:
        yield spark
        return
    from .session import get_spark

    spark = get_spark(app_name=app_name)
    try:
        yield spark
    finally:
        spark.stop()


@contextlib.contextmanager
def _store(flag: str, load, spark, path: str | None, **state):
    """Yield the index an index class's ``load(spark, path, **state)``
    opens, closed when the mode ends. A store ``load`` rejects
    (missing, unreadable, foreign, or built with other state) refuses
    the mode with the rc=2 stderr message, never a raw traceback."""
    try:
        idx = load(spark, path, **state)
    except (OSError, ValueError) as e:
        raise _Refused(f"{flag}: cannot load {path}: {e}") from None
    try:
        yield idx
    finally:
        idx.close()


@contextlib.contextmanager
def _configured(args, spark):
    """The config modes' shared setup: a session, the config's trees
    and a catalog over --data-dir."""
    with _session(spark, "pgsync_spark_cli") as spark:
        yield config_loader(args.config), Catalog(spark, args.data_dir)


def _run_dedup_stream(args, spark, out) -> int:
    """The --dedup-stream mode: JSON doc stream → incremental dedup
    index probe → accepted/decisions(/stats) under --dedup-out."""
    from .functions.bm25_index import BM25Index
    from .functions.dedup_index import EmbeddingIndex, MinHashIndex
    from .functions.vector_index import VectorIndex
    from .streaming.stream import DEDUP_DOCS_SCHEMA, start_dedup_stream

    if args.store_dir and os.path.abspath(
        args.dedup_out
    ) == os.path.abspath(args.store_dir):
        # both write decisions/epoch=N under their root; the stream
        # itself also refuses, but fail before a Spark session spins
        raise _Refused(
            "--dedup-out must differ from --store-dir (both hold "
            "decisions/epoch=N)"
        )
    # arg-only compatibility checks FIRST — an incompatible flag
    # combination is knowable before paying a store load
    if args.bm25_analyzer is not None and args.dedup_index != "bm25":
        raise _Refused("--bm25-analyzer applies only to --dedup-index bm25")
    if args.ivf_sample_mod is not None and (
        args.dedup_index != "ivf" or args.ivf_sample_mod < 1
    ):
        raise _Refused("--ivf-sample-mod needs --dedup-index ivf and N >= 1")
    if args.probe_hamming is not None and args.dedup_index not in (
        "embedding",
        "vector",
    ):
        # the IVF probe set is the nprobe cell list — a Hamming
        # width would be silently ignored, so refuse that too
        raise _Refused(
            "--probe-hamming applies only to --dedup-index embedding/vector"
        )
    # each index class with the store state the flags request (None
    # adopts a committed store's own; a fresh store takes it)
    cls, state = {
        "minhash": (MinHashIndex, {}),
        "embedding": (EmbeddingIndex, {}),
        "bm25": (BM25Index, {"analyzer": args.bm25_analyzer}),
        "vector": (VectorIndex, {"family": "lsh"}),
        "ivf": (
            VectorIndex,
            {"family": "ivf", "sample_mod": args.ivf_sample_mod},
        ),
    }[args.dedup_index]
    vec_shaped = args.dedup_index in ("embedding", "vector", "ivf")
    schema = (
        "vec_id bigint, embedding array<float>"
        if vec_shaped
        else DEDUP_DOCS_SCHEMA
    )
    if args.cdc_ops:
        # CDC-shaped stream: rows carry op ('d' = delete, else upsert);
        # the stream routes such batches to index.apply_cdc — all three
        # index classes support the lifecycle (r8). The docs shape IS
        # the public CDC_DOCS_SCHEMA constant (one definition; only the
        # embedding schema derives locally).
        from .streaming.stream import CDC_DOCS_SCHEMA

        schema = (
            schema + ", op string" if vec_shaped else CDC_DOCS_SCHEMA
        )
    with (
        _session(spark, "pgsync_spark_dedup") as spark,
        # load() resumes a committed store, starts fresh on an empty
        # dir (or store-less without --store-dir), and refuses a torn
        # or pre-manifest store (a fresh index over one would silently
        # forget the held corpus), one written by another index class,
        # or one built with other store state
        _store("--dedup-stream", cls.load, spark, args.store_dir, **state)
        as index,
    ):
        # "has a TRAINED codebook" is the loaded index's content, not
        # whether a manifest exists: a truncated IVF store commits
        # ivf_cents=None and must refuse like a fresh one
        ivf_untrained = args.dedup_index == "ivf" and not index._cents
        if ivf_untrained and args.cdc_ops:
            # a CDC stream routes every batch to apply_cdc, which a
            # trained index refuses until a seed ingest trained the
            # codebook — there is no path to train inside a CDC
            # stream, so refuse up front instead of dying in
            # foreachBatch
            raise _Refused(
                "--dedup-index ivf --cdc-ops needs a TRAINED store: "
                "seed it first with a plain --dedup-stream run (the "
                "first batch trains the codebook), then point "
                "--cdc-ops at the committed --store-dir"
            )
        if ivf_untrained:
            # the codebook trains on the FIRST micro-batch and
            # freezes — and "first batch" is a file-listing prefix
            # bounded by --max-files-per-trigger, not "the seed
            # corpus". Warn loudly: a partial first batch silently
            # freezes an unrepresentative codebook
            print(
                "note: --dedup-index ivf trains its frozen codebook "
                "on the FIRST micro-batch only (at most "
                f"--max-files-per-trigger={args.max_files_per_trigger} "
                "files) — make sure that batch holds the whole seed "
                "corpus, or raise the trigger size for the seeding "
                "run",
                file=sys.stderr,
            )
        if args.probe_hamming is not None:
            # the width is a probe-time behavior, not store state, so
            # it is set on the opened index, whichever way it opened
            index.probe_hamming = args.probe_hamming
        q = start_dedup_stream(
            spark,
            index,
            args.dedup_stream,
            args.checkpoint_dir,
            args.dedup_out,
            schema=schema,
            max_files_per_trigger=args.max_files_per_trigger,
            drift_column=args.drift_column,
            compact_every=args.compact_every,
            rebind=args.rebind,
            poll_interval=args.polling,
            pre_filter=args.pre_filter,
            drift_alert_kl=args.drift_alert_kl,
        )
        if args.drain:
            q.processAllAvailable()
            q.stop()
        else:
            q.awaitTermination()
        if args.verbose:
            print(
                f"dedup stream over {args.dedup_stream} -> "
                f"{args.dedup_out}",
                file=out,
            )
    return 0


def _store_dim(idx) -> int | None:
    """A vector store's embedding dimension: the trained codebook's
    when there is one, else one peeked live vector (tombstones carry
    NULL embeddings — skip them); None for an empty store."""
    from pyspark.sql import functions as F

    if getattr(idx, "_cents", None):
        return len(idx._cents[0])
    if idx.vals is not None:
        row = (
            idx.vals.filter(F.col("embedding").isNotNull())
            .select(F.size("embedding").alias("d"))
            .limit(1)
            .collect()
        )
        if row:
            return row[0]["d"]
    return None


def _run_hybrid_topk(args, spark, out) -> int:
    """--hybrid-topk: the read side of running --bm25-store AND
    --vector-store on one engine (the engine_sync_hybrid_topk
    topology): BM25 top-50 from the lexical store ⊎ ANN top-50 from
    the vector store, fused by reciprocal-rank fusion in exact
    fixed-point nano-units. The fusion runs driver-side over ≤100
    candidate rows — no extra Spark job beyond the two leg reads."""
    import json
    import math

    from .functions.bm25_index import BM25Index
    from .functions.hashing import hash_embed_py, is_hash_embed_sql
    from .functions.vector_index import VectorIndex

    # THE fusion constants — imported from the oracle-gated query so
    # the CLI can never silently diverge from the arithmetic
    # engine_sync_hybrid_topk proves (r10 review pass 3: these were
    # hand-copied literals)
    from .queries import _ENGINE_HYB_CAND_K as _HYB_CAND_K
    from .queries import HYBRID_RRF_K

    _HYB_RRF_K = float(HYBRID_RRF_K)

    q = args.hybrid_topk.strip()
    if not q:
        raise _Refused("--hybrid-topk needs query text")
    with (
        _session(spark, "pgsync_spark_hybrid") as spark,
        _store(
            "--hybrid-topk", BM25Index.load, spark, args.store_dir,
            must_exist=True,
        ) as bidx,
        _store(
            "--hybrid-topk", VectorIndex.load, spark, args.ann_store_dir,
            must_exist=True,
        ) as vidx,
    ):
        try:
            if (
                vidx.feature_expr is not None
                and not is_hash_embed_sql(vidx.feature_expr)
            ):
                raise ValueError(
                    "the vector store's feature_expr "
                    f"{vidx.feature_expr!r} is not the hash "
                    "featurizer — text queries cannot match that "
                    "space"
                )
            qvec = hash_embed_py(q)
            err = _apply_nprobe(vidx, args)
            if err:
                raise _Refused(f"--hybrid-topk: {err}")
            dim = _store_dim(vidx)
            if dim is not None and dim != len(qvec):
                raise ValueError(
                    f"the vector store holds {dim}-dim vectors; the "
                    f"{len(qvec)}-dim hash featurizer cannot query it"
                )
            lex = {
                r["doc_id"]: r["rank"]
                for r in bidx.topk(
                    bidx.analyze_terms(q), k=_HYB_CAND_K
                ).collect()
            }
            qdf = spark.createDataFrame(
                [(0, qvec)],
                "query_id bigint, embedding array<double>",
            )
            sem = {
                r["neighbor_id"]: r["rank"]
                for r in vidx.topk(qdf, k=_HYB_CAND_K).collect()
            }
        except (OSError, ValueError) as e:
            raise _Refused(f"--hybrid-topk: {e}")

    def leg(rank):
        if rank is None:
            return 0
        return int(math.floor(1e9 / (_HYB_RRF_K + rank) + 0.5))

    fused = sorted(
        (
            (
                leg(lex.get(d)) + leg(sem.get(d)),
                d,
                lex.get(d),
                sem.get(d),
            )
            for d in set(lex) | set(sem)
        ),
        key=lambda t: (-t[0], t[1]),
    )[: args.topk_k]
    for i, (rrf, d, lr, sr) in enumerate(fused, 1):
        print(
            json.dumps(
                {
                    "doc_id": d,
                    "lex_rank": lr,
                    "sem_rank": sr,
                    "rrf_micro": rrf,
                    "fused_rank": i,
                },
                sort_keys=True,
            ),
            file=out,
        )
    return 0


def _apply_nprobe(idx, args) -> str | None:
    """Set --ann-nprobe on a loaded vector store; an error string
    refuses (LSH family, or out of range). Probe-time behavior — the
    constructor validates the same range for library callers."""
    if args.ann_nprobe is None:
        return None
    if not hasattr(idx, "rebuild"):
        return (
            "--ann-nprobe applies to IVF stores; this store was "
            f"written by {type(idx).__name__}, whose probe-width "
            "dial is --probe-hamming"
        )
    from .functions.similarity import IVF_CELLS

    if not 1 <= args.ann_nprobe <= IVF_CELLS:
        return (
            f"--ann-nprobe must be in [1, {IVF_CELLS}] (the codebook "
            f"has {IVF_CELLS} cells), got {args.ann_nprobe}"
        )
    idx.nprobe = args.ann_nprobe
    return None


def _run_ann_topk(args, spark, out) -> int:
    """--ann-topk: load the stored vector index and answer one query —
    the read side of the --vector-store / --dedup-index vector
    maintenance loops. QUERY is a JSON array literal (the vector
    itself) or text for the default hash featurizer."""
    import json

    from .functions.hashing import hash_embed_py, is_hash_embed_sql
    from .functions.vector_index import VectorIndex

    q = args.ann_topk.strip()
    if not q:
        raise _Refused("--ann-topk needs query text or a JSON vector")
    vec = None
    if q.startswith("["):
        try:
            vec = [float(x) for x in json.loads(q)]
        except (ValueError, TypeError) as e:
            raise _Refused(f"--ann-topk: not a JSON number array: {e}")
    from_text = vec is None
    if from_text:
        vec = hash_embed_py(q)
    with (
        _session(spark, "pgsync_spark_ann") as spark,
        _store(
            "--ann-topk", VectorIndex.load, spark, args.store_dir,
            must_exist=True,
        ) as idx,
    ):
        # feature-space gate for TEXT queries: featurizing query
        # text with the hash embedder is only meaningful against
        # vectors that are THEMSELVES hash featurizations of some
        # text — a store stamped with a non-hash featurizer (e.g.
        # a learned-encoder column) would serve same-dim garbage
        # cosines (r10 review pass 2). Explicit JSON vectors pass
        # regardless: the caller owns that contract.
        if (
            from_text
            and idx.feature_expr is not None
            and not is_hash_embed_sql(idx.feature_expr)
        ):
            raise _Refused(
                "--ann-topk: this store's vectors come from "
                f"feature_expr={idx.feature_expr!r}, not the hash "
                "featurizer — text queries cannot match that "
                "space; pass an explicit JSON vector instead"
            )
        err = _apply_nprobe(idx, args)
        if err:
            raise _Refused(f"--ann-topk: {err}")
        # dimension gate: a short query vector zip_with-pads to
        # NULL cosines (LSH) or dies in numpy broadcasting (IVF) —
        # refuse with the numbers instead
        dim = _store_dim(idx)
        if dim is not None and dim != len(vec):
            raise _Refused(
                f"--ann-topk: query vector has {len(vec)} dims "
                f"but the store holds {dim}-dim vectors — pass a "
                f"{dim}-dim JSON vector (text queries use the "
                f"{len(vec)}-dim hash featurizer and only fit "
                "stores built with it)"
            )
        qdf = spark.createDataFrame(
            [(0, vec)], "query_id bigint, embedding array<double>"
        )
        for r in (
            idx.topk(qdf, k=args.topk_k)
            .orderBy("rank")
            .select("neighbor_id", "cosine", "rank")
            .collect()
        ):
            print(json.dumps(r.asDict(), sort_keys=True), file=out)
    return 0


def _run_ann_frontier(args, spark, out) -> int:
    """--ann-frontier: the nprobe frontier of a STORED IVF index —
    per probe width, the mean exact-rerank candidates per query and
    the mean recall@10 vs brute-force exact cosine over the live
    corpus (self excluded). Queries are the Q live vectors with the
    smallest (h32(vec_id), vec_id) — deterministic, so two runs over
    one store compare. The operational form of the registry's
    ann_probe_cost_frontier: measure here, pick --ann-nprobe,
    automate rebuilds with --ann-rebuild-when."""
    import json

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from .functions.hashing import h32, round6
    from .functions.similarity import (
        IVF_CELLS,
        IVF_FRONTIER_MAX,
        TOP_K,
        cosine6,
    )
    from .functions.vector_index import VectorIndex

    with (
        _session(spark, "pgsync_spark_ann_frontier") as spark,
        _store(
            "--ann-frontier", VectorIndex.load, spark, args.store_dir,
            must_exist=True,
        ) as idx,
    ):
        held = []
        try:
            # each family sweeps ITS probe-width dial: IVF the nprobe
            # cell count (1..max_width), sign-LSH the Hamming multi-probe
            # width (0..2) — same output shape, the store's dial
            # named in each row
            is_ivf = hasattr(idx, "rebuild")
            nq = args.ann_frontier_queries
            if nq < 1:
                raise _Refused("--ann-frontier-queries must be >= 1")
            # the IVF sweep's widest nprobe: the registry eval's
            # IVF_FRONTIER_MAX unless overridden (r12 advice: the
            # hardcoded 5 would silently desync from the constant),
            # always clamped to the codebook's cell count
            max_width = args.ann_frontier_max_width
            if max_width is None:
                max_width = IVF_FRONTIER_MAX
            elif max_width < 1:
                raise _Refused("--ann-frontier-max-width must be >= 1")
            vals = idx.live("vals")
            if vals is None:
                raise _Refused("--ann-frontier: the store holds no vectors")
            live = vals.select("vec_id", "embedding").localCheckpoint(
                eager=True
            )
            held.append(live)
            n_live = live.count()
            q = (
                live.orderBy(
                    h32("CAST(vec_id AS STRING)"), "vec_id"
                )
                .limit(nq)
                .select(
                    F.col("vec_id").alias("query_id"), "embedding"
                )
                .localCheckpoint(eager=True)
            )
            held.append(q)
            nq = q.count()  # corpus smaller than Q serves them all
            if nq == 0:
                # vals existed but every row tombstoned away
                raise _Refused(
                    "--ann-frontier: the live corpus is empty "
                    "(every vector deleted)"
                )
            # exact ground truth: brute-force cosine over the live
            # corpus, self excluded — bounded by nq broadcast queries
            cos = cosine6("qv", "cv")
            scored = (
                live.select(
                    F.col("vec_id").alias("neighbor_id"),
                    F.col("embedding").alias("cv"),
                )
                .crossJoin(
                    F.broadcast(
                        q.select(
                            "query_id", F.col("embedding").alias("qv")
                        )
                    )
                )
                .filter(F.col("neighbor_id") != F.col("query_id"))
                .select("query_id", "neighbor_id", cos.alias("cosine"))
            )
            w = W.partitionBy("query_id").orderBy(
                F.col("cosine").desc(), "neighbor_id"
            )
            gt = {
                (r["query_id"], r["neighbor_id"])
                for r in scored.withColumn(
                    "rank", F.row_number().over(w)
                )
                .filter(F.col("rank") <= TOP_K)
                .collect()
            }
            widths = (
                [
                    ("nprobe", n)
                    for n in range(1, min(max_width, IVF_CELLS) + 1)
                ]
                if is_ivf
                else [("probe_hamming", h) for h in (0, 1, 2)]
            )
            for dial, n in widths:
                setattr(idx, dial, n)
                # the candidate set topk re-ranks, counted from the
                # same probe text
                with idx._views.lease() as view:
                    _, cand = idx._candidates_sql(
                        view, q, exclude_self=True
                    )
                    n_cand = spark.sql(
                        f"SELECT count(*) FROM {cand}"
                    ).first()[0]
                hits = {
                    (r["query_id"], r["neighbor_id"])
                    for r in idx.topk(q, exclude_self=True).collect()
                }
                print(
                    json.dumps(
                        {
                            "dial": dial,
                            dial: n,
                            "mean_candidates": round(n_cand / nq, 1),
                            "probed_fraction": round(
                                n_cand / nq / max(n_live, 1), 4
                            ),
                            "mean_recall": round(
                                len(hits & gt) / max(len(gt), 1), 4
                            ),
                            "queries": nq,
                            "live_vectors": n_live,
                        },
                        sort_keys=True,
                    ),
                    file=out,
                )
        finally:
            # an injected session (tests, embedding callers) outlives
            # this mode — the checkpoints must not pile up in it
            from . import caching

            for f in held:
                caching.release_local_checkpoint(f)
    return 0


def _run_ann_stats(args, spark, out) -> int:
    """--ann-stats: operational introspection of a stored vector
    index — the read-only half of the rebuild loop (measure the
    partition, decide, --ann-rebuild). One JSON line; works for both
    families (LSH reports per-(band, bucket) occupancy, IVF per-cell
    — for IVF the max/mean imbalance is the rebuild signal, see the
    r11 EXPLAIN measurement: a rebuild on a drifted corpus took
    max/mean 1.75 -> 1.40 and probe cost down 19%)."""
    import json

    from .functions.vector_index import VectorIndex

    with (
        _session(spark, "pgsync_spark_ann_stats") as spark,
        _store(
            "--ann-stats", VectorIndex.load, spark, args.store_dir,
            must_exist=True,
        ) as idx,
    ):
        stats = {
            "index": type(idx).__name__,
            "feature_expr": idx.feature_expr,
            "overlay_rows": idx._overlay_rows,
            "rebuilds": getattr(idx, "_rebuilds", None),
            "trained": bool(getattr(idx, "_cents", None))
            if hasattr(idx, "_cents")
            else None,
            "sample_mod": getattr(idx, "sample_mod", None),
        }
        tracked = idx.occupancy_counts
        if tracked is not None:
            # the store carries the policy's incremental
            # counters: print their reading too — the gap vs
            # "imbalance" IS the gross-envelope drift since the
            # last physical fold (zero at every boundary)
            ti = type(idx).occupancy_imbalance(tracked)
            stats["imbalance_tracked"] = (
                round(ti, 2) if ti is not None else None
            )
        if args.ann_no_scan:
            # manifest-only answer: no corpus scan, no exact
            # imbalance / live_vectors — the cell stats derive
            # from the tracked counters when the store has them
            if tracked:
                n = list(tracked.values())
                stats.update(
                    {
                        "cells_used": len(n),
                        "occupancy_max": max(n),
                        "occupancy_mean": round(sum(n) / len(n), 1),
                    }
                )
            print(json.dumps(stats, sort_keys=True), file=out)
            return 0
        stats["live_vectors"] = 0
        if idx.keys is not None:
            vals = idx.live("vals")
            # THE occupancy statistic (VectorIndex.occupancy_*):
            # the exact scan-derived counts here, the maintainer's
            # rebuild policy reads the incremental-counter form of
            # the SAME definition — one implementation, two count
            # sources (equal at every compaction boundary)
            counts = idx.live_cell_counts()
            imb = type(idx).occupancy_imbalance(counts)
            if counts:
                n = list(counts.values())
                stats.update(
                    {
                        "live_vectors": vals.select(
                            "vec_id"
                        )
                        .distinct()
                        .count()
                        if vals is not None
                        else 0,
                        "cells_used": len(n),
                        "occupancy_max": max(n),
                        "occupancy_mean": round(
                            sum(n) / len(n), 1
                        ),
                        "imbalance": round(imb, 2),
                    }
                )
        print(json.dumps(stats, sort_keys=True), file=out)
    return 0


def _run_ann_rebuild(args, spark, out) -> int:
    """--ann-rebuild: load the stored vector index, retrain its
    coarse codebook over the CURRENT live corpus, and reassign every
    live vector under it behind ONE atomic manifest flip
    (IVFVectorIndex.rebuild — the retrain-is-a-rebuild half of the
    FAISS discipline; the reference-side analog is the cluster
    reindex a knn_vector mapping change forces)."""
    import json

    from .functions.vector_index import VectorIndex

    with (
        _session(spark, "pgsync_spark_ann_rebuild") as spark,
        _store(
            "--ann-rebuild", VectorIndex.load, spark, args.store_dir,
            must_exist=True,
        ) as idx,
    ):
        if not hasattr(idx, "rebuild"):
            raise _Refused(
                "--ann-rebuild applies only to IVF vector stores "
                "(--dedup-index ivf): this store was written by "
                f"{type(idx).__name__}, whose sign-LSH keys are "
                "data-independent and never need retraining"
            )
        if args.ivf_sample_mod is not None:
            if args.ivf_sample_mod < 1:
                raise _Refused("--ivf-sample-mod must be >= 1")
            # a rebuild IS the sanctioned moment to change the
            # training budget — the retrain samples under the new
            # modulus and the flip persists it as the store's
            idx.sample_mod = args.ivf_sample_mod
        try:
            idx.rebuild()
        except ValueError as e:
            # unseeded/empty store, or a corpus too small (or too
            # large) for the training sample — the rebuild left
            # the old geometry fully live
            raise _Refused(f"--ann-rebuild: {e}")
        live = idx.vals.count() if idx.vals is not None else 0
        print(
            json.dumps(
                {
                    "rebuilt": True,
                    "live_vectors": live,
                    "rebuilds": idx._rebuilds,
                    "cells": len(idx._cents),
                },
                sort_keys=True,
            ),
            file=out,
        )
    return 0


def _run_bm25_topk(args, spark, out) -> int:
    """--bm25-topk: load the stored inverted index and answer one
    query — the read side of the --dedup-stream --dedup-index bm25
    maintenance loop."""
    import json

    from .functions.bm25_index import BM25Index

    if not args.bm25_topk.strip():
        raise _Refused("--bm25-topk needs at least one term")
    with (
        _session(spark, "pgsync_spark_bm25") as spark,
        _store(
            "--bm25-topk", BM25Index.load, spark, args.store_dir,
            must_exist=True,
        ) as idx,
    ):
        # analyze the query with the analyzer THE STORE was built
        # with (manifest-restored by load) — terms tokenized
        # differently from the postings match nothing
        terms = idx.analyze_terms(args.bm25_topk)
        for r in idx.topk(terms, k=args.topk_k).collect():
            print(json.dumps(r.asDict(), sort_keys=True), file=out)
    return 0


def _run_bm25_stats(args, spark, out) -> int:
    """--bm25-stats: operational introspection of a stored lexical
    index — the measure half of the analyzer dial, mirroring
    --ann-stats for the vector side. The df/N column is the signal:
    BM25's idf is ~log((N-df+.5)/(df+.5)), so a term held by most of
    the corpus contributes ~zero score yet its postings rows dominate
    every query slice that touches it — exactly what the
    standard_stop/standard_stem analyzers exist to drop or fold.

    One-shot diagnostic: one overlay-folded scan of docstats (N,
    avgdl) and one of postings (rows, vocabulary, top-df terms via
    map-side combine + TakeOrdered). Not a per-batch path."""
    import json

    from pyspark.sql import functions as F

    from .functions.bm25_index import BM25Index

    with (
        _session(spark, "pgsync_spark_bm25_stats") as spark,
        _store(
            "--bm25-stats", BM25Index.load, spark, args.store_dir,
            must_exist=True,
        ) as idx,
    ):
        keys, vals = idx.live("keys"), idx.live("vals")
        stats = {
            "index": "BM25Index",
            "analyzer": idx.analyzer,
            "overlay_rows": idx._overlay_rows,
            "live_docs": 0,
        }
        if vals is not None:
            drow = vals.agg(
                F.count(F.lit(1)).alias("n"),
                F.avg("dl").alias("avgdl"),
            ).first()
            stats.update(
                {
                    "live_docs": drow["n"],
                    "avgdl": round(drow["avgdl"], 2)
                    if drow["avgdl"] is not None
                    else None,
                }
            )
            if keys is not None and drow["n"]:
                prow = keys.agg(
                    F.count(F.lit(1)).alias("rows"),
                    F.countDistinct("term").alias("vocab"),
                ).first()
                stats.update(
                    {
                        "postings_rows": prow["rows"],
                        "vocabulary": prow["vocab"],
                    }
                )
                # postings hold one live row per (term, doc), so
                # the per-term row count IS df
                stats["top_df"] = [
                    {
                        "term": r["term"],
                        "df": r["df"],
                        "df_ratio": round(r["df"] / drow["n"], 4),
                    }
                    for r in keys.groupBy("term")
                    .agg(F.count(F.lit(1)).alias("df"))
                    .orderBy(F.col("df").desc(), "term")
                    .limit(10)
                    .collect()
                ]
        print(json.dumps(stats, sort_keys=True), file=out)
    return 0


def _run_export_shards(args, spark, out) -> int:
    """--export-shards: parquet docs → token-budgeted training shards
    + MANIFEST.json under --export-out."""
    from .sinks.shards import (
        SHARD_TOKEN_BUDGET,
        WRITER_LANES,
        write_training_shards,
    )

    with _session(spark, "pgsync_spark_export") as spark:
        manifest = write_training_shards(
            spark.read.parquet(args.export_shards),
            args.export_out,
            budget=args.shard_budget or SHARD_TOKEN_BUDGET,
            lanes=args.shard_lanes or WRITER_LANES,
        )
    print(
        f"exported {manifest['n_docs']} docs / "
        f"{manifest['n_tokens']} tokens as "
        f"{manifest['n_shards']} shards (v{manifest['version']}) "
        f"to {args.export_out}",
        file=out,
    )
    return 0


def _run_analyze(args, spark, out) -> int:
    """--analyze: join-key/index advice per tree (ref: sync.py:
    2360-2366 ``sync.analyze()``)."""
    from .advisor import analyze_report

    with _configured(args, spark) as (trees, catalog):
        for tree in trees:
            print(f"== {tree.index or tree.root.table} ==", file=out)
            print(analyze_report(catalog, tree), file=out)
    return 0


def _run_validate(args, spark, out) -> int:
    """--validate: the engine's DuckDB-oracle correctness gate as a
    user command — compile each tree, generate its oracle SQL from
    the SAME node config, run both against --data-dir, compare row
    multisets; exit 1 on any mismatch. No reference analog: the
    reference has no second engine to check against. The Spark side
    is the same compile every sync runs."""
    from .plans.oracle import oracle_doc_sql
    from .plans.sqlgen import compile_assembled
    from .testing import compare

    with _configured(args, spark) as (trees, catalog):

        def columns_of(t: str) -> list:
            return catalog.df(t).columns

        def column_type_of(t: str, c: str) -> str:
            dt = dict(catalog.df(t).dtypes)[c]
            if dt.startswith("timestamp"):
                return "timestamp"
            if dt == "date":
                return "date"
            return "other"

        failed = []
        for tree in trees:
            name = tree.index or tree.root.table
            df, _ = compile_assembled(catalog, tree)
            sql = oracle_doc_sql(
                tree, catalog.tables, columns_of, column_type_of
            )
            ok, msg = compare(df, sql, args.data_dir)
            print(f"{'PASS' if ok else 'FAIL'} {name}: {msg[:300]}", file=out)
            if not ok:
                failed.append(name)
    return 1 if failed else 0


def _run_print_mapping(args, spark, out) -> int:
    """--print-mapping: the bin/es_mapping analog — emit each index's
    generated body (settings + mappings) without touching any
    cluster."""
    import json

    from .plans.sqlgen import compile_assembled
    from .sinks.search import build_index_mapping

    with _configured(args, spark) as (trees, catalog):
        for tree in trees:
            typed, _ = compile_assembled(catalog, tree, structured=True)
            body = build_index_mapping(tree, typed.schema)
            print(f"== {tree.index or tree.root.table} ==", file=out)
            print(json.dumps(body, indent=2, sort_keys=True), file=out)
    return 0


def _run_sync(args, spark, out) -> int:
    """The default mode: the reference's one-shot ``pull()`` (full
    sync, or restore from --store-dir), optionally followed by the
    --daemon CDC stream, then the sink write and the state save."""
    from .streaming.runner import SyncRunner

    if args.ann_rebuild_when is not None:
        # the policy is meaningless for LSH (data-independent keys
        # never retrain) — the per-store family check happens at
        # maintainer construction (a loaded store may be IVF without
        # --vector-index), but an EXPLICIT lsh is refusable now
        if not args.ann_rebuild_when > 1:
            raise _Refused(
                "--ann-rebuild-when must be > 1 (max/mean occupancy "
                "imbalance; 1.0 is perfectly balanced)"
            )
        if args.vector_index == "lsh":
            raise _Refused(
                "--ann-rebuild-when needs an IVF store "
                "(--vector-index ivf): sign-LSH keys are "
                "data-independent and never retrain"
            )
    if args.ivf_sample_mod is not None and (
        args.vector_index != "ivf" or args.ivf_sample_mod < 1
    ):
        raise _Refused("--ivf-sample-mod needs --vector-index ivf and N >= 1")
    with _configured(args, spark) as (trees, catalog):
        runner = SyncRunner(catalog.spark, trees, catalog)
        try:
            return _sync(runner, args, out)
        finally:
            # error paths too: a failed _write_docs/store.save must not
            # leak the shared materializer's snapshot checkpoints or
            # leave the catalog serving CDC-overlay views (visible when
            # a long-lived caller injects spark=, where only an owned
            # session is stopped)
            runner.close()


class _Mode(NamedTuple):
    """One row of the mode table: the runner, the flags that must be
    given with the mode (``"a|b"``: at least one of them), and every
    other flag the mode reads, mapped to the flags it needs beside it
    (a modifier's parent, same notation)."""

    run: Callable[..., int]
    requires: tuple[str, ...] = ()
    reads: dict[str, tuple[str, ...]] = {}


def _free(*flags: str) -> dict[str, tuple[str, ...]]:
    """Flags a mode reads on their own, with no parent flag."""
    return dict.fromkeys(flags, ())


def _modes() -> dict[str | None, _Mode]:
    """THE mode table, keyed by the flag that selects each mode; None
    is the default config-driven sync. Built per call, so main()
    dispatches to whatever each runner name is bound to (a test can
    stub a runner)."""
    store = ("store_dir",)
    config = ("config",)
    return {
        "hybrid_topk": _Mode(
            _run_hybrid_topk,
            ("store_dir", "ann_store_dir"),
            _free("topk_k", "ann_nprobe"),
        ),
        "ann_topk": _Mode(
            _run_ann_topk, store, _free("topk_k", "ann_nprobe")
        ),
        "bm25_topk": _Mode(_run_bm25_topk, store, _free("topk_k")),
        "bm25_stats": _Mode(_run_bm25_stats, store),
        "ann_frontier": _Mode(
            _run_ann_frontier,
            store,
            _free("ann_frontier_queries", "ann_frontier_max_width"),
        ),
        "ann_stats": _Mode(_run_ann_stats, store, _free("ann_no_scan")),
        "ann_rebuild": _Mode(
            _run_ann_rebuild, store, _free("ivf_sample_mod")
        ),
        "dedup_stream": _Mode(
            _run_dedup_stream,
            ("checkpoint_dir", "dedup_out"),
            {
                **_free(
                    "store_dir", "dedup_index", "drift_column",
                    "probe_hamming", "compact_every", "rebind",
                    "pre_filter", "cdc_ops", "bm25_analyzer",
                    "ivf_sample_mod", "max_files_per_trigger",
                    "polling", "drain", "verbose",
                ),
                # alerting without a monitored column would arm nothing
                "drift_alert_kl": ("drift_column",),
            },
        ),
        "export_shards": _Mode(
            _run_export_shards,
            ("export_out",),
            _free("shard_budget", "shard_lanes"),
        ),
        "analyze": _Mode(_run_analyze, config, _free("data_dir")),
        "validate": _Mode(_run_validate, config, _free("data_dir")),
        "print_mapping": _Mode(
            _run_print_mapping, config, _free("data_dir")
        ),
        None: _Mode(
            _run_sync,
            ("config", "sink_dir|search_url|bm25_store|vector_store"),
            {
                **_free("data_dir", "store_dir", "verbose"),
                "daemon": ("events_dir", "checkpoint_dir"),
                **dict.fromkeys(
                    (
                        "drain", "polling", "events_dir",
                        "checkpoint_dir", "max_files_per_trigger",
                    ),
                    ("daemon",),
                ),
                "no_create_index": ("search_url",),
                **dict.fromkeys(
                    ("bm25_text_expr", "bm25_analyzer"), ("bm25_store",)
                ),
                # the vector maintainer's dials, the codebook-training
                # budget included
                **dict.fromkeys(
                    (
                        "vector_expr", "vector_index",
                        "ann_rebuild_when", "ivf_sample_mod",
                    ),
                    ("vector_store",),
                ),
                # the shared segment-maintenance dial of both
                # engine-owned stores
                "compact_every": ("bm25_store|vector_store",),
            },
        ),
    }


def _mode_for(argv: list[str] | None) -> _Mode:
    """The one mode ``argv`` selects, checked against the table: more
    than one mode, a missing required flag, a flag the mode does not
    read, or a modifier without its parent refuses. Only flags
    actually on the command line count — one passed at its default
    value too, which comparing values with the defaults cannot see."""
    parser = build_parser()
    flag = {a.dest: a.option_strings[-1] for a in parser._actions}
    for a in parser._actions:
        a.default = argparse.SUPPRESS
    given = set(vars(parser.parse_args(argv)))
    modes = _modes()

    def label(key):
        return flag[key] if key else "sync (no mode flag)"

    def named(mode):
        return {f for r in mode.requires for f in r.split("|")} | set(
            mode.reads
        )

    def missing(req):
        return not given & set(req.split("|"))

    def alternatives(req):
        return " or ".join(flag[f] for f in req.split("|"))

    chosen = [key for key in modes if key in given]
    if len(chosen) > 1:
        raise _Refused(
            "one mode per invocation; got "
            + ", ".join(flag[key] for key in chosen)
        )
    key = chosen[0] if chosen else None
    mode = modes[key]
    unread = sorted(given - named(mode) - {key})
    if unread:
        raise _Refused(
            f"{label(key)} does not read "
            f"{', '.join(flag[f] for f in unread)}; remove it"
        )
    for req in mode.requires:
        if missing(req):
            raise _Refused(f"{label(key)} requires {alternatives(req)}")
    for f in sorted(given & set(mode.reads)):
        for req in mode.reads[f]:
            if missing(req):
                raise _Refused(f"{flag[f]} requires {alternatives(req)}")
    return mode


def main(argv: list[str] | None = None, spark=None, out=sys.stdout) -> int:
    """Run the CLI. ``spark``/``out`` are injectable for tests; when
    ``spark`` is None a session is built with the engine defaults."""
    args = build_parser().parse_args(argv)
    try:
        return _mode_for(argv).run(args, spark, out)
    except _Refused as e:
        print(e, file=sys.stderr)
        return 2


def _compact_every(args) -> dict:
    """--compact-every as a maintainer keyword: unset keeps the
    maintainer's own default cadence."""
    if args.compact_every is None:
        return {}
    return {"compact_every": args.compact_every}


def _attach(m, eng, args, out, what: str) -> None:
    """Hang an engine-owned index maintainer on a tree's engine,
    seeding it from the synced corpus when its store holds no
    committed epoch yet."""
    fresh = m.index.next_epoch() == 0
    if fresh:
        m.seed(eng.docs_for_sink())
    eng.doc_consumers.append(m)
    if args.verbose:
        print(f"{what} ({'seeded' if fresh else 'loaded'})", file=out)


def _maintainers(runner, args, stores_open) -> list:
    """Open every engine-owned index store and build its maintainer,
    as (engine, maintainer, label) triples — BEFORE the sync, so a
    store that refuses (other analyzer, featurizer or family, a
    foreign class, --ann-rebuild-when on an LSH store) exits 2 without
    paying for a full sync first; seeding needs the synced corpus and
    runs after it (_attach). ``stores_open`` closes every opened
    index, a refusal on the Nth tree's store included."""
    spark = runner.spark
    out = []
    if args.bm25_store:
        # engine-owned search index per tree (the reference's
        # sync→index topology with the index state in-engine): seed a
        # fresh store from the just-synced corpus, or reload an
        # existing one and let CDC batches carry it forward. Delivery
        # is at-least-once and the maintainer is effect-idempotent
        # (streaming/index_sync.py), so a replayed batch converges.
        from .functions.bm25_index import BM25Index
        from .streaming.index_sync import (
            SearchIndexMaintainer,
            default_id_expr,
        )

        for name, eng in runner.engines.items():
            path = os.path.join(args.bm25_store, name)
            idx = stores_open.enter_context(
                _store(
                    "--bm25-store", BM25Index.load, spark, path,
                    analyzer=args.bm25_analyzer,
                )
            )
            m = SearchIndexMaintainer(
                idx,
                # schema-derived, so the same tree keys the same store
                # identically every run: integral single-PK trees cast
                # _id directly; composite/string PKs take the 60-bit
                # hash recipe (HASH64_ID_EXPR)
                id_expr=default_id_expr(eng),
                text_expr=args.bm25_text_expr or "doc",
                # the shared segment-maintenance dial: unset keeps the
                # maintainer's default cadence; 0 disables
                # (overlay_cap still bounds the fold by size)
                **_compact_every(args),
            )
            out.append(
                (eng, m, f"[{name}] engine-owned BM25 index at {path}")
            )

    if args.vector_store:
        # the Embedding side of the same topology (the reference's
        # embedding plugin → dense_vector/knn_vector kNN): a
        # VectorIndex per tree, vectors derived from doc content
        # (deterministic hash featurizer by default — any encoder
        # emitting array<double> slots into --vector-expr)
        from .functions.vector_index import (
            DEFAULT_FEATURE_EXPR,
            VectorIndex,
        )
        from .streaming.index_sync import (
            VectorIndexMaintainer,
            default_id_expr,
        )

        # the featurizer, family and IVF training budget are store
        # state: a fresh store takes them, a committed one keeps its
        # own (an unset family reloads whichever wrote it)
        vec_expr = args.vector_expr or DEFAULT_FEATURE_EXPR
        for name, eng in runner.engines.items():
            path = os.path.join(args.vector_store, name)
            idx = stores_open.enter_context(
                _store(
                    "--vector-store", VectorIndex.load, spark, path,
                    family=args.vector_index,
                    feature_expr=vec_expr,
                    sample_mod=args.ivf_sample_mod,
                )
            )
            try:
                m = VectorIndexMaintainer(
                    idx,
                    id_expr=default_id_expr(eng),
                    vec_expr=vec_expr,
                    rebuild_when=args.ann_rebuild_when,
                    **_compact_every(args),
                )
            except ValueError as e:
                # --ann-rebuild-when against a loaded LSH store: the
                # maintainer refuses (no rebuild() to fire)
                raise _Refused(f"[{name}] {e}") from None
            out.append(
                (eng, m, f"[{name}] engine-owned vector index at {path}")
            )
    return out


def _sync(runner, args, out) -> int:
    """The sync body proper (open index stores → full/restore →
    attach → optional daemon → write → save). Split out of
    _run_sync() so the caller can guarantee runner.close() on EVERY
    exit path, including raises from _write_docs/store.save."""
    spark = runner.spark
    with contextlib.ExitStack() as stores_open:
        maintainers = _maintainers(runner, args, stores_open)
        stores: dict = {}
        if args.store_dir:
            from .sinks.store import DocStore

            for name, eng in runner.engines.items():
                store = DocStore(spark, os.path.join(args.store_dir, name))
                stores[name] = store
                if store.load(eng):
                    if args.verbose:
                        print(f"[{name}] restored saved state", file=out)
                else:
                    eng.full_sync()
        else:
            runner.full_sync()
        if args.verbose:
            for name, eng in runner.engines.items():
                print(f"[{name}] synced: {eng.docs.count()} docs", file=out)
        for eng, m, what in maintainers:
            _attach(m, eng, args, out, what)

        if args.daemon:
            from .streaming.stream import start_cdc_stream

            query = start_cdc_stream(
                spark,
                runner,
                args.events_dir,
                args.checkpoint_dir,
                max_files_per_trigger=args.max_files_per_trigger,
                poll_interval=args.polling,
            )
            try:
                if args.drain:
                    query.processAllAvailable()
                else:
                    query.awaitTermination()
            finally:
                query.stop()

        _write_docs(runner, args, out=out)
        for name, store in stores.items():
            version = store.save(runner.engines[name])
            if args.verbose:
                print(f"[{name}] saved state v{version}", file=out)
    if args.verbose and runner.checkpoint is not None:
        print(f"checkpoint: txid {runner.checkpoint}", file=out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
