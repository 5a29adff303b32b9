"""CLI entry-point tests: ``python -m pgsync_spark`` (ref: bin/pgsync,
pgsync/sync.py:2156-2447). Drives main() with an injected session so
the suite shares one JVM."""

import glob
import io
import itertools
import json
import os

import pytest

from pgsync_spark.__main__ import main

from conftest import SF_DIR


def _config(tmp_path):
    cfg = tmp_path / "schema.json"
    cfg.write_text(
        json.dumps(
            [
                {
                    "index": "orders_cli",
                    "nodes": {
                        "table": "orders",
                        "columns": [
                            "o_orderkey",
                            "o_custkey",
                            "o_orderpriority",
                        ],
                    },
                }
            ]
        )
    )
    return str(cfg)


def _read_docs(sink_dir, index):
    docs = {}
    for part in glob.glob(os.path.join(sink_dir, index, "part-*")):
        with open(part) as f:
            for line in f:
                rec = json.loads(line)
                docs[rec["_id"]] = rec["_source"]
    return docs


def test_cli_once_jsonl(spark, tmp_path):
    """Default mode = the reference's one-shot pull(): full sync of the
    config's indices into the JSONL sink."""
    sink = str(tmp_path / "out")
    rc = main(
        ["-c", _config(tmp_path), "--data-dir", SF_DIR, "--sink-dir", sink],
        spark=spark,
    )
    assert rc == 0
    docs = _read_docs(sink, "orders_cli")
    expected = spark.read.parquet(os.path.join(SF_DIR, "orders.parquet"))
    assert len(docs) == expected.count()
    sample = next(iter(docs.values()))
    assert set(sample) >= {"o_orderkey", "o_custkey", "o_orderpriority"}


def test_cli_daemon_drain_one_batch(spark, tmp_path):
    """--daemon --drain: initial load, then one streamed CDC batch is
    applied before the sink flush (the testable daemon shape)."""
    events = tmp_path / "events"
    events.mkdir()
    (events / "b1.json").write_text(
        json.dumps(
            {
                "op": "UPDATE",
                "schema": "public",
                "table": "orders",
                "old": {"o_orderkey": "7"},
                "new": {
                    "o_orderkey": "7",
                    "o_custkey": "85",
                    "o_orderpriority": "CLI-STREAMED",
                },
                "txid": 11,
            }
        )
    )
    sink = str(tmp_path / "out")
    rc = main(
        [
            "-c", _config(tmp_path),
            "--data-dir", SF_DIR,
            "--sink-dir", sink,
            "--daemon", "--drain",
            "--events-dir", str(events),
            "--checkpoint-dir", str(tmp_path / "ckpt"),
        ],
        spark=spark,
    )
    assert rc == 0
    docs = _read_docs(sink, "orders_cli")
    assert docs["7"]["o_orderpriority"] == "CLI-STREAMED"


def test_cli_analyze(spark, tmp_path):
    out = io.StringIO()
    rc = main(
        ["-c", _config(tmp_path), "--data-dir", SF_DIR, "--analyze"],
        spark=spark,
        out=out,
    )
    assert rc == 0
    assert "== orders_cli ==" in out.getvalue()


def test_cli_arg_validation(spark, tmp_path):
    # --daemon without stream dirs
    rc = main(
        [
            "-c", _config(tmp_path), "--data-dir", SF_DIR,
            "--sink-dir", str(tmp_path / "o"), "--daemon",
        ],
        spark=spark,
    )
    assert rc == 2
    # no sink and no --analyze
    rc = main(["-c", _config(tmp_path), "--data-dir", SF_DIR], spark=spark)
    assert rc == 2
    # --drain without --daemon would silently no-op: reject instead
    rc = main(
        [
            "-c", _config(tmp_path), "--data-dir", SF_DIR,
            "--sink-dir", str(tmp_path / "o"), "--drain",
            "--events-dir", str(tmp_path), "--checkpoint-dir", str(tmp_path),
        ],
        spark=spark,
    )
    assert rc == 2
    # missing --config (now optional, for --dedup-stream) is a guarded
    # error for every config-driven mode
    rc = main(["--data-dir", SF_DIR], spark=spark)
    assert rc == 2
    # --dedup-stream without its required dirs
    rc = main(["--dedup-stream", str(tmp_path / "docs")], spark=spark)
    assert rc == 2
    # --drift-alert-kl without --drift-column would arm nothing
    rc = main(
        [
            "--dedup-stream", str(tmp_path / "docs"),
            "--checkpoint-dir", str(tmp_path / "ck"),
            "--dedup-out", str(tmp_path / "do"),
            "--drift-alert-kl", "0.1",
        ],
        spark=spark,
    )
    assert rc == 2
    # --dedup-out aliasing --store-dir: both hold decisions/epoch=N,
    # rejected before a session spins
    rc = main(
        [
            "--dedup-stream", str(tmp_path / "docs"),
            "--checkpoint-dir", str(tmp_path / "ck"),
            "--dedup-out", str(tmp_path / "same"),
            "--store-dir", str(tmp_path / "same"),
        ],
        spark=spark,
    )
    assert rc == 2


# -- the mode table, with every runner stubbed: no Spark work runs --

# a minimal valid command line per mode, as (flag, value) pairs so two
# modes sharing a flag (--store-dir, -c, --checkpoint-dir) merge
_MODE_FLAGS = {
    "hybrid_topk": (("--hybrid-topk", "q"), ("--store-dir", "s"),
                    ("--ann-store-dir", "a")),
    "ann_topk": (("--ann-topk", "q"), ("--store-dir", "s")),
    "bm25_topk": (("--bm25-topk", "q"), ("--store-dir", "s")),
    "bm25_stats": (("--bm25-stats", None), ("--store-dir", "s")),
    "ann_frontier": (("--ann-frontier", None), ("--store-dir", "s")),
    "ann_stats": (("--ann-stats", None), ("--store-dir", "s")),
    "ann_rebuild": (("--ann-rebuild", None), ("--store-dir", "s")),
    "dedup_stream": (("--dedup-stream", "d"), ("--checkpoint-dir", "ck"),
                     ("--dedup-out", "o")),
    "export_shards": (("--export-shards", "d"), ("--export-out", "e")),
    "analyze": (("-c", "cfg.json"), ("--analyze", None)),
    "validate": (("-c", "cfg.json"), ("--validate", None)),
    "print_mapping": (("-c", "cfg.json"), ("--print-mapping", None)),
    "sync": (("-c", "cfg.json"), ("--sink-dir", "k")),
    "daemon": (("-c", "cfg.json"), ("--sink-dir", "k"), ("--daemon", None),
               ("--drain", None), ("--events-dir", "ev"),
               ("--checkpoint-dir", "ck")),
}
_RUNNER = {m: f"_run_{m}" for m in _MODE_FLAGS} | {"daemon": "_run_sync"}
_PAIRS = [
    (a, b)
    for a, b in itertools.combinations(_MODE_FLAGS, 2)
    if {a, b} != {"sync", "daemon"}  # a daemon IS a sync
]
_NO_SPARK = object()  # stubbed runners never touch it


def _argv(*modes):
    pairs = dict.fromkeys(p for m in modes for p in _MODE_FLAGS[m])
    return [t for pair in pairs for t in pair if t is not None]


@pytest.fixture
def ran(monkeypatch):
    """Stub every mode runner (and the config loader under the config
    modes) with a recorder: the list of what ran."""
    import pgsync_spark.__main__ as cli

    calls = []

    def recorder(name, result):
        def run(*args, **kwargs):
            calls.append(name)
            return result

        return run

    for name in dir(cli):
        if name.startswith("_run_"):
            monkeypatch.setattr(cli, name, recorder(name, 0))
    monkeypatch.setattr(cli, "config_loader", recorder("config_loader", []))
    return calls


@pytest.mark.parametrize("mode", list(_MODE_FLAGS))
def test_cli_each_mode_runs_its_runner(ran, mode):
    assert main(_argv(mode), spark=_NO_SPARK) == 0
    assert ran == [_RUNNER[mode]]


@pytest.mark.parametrize(
    "a,b", _PAIRS, ids=[f"{a}+{b}" for a, b in _PAIRS]
)
def test_cli_two_modes_refuse(ran, a, b):
    """One mode per invocation: any two modes exit 2 before either
    runs — no dispatch order silently drops the second."""
    assert main(_argv(a, b), spark=_NO_SPARK) == 2
    assert ran == []


@pytest.mark.parametrize(
    "mode,extra",
    [
        ("bm25_topk", ["--sink-dir", "k"]),
        ("ann_stats", ["--bm25-analyzer", "standard"]),
        ("hybrid_topk", ["--compact-every", "4"]),
        ("ann_frontier", ["--topk-k", "5"]),
        ("ann_topk", ["--probe-hamming", "1"]),
        ("analyze", ["--verbose"]),
        ("dedup_stream", ["--data-dir", "d"]),
        ("dedup_stream", ["--ann-rebuild-when", "0"]),
        # the parser's default value, passed explicitly, still counts
        ("sync", ["--topk-k", "10"]),
        ("bm25_stats", ["--topk-k", "10"]),
        # a modifier without its parent
        ("sync", ["--max-files-per-trigger", "10"]),
        ("sync", ["--checkpoint-dir", "ck"]),
        ("sync", ["--no-create-index"]),
        ("sync", ["--bm25-analyzer", "standard"]),
        ("sync", ["--compact-every", "4"]),
        ("sync", ["--vector-index", "ivf"]),
        ("dedup_stream", ["--drift-alert-kl", "0.1"]),
    ],
)
def test_cli_flag_its_mode_does_not_read_refuses(ran, mode, extra):
    assert main(_argv(mode) + extra, spark=_NO_SPARK) == 2
    assert ran == []


@pytest.mark.parametrize(
    "mode,extra",
    [
        ("sync", ["--vector-store", "v", "--compact-every", "0"]),
        ("sync", ["--bm25-store", "b", "--bm25-analyzer", "standard"]),
        ("sync", ["--search-url", "http://localhost:9200",
                  "--no-create-index"]),
        ("daemon", ["--polling", "5 seconds",
                    "--max-files-per-trigger", "10"]),
        ("dedup_stream", ["--drain", "--polling", "1 second",
                          "--compact-every", "4", "--verbose"]),
        ("ann_stats", ["--ann-no-scan"]),
        ("bm25_topk", ["--topk-k", "10"]),
    ],
)
def test_cli_flag_its_mode_reads_runs(ran, mode, extra):
    assert main(_argv(mode) + extra, spark=_NO_SPARK) == 0
    assert ran == [_RUNNER[mode]]


def test_cli_every_flag_is_in_the_mode_table():
    """Every parser dest is some mode's selector, requirement or read
    flag — a new flag no mode reads cannot be silently ignored — and
    the table names no flag the parser lacks."""
    from pgsync_spark.__main__ import _modes, build_parser

    dests = {a.dest for a in build_parser()._actions} - {"help"}
    named = set()
    for key, mode in _modes().items():
        reqs = list(mode.requires)
        reqs += [r for needs in mode.reads.values() for r in needs]
        named |= {key} | set(mode.reads)
        named |= {f for r in reqs for f in r.split("|")}
    assert named - {None} == dests


def test_cli_search_url_end_to_end(spark, tmp_path):
    """--search-url: the CLI PUTs the generated index body then bulk-
    upserts every doc through the executor-parallel writer."""
    from test_search_sink import _Handler
    import threading
    from http.server import ThreadingHTTPServer

    server = ThreadingHTTPServer(("127.0.0.1", 0), _Handler)
    server.requests = []
    server.lock = threading.Lock()
    server.fail_first = 0
    server.item_fail_transient = {}
    server.item_fail_permanent = set()
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    try:
        url = f"http://127.0.0.1:{server.server_address[1]}"
        rc = main(
            ["-c", _config(tmp_path), "--data-dir", SF_DIR,
             "--search-url", url],
            spark=spark,
        )
        assert rc == 0
        puts = [r for r in server.requests if r[0] == "PUT"]
        assert puts and puts[0][1] == "/orders_cli"
        body = json.loads(puts[0][2])
        assert body["mappings"]["properties"]["o_orderkey"] == {"type": "long"}
        n_actions = sum(
            1
            for _, path, b in server.requests
            if path == "/_bulk"
            for ln in b.splitlines()
            if ln and "index" in json.loads(ln)
        )
        expected = spark.read.parquet(
            os.path.join(SF_DIR, "orders.parquet")
        ).count()
        assert n_actions == expected
    finally:
        server.shutdown()


def test_cli_print_mapping(spark, tmp_path):
    """--print-mapping: the bin/es_mapping analog — generated index
    body to stdout, no cluster involved."""
    out = io.StringIO()
    rc = main(
        ["-c", _config(tmp_path), "--data-dir", SF_DIR, "--print-mapping"],
        spark=spark,
        out=out,
    )
    assert rc == 0
    text = out.getvalue()
    assert "== orders_cli ==" in text
    body = json.loads(text.split("== orders_cli ==", 1)[1])
    assert body["mappings"]["properties"]["o_orderkey"] == {"type": "long"}


def test_cli_store_dir_restores_across_runs(spark, tmp_path):
    """--store-dir: run 1 (daemon drain) applies a CDC event and saves;
    run 2 (once mode, no events) RESTORES instead of re-syncing — its
    output still carries run 1's change, which the source parquet does
    not contain. That proves the restart path serves persisted state."""
    events = tmp_path / "events"
    events.mkdir()
    (events / "b1.json").write_text(
        json.dumps(
            {
                "op": "UPDATE",
                "schema": "public",
                "table": "orders",
                "old": {"o_orderkey": "7"},
                "new": {
                    "o_orderkey": "7",
                    "o_custkey": "85",
                    "o_orderpriority": "CLI-STORED",
                },
                "txid": 21,
            }
        )
    )
    store = str(tmp_path / "store")
    rc = main(
        [
            "-c", _config(tmp_path), "--data-dir", SF_DIR,
            "--sink-dir", str(tmp_path / "out1"),
            "--store-dir", store,
            "--daemon", "--drain",
            "--events-dir", str(events),
            "--checkpoint-dir", str(tmp_path / "ckpt"),
        ],
        spark=spark,
    )
    assert rc == 0
    # run 2: fresh once-mode run, no events — restore only
    sink2 = str(tmp_path / "out2")
    rc = main(
        [
            "-c", _config(tmp_path), "--data-dir", SF_DIR,
            "--sink-dir", sink2, "--store-dir", store,
        ],
        spark=spark,
    )
    assert rc == 0
    docs = _read_docs(sink2, "orders_cli")
    assert docs["7"]["o_orderpriority"] == "CLI-STORED"
    # and the second run versioned the store forward
    with open(os.path.join(store, "orders_cli", "CURRENT")) as f:
        assert f.read().strip() == "2"


def test_cli_multi_index_with_store(spark, tmp_path):
    """Two index entries in one config run off ONE shared materializer
    (the reference's Sync-per-document loop): both sinks written, both
    stores versioned, and a restore run serves both from saved state."""
    cfg = tmp_path / "multi.json"
    cfg.write_text(
        json.dumps(
            [
                {
                    "index": "orders_a",
                    "nodes": {
                        "table": "orders",
                        "columns": ["o_orderkey", "o_orderpriority"],
                    },
                },
                {
                    "index": "nations_b",
                    "nodes": {
                        "table": "nation",
                        "columns": ["n_nationkey", "n_name"],
                    },
                },
            ]
        )
    )
    sink = str(tmp_path / "out")
    store = str(tmp_path / "store")
    rc = main(
        ["-c", str(cfg), "--data-dir", SF_DIR, "--sink-dir", sink,
         "--store-dir", store],
        spark=spark,
    )
    assert rc == 0
    assert len(_read_docs(sink, "orders_a")) == 1500
    assert len(_read_docs(sink, "nations_b")) == 25
    # restore pass: both indices load from their stores
    sink2 = str(tmp_path / "out2")
    rc = main(
        ["-c", str(cfg), "--data-dir", SF_DIR, "--sink-dir", sink2,
         "--store-dir", store],
        spark=spark,
    )
    assert rc == 0
    assert len(_read_docs(sink2, "orders_a")) == 1500
    assert len(_read_docs(sink2, "nations_b")) == 25
    for name in ("orders_a", "nations_b"):
        with open(os.path.join(store, name, "CURRENT")) as f:
            assert f.read().strip() == "2"


def test_cli_daemon_polling_trigger(spark, tmp_path):
    """--polling sets a ProcessingTime trigger on the daemon stream
    (the reference's read-only polling mode); drain still applies the
    pending batch."""
    events = tmp_path / "events"
    events.mkdir()
    (events / "b1.json").write_text(
        json.dumps(
            {
                "op": "UPDATE",
                "schema": "public",
                "table": "orders",
                "old": {"o_orderkey": "9"},
                "new": {
                    "o_orderkey": "9",
                    "o_custkey": "1",
                    "o_orderpriority": "CLI-POLLED",
                },
                "txid": 31,
            }
        )
    )
    sink = str(tmp_path / "out")
    rc = main(
        [
            "-c", _config(tmp_path), "--data-dir", SF_DIR,
            "--sink-dir", sink,
            "--daemon", "--drain", "--polling", "1 seconds",
            "--events-dir", str(events),
            "--checkpoint-dir", str(tmp_path / "ckpt"),
        ],
        spark=spark,
    )
    assert rc == 0
    assert _read_docs(sink, "orders_cli")["9"]["o_orderpriority"] == "CLI-POLLED"


def test_cli_validate_mode(spark, tmp_path):
    """--validate runs each tree's compiled plan AND its generated
    DuckDB oracle against --data-dir and exits 0 on hash-equality —
    the engine's correctness gate as a user command."""
    out = io.StringIO()
    rc = main(
        ["-c", _config(tmp_path), "--data-dir", SF_DIR, "--validate"],
        spark=spark,
        out=out,
    )
    assert rc == 0
    assert "PASS orders_cli" in out.getvalue()


def test_cli_config_declared_plugins(spark, tmp_path, monkeypatch):
    """The reference applies config-declared plugins to every doc on
    its way to the index (ref: pgsync/sync.py:116, 1571-1572;
    examples/book/schema.json "plugins": [...]). E2E: a user plugins
    module (discovered via SPARK_GRAFT_PLUGINS_MODULE, like the
    reference's plugins package walk) enriches and drops docs through
    the one-shot CLI sync; names resolve case-insensitively and in
    declared order."""
    (tmp_path / "user_plugins_mod.py").write_text(
        "from pgsync_spark.plugin import Plugin\n"
        "from pgsync_spark.plugin_examples import SlugPlugin\n\n"
        "class PrioSlug(SlugPlugin):\n"
        "    name = 'PrioSlug'\n"
        "    def __init__(self):\n"
        "        super().__init__(source_field='o_orderpriority',\n"
        "                         target_field='prio_slug')\n\n"
        "class DropUrgent(Plugin):\n"
        "    name = 'DropUrgent'\n"
        "    def transform(self, doc, _id, _index):\n"
        "        # runs AFTER PrioSlug: drop on the field it added\n"
        "        if (doc.get('prio_slug') or '').startswith('1-'):\n"
        "            return None\n"
        "        return doc\n"
    )
    monkeypatch.syspath_prepend(str(tmp_path))
    monkeypatch.setenv("SPARK_GRAFT_PLUGINS_MODULE", "user_plugins_mod")

    cfg = tmp_path / "schema.json"
    cfg.write_text(json.dumps([{
        "index": "orders_plugged",
        "plugins": ["prioslug", "DropUrgent"],  # case-insensitive
        "nodes": {
            "table": "orders",
            "columns": ["o_orderkey", "o_orderpriority"],
        },
    }]))
    sink = str(tmp_path / "out")
    rc = main(
        ["-c", str(cfg), "--data-dir", SF_DIR, "--sink-dir", sink],
        spark=spark,
    )
    assert rc == 0
    docs = _read_docs(sink, "orders_plugged")
    orders = spark.read.parquet(os.path.join(SF_DIR, "orders.parquet"))
    n_urgent = orders.filter("o_orderpriority LIKE '1%'").count()
    assert len(docs) == orders.count() - n_urgent > 0
    for doc in docs.values():
        assert not doc["o_orderpriority"].startswith("1")
        assert doc["prio_slug"] == doc["o_orderpriority"].lower().replace(
            " ", "-"
        )


def test_cli_unknown_plugin_fails_at_startup(spark, tmp_path):
    """A typo'd plugin name must fail loudly at engine construction
    (the reference silently ignores unknown names — documents would
    sync unmasked)."""
    cfg = tmp_path / "schema.json"
    cfg.write_text(json.dumps([{
        "index": "orders_bad",
        "plugins": ["no_such_plugin"],
        "nodes": {"table": "orders", "columns": ["o_orderkey"]},
    }]))
    from pgsync_spark import exc

    with pytest.raises(exc.SchemaError, match="no_such_plugin"):
        main(
            ["-c", str(cfg), "--data-dir", SF_DIR,
             "--sink-dir", str(tmp_path / "o")],
            spark=spark,
        )


@pytest.mark.slow
def test_cli_dedup_stream_drain(spark, tmp_path):
    """--dedup-stream end to end: two micro-batch files, cross-batch
    dup dropped, outputs + drift stats written, store-backed resume
    works on a second drain run over the same checkpoint."""
    import json
    import os

    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()
    text_a = "alpha beta gamma delta epsilon zeta " * 4
    text_b = "one two three four five six seven " * 4
    with open(docs_dir / "b0.json", "w") as f:
        f.write(json.dumps({"doc_id": 1, "text": text_a,
                            "lang": "en", "source": "s0"}) + "\n")
        f.write(json.dumps({"doc_id": 2, "text": text_b,
                            "lang": "en", "source": "s1"}) + "\n")
    with open(docs_dir / "b1.json", "w") as f:
        f.write(json.dumps({"doc_id": 3, "text": text_a,
                            "lang": "en", "source": "s0"}) + "\n")
    os.utime(docs_dir / "b0.json", (1_000_000, 1_000_000))
    os.utime(docs_dir / "b1.json", (2_000_000, 2_000_000))

    out = str(tmp_path / "dout")
    rc = main(
        [
            "--dedup-stream", str(docs_dir),
            "--checkpoint-dir", str(tmp_path / "ckpt"),
            "--dedup-out", out,
            "--store-dir", str(tmp_path / "idxstore"),
            "--drift-column", "source",
            "--drift-alert-kl", "0.1",
            "--max-files-per-trigger", "1",
            "--drain",
        ],
        spark=spark,
    )
    assert rc == 0
    accepted = spark.read.parquet(os.path.join(out, "accepted"))
    decisions = spark.read.parquet(os.path.join(out, "decisions"))
    assert sorted(r["doc_id"] for r in accepted.collect()) == [1, 2]
    assert {r["doc_id"]: r["dup_of"]
            for r in decisions.collect()} == {3: 1}
    assert sorted(os.listdir(os.path.join(out, "stats"))) == [
        "epoch=0.json", "epoch=1.json",
    ]
    # --drift-alert-kl rode through: epoch 1 is all-s0 against a 50/50
    # corpus (KL = ln 1.5 ≈ 0.405 > 0.1 → alert); epoch 0 defines the
    # corpus and never alerts
    with open(os.path.join(out, "stats", "epoch=0.json")) as f:
        assert "alert" not in json.load(f)
    with open(os.path.join(out, "stats", "epoch=1.json")) as f:
        assert json.load(f)["alert"] is True

    # second drain over the same checkpoint: loads the store, nothing
    # new to process, outputs unchanged
    with open(docs_dir / "b2.json", "w") as f:
        f.write(json.dumps({"doc_id": 4, "text": text_b,
                            "lang": "en", "source": "s1"}) + "\n")
    os.utime(docs_dir / "b2.json", (3_000_000, 3_000_000))
    rc = main(
        [
            "--dedup-stream", str(docs_dir),
            "--checkpoint-dir", str(tmp_path / "ckpt"),
            "--dedup-out", out,
            "--store-dir", str(tmp_path / "idxstore"),
            "--drift-column", "source",
            "--max-files-per-trigger", "1",
            "--drain",
        ],
        spark=spark,
    )
    assert rc == 0
    decisions = spark.read.parquet(os.path.join(out, "decisions"))
    # doc 4 duplicates doc 2, caught against the RELOADED store
    assert {r["doc_id"]: r["dup_of"]
            for r in decisions.collect()} == {3: 1, 4: 2}


def test_cli_dedup_stream_embedding_and_class_guard(spark, tmp_path):
    """--dedup-index embedding drives the EmbeddingIndex through the
    CLI; re-opening the same store with the default (minhash) index
    refuses on the manifest's class guard, not a Spark path error."""
    docs_dir = tmp_path / "vecs"
    docs_dir.mkdir()
    v = [1.0, 0.5, -0.25, 2.0, 1.0, -1.0, 0.125, 3.0,
         0.5, -2.0, 1.5, 0.75, -0.5, 1.0, 2.5, -1.25]
    u = [float(i % 5 - 2) or 1.0 for i in range(16)]
    with open(docs_dir / "b0.json", "w") as f:
        f.write(json.dumps({"vec_id": 1, "embedding": v}) + "\n")
        f.write(json.dumps({"vec_id": 2, "embedding": u}) + "\n")
    with open(docs_dir / "b1.json", "w") as f:
        f.write(json.dumps(
            {"vec_id": 3, "embedding": [2.0 * x for x in v]}) + "\n")
    os.utime(docs_dir / "b0.json", (1_000_000, 1_000_000))
    os.utime(docs_dir / "b1.json", (2_000_000, 2_000_000))

    out = str(tmp_path / "vout")
    store = str(tmp_path / "vstore")
    rc = main(
        [
            "--dedup-stream", str(docs_dir),
            "--dedup-index", "embedding",
            "--probe-hamming", "2",  # the width dial rides the CLI
            "--checkpoint-dir", str(tmp_path / "vckpt"),
            "--dedup-out", out,
            "--store-dir", store,
            "--max-files-per-trigger", "1",
            "--drain",
        ],
        spark=spark,
    )
    assert rc == 0
    decisions = spark.read.parquet(os.path.join(out, "decisions"))
    assert {r["vec_id"]: r["dup_of"]
            for r in decisions.collect()} == {3: 1}

    # same store, wrong (default) index class: refused with rc=2 like
    # every other store mode, not a traceback
    rc = main(
        [
            "--dedup-stream", str(docs_dir),
            "--checkpoint-dir", str(tmp_path / "vckpt"),
            "--dedup-out", out,
            "--store-dir", store,
            "--drain",
        ],
        spark=spark,
    )
    assert rc == 2

    # --probe-hamming on a minhash index: guarded error, not a silent
    # no-op (minhash buckets carry no Hamming structure)
    rc = main(
        [
            "--dedup-stream", str(docs_dir),
            "--probe-hamming", "1",
            "--checkpoint-dir", str(tmp_path / "mckpt"),
            "--dedup-out", str(tmp_path / "mout"),
            "--drain",
        ],
        spark=spark,
    )
    assert rc == 2


def test_cli_dedup_stream_bm25_index(spark, tmp_path):
    """--dedup-index bm25: the same stream pipeline maintains a BM25
    inverted index (everything accepted, store-backed, queryable after
    the drain)."""
    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()
    with open(docs_dir / "b0.json", "w") as f:
        f.write(json.dumps({"doc_id": 1, "text": "spark query engine",
                            "lang": "en", "source": "s0"}) + "\n")
        f.write(json.dumps({"doc_id": 2, "text": "cooking recipes",
                            "lang": "en", "source": "s1"}) + "\n")

    out = str(tmp_path / "bout")
    store = str(tmp_path / "bstore")
    rc = main(
        [
            "--dedup-stream", str(docs_dir),
            "--dedup-index", "bm25",
            "--checkpoint-dir", str(tmp_path / "bckpt"),
            "--dedup-out", out,
            "--store-dir", store,
            "--drain",
        ],
        spark=spark,
    )
    assert rc == 0
    accepted = spark.read.parquet(os.path.join(out, "accepted"))
    assert sorted(r["doc_id"] for r in accepted.collect()) == [1, 2]
    with open(os.path.join(store, "CURRENT")) as f:
        assert json.load(f)["index"] == "BM25Index"
    from pgsync_spark.functions.bm25_index import BM25Index

    idx = BM25Index.load(spark, store)
    assert [r["doc_id"] for r in idx.topk(("spark",), k=5).collect()] == [1]
    idx.close()

    # the read side as a user command: query the stored index
    import io

    buf = io.StringIO()
    rc = main(
        ["--bm25-topk", "Spark ENGINE", "--store-dir", store],
        spark=spark,
        out=buf,
    )
    assert rc == 0
    rows = [json.loads(ln) for ln in buf.getvalue().splitlines()]
    assert [r["doc_id"] for r in rows] == [1]  # tokenized like the engine
    assert rows[0]["rank"] == 1 and rows[0]["score_micro"] > 0
    # guards: no store / blank query / mode mixing
    assert main(["--bm25-topk", "x"], spark=spark) == 2
    assert main(
        ["--bm25-topk", "  ", "--store-dir", store], spark=spark
    ) == 2
    assert main(
        ["--bm25-topk", "x", "--store-dir", store, "--daemon"],
        spark=spark,
    ) == 2
    # missing / non-store --store-dir: rc=2 stderr message, never a
    # raw traceback and never a silent zero-result empty index
    assert main(
        ["--bm25-topk", "x", "--store-dir", str(tmp_path / "nope")],
        spark=spark,
    ) == 2
    (tmp_path / "notastore").mkdir()
    assert main(
        ["--bm25-topk", "x", "--store-dir", str(tmp_path / "notastore")],
        spark=spark,
    ) == 2

    # the measure side: --bm25-stats mirrors --ann-stats for the
    # lexical store (r13) — corpus/normalization state plus the
    # df/N signal the analyzer dial acts on
    buf = io.StringIO()
    assert main(
        ["--bm25-stats", "--store-dir", store], spark=spark, out=buf
    ) == 0
    st = json.loads(buf.getvalue())
    assert st["index"] == "BM25Index" and st["analyzer"] == "whitespace"
    assert st["live_docs"] == 2 and st["avgdl"] == 2.5
    assert st["postings_rows"] == 5 and st["vocabulary"] == 5
    assert {t["term"] for t in st["top_df"]} == {
        "spark", "query", "engine", "cooking", "recipes"
    }
    assert all(
        t["df"] == 1 and t["df_ratio"] == 0.5 for t in st["top_df"]
    )
    # guards: store required; own mode both ways; bad store refuses
    assert main(["--bm25-stats"], spark=spark) == 2
    assert main(
        ["--bm25-stats", "--store-dir", store, "--ann-stats"],
        spark=spark,
    ) == 2
    assert main(
        ["--bm25-topk", "x", "--store-dir", store, "--bm25-stats"],
        spark=spark,
    ) == 2
    assert main(
        ["--bm25-stats", "--store-dir", str(tmp_path / "nope")],
        spark=spark,
    ) == 2


def test_cli_export_shards_from_dedup_output(spark, tmp_path):
    """The full shell-driveable pipeline: dedup stream -> accepted/
    parquet -> --export-shards manifest + versioned shard dirs."""
    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()
    with open(docs_dir / "b0.json", "w") as f:
        for i in range(6):
            f.write(json.dumps({
                "doc_id": i, "text": f"unique words number {i} " * 10,
                "lang": "en", "source": "s"}) + "\n")

    out = str(tmp_path / "dout")
    rc = main(
        [
            "--dedup-stream", str(docs_dir),
            "--checkpoint-dir", str(tmp_path / "ckpt"),
            "--dedup-out", out,
            "--drain",
        ],
        spark=spark,
    )
    assert rc == 0

    export = str(tmp_path / "export")
    buf = io.StringIO()
    rc = main(
        [
            "--export-shards", os.path.join(out, "accepted"),
            "--export-out", export,
            "--shard-budget", "120",
            "--shard-lanes", "2",
        ],
        spark=spark,
        out=buf,
    )
    assert rc == 0
    with open(os.path.join(export, "MANIFEST.json")) as f:
        m = json.load(f)
    assert m["n_docs"] == 6 and m["budget"] == 120 and m["lanes"] == 2
    assert "exported 6 docs" in buf.getvalue()
    from pgsync_spark.sinks.shards import read_training_shards

    assert read_training_shards(spark, export).count() == 6
    # missing --export-out is a guarded error
    assert main(["--export-shards", out], spark=spark) == 2


def test_cli_dedup_stream_cdc_ops(spark, tmp_path):
    """--cdc-ops: the doc stream carries op rows; a delete removes the
    doc from the maintained BM25 index and the --bm25-topk read side
    reflects it."""
    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()
    with open(docs_dir / "b0.json", "w") as f:
        f.write(json.dumps({"doc_id": 1, "text": "spark query engine",
                            "lang": "en", "source": "s0",
                            "op": "u"}) + "\n")
        f.write(json.dumps({"doc_id": 2, "text": "spark cooking",
                            "lang": "en", "source": "s1",
                            "op": "u"}) + "\n")
    with open(docs_dir / "b1.json", "w") as f:
        f.write(json.dumps({"doc_id": 1, "op": "d"}) + "\n")
    os.utime(docs_dir / "b0.json", (1_000_000, 1_000_000))
    os.utime(docs_dir / "b1.json", (2_000_000, 2_000_000))

    out = str(tmp_path / "out")
    store = str(tmp_path / "store")
    rc = main(
        [
            "--dedup-stream", str(docs_dir),
            "--dedup-index", "bm25",
            "--cdc-ops",
            "--checkpoint-dir", str(tmp_path / "ckpt"),
            "--dedup-out", out,
            "--store-dir", store,
            "--max-files-per-trigger", "1",
            "--drain",
        ],
        spark=spark,
    )
    assert rc == 0
    decisions = spark.read.parquet(os.path.join(out, "decisions"))
    assert [r["doc_id"] for r in decisions.collect()] == [1]

    import io

    buf = io.StringIO()
    rc = main(
        ["--bm25-topk", "spark", "--store-dir", store],
        spark=spark,
        out=buf,
    )
    assert rc == 0
    rows = [json.loads(ln) for ln in buf.getvalue().splitlines()]
    assert [r["doc_id"] for r in rows] == [2]  # doc 1 deleted

    # --bm25-stats folds the same CDC overlay: the deleted doc is
    # out of N/avgdl and its postings rows out of df
    buf = io.StringIO()
    assert main(
        ["--bm25-stats", "--store-dir", store], spark=spark, out=buf
    ) == 0
    st = json.loads(buf.getvalue())
    assert st["live_docs"] == 1 and st["avgdl"] == 2.0
    assert st["vocabulary"] == 2  # spark, cooking — doc 1's gone
    assert {t["term"]: t["df"] for t in st["top_df"]} == {
        "spark": 1, "cooking": 1
    }


@pytest.mark.slow
def test_cli_dedup_stream_cdc_ops_embedding(spark, tmp_path):
    """--cdc-ops with --dedup-index embedding: the vector stream
    carries op rows; an update swaps the blocking vector and a delete
    unblocks — through the CLI end to end."""
    def unit(d):
        v = [0.0] * 64
        v[d] = 1.0
        return v

    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()
    with open(docs_dir / "b0.json", "w") as f:
        f.write(json.dumps({"vec_id": 1, "embedding": unit(0),
                            "op": "u"}) + "\n")
        f.write(json.dumps({"vec_id": 2, "embedding": unit(1),
                            "op": "u"}) + "\n")
    with open(docs_dir / "b1.json", "w") as f:
        f.write(json.dumps({"vec_id": 1, "embedding": unit(2),
                            "op": "u"}) + "\n")
        f.write(json.dumps({"vec_id": 2, "op": "d"}) + "\n")
    os.utime(docs_dir / "b0.json", (1_000_000, 1_000_000))
    os.utime(docs_dir / "b1.json", (2_000_000, 2_000_000))

    out = str(tmp_path / "out")
    store = str(tmp_path / "store")
    rc = main(
        [
            "--dedup-stream", str(docs_dir),
            "--dedup-index", "embedding",
            "--cdc-ops",
            "--checkpoint-dir", str(tmp_path / "ckpt"),
            "--dedup-out", out,
            "--store-dir", store,
            "--max-files-per-trigger", "1",
            "--drain",
        ],
        spark=spark,
    )
    assert rc == 0
    decisions = spark.read.parquet(os.path.join(out, "decisions"))
    assert [r["vec_id"] for r in decisions.collect()] == [2]

    from pgsync_spark.functions.dedup_index import EmbeddingIndex

    idx = EmbeddingIndex.load(spark, store)
    vecs = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "vec_id bigint, embedding array<double>"
    )
    # old v1 content unblocked (vec 1 was updated away), new blocks
    assert idx.ingest(vecs([(10, unit(0))])).count() == 0
    d = idx.ingest(vecs([(11, unit(2))])).collect()
    assert [(r.vec_id, r.dup_of) for r in d] == [(11, 1)]
    # deleted vec 2's content unblocked
    assert idx.ingest(vecs([(12, unit(1))])).count() == 0
    idx.close()

@pytest.mark.slow
def test_cli_bm25_store_engine_owned_index(spark, tmp_path):
    """--bm25-store: the sync CLI maintains an engine-owned BM25 index
    per tree — seeded from the initial sync, updated by the drained
    CDC batch (update + delete), queryable from the committed store
    afterwards (r8 verdict item 2 at the operational surface)."""
    from pgsync_spark.functions.bm25_index import BM25Index

    events = tmp_path / "events"
    events.mkdir()
    (events / "b1.json").write_text(
        "\n".join(
            json.dumps(e)
            for e in (
                {
                    "op": "UPDATE", "schema": "public", "table": "orders",
                    "old": {"o_orderkey": "7"},
                    "new": {"o_orderkey": "7", "o_custkey": "85",
                            "o_orderpriority": "CLI-STREAMED"},
                    "txid": 11,
                },
                {
                    "op": "DELETE", "schema": "public", "table": "orders",
                    "old": {"o_orderkey": "5"}, "txid": 12,
                },
            )
        )
    )
    store = str(tmp_path / "bmstore")
    rc = main(
        [
            "-c", _config(tmp_path),
            "--data-dir", SF_DIR,
            "--sink-dir", str(tmp_path / "out"),
            "--daemon", "--drain",
            "--events-dir", str(events),
            "--checkpoint-dir", str(tmp_path / "ckpt"),
            "--bm25-store", store,
            "--bm25-text-expr",
            "get_json_object(doc, '$.o_orderpriority')",
        ],
        spark=spark,
    )
    assert rc == 0
    idx = BM25Index.load(spark, os.path.join(store, "orders_cli"))
    # the streamed update is served from the committed store
    hits = idx.topk(("cli-streamed",), k=10).collect()
    assert [r.doc_id for r in hits] == [7]
    # the deleted order is gone from the index: one-shot parity over
    # the final sink corpus proves corpus-level agreement
    docs = _read_docs(str(tmp_path / "out"), "orders_cli")
    assert "5" not in docs
    ref = BM25Index(spark)
    rows = [
        (int(_id), src["o_orderpriority"], None, None)
        for _id, src in docs.items()
    ]
    ref.ingest(
        spark.createDataFrame(
            rows, "doc_id bigint, text string, lang string, source string"
        )
    )
    want = [tuple(r) for r in ref.topk(("1-urgent",), k=10).collect()]
    got = [tuple(r) for r in idx.topk(("1-urgent",), k=10).collect()]
    assert got == want
    assert 5 not in {t[0] for t in got}
    ref.close()
    idx.close()


def test_cli_bm25_analyzer_flag_and_mismatch_guard(
    spark, tmp_path, monkeypatch
):
    """--bm25-analyzer standard: a fresh store is built with the
    standard tokenizer (manifest-recorded), --bm25-topk analyzes the
    query the same way ('URGENT!' hits '1-URGENT' docs), and re-running
    over the existing store with a DIFFERENT analyzer is rc=2, not a
    silent mixed-tokenizer index — refused before any full sync runs."""
    from pgsync_spark.streaming.incremental import IncrementalEngine

    store = str(tmp_path / "bmstd")
    args = [
        "-c", _config(tmp_path),
        "--data-dir", SF_DIR,
        "--sink-dir", str(tmp_path / "out"),
        "--bm25-store", store,
        "--bm25-text-expr", "get_json_object(doc, '$.o_orderpriority')",
    ]
    assert main(args + ["--bm25-analyzer", "standard"], spark=spark) == 0
    with open(os.path.join(store, "orders_cli", "CURRENT")) as f:
        assert json.load(f)["analyzer"] == "standard"

    # read side: 'URGENT!' analyzes to ('urgent',) — only the standard
    # tokenizer splits it out of the glued '1-URGENT' value
    buf = io.StringIO()
    rc = main(
        ["--bm25-topk", "URGENT!",
         "--store-dir", os.path.join(store, "orders_cli")],
        spark=spark, out=buf,
    )
    assert rc == 0
    rows = [json.loads(ln) for ln in buf.getvalue().splitlines()]
    assert rows and all(r["score_micro"] > 0 for r in rows)

    # mismatched analyzer over the existing store: refuse (rc=2), and
    # refuse before the sync — the store check needs no synced docs
    synced = []
    full_sync = IncrementalEngine.full_sync

    def spy(self, *a, **kw):
        synced.append(self)
        return full_sync(self, *a, **kw)

    monkeypatch.setattr(IncrementalEngine, "full_sync", spy)
    assert main(args + ["--bm25-analyzer", "whitespace"], spark=spark) == 2
    assert synced == []
    monkeypatch.setattr(IncrementalEngine, "full_sync", full_sync)
    # and no flag at all keeps serving with the store's own analyzer
    assert main(args, spark=spark) == 0

    # r12: standard_stem end to end — a fresh store under the
    # stemming analyzer, queried with a PLURAL ('PRIORITIES!') whose
    # corpus form is the singular 'priority' planted on every doc
    stem_store = str(tmp_path / "bmstem")
    stem_args = [
        "-c", _config(tmp_path),
        "--data-dir", SF_DIR,
        "--sink-dir", str(tmp_path / "out2"),
        "--bm25-store", stem_store,
        "--bm25-text-expr",
        "concat_ws(' ', 'priority', get_json_object(doc, "
        "'$.o_orderpriority'))",
    ]
    assert main(
        stem_args + ["--bm25-analyzer", "standard_stem"], spark=spark
    ) == 0
    with open(os.path.join(stem_store, "orders_cli", "CURRENT")) as f:
        assert json.load(f)["analyzer"] == "standard_stem"
    buf = io.StringIO()
    assert main(
        ["--bm25-topk", "PRIORITIES!",
         "--store-dir", os.path.join(stem_store, "orders_cli")],
        spark=spark, out=buf,
    ) == 0
    rows = [json.loads(ln) for ln in buf.getvalue().splitlines()]
    assert rows and all(r["score_micro"] > 0 for r in rows)


def test_cli_dedup_stream_vector_index(spark, tmp_path):
    """--dedup-index vector: the stream pipeline maintains an ANN
    serving index (everything accepted, store-backed, queryable after
    the drain)."""
    from pgsync_spark.functions.hashing import hash_embed_py
    from pgsync_spark.functions.vector_index import VectorIndex

    docs_dir = tmp_path / "vecs"
    docs_dir.mkdir()
    v1, v2 = hash_embed_py("alpha"), hash_embed_py("beta")
    with open(docs_dir / "b0.json", "w") as f:
        f.write(json.dumps({"vec_id": 1, "embedding": v1}) + "\n")
        f.write(json.dumps({"vec_id": 2, "embedding": v2}) + "\n")

    out = str(tmp_path / "vout")
    store = str(tmp_path / "vstore")
    rc = main(
        [
            "--dedup-stream", str(docs_dir),
            "--dedup-index", "vector",
            "--checkpoint-dir", str(tmp_path / "vckpt"),
            "--dedup-out", out,
            "--store-dir", store,
            "--drain",
        ],
        spark=spark,
    )
    assert rc == 0
    accepted = spark.read.parquet(os.path.join(out, "accepted"))
    assert sorted(r["vec_id"] for r in accepted.collect()) == [1, 2]
    with open(os.path.join(store, "CURRENT")) as f:
        assert json.load(f)["index"] == "VectorIndex"

    idx = VectorIndex.load(spark, store)
    q = spark.createDataFrame(
        [(0, v1)], "query_id bigint, embedding array<double>"
    )
    hits = idx.topk(q, k=1).collect()
    assert [r.neighbor_id for r in hits] == [1]  # exact content match
    assert hits[0].cosine == 1.0
    idx.close()


@pytest.mark.slow
def test_cli_bm25_store_string_pk_tree(spark, tmp_path):
    """--bm25-store over a STRING-PK tree: the CLI derives the
    HASH64_ID_EXPR identity automatically (the default BIGINT cast
    would NULL out and seed() refuses), the seeded index serves, and
    a streamed rename exercises the hash identity on BOTH maintainer
    branches (upsert + delete-by-_id)."""
    from pgsync_spark.functions.bm25_index import BM25Index

    cfg = tmp_path / "schema_strpk.json"
    cfg.write_text(json.dumps([
        {
            "index": "nations_cli",
            "nodes": {
                "table": "nation",
                "primary_key": ["n_name"],
                "columns": ["n_name", "n_regionkey"],
            },
        }
    ]))
    events = tmp_path / "nevents"
    events.mkdir()
    (events / "b1.json").write_text(json.dumps({
        "op": "UPDATE", "schema": "public", "table": "nation",
        "old": {"n_nationkey": 3, "n_name": "NATION_3"},
        "new": {"n_nationkey": 3, "n_name": "RENAMED_3",
                "n_regionkey": 3},
        "txid": 21,
    }))
    store = str(tmp_path / "nstore")
    rc = main(
        [
            "-c", str(cfg),
            "--data-dir", SF_DIR,
            "--sink-dir", str(tmp_path / "nout"),
            "--daemon", "--drain",
            "--events-dir", str(events),
            "--checkpoint-dir", str(tmp_path / "nckpt"),
            "--bm25-store", store,
            "--bm25-text-expr", "get_json_object(doc, '$.n_name')",
        ],
        spark=spark,
    )
    assert rc == 0
    idx = BM25Index.load(spark, os.path.join(store, "nations_cli"))
    assert idx.topk(("nation_3",), k=5).count() == 0  # old id tombstoned
    hit = idx.topk(("renamed_3",), k=5).collect()
    assert len(hit) == 1 and hit[0].score_micro > 0
    idx.close()


@pytest.mark.slow
def test_cli_vector_store_engine_owned_index(spark, tmp_path):
    """--vector-store: the sync CLI maintains an engine-owned ANN
    vector index per tree — seeded from the initial sync, updated by
    the drained CDC batch (update + delete), queryable via --ann-topk
    with either query text (hash featurizer) or an explicit JSON
    vector."""
    from pgsync_spark.functions.hashing import (
        hash_embed_py,
        hash_embed_sparksql,
    )

    events = tmp_path / "vevents"
    events.mkdir()
    (events / "b1.json").write_text(
        "\n".join(
            json.dumps(e)
            for e in (
                {
                    "op": "UPDATE", "schema": "public", "table": "orders",
                    "old": {"o_orderkey": "7"},
                    "new": {"o_orderkey": "7", "o_custkey": "85",
                            "o_orderpriority": "CLI-VECTOR"},
                    "txid": 31,
                },
                {
                    "op": "DELETE", "schema": "public", "table": "orders",
                    "old": {"o_orderkey": "5"}, "txid": 32,
                },
            )
        )
    )
    store = str(tmp_path / "vecstore")
    rc = main(
        [
            "-c", _config(tmp_path),
            "--data-dir", SF_DIR,
            "--sink-dir", str(tmp_path / "vout"),
            "--daemon", "--drain",
            "--events-dir", str(events),
            "--checkpoint-dir", str(tmp_path / "vckpt"),
            "--vector-store", store,
            "--vector-expr",
            hash_embed_sparksql("get_json_object(doc, '$.o_orderpriority')"),
        ],
        spark=spark,
    )
    assert rc == 0

    # read side, text form: only the CDC-updated doc has this content
    buf = io.StringIO()
    rc = main(
        ["--ann-topk", "CLI-VECTOR",
         "--store-dir", os.path.join(store, "orders_cli")],
        spark=spark, out=buf,
    )
    assert rc == 0
    rows = [json.loads(ln) for ln in buf.getvalue().splitlines()]
    assert rows[0]["neighbor_id"] == 7 and rows[0]["cosine"] == 1.0
    assert 5 not in {r["neighbor_id"] for r in rows}  # deleted

    # read side, explicit JSON vector form — same answer
    buf2 = io.StringIO()
    rc = main(
        ["--ann-topk", json.dumps(hash_embed_py("CLI-VECTOR")),
         "--store-dir", os.path.join(store, "orders_cli")],
        spark=spark, out=buf2,
    )
    assert rc == 0
    assert buf2.getvalue() == buf.getvalue()

    # --ann-nprobe is the IVF probe dial — a sign-LSH store refuses
    # (its width dial is --probe-hamming)
    assert main(
        ["--ann-topk", "CLI-VECTOR",
         "--store-dir", os.path.join(store, "orders_cli"),
         "--ann-nprobe", "2"],
        spark=spark,
    ) == 2

    # guards: no store / malformed vector / mode mixing
    assert main(["--ann-topk", "x"], spark=spark) == 2
    assert main(
        ["--ann-topk", "[1, \"a\"]", "--store-dir",
         os.path.join(store, "orders_cli")],
        spark=spark,
    ) == 2
    assert main(
        ["--ann-topk", "x", "--store-dir", store, "--daemon"],
        spark=spark,
    ) == 2


def test_cli_vector_store_alone_is_a_sync_target(spark, tmp_path):
    """The engine-owned vector store is a write target like
    --bm25-store: a sync with only --vector-store runs and commits
    each tree's store."""
    store = tmp_path / "vonly"
    rc = main(
        ["-c", _config(tmp_path), "--data-dir", SF_DIR,
         "--vector-store", str(store)],
        spark=spark,
    )
    assert rc == 0
    assert (store / "orders_cli" / "CURRENT").is_file()


def test_cli_opens_stores_only_through_load():
    """The index classes' load() is the one code that opens a store
    and checks its stored configuration: the CLI names no manifest
    file, parses none, and neither writes one nor words a
    store-state refusal itself."""
    import pathlib
    import re

    import pgsync_spark.__main__ as cli

    pat = re.compile(
        r"""["']CURRENT["']|json\.load\(|_commit_manifest"""
        r"|_state_mismatch_msg"
    )
    bad = [
        f"__main__.py:{i}: {line.strip()}"
        for i, line in enumerate(
            pathlib.Path(cli.__file__).read_text().splitlines(), 1
        )
        if pat.search(line)
    ]
    assert not bad, (
        "store opened or checked outside the index's load() (pass the "
        "requested state to load instead):\n" + "\n".join(bad)
    )


def test_cli_dedup_stream_ivf_index_and_ann_topk(spark, tmp_path):
    """--dedup-index ivf: the stream's FIRST batch is the seed corpus
    (it trains the frozen coarse codebook, which must persist in the
    manifest), and --ann-topk dispatches on the manifest's writing
    class to serve from the IVF store."""
    from pgsync_spark.functions.hashing import hash_embed_py
    from pgsync_spark.functions.similarity import IVF_CELLS, N_QUERIES

    docs_dir = tmp_path / "ivecs"
    docs_dir.mkdir()
    # the seed batch must carry >= IVF_CELLS hash-SAMPLED vec_ids to
    # initialize the codebook (ids 0..22 yield 11 sampled)
    n = N_QUERIES + IVF_CELLS + 8
    with open(docs_dir / "b0.json", "w") as f:
        for i in range(n):
            f.write(json.dumps(
                {"vec_id": i, "embedding": hash_embed_py(f"t{i}")}
            ) + "\n")

    store = str(tmp_path / "istore")
    rc = main(
        [
            "--dedup-stream", str(docs_dir),
            "--dedup-index", "ivf",
            "--checkpoint-dir", str(tmp_path / "ickpt"),
            "--dedup-out", str(tmp_path / "iout"),
            "--store-dir", store,
            "--drain",
        ],
        spark=spark,
    )
    assert rc == 0
    with open(os.path.join(store, "CURRENT")) as f:
        m = json.load(f)
    assert m["index"] == "IVFVectorIndex"
    assert m["ivf_cents"] and len(m["ivf_cents"]) == IVF_CELLS

    # read side: manifest dispatch loads the IVF class, exact-content
    # query serves its own vector at cosine 1.0
    buf = io.StringIO()
    rc = main(
        ["--ann-topk", json.dumps(hash_embed_py("t7")),
         "--store-dir", store, "--topk-k", "3"],
        spark=spark,
        out=buf,
    )
    assert rc == 0
    rows = [json.loads(ln) for ln in buf.getvalue().splitlines()]
    assert rows and rows[0]["neighbor_id"] == 7
    assert rows[0]["cosine"] == 1.0


def test_cli_vector_store_featurizer_and_dim_guards(spark, tmp_path):
    """r10 review findings: (a) --vector-expr is index state — a
    reload with a different featurizer refuses instead of mixing
    feature spaces; (b) --ann-topk refuses a query vector whose
    dimension does not match the stored vectors."""
    from pgsync_spark.functions.hashing import hash_embed_sparksql

    store = str(tmp_path / "fstore")
    base_args = [
        "-c", _config(tmp_path),
        "--data-dir", SF_DIR,
        "--sink-dir", str(tmp_path / "fout"),
        "--vector-store", store,
    ]
    expr = hash_embed_sparksql("get_json_object(doc, '$.o_orderpriority')")
    assert main(base_args + ["--vector-expr", expr], spark=spark) == 0
    with open(os.path.join(store, "orders_cli", "CURRENT")) as f:
        assert json.load(f)["feature_expr"] == expr

    # same expr reloads fine; a different one (here: the default
    # whole-doc featurizer) refuses with rc=2
    assert main(base_args + ["--vector-expr", expr], spark=spark) == 0
    assert main(base_args, spark=spark) == 2

    # dim guard: the store holds 16-dim hash vectors; an 8-dim JSON
    # query vector refuses cleanly instead of serving NULL cosines
    assert main(
        ["--ann-topk", json.dumps([1.0] * 8),
         "--store-dir", os.path.join(store, "orders_cli")],
        spark=spark,
    ) == 2


def test_cli_dedup_stream_bm25_analyzer(spark, tmp_path):
    """r10 review finding: --bm25-analyzer was silently ignored by
    --dedup-stream — a fresh stream-built index takes it (and the
    manifest freezes it), a committed store refuses a mismatch, and a
    non-bm25 index refuses the flag."""
    from pgsync_spark.functions.bm25_index import BM25Index

    docs_dir = tmp_path / "adocs"
    docs_dir.mkdir()
    (docs_dir / "b0.json").write_text(
        json.dumps({"doc_id": 1, "text": "High-Priority. alert",
                    "lang": None, "source": None}) + "\n"
    )
    store = str(tmp_path / "astore")
    args = [
        "--dedup-stream", str(docs_dir),
        "--dedup-index", "bm25",
        "--checkpoint-dir", str(tmp_path / "ackpt"),
        "--dedup-out", str(tmp_path / "aout"),
        "--store-dir", store,
        "--drain",
    ]
    assert main(args + ["--bm25-analyzer", "standard"], spark=spark) == 0
    with open(os.path.join(store, "CURRENT")) as f:
        assert json.load(f)["analyzer"] == "standard"
    idx = BM25Index.load(spark, store)
    # 'priority' only tokenizes out of 'High-Priority.' under standard
    assert idx.topk(idx.analyze_terms("priority"), k=5).count() == 1
    idx.close()

    # mismatch against the committed store refuses
    assert main(
        args + ["--bm25-analyzer", "whitespace"], spark=spark
    ) == 2
    # the flag on a non-bm25 index refuses
    assert main(
        [
            "--dedup-stream", str(docs_dir),
            "--dedup-index", "minhash",
            "--checkpoint-dir", str(tmp_path / "mckpt"),
            "--dedup-out", str(tmp_path / "mout"),
            "--bm25-analyzer", "standard",
        ],
        spark=spark,
    ) == 2


def test_cli_ivf_cdc_ops_needs_trained_store(spark, tmp_path):
    """r10 review pass 2: --dedup-index ivf --cdc-ops on a FRESH
    store has no path to train the codebook (every batch routes to
    apply_cdc) — refuse up front instead of dying inside
    foreachBatch."""
    docs_dir = tmp_path / "cdocs"
    docs_dir.mkdir()
    (docs_dir / "b0.json").write_text(
        json.dumps({"vec_id": 1, "embedding": [1.0] * 16, "op": "u"})
        + "\n"
    )
    rc = main(
        [
            "--dedup-stream", str(docs_dir),
            "--dedup-index", "ivf",
            "--cdc-ops",
            "--checkpoint-dir", str(tmp_path / "cckpt"),
            "--dedup-out", str(tmp_path / "cout"),
            "--store-dir", str(tmp_path / "cstore"),
            "--drain",
        ],
        spark=spark,
    )
    assert rc == 2


def test_cli_ann_topk_text_refused_on_non_hash_store(spark, tmp_path):
    """r10 review pass 2: a store stamped with a non-hash featurizer
    serves same-dim garbage for hash-featurized TEXT queries — the
    read side refuses text form (explicit JSON vectors still pass)."""
    from pgsync_spark.functions.vector_index import VectorIndex

    store = str(tmp_path / "lstore")
    idx = VectorIndex(
        spark, store_dir=store,
        feature_expr="CAST(encoder_out AS ARRAY<DOUBLE>)",
    )
    idx.ingest(spark.createDataFrame(
        [(1, [float(i) for i in range(16)])],
        "vec_id bigint, embedding array<double>",
    ))
    idx.close()
    assert main(
        ["--ann-topk", "some text", "--store-dir", store], spark=spark
    ) == 2
    buf = io.StringIO()
    assert main(
        ["--ann-topk", json.dumps([1.0] * 16), "--store-dir", store],
        spark=spark, out=buf,
    ) == 0
    assert json.loads(buf.getvalue().splitlines()[0])["neighbor_id"] == 1


def test_cli_hybrid_topk_over_both_stores(spark, tmp_path):
    """--bm25-store AND --vector-store on ONE sync run (two
    doc_consumers per engine — the engine_sync_hybrid_topk topology as
    a deployment), then --hybrid-topk fuses the two stores' legs by
    RRF. A doc ranked by BOTH legs must out-fuse docs ranked by one."""
    from pgsync_spark.functions.hashing import hash_embed_sparksql

    bstore = str(tmp_path / "hb")
    vstore = str(tmp_path / "hv")
    rc = main(
        [
            "-c", _config(tmp_path),
            "--data-dir", SF_DIR,
            "--sink-dir", str(tmp_path / "hout"),
            "--bm25-store", bstore,
            "--bm25-text-expr",
            "get_json_object(doc, '$.o_orderpriority')",
            "--vector-store", vstore,
            "--vector-expr",
            hash_embed_sparksql("get_json_object(doc, '$.o_orderpriority')"),
        ],
        spark=spark,
    )
    assert rc == 0

    buf = io.StringIO()
    rc = main(
        [
            "--hybrid-topk", "1-URGENT",
            "--store-dir", os.path.join(bstore, "orders_cli"),
            "--ann-store-dir", os.path.join(vstore, "orders_cli"),
            "--topk-k", "5",
        ],
        spark=spark, out=buf,
    )
    assert rc == 0
    rows = [json.loads(ln) for ln in buf.getvalue().splitlines()]
    assert len(rows) == 5
    assert rows[0]["fused_rank"] == 1
    # both legs contribute: the top fused doc was ranked by both (its
    # priority matches lexically AND featurizes to cosine 1.0)
    assert rows[0]["lex_rank"] is not None
    assert rows[0]["sem_rank"] is not None
    assert rows[0]["rrf_micro"] > rows[-1]["rrf_micro"]
    # fused order is (rrf desc, doc_id asc)
    assert rows == sorted(
        rows, key=lambda r: (-r["rrf_micro"], r["doc_id"])
    )

    # guards: both stores required; query required
    assert main(
        ["--hybrid-topk", "x", "--store-dir", bstore], spark=spark
    ) == 2
    assert main(
        ["--hybrid-topk", " ", "--store-dir", bstore,
         "--ann-store-dir", vstore],
        spark=spark,
    ) == 2


def test_cli_ivf_cdc_ops_refuses_truncated_store(spark, tmp_path):
    """r10 review pass 4: 'has a trained codebook' is manifest
    CONTENT, not existence — a truncated IVF store (manifest present,
    ivf_cents cleared) must hit the same up-front --cdc-ops refusal
    as a fresh one, not die inside foreachBatch."""
    from pgsync_spark.functions.hashing import hash_embed_py
    from pgsync_spark.functions.similarity import IVF_CELLS, N_QUERIES
    from pgsync_spark.functions.vector_index import IVFVectorIndex

    store = str(tmp_path / "tstore")
    idx = IVFVectorIndex(spark, store_dir=store)
    idx.ingest(spark.createDataFrame(
        [(i, hash_embed_py(f"t{i}"))
         for i in range(N_QUERIES + IVF_CELLS + 8)],
        "vec_id bigint, embedding array<double>",
    ))
    idx.truncate()
    idx.close()

    docs_dir = tmp_path / "tdocs"
    docs_dir.mkdir()
    (docs_dir / "b0.json").write_text(
        json.dumps({"vec_id": 1, "embedding": [1.0] * 16, "op": "u"})
        + "\n"
    )
    assert main(
        [
            "--dedup-stream", str(docs_dir),
            "--dedup-index", "ivf",
            "--cdc-ops",
            "--checkpoint-dir", str(tmp_path / "tckpt"),
            "--dedup-out", str(tmp_path / "tout"),
            "--store-dir", store,
            "--drain",
        ],
        spark=spark,
    ) == 2


@pytest.mark.slow
def test_cli_ann_rebuild_retrains_ivf_store(spark, tmp_path):
    """--ann-rebuild: retrain a committed IVF store over its live
    corpus as one atomic epoch — the manifest's codebook moves, the
    store keeps serving, and the guards refuse the cases that cannot
    rebuild (LSH store, unseeded store, missing --store-dir, mode
    combinations)."""
    from pgsync_spark.functions.hashing import hash_embed_py
    from pgsync_spark.functions.similarity import IVF_CELLS, N_QUERIES
    from pgsync_spark.functions.vector_index import (
        IVFVectorIndex,
        VectorIndex,
    )

    schema = "vec_id bigint, embedding array<double>"
    store = str(tmp_path / "rbstore")
    idx = IVFVectorIndex(spark, store_dir=store)
    idx.ingest(spark.createDataFrame(
        [(i, hash_embed_py(f"seed{i}"))
         for i in range(N_QUERIES + IVF_CELLS + 8)],
        schema,
    ))
    # drift: every held vector moves to fresh content, plus growth
    idx.apply_cdc(spark.createDataFrame(
        [(i, hash_embed_py(f"drift{i}"), "u") for i in range(40)],
        schema + ", op string",
    ))
    old_cents = [row[:] for row in idx._cents]
    idx.close()

    buf = io.StringIO()
    rc = main(["--ann-rebuild", "--store-dir", store], spark=spark,
              out=buf)
    assert rc == 0
    summary = json.loads(buf.getvalue())
    assert summary["rebuilt"] is True
    assert summary["live_vectors"] == 40
    assert summary["cells"] == IVF_CELLS
    with open(os.path.join(store, "CURRENT")) as f:
        m = json.load(f)
    assert m["ivf_cents"] != old_cents  # the geometry actually moved
    assert m["has_cdc"] is False  # the rebuild folded the overlay
    assert len(m["segments"]) == 1 and m["segments"][0].startswith(
        "rebuilt-"
    )

    # the rebuilt store serves (manifest-dispatched read side)
    buf = io.StringIO()
    rc = main(
        ["--ann-topk", json.dumps(hash_embed_py("drift7")),
         "--store-dir", store, "--topk-k", "3"],
        spark=spark, out=buf,
    )
    assert rc == 0
    rows = [json.loads(ln) for ln in buf.getvalue().splitlines()]
    assert rows and rows[0]["neighbor_id"] == 7
    assert rows[0]["cosine"] == 1.0

    # guards: LSH stores never retrain; unseeded IVF refuses; the
    # flag needs a store and refuses other modes
    lsh = str(tmp_path / "lshstore")
    v = VectorIndex(spark, store_dir=lsh)
    v.ingest(spark.createDataFrame(
        [(1, hash_embed_py("x"))], schema))
    v.close()
    assert main(["--ann-rebuild", "--store-dir", lsh],
                spark=spark) == 2
    assert main(["--ann-rebuild"], spark=spark) == 2
    assert main(
        ["--ann-rebuild", "--store-dir", store, "--ann-topk", "x"],
        spark=spark,
    ) == 2


def test_cli_vector_index_ivf_engine_store_and_stats(spark, tmp_path):
    """--vector-index ivf: the engine-sync CLI maintains the TRAINED
    vector family end to end — the seed sync trains the codebook into
    the manifest, reload dispatches on the manifest's class and a
    conflicting family flag refuses, --ann-stats reports the
    partition (the when-to-rebuild signal), and --ann-rebuild
    retrains the engine store in place."""
    store = str(tmp_path / "ivstore")
    base_args = [
        "-c", _config(tmp_path),
        "--data-dir", SF_DIR,
        "--sink-dir", str(tmp_path / "ivout"),
        "--vector-store", store,
    ]
    assert main(base_args + ["--vector-index", "ivf"], spark=spark) == 0
    sub = os.path.join(store, "orders_cli")
    with open(os.path.join(sub, "CURRENT")) as f:
        m = json.load(f)
    assert m["index"] == "IVFVectorIndex"
    assert m["ivf_cents"]  # the seed sync trained the codebook

    # reload: manifest dispatch (no flag needed), family guard refuses
    # the other family, same family passes
    assert main(base_args, spark=spark) == 0
    assert main(base_args + ["--vector-index", "lsh"], spark=spark) == 2
    assert main(base_args + ["--vector-index", "ivf"], spark=spark) == 0

    # --ann-stats: one JSON line with the partition signal
    buf = io.StringIO()
    assert main(
        ["--ann-stats", "--store-dir", sub], spark=spark, out=buf
    ) == 0
    stats = json.loads(buf.getvalue())
    assert stats["index"] == "IVFVectorIndex"
    assert stats["trained"] is True
    assert stats["live_vectors"] > 0
    assert stats["cells_used"] >= 1
    assert stats["imbalance"] >= 1.0
    assert stats["rebuilds"] == 0

    # --ann-rebuild works against the engine-owned store
    buf = io.StringIO()
    assert main(
        ["--ann-rebuild", "--store-dir", sub], spark=spark, out=buf
    ) == 0
    assert json.loads(buf.getvalue())["rebuilds"] == 1

    # guards: --ann-stats needs a store and is its own mode
    assert main(["--ann-stats"], spark=spark) == 2
    assert main(
        ["--ann-stats", "--store-dir", sub, "--ann-rebuild"],
        spark=spark,
    ) == 2

    # --ann-nprobe (r12 serving dial): works on the IVF store, range
    # guarded, refuses outside a read mode
    buf = io.StringIO()
    assert main(
        ["--ann-topk", "1-URGENT", "--store-dir", sub,
         "--ann-nprobe", "1"],
        spark=spark, out=buf,
    ) == 0
    assert buf.getvalue().strip()  # served under the narrow probe
    assert main(
        ["--ann-topk", "1-URGENT", "--store-dir", sub,
         "--ann-nprobe", "11"],
        spark=spark,
    ) == 2
    assert main(
        ["--ann-stats", "--store-dir", sub, "--ann-nprobe", "2"],
        spark=spark,
    ) == 2


def test_cli_ann_rebuild_when_policy_flag(spark, tmp_path):
    """--ann-rebuild-when (r11 verdict item 2): dependent-flag guards
    — needs --vector-store, a > 1 threshold, and the IVF family
    (explicit lsh refuses immediately; a LOADED LSH store refuses at
    maintainer construction) — and a one-shot seed sync accepts the
    flag and arms the policy without firing (nothing drifted)."""
    base = [
        "-c", _config(tmp_path),
        "--data-dir", SF_DIR,
        "--sink-dir", str(tmp_path / "pwout"),
    ]
    # no vector store to automate
    assert main(base + ["--ann-rebuild-when", "1.5"], spark=spark) == 2
    store = str(tmp_path / "pwstore")
    # threshold must be > 1
    assert main(
        base + ["--vector-store", store, "--vector-index", "ivf",
                "--ann-rebuild-when", "1.0"],
        spark=spark,
    ) == 2
    # explicit LSH family refuses up front
    assert main(
        base + ["--vector-store", store, "--vector-index", "lsh",
                "--ann-rebuild-when", "1.5"],
        spark=spark,
    ) == 2
    # armed seed sync: accepted, trains, does not fire
    assert main(
        base + ["--vector-store", store, "--vector-index", "ivf",
                "--ann-rebuild-when", "1.5"],
        spark=spark,
    ) == 0
    sub = os.path.join(store, "orders_cli")
    with open(os.path.join(sub, "CURRENT")) as f:
        m = json.load(f)
    assert m["index"] == "IVFVectorIndex" and m["rebuilds"] == 0
    # a LOADED LSH store under the policy refuses at construction
    lsh_store = str(tmp_path / "pwlsh")
    assert main(base + ["--vector-store", lsh_store], spark=spark) == 0
    assert main(
        base + ["--vector-store", lsh_store,
                "--ann-rebuild-when", "1.5"],
        spark=spark,
    ) == 2
    # and --dedup-stream mode refuses the sync-mode flags instead of
    # silently ignoring them (r12 review: --vector-store was a hole)
    assert main(
        ["--dedup-stream", str(tmp_path / "nodocs"),
         "--checkpoint-dir", str(tmp_path / "pwck"),
         "--dedup-out", str(tmp_path / "pwdo"),
         "--vector-store", store, "--ann-rebuild-when", "1.5"],
        spark=spark,
    ) == 2
    # the falsy-but-present numeric value is refused too, not
    # silently swallowed by a truthiness check (r12 advice)
    assert main(
        ["--dedup-stream", str(tmp_path / "nodocs"),
         "--checkpoint-dir", str(tmp_path / "pwck"),
         "--dedup-out", str(tmp_path / "pwdo"),
         "--ann-rebuild-when", "0"],
        spark=spark,
    ) == 2


def test_cli_ivf_sample_mod_dial(spark, tmp_path):
    """--ivf-sample-mod (the training-budget dial): a fresh IVF
    stream-built store trains under it and the manifest persists it;
    a reload with a different modulus refuses (training state); a
    rebuild with the flag retrains under — and persists — the new
    modulus; and the flag refuses outside the ivf family."""
    from pgsync_spark.functions.hashing import hash_embed_py
    from pgsync_spark.functions.similarity import IVF_CELLS, N_QUERIES

    docs_dir = tmp_path / "mvecs"
    docs_dir.mkdir()
    n = 60  # enough mod-3 sampled ids to initialize the codebook
    with open(docs_dir / "b0.json", "w") as f:
        for i in range(n):
            f.write(json.dumps(
                {"vec_id": i, "embedding": hash_embed_py(f"m{i}")}
            ) + "\n")
    store = str(tmp_path / "mstore")
    args = [
        "--dedup-stream", str(docs_dir),
        "--dedup-index", "ivf",
        "--checkpoint-dir", str(tmp_path / "mckpt"),
        "--dedup-out", str(tmp_path / "mout"),
        "--store-dir", store,
        "--drain",
    ]
    assert main(args + ["--ivf-sample-mod", "3"], spark=spark) == 0
    with open(os.path.join(store, "CURRENT")) as f:
        m = json.load(f)
    assert m["sample_mod"] == 3
    assert m["ivf_cents"] and len(m["ivf_cents"]) == IVF_CELLS

    # training state: a different modulus refuses on reload
    assert main(args + ["--ivf-sample-mod", "5"], spark=spark) == 2
    # rebuild is the sanctioned change point: retrains + persists
    buf = io.StringIO()
    assert main(
        ["--ann-rebuild", "--store-dir", store,
         "--ivf-sample-mod", "5"],
        spark=spark, out=buf,
    ) == 0
    with open(os.path.join(store, "CURRENT")) as f:
        assert json.load(f)["sample_mod"] == 5

    # family guards
    assert main(
        args[:3] + ["minhash"] + args[4:] + ["--ivf-sample-mod", "3"],
        spark=spark,
    ) == 2
    assert main(
        ["-c", _config(tmp_path), "--data-dir", SF_DIR,
         "--sink-dir", str(tmp_path / "mo2"),
         "--vector-store", str(tmp_path / "mvs"),
         "--ivf-sample-mod", "3"],
        spark=spark,
    ) == 2
    # modes that never train a codebook refuse the dial instead of
    # silently swallowing it (r11 advice): --ann-stats, --ann-topk,
    # and a plain sync without --vector-store
    assert main(
        ["--ann-stats", "--store-dir", store, "--ivf-sample-mod", "3"],
        spark=spark,
    ) == 2
    assert main(
        ["--ann-topk", "hello", "--store-dir", store,
         "--ivf-sample-mod", "3"],
        spark=spark,
    ) == 2
    assert main(
        ["-c", _config(tmp_path), "--data-dir", SF_DIR,
         "--sink-dir", str(tmp_path / "mo3"), "--ivf-sample-mod", "3"],
        spark=spark,
    ) == 2


@pytest.mark.slow
def test_cli_ann_frontier(spark, tmp_path):
    """--ann-frontier (r12): the operational nprobe frontier of a
    stored IVF index — five JSON lines with monotone candidate cost
    and monotone recall vs the live-corpus exact ground truth
    (exact rerank of a candidate superset can only improve recall@k);
    guards mirror the other single-shot read modes."""
    from pgsync_spark.functions.hashing import cluster_embed_py

    docs_dir = tmp_path / "fvecs"
    docs_dir.mkdir()
    with open(docs_dir / "b0.json", "w") as f:
        for i in range(80):
            f.write(json.dumps(
                {"vec_id": i, "embedding": cluster_embed_py(f"f{i}")}
            ) + "\n")
    store = str(tmp_path / "fstore")
    assert main(
        ["--dedup-stream", str(docs_dir),
         "--dedup-index", "ivf",
         "--checkpoint-dir", str(tmp_path / "fckpt"),
         "--dedup-out", str(tmp_path / "fout"),
         "--store-dir", store, "--drain"],
        spark=spark,
    ) == 0

    buf = io.StringIO()
    assert main(
        ["--ann-frontier", "--store-dir", store], spark=spark, out=buf
    ) == 0
    rows = [json.loads(ln) for ln in buf.getvalue().splitlines()]
    assert [r["nprobe"] for r in rows] == [1, 2, 3, 4, 5]
    assert all(r["dial"] == "nprobe" for r in rows)
    cands = [r["mean_candidates"] for r in rows]
    recalls = [r["mean_recall"] for r in rows]
    assert cands == sorted(cands) and cands[0] < cands[-1]
    assert recalls == sorted(recalls)  # exact rerank of a superset
    assert all(0.0 <= r <= 1.0 for r in recalls)
    assert rows[0]["live_vectors"] == 80 and rows[0]["queries"] == 5

    # non-default sweep bound (--ann-frontier-max-width, r12 verdict
    # item 6): a narrower sweep is exactly a prefix of the default
    # (same store, same query sample, same ground truth), and a
    # zero/negative width refuses
    buf3 = io.StringIO()
    assert main(
        ["--ann-frontier", "--store-dir", store,
         "--ann-frontier-max-width", "3"],
        spark=spark, out=buf3,
    ) == 0
    wrows = [json.loads(ln) for ln in buf3.getvalue().splitlines()]
    assert [r["nprobe"] for r in wrows] == [1, 2, 3]
    assert wrows == rows[:3]
    assert main(
        ["--ann-frontier", "--store-dir", store,
         "--ann-frontier-max-width", "0"],
        spark=spark,
    ) == 2
    # dependent-flag rule: the sweep bound refuses without the sweep
    assert main(
        ["--ann-stats", "--store-dir", store,
         "--ann-frontier-max-width", "3"],
        spark=spark,
    ) == 2

    # guards: store required; own mode; sweep excludes --ann-nprobe;
    # LSH stores refuse (their geometry has no nprobe)
    assert main(["--ann-frontier"], spark=spark) == 2
    assert main(
        ["--ann-frontier", "--store-dir", store, "--ann-stats"],
        spark=spark,
    ) == 2
    assert main(
        ["--ann-frontier", "--store-dir", store, "--ann-nprobe", "2"],
        spark=spark,
    ) == 2
    # a sign-LSH store sweeps ITS dial: probe_hamming 0..2
    lsh_store = str(tmp_path / "flsh")
    assert main(
        ["--dedup-stream", str(docs_dir),
         "--dedup-index", "vector",
         "--checkpoint-dir", str(tmp_path / "fckpt2"),
         "--dedup-out", str(tmp_path / "fout2"),
         "--store-dir", lsh_store, "--drain"],
        spark=spark,
    ) == 0
    buf2 = io.StringIO()
    assert main(
        ["--ann-frontier", "--store-dir", lsh_store],
        spark=spark, out=buf2,
    ) == 0
    lrows = [json.loads(ln) for ln in buf2.getvalue().splitlines()]
    assert [r["probe_hamming"] for r in lrows] == [0, 1, 2]
    assert all(r["dial"] == "probe_hamming" for r in lrows)
    lcands = [r["mean_candidates"] for r in lrows]
    lrecalls = [r["mean_recall"] for r in lrows]
    assert lcands == sorted(lcands) and lcands[0] < lcands[-1]
    assert lrecalls == sorted(lrecalls)


@pytest.mark.slow
def test_cli_ann_rebuild_when_fires_in_daemon(spark, tmp_path):
    """--ann-rebuild-when end to end through the CLI daemon: seed an
    engine-owned IVF store under the CLUSTERED featurizer, stream one
    CDC batch that inserts a hot unseen mode (the scratch soak's
    drift), and the policy fires exactly one rebuild — durable in the
    store manifest's rebuilds counter — with the read side still
    serving."""
    from pgsync_spark.functions.hashing import (
        cluster_center_py,
        cluster_embed_py,
        cluster_embed_sparksql,
    )

    vec_expr = cluster_embed_sparksql(
        "get_json_object(doc, '$.o_orderpriority')"
    )
    store = str(tmp_path / "dstore")
    base = [
        "-c", _config(tmp_path),
        "--data-dir", SF_DIR,
        "--sink-dir", str(tmp_path / "dout"),
        "--vector-store", store,
        "--vector-expr", vec_expr,
        "--ann-rebuild-when", "1.8",
    ]
    # seed sync: trains the codebook on the 5 priority modes, does
    # not fire (nothing drifted)
    assert main(base + ["--vector-index", "ivf"], spark=spark) == 0
    sub = os.path.join(store, "orders_cli")
    with open(os.path.join(sub, "CURRENT")) as f:
        assert json.load(f)["rebuilds"] == 0

    # the drift: 1200 inserts whose priority texts all hash to the
    # mode that crowds an existing cell hardest (mode 0 -> 5-LOW's
    # cell, pinned here)
    hot, j = [], 0
    while len(hot) < 1200:
        t = f"drift{j}"
        if cluster_center_py(t) == 0:
            hot.append(t)
        j += 1
    events = tmp_path / "devents"
    events.mkdir()
    (events / "b0.json").write_text(
        "\n".join(
            json.dumps({
                "op": "INSERT", "schema": "public", "table": "orders",
                "new": {"o_orderkey": str(30_000_000 + i),
                        "o_custkey": "1", "o_orderpriority": t},
                "txid": 50,
            })
            for i, t in enumerate(hot)
        )
    )
    assert main(
        base + ["--daemon", "--drain",
                "--events-dir", str(events),
                "--checkpoint-dir", str(tmp_path / "dckpt")],
        spark=spark,
    ) == 0
    with open(os.path.join(sub, "CURRENT")) as f:
        m = json.load(f)
    assert m["rebuilds"] == 1, m  # the policy fired exactly once

    # read side serves a hot-mode query under the rebuilt geometry
    buf = io.StringIO()
    assert main(
        ["--ann-topk", json.dumps(cluster_embed_py(hot[0])),
         "--store-dir", sub],
        spark=spark, out=buf,
    ) == 0
    rows = [json.loads(ln) for ln in buf.getvalue().splitlines()]
    assert rows and rows[0]["cosine"] == 1.0  # the doc itself
