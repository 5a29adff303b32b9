"""MinHashIndex (incremental ingestion dedup): state discipline,
store-backed restart, and the semantics the oracle encodes."""

import os

import pytest
from pyspark.sql import functions as F

from pgsync_spark.functions.bm25_index import BM25Index
from pgsync_spark.functions.dedup_index import MinHashIndex
from pgsync_spark.functions.vector_index import IVFVectorIndex, VectorIndex

DOC = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa "
    "lambda mu nu xi omicron pi rho sigma tau upsilon"
)
OTHER = (
    "one two three four five six seven eight nine ten "
    "eleven twelve thirteen fourteen fifteen sixteen"
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_exact_cross_batch_dup_dropped(spark):
    idx = MinHashIndex(spark)
    d0 = idx.ingest(_docs(spark, [(1, DOC), (2, OTHER)]))
    assert d0.count() == 0  # first batch: empty index, nothing drops
    d1 = idx.ingest(_docs(spark, [(3, DOC)]))
    rows = d1.collect()
    assert len(rows) == 1
    assert rows[0].doc_id == 3 and rows[0].dup_of == 1
    assert rows[0].jaccard == 1.0
    idx.close()


def test_within_batch_dups_not_dropped(spark):
    """Batch self-dedup is a separate operator (dedup_canonical) — the
    probe must not pair a batch against itself."""
    idx = MinHashIndex(spark)
    dec = idx.ingest(_docs(spark, [(1, DOC), (2, DOC)]))
    assert dec.count() == 0
    idx.close()


def test_dropped_docs_never_enter_index(spark):
    """First-batch-wins recursion mechanism: a rejected doc must not
    become state, so later docs are only ever compared against
    SURVIVORS (the oracle unrolls exactly this)."""
    idx = MinHashIndex(spark)
    idx.ingest(_docs(spark, [(1, DOC)]))
    idx.ingest(_docs(spark, [(2, DOC)]))  # dropped (dup of 1)
    held = {r.doc_id for r in idx.shingles.select("doc_id").collect()}
    assert held == {1}
    # and the next exact copy cites the SURVIVOR, not the dropped doc
    d2 = idx.ingest(_docs(spark, [(3, DOC)]))
    rows = d2.collect()
    assert rows[0].dup_of == 1
    idx.close()


@pytest.mark.slow
def test_store_backed_restart_resumes_index(spark, tmp_path):
    """Kill the process after two batches, load() from the store, and
    the third batch's decisions must match the uninterrupted run."""
    store = str(tmp_path / "mhidx")
    idx = MinHashIndex(spark, store_dir=store)
    idx.ingest(_docs(spark, [(1, DOC), (2, OTHER)]))
    idx.ingest(_docs(spark, [(3, "completely different words here " * 3)]))
    idx.close()  # "crash": drop all in-memory state

    idx2 = MinHashIndex.load(spark, store)
    held = {r.doc_id for r in idx2.shingles.select("doc_id").collect()}
    assert held == {1, 2, 3}
    dec = idx2.ingest(_docs(spark, [(4, DOC), (5, OTHER)]))
    got = {(r.doc_id, r.dup_of) for r in dec.collect()}
    assert got == {(4, 1), (5, 2)}
    idx2.close()


def test_store_appends_not_rewrites(spark, tmp_path):
    """The on-disk index is append-only: ingesting a new batch must not
    touch files written by earlier batches (O(batch) maintenance)."""
    import glob
    import os

    store = str(tmp_path / "mhidx")
    idx = MinHashIndex(spark, store_dir=store)
    idx.ingest(_docs(spark, [(1, DOC)]))
    before = {
        p: os.path.getmtime(p)
        for p in glob.glob(store + "/**/*.parquet", recursive=True)
    }
    assert before
    idx.ingest(_docs(spark, [(2, OTHER)]))
    after = {
        p: os.path.getmtime(p)
        for p in glob.glob(store + "/**/*.parquet", recursive=True)
    }
    assert set(before) <= set(after)
    for p, mt in before.items():
        assert after[p] == mt, f"held file rewritten: {p}"
    idx.close()


def test_probe_is_one_grouped_shuffle(spark):
    """The probe's candidate stage must shuffle on (band, bucket) —
    and the held corpus must never be re-paired against itself: with
    an empty batch overlap the decision frame is empty without a
    corpus-sized join."""
    idx = MinHashIndex(spark)
    idx.ingest(_docs(spark, [(1, DOC)]))
    dec = idx.ingest(_docs(spark, [(2, OTHER)]))
    assert dec.count() == 0
    idx.close()


def test_exact_lane_survives_hot_buckets(spark):
    """Identical docs share ALL band buckets, so once a duplicate
    cluster outgrows MAX_BUCKET_WIDTH the LSH lane goes blind to it —
    the exact-fingerprint side channel must still reject exact copies,
    while NEAR-dups of the hot cluster still miss (the documented
    recall cap)."""
    from pgsync_spark.functions.dedup import MAX_BUCKET_WIDTH

    n = MAX_BUCKET_WIDTH + 1
    idx = MinHashIndex(spark)
    d0 = idx.ingest(
        _docs(spark, [(i, DOC) for i in range(1, n + 1)])
    )
    assert d0.count() == 0  # within-batch: no self-dedup
    # exact copy: caught by the fingerprint lane despite every band
    # bucket being over the cap
    dec = idx.ingest(_docs(spark, [(5000, DOC)]))
    rows = dec.collect()
    assert len(rows) == 1
    assert rows[0].dup_of == 1 and rows[0].jaccard == 1.0
    # near-dup (one token appended → different fingerprint): the LSH
    # lane is capped out, so it survives — the recall cap is real and
    # this documents it
    dec2 = idx.ingest(_docs(spark, [(5001, DOC + " extraword")]))
    assert dec2.count() == 0
    idx.close()


def _vecs(spark, rows):
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


def test_embedding_index_exact_and_restart(spark, tmp_path):
    from pgsync_spark.functions.dedup_index import EmbeddingIndex

    v = [1.0, 0.5, -0.25, 2.0, 1.0, -1.0, 0.125, 3.0,
         0.5, -2.0, 1.5, 0.75, -0.5, 1.0, 2.5, -1.25]
    w = [-1.0, 2.0, 0.5, -3.0, 1.0, 1.5, -0.5, 0.25,
         -1.5, 0.5, -2.0, 1.0, 0.75, -0.25, -3.0, 2.0]
    store = str(tmp_path / "embidx")
    idx = EmbeddingIndex(spark, store_dir=store)
    assert idx.ingest(_vecs(spark, [(1, v), (2, w)])).count() == 0
    d1 = idx.ingest(_vecs(spark, [(3, v)]))  # identical vector
    rows = d1.collect()
    assert len(rows) == 1 and rows[0].dup_of == 1 and rows[0].cosine == 1.0
    idx.close()

    idx2 = EmbeddingIndex.load(spark, store)
    held = {r.vec_id for r in idx2.vals.select("vec_id").collect()}
    assert held == {1, 2}  # rejected vec 3 never entered the store
    d2 = idx2.ingest(_vecs(spark, [(4, w)]))
    rows = d2.collect()
    assert len(rows) == 1 and rows[0].dup_of == 2
    idx2.close()


def test_embedding_index_scaled_copy_rejected(spark):
    """Cosine is scale-invariant: 2x the accepted vector still probes
    to cosine 1.0 through the same sign cells (signs are unchanged by
    positive scaling)."""
    from pgsync_spark.functions.dedup_index import EmbeddingIndex

    v = [1.0, 0.5, -0.25, 2.0, 1.0, -1.0, 0.125, 3.0,
         0.5, -2.0, 1.5, 0.75, -0.5, 1.0, 2.5, -1.25]
    idx = EmbeddingIndex(spark)
    idx.ingest(_vecs(spark, [(1, v)]))
    dec = idx.ingest(_vecs(spark, [(2, [2.0 * x for x in v])]))
    rows = dec.collect()
    assert len(rows) == 1 and rows[0].dup_of == 1 and rows[0].cosine == 1.0
    idx.close()


@pytest.mark.slow
def test_streaming_dedup_ingestion(spark, tmp_path):
    """start_dedup_stream: JSON doc stream -> per-micro-batch index
    probe -> accepted docs + drop decisions in per-epoch dirs, index
    extended with survivors; a replayed (already-applied) epoch is a
    no-op via the batchId marker."""
    import json
    import os

    from pgsync_spark.streaming.stream import start_dedup_stream

    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()
    # one file per micro-batch (maxFilesPerTrigger=1): batch 0 seeds
    # the index, batch 1 carries an exact dup of doc 1 plus a fresh doc
    with open(docs_dir / "b0.json", "w") as f:
        for doc_id, text in ((1, DOC), (2, OTHER)):
            f.write(json.dumps({"doc_id": doc_id, "text": text,
                                "lang": "en", "source": "s0"}) + "\n")
    with open(docs_dir / "b1.json", "w") as f:
        for doc_id, text in ((3, DOC), (4, "totally fresh words " * 5)):
            f.write(json.dumps({"doc_id": doc_id, "text": text,
                                "lang": "en", "source": "s1"}) + "\n")
    # the file source orders micro-batches by modification time —
    # pin distinct mtimes so b0 seeds the index before b1 probes it
    os.utime(docs_dir / "b0.json", (1_000_000, 1_000_000))
    os.utime(docs_dir / "b1.json", (2_000_000, 2_000_000))

    idx = MinHashIndex(spark)
    out = str(tmp_path / "out")
    try:
        q = start_dedup_stream(
            spark, idx, str(docs_dir), str(tmp_path / "ckpt"), out,
            max_files_per_trigger=1,
        )
        q.processAllAvailable()
        q.stop()

        accepted = spark.read.parquet(os.path.join(out, "accepted"))
        decisions = spark.read.parquet(os.path.join(out, "decisions"))
        assert sorted(r["doc_id"] for r in accepted.collect()) == [1, 2, 4]
        drops = {r["doc_id"]: r["dup_of"] for r in decisions.collect()}
        assert drops == {3: 1}
        # index holds exactly the survivors
        assert sorted(
            r["doc_id"] for r in idx.shingles.select("doc_id").collect()
        ) == [1, 2, 4]

        # re-running with a FRESH checkpoint: reusing the epoch-keyed
        # out_dir must be refused (stale markers would silently skip
        # the new stream's renumbered batches) ...
        held_before = idx.shingles.count()
        with pytest.raises(ValueError, match="epoch-keyed outputs"):
            start_dedup_stream(
                spark, idx, str(docs_dir), str(tmp_path / "ckpt2"), out,
                max_files_per_trigger=1, rebind=True,
            )
        # ... and with a fresh out_dir, rebind keeps the corpus and
        # RE-PROBES everything: every re-delivered doc is already-seen
        # (or a dup of a survivor) and drops; the index never grows
        out2 = str(tmp_path / "out2")
        q2 = start_dedup_stream(
            spark, idx, str(docs_dir), str(tmp_path / "ckpt2"), out2,
            max_files_per_trigger=1, rebind=True,
        )
        q2.processAllAvailable()
        q2.stop()
        assert idx.shingles.count() == held_before
        assert spark.read.parquet(
            os.path.join(out2, "accepted")
        ).count() == 0
        drops2 = {
            r["doc_id"]: r["dup_of"]
            for r in spark.read.parquet(
                os.path.join(out2, "decisions")
            ).collect()
        }
        # 1,2,4 re-arrive as already-seen; 3 (originally dropped, never
        # held) matches survivor 1 again
        assert drops2 == {1: 1, 2: 2, 3: 1, 4: 4}
    finally:
        idx.close()


def test_streaming_dedup_embedding_index(spark, tmp_path):
    """start_dedup_stream generalizes to the EmbeddingIndex: same
    wrapper, vec_id/embedding schema, semantic dup dropped across
    micro-batches."""
    import json
    import os

    from pgsync_spark.functions.dedup_index import EmbeddingIndex
    from pgsync_spark.streaming.stream import start_dedup_stream

    v = [1.0, 0.5, -0.25, 2.0, 1.0, -1.0, 0.125, 3.0,
         0.5, -2.0, 1.5, 0.75, -0.5, 1.0, 2.5, -1.25]
    w = [-1.0, 2.0, 0.5, -3.0, 1.0, 1.5, -0.5, 0.25,
         -1.5, 0.5, -2.0, 1.0, 0.75, -0.25, -3.0, 2.0]
    docs_dir = tmp_path / "vecs"
    docs_dir.mkdir()
    with open(docs_dir / "b0.json", "w") as f:
        for vec_id, emb in ((1, v), (2, w)):
            f.write(json.dumps({"vec_id": vec_id, "embedding": emb}) + "\n")
    with open(docs_dir / "b1.json", "w") as f:
        # 2x-scaled copy of v (cosine 1.0 to vec 1) + a fresh vector
        f.write(json.dumps(
            {"vec_id": 3, "embedding": [2.0 * x for x in v]}) + "\n")
        f.write(json.dumps(
            {"vec_id": 4, "embedding": [float(i % 5 - 2) or 1.0
                                        for i in range(16)]}) + "\n")
    os.utime(docs_dir / "b0.json", (1_000_000, 1_000_000))
    os.utime(docs_dir / "b1.json", (2_000_000, 2_000_000))

    idx = EmbeddingIndex(spark)
    out = str(tmp_path / "vout")
    try:
        q = start_dedup_stream(
            spark, idx, str(docs_dir), str(tmp_path / "vckpt"), out,
            schema="vec_id bigint, embedding array<float>",
            max_files_per_trigger=1,
        )
        q.processAllAvailable()
        q.stop()
        accepted = spark.read.parquet(os.path.join(out, "accepted"))
        decisions = spark.read.parquet(os.path.join(out, "decisions"))
        assert sorted(r["vec_id"] for r in accepted.collect()) == [1, 2, 4]
        drops = {r["vec_id"]: r["dup_of"] for r in decisions.collect()}
        assert drops == {3: 1}
    finally:
        idx.close()


def test_epoch_commit_is_atomic_and_replay_safe(spark, tmp_path):
    """The store's exactly-once contract: (a) an epoch directory not
    listed in the CURRENT manifest is invisible to load() — a crash
    mid-write cannot leak half state; (b) a committed epoch is
    detectable (epoch_applied) and its decisions are re-readable
    (stored_decisions), so a stream replay never re-probes a batch
    against an index that already contains it."""
    import os
    import shutil

    store = str(tmp_path / "mhidx")
    idx = MinHashIndex(spark, store_dir=store)
    idx.ingest(_docs(spark, [(1, DOC), (2, OTHER)]), epoch=0)
    dec = idx.ingest(_docs(spark, [(3, DOC), (4, "novel text body " * 4)]),
                     epoch=1)
    committed = {(r.doc_id, r.dup_of) for r in dec.collect()}
    assert committed == {(3, 1)}
    idx.close()

    # (a) fabricate an uncommitted epoch dir (crash before the
    # manifest flip): its contents must never load
    shutil.copytree(
        os.path.join(store, "bands", "epoch=0"),
        os.path.join(store, "bands", "epoch=7"),
    )
    shutil.copytree(
        os.path.join(store, "shingles", "epoch=0"),
        os.path.join(store, "shingles", "epoch=7"),
    )
    idx2 = MinHashIndex.load(spark, store)
    held = sorted(r.doc_id for r in idx2.shingles.select("doc_id").collect())
    assert held == [1, 2, 4]  # epoch=7 ghosts absent, no duplicates

    # (b) replay detection + committed decisions read-back
    assert idx2.epoch_applied(0) and idx2.epoch_applied(1)
    assert not idx2.epoch_applied(2)
    assert idx2.next_epoch() == 2
    replayed = idx2.stored_decisions(1)
    assert {(r.doc_id, r.dup_of) for r in replayed.collect()} == committed
    # an applied epoch with zero drops reads back as an EMPTY frame,
    # not a missing one (first epoch committed empty decisions)
    assert idx2.stored_decisions(0).count() == 0
    idx2.close()


@pytest.mark.slow
def test_streaming_replay_of_committed_epoch_rebuilds_outputs(
    spark, tmp_path
):
    """Crash window e2e: epochs committed to the index store but with
    markers and outputs lost (crash after the index commit, before the
    sink writes). On restart the wrapper must rebuild accepted/decision
    outputs from the STORED decisions — never re-probe, which would
    match every replayed doc against its own copy in the index and
    wrongly drop the whole batch."""
    import json
    import os
    import shutil

    from pgsync_spark.streaming.stream import start_dedup_stream

    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()
    with open(docs_dir / "b0.json", "w") as f:
        for doc_id, text in ((1, DOC), (2, OTHER)):
            f.write(json.dumps({"doc_id": doc_id, "text": text,
                                "lang": "en", "source": "s0"}) + "\n")
    with open(docs_dir / "b1.json", "w") as f:
        for doc_id, text in ((3, DOC), (4, "fresh corpus words " * 5)):
            f.write(json.dumps({"doc_id": doc_id, "text": text,
                                "lang": "en", "source": "s1"}) + "\n")
    os.utime(docs_dir / "b0.json", (1_000_000, 1_000_000))
    os.utime(docs_dir / "b1.json", (2_000_000, 2_000_000))

    store = str(tmp_path / "idxstore")
    out = str(tmp_path / "out")
    idx = MinHashIndex(spark, store_dir=store)
    try:
        q = start_dedup_stream(
            spark, idx, str(docs_dir), str(tmp_path / "ckpt"), out,
            max_files_per_trigger=1,
        )
        q.processAllAvailable()
        q.stop()
    finally:
        idx.close()

    # simulate the crash DURING epoch 1, after the index committed but
    # before the sink writes/marker/offset-commit: epoch 1's commit
    # record (Spark re-runs only the latest uncommitted batch), marker
    # and outputs are gone; the index store (the atomic commit) is
    # intact. A same-checkpoint restart re-delivers epoch 1 with its
    # original id — the realistic Structured Streaming replay.
    shutil.rmtree(os.path.join(out, "accepted", "epoch=1"))
    shutil.rmtree(os.path.join(out, "decisions", "epoch=1"))
    os.remove(os.path.join(out, "_applied", "1"))
    for c in os.listdir(tmp_path / "ckpt" / "commits"):
        # the .crc sidecar goes too: a stale checksum for a re-written
        # commit file reads as concurrent modification to Spark
        if c.strip(".crc").endswith("1"):
            os.remove(tmp_path / "ckpt" / "commits" / c)
    idx2 = MinHashIndex.load(spark, store)
    held_before = sorted(
        r.doc_id for r in idx2.shingles.select("doc_id").collect()
    )
    try:
        q2 = start_dedup_stream(
            spark, idx2, str(docs_dir), str(tmp_path / "ckpt"), out,
            max_files_per_trigger=1,
        )
        q2.processAllAvailable()
        q2.stop()
        accepted = spark.read.parquet(os.path.join(out, "accepted"))
        decisions = spark.read.parquet(os.path.join(out, "decisions"))
        assert sorted(r["doc_id"] for r in accepted.collect()) == [1, 2, 4]
        assert {r["doc_id"]: r["dup_of"]
                for r in decisions.collect()} == {3: 1}
        # and the index did NOT double-ingest
        assert sorted(
            r.doc_id for r in idx2.shingles.select("doc_id").collect()
        ) == held_before
    finally:
        idx2.close()


def test_streaming_drift_monitor(spark, tmp_path):
    """drift_column wires the corpus-drift monitor into the stream:
    epoch 0 defines the corpus (KL = 0), a skewed epoch 1 shows
    KL > 0, stats commit atomically per epoch, and a second run over
    the same checkpoint-less source re-seeds totals from committed
    stats instead of double counting."""
    import json
    import math
    import os

    from pgsync_spark.streaming.stream import start_dedup_stream

    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()
    texts = [
        "alpha beta gamma delta epsilon zeta " * 3,
        "one two three four five six seven eight " * 3,
        "red green blue yellow purple orange pink " * 3,
        "north south east west up down left right " * 3,
    ]
    with open(docs_dir / "b0.json", "w") as f:
        for i, src in enumerate(["s0", "s0", "s1", "s1"]):
            f.write(json.dumps({"doc_id": i, "text": texts[i],
                                "lang": "en", "source": src}) + "\n")
    with open(docs_dir / "b1.json", "w") as f:  # all-s0 skew
        for j in range(2):
            f.write(json.dumps({"doc_id": 10 + j,
                                "text": texts[j] + f" tail{j} " * 5,
                                "lang": "en", "source": "s0"}) + "\n")
    os.utime(docs_dir / "b0.json", (1_000_000, 1_000_000))
    os.utime(docs_dir / "b1.json", (2_000_000, 2_000_000))

    out = str(tmp_path / "out")
    idx = MinHashIndex(spark)
    try:
        q = start_dedup_stream(
            spark, idx, str(docs_dir), str(tmp_path / "ckpt"), out,
            max_files_per_trigger=1, drift_column="source",
            drift_alert_kl=0.1,
        )
        q.processAllAvailable()
        q.stop()
    finally:
        idx.close()

    with open(os.path.join(out, "stats", "epoch=0.json")) as f:
        s0 = json.load(f)
    with open(os.path.join(out, "stats", "epoch=1.json")) as f:
        s1 = json.load(f)
    assert s0["counts"] == {"s0": 2, "s1": 2} and s0["kl"] == 0.0
    # epoch 0 defines the corpus -> never alerts; the skewed epoch
    # crosses the 0.1 threshold and is marked
    assert "alert" not in s0
    assert s1.get("alert") is True
    # second drift signal: per-epoch token-length quantiles
    assert s0["tok_len_p50"] > 0 and s0["tok_len_p90"] >= s0["tok_len_p50"]
    assert s1["counts"] == {"s0": 2}
    # batch is all-s0, corpus-so-far is 4/6 s0: KL = ln(6/4)
    assert abs(s1["kl"] - math.log(6 / 4)) < 1e-9

    # same-checkpoint restart: totals re-seed from the committed stats
    # at wrapper start, committed epochs stay untouched — and a FRESH
    # checkpoint over the same out_dir is refused (epoch-keyed stats
    # and markers do not transfer between streams)
    idx2 = MinHashIndex(spark)
    try:
        q2 = start_dedup_stream(
            spark, idx2, str(docs_dir), str(tmp_path / "ckpt"), out,
            max_files_per_trigger=1, drift_column="source",
        )
        q2.processAllAvailable()
        q2.stop()
        with pytest.raises(ValueError, match="epoch-keyed outputs"):
            start_dedup_stream(
                spark, idx2, str(docs_dir), str(tmp_path / "ckpt2"), out,
                max_files_per_trigger=1, drift_column="source",
                rebind=True,
            )
    finally:
        idx2.close()
    with open(os.path.join(out, "stats", "epoch=1.json")) as f:
        assert json.load(f) == s1


@pytest.mark.slow
def test_compaction_collapses_segments_preserving_semantics(
    spark, tmp_path
):
    """compact() collapses N per-epoch segments into one: the store
    holds a single keys/vals directory, the manifest's logical
    applied-epoch set and the per-epoch decision dirs are untouched
    (epoch_applied / stored_decisions / next_epoch identical), a
    reload sees identical state, and post-compact ingest keeps
    appending fresh segments."""
    import json
    import os

    store = str(tmp_path / "mhidx")
    idx = MinHashIndex(spark, store_dir=store)
    idx.ingest(_docs(spark, [(1, DOC), (2, OTHER)]), epoch=0)
    dec1 = idx.ingest(
        _docs(spark, [(3, DOC), (4, "novel text body " * 4)]), epoch=1
    )
    committed = {(r.doc_id, r.dup_of) for r in dec1.collect()}
    idx.ingest(_docs(spark, [(5, "entirely different words " * 4)]), epoch=2)
    held_before = sorted(
        r.doc_id for r in idx.shingles.select("doc_id").collect()
    )
    assert len(idx._key_parts) == 3

    idx.compact()
    assert len(idx._key_parts) == 1
    assert sorted(
        r.doc_id for r in idx.shingles.select("doc_id").collect()
    ) == held_before
    with open(os.path.join(store, "CURRENT")) as f:
        m = json.load(f)
    assert m["epochs"] == [0, 1, 2]
    assert m["segments"] == ["compacted-3"]
    assert sorted(os.listdir(os.path.join(store, "bands"))) == [
        "compacted-3"
    ]
    # replay surface unchanged
    assert idx.epoch_applied(2) and not idx.epoch_applied(3)
    assert idx.next_epoch() == 3
    assert {
        (r.doc_id, r.dup_of) for r in idx.stored_decisions(1).collect()
    } == committed

    # post-compact ingest: dup of a compacted doc still drops, the
    # novel doc survives, and the store appends a fresh epoch segment
    # next to the compacted one
    dec3 = idx.ingest(
        _docs(spark, [(6, DOC), (7, "unique after compact " * 4)]), epoch=3
    )
    assert {(r.doc_id, r.dup_of) for r in dec3.collect()} == {(6, 1)}
    assert sorted(os.listdir(os.path.join(store, "bands"))) == [
        "compacted-3",
        "epoch=3",
    ]
    idx.close()

    idx2 = MinHashIndex.load(spark, store)
    assert sorted(
        r.doc_id for r in idx2.shingles.select("doc_id").collect()
    ) == held_before + [7]  # 6 dropped, 7 survived
    assert len(idx2._key_parts) == 2
    idx2.close()


@pytest.mark.slow
def test_streaming_compact_every(spark, tmp_path):
    """compact_every through the wrapper: outputs identical to the
    uncompacted run, index state collapsed behind the scenes."""
    import json
    import os

    from pgsync_spark.streaming.stream import start_dedup_stream

    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()
    # batch 1 has a dup AND a survivor, so two parts are held when the
    # compact_every=2 cadence fires (an all-dropped batch holds no
    # part and compaction of a single part correctly no-ops)
    for k, rows in enumerate(
        [
            [(1, DOC), (2, OTHER)],
            [(3, DOC), (5, "surviving batch one words " * 4)],
            [(4, "fresh words " * 6)],
        ]
    ):
        with open(docs_dir / f"b{k}.json", "w") as f:
            for doc_id, text in rows:
                f.write(json.dumps({"doc_id": doc_id, "text": text,
                                    "lang": "en", "source": "s"}) + "\n")
        os.utime(docs_dir / f"b{k}.json",
                 ((k + 1) * 1_000_000, (k + 1) * 1_000_000))

    store = str(tmp_path / "store")
    out = str(tmp_path / "out")
    idx = MinHashIndex(spark, store_dir=store)
    try:
        q = start_dedup_stream(
            spark, idx, str(docs_dir), str(tmp_path / "ckpt"), out,
            max_files_per_trigger=1, compact_every=2,
        )
        q.processAllAvailable()
        q.stop()
        accepted = spark.read.parquet(os.path.join(out, "accepted"))
        decisions = spark.read.parquet(os.path.join(out, "decisions"))
        assert sorted(
            r["doc_id"] for r in accepted.collect()
        ) == [1, 2, 4, 5]
        assert {r["doc_id"]: r["dup_of"]
                for r in decisions.collect()} == {3: 1}
        # 3 epochs, compact after epoch 1 -> compacted seg + epoch=2
        segs = sorted(os.listdir(os.path.join(store, "bands")))
        assert segs == ["compacted-2", "epoch=2"]
    finally:
        idx.close()


def test_embedding_index_compaction(spark, tmp_path):
    """compact() through the EmbeddingIndex subclass: the shared base
    partitions key segments by band, so this guards the embedding key
    schema against drift. Probe behavior identical post-compact."""
    import os

    from pgsync_spark.functions.dedup_index import EmbeddingIndex

    def vecs(rows):
        return spark.createDataFrame(
            rows, "vec_id bigint, embedding array<float>"
        )

    v = [1.0, 0.5, -0.25, 2.0, 1.0, -1.0, 0.125, 3.0,
         0.5, -2.0, 1.5, 0.75, -0.5, 1.0, 2.5, -1.25]
    w = [-1.0, 2.0, 0.5, -3.0, 1.0, 1.5, -0.5, 0.25,
         -1.5, 0.5, -2.0, 1.0, 0.75, -0.25, -3.0, 2.0]
    u = [float(i % 5 - 2) or 1.0 for i in range(16)]

    store = str(tmp_path / "embidx")
    idx = EmbeddingIndex(spark, store_dir=store)
    idx.ingest(vecs([(1, v)]), epoch=0)
    idx.ingest(vecs([(2, w)]), epoch=1)
    idx.compact()
    assert len(idx._key_parts) == 1
    assert sorted(os.listdir(os.path.join(store, "bands"))) == [
        "compacted-2"
    ]
    # scaled copy of a COMPACTED vector still drops; novel survives
    dec = idx.ingest(vecs([(3, [2.0 * x for x in v]), (4, u)]), epoch=2)
    assert {(r.vec_id, r.dup_of) for r in dec.collect()} == {(3, 1)}
    idx.close()

    idx2 = EmbeddingIndex.load(spark, store)
    assert sorted(
        r.vec_id for r in idx2.vals.select("vec_id").collect()
    ) == [1, 2, 4]
    idx2.close()


def test_held_parts_are_leaf_plans(spark):
    """The exponential-analysis regression pin: every held survivor
    part must be an eager localCheckpoint (LogicalRDD LEAF), never a
    persisted frame whose lineage embeds the union of earlier parts —
    that shape made batch k's Catalyst analysis O(2^k) (measured 64s
    by batch 5 on 10-doc batches before the fix)."""
    idx = MinHashIndex(spark)
    idx.ingest(_docs(spark, [(1, DOC)]), epoch=0)
    idx.ingest(_docs(spark, [(2, OTHER)]), epoch=1)
    idx.ingest(_docs(spark, [(3, "third fresh batch words " * 4)]), epoch=2)
    try:
        for f in idx._key_parts + idx._val_parts:
            node = f._jdf.queryExecution().analyzed()
            assert node.getClass().getSimpleName() == "LogicalRDD", (
                "held part is not a lineage-truncated leaf: "
                + node.getClass().getSimpleName()
            )
    finally:
        idx.close()


def test_stream_binding_guards_foreign_checkpoints(spark, tmp_path):
    """An index store's epoch bookkeeping is paired with one stream
    checkpoint: binding a different checkpoint raises (honoring stale
    epoch numbers against renumbered batches would silently corrupt
    the corpus); rebind=True keeps the held corpus, frees the epoch=N
    segment names, clears decisions, and probes fresh batches from the
    new stream's own epoch 0."""
    import os

    import pytest

    store = str(tmp_path / "mhidx")
    idx = MinHashIndex(spark, store_dir=store)
    idx.bind_stream("/ckpt/a")
    idx.ingest(_docs(spark, [(1, DOC), (2, OTHER)]), epoch=0)
    idx.close()

    idx2 = MinHashIndex.load(spark, store)
    assert idx2._stream_id == "/ckpt/a"
    idx2.bind_stream("/ckpt/a")  # same checkpoint: fine
    with pytest.raises(ValueError, match="paired with stream checkpoint"):
        idx2.bind_stream("/ckpt/b")

    idx2.bind_stream("/ckpt/b", allow_rebind=True)
    # corpus kept, epoch bookkeeping reset, segment renamed off epoch=0
    assert not idx2.epoch_applied(0)
    assert idx2.next_epoch() == 0
    assert idx2.stored_decisions(0) is None
    segs = sorted(os.listdir(os.path.join(store, "bands")))
    assert segs == ["compacted-1"]
    # the rebound stream's OWN epoch 0 probes against the kept corpus
    dec = idx2.ingest(_docs(spark, [(3, DOC)]), epoch=0)
    assert {(r.doc_id, r.dup_of) for r in dec.collect()} == {(3, 1)}
    idx2.close()


def test_embedding_index_multiprobe_catches_band_splits(spark):
    """The multi-probe default (probe_hamming=1): a near-identical
    pair whose sign code differs by exactly ONE bit in EVERY band is
    invisible to single-probe banded LSH (no band matches exactly —
    the blind spot ann_recall_eval surfaces for retrieval), but
    Hamming-1 probing makes it a candidate and the exact-cosine
    verify drops it. probe_hamming=0 restores the r6 behavior."""
    from pgsync_spark.functions.dedup_index import EmbeddingIndex
    from pgsync_spark.functions.similarity import NEARDUP_COS

    v1 = [1.0] * 64
    # flip the first dim of each 4-dim band by a hair: all four band
    # buckets land at Hamming distance exactly 1, cosine stays ~0.97
    v2 = [-0.01 if i in (0, 4, 8, 12) else 1.0 for i in range(64)]
    schema = "vec_id bigint, embedding array<float>"
    b0 = spark.createDataFrame([(1, v1)], schema)
    b1 = spark.createDataFrame([(2, v2)], schema)

    idx0 = EmbeddingIndex(spark, probe_hamming=0)
    idx0.ingest(b0)
    assert idx0.ingest(b1).count() == 0  # single-probe: blind
    idx0.close()

    idx1 = EmbeddingIndex(spark)
    assert idx1.probe_hamming == 1  # the default IS multi-probe
    idx1.ingest(b0)
    rows = idx1.ingest(b1).collect()
    assert [(r.vec_id, r.dup_of) for r in rows] == [(2, 1)]
    assert rows[0].cosine >= NEARDUP_COS
    idx1.close()


def test_first_bind_rejects_direct_ingest_epochs(spark, tmp_path):
    """A store built via direct ingest() calls carries applied epochs
    with stream_id=None. First-binding a stream checkpoint to it must
    NOT honor that bookkeeping — epochs 0..N would read as already
    applied, epoch_applied() would short-circuit the probe of brand-new
    batches, and stored_decisions() would replay stale decisions over
    them (silent corpus corruption). It raises like any foreign
    checkpoint; rebind=True runs the same compact+reset path."""
    import os

    store = str(tmp_path / "mhidx")
    idx = MinHashIndex(spark, store_dir=store)
    idx.ingest(_docs(spark, [(1, DOC), (2, OTHER)]), epoch=0)  # no bind
    idx.close()

    idx2 = MinHashIndex.load(spark, store)
    assert idx2._stream_id is None and idx2.epoch_applied(0)
    with pytest.raises(ValueError, match="direct ingest"):
        idx2.bind_stream("/ckpt/new")
    # the refused bind left the store unmutated
    assert idx2._stream_id is None and idx2.epoch_applied(0)

    idx2.bind_stream("/ckpt/new", allow_rebind=True)
    # epoch bookkeeping reset: the new stream probes from its own 0
    assert not idx2.epoch_applied(0)
    assert idx2.next_epoch() == 0
    assert idx2.stored_decisions(0) is None
    segs = sorted(os.listdir(os.path.join(store, "bands")))
    assert segs == ["compacted-1"]
    # held corpus kept: the new stream's epoch 0 dups against doc 1
    dec = idx2.ingest(_docs(spark, [(3, DOC)]), epoch=0)
    assert {(r.doc_id, r.dup_of) for r in dec.collect()} == {(3, 1)}
    idx2.close()


def test_stream_out_dir_must_differ_from_store_dir(spark, tmp_path):
    """out_dir == store_dir would couple the stream's decisions/epoch=N
    writes with the index's committed decision dirs — and wedge the
    committed-epoch replay path (read + overwrite of the same path).
    The stream refuses at start, before binding or any other
    mutation."""
    from pgsync_spark.streaming.stream import start_dedup_stream

    store = str(tmp_path / "both")
    idx = MinHashIndex(spark, store_dir=store)
    with pytest.raises(ValueError, match="store_dir"):
        start_dedup_stream(
            spark,
            idx,
            str(tmp_path / "docs"),
            str(tmp_path / "ckpt"),
            store,
        )
    assert idx._stream_id is None  # refused before bind_stream
    idx.close()


def test_duplicate_epoch_ingest_raises(spark):
    idx = MinHashIndex(spark)
    idx.ingest(_docs(spark, [(1, DOC)]), epoch=0)
    import pytest

    with pytest.raises(ValueError, match="already applied"):
        idx.ingest(_docs(spark, [(2, OTHER)]), epoch=0)
    idx.close()


def test_premanifest_store_refuses_to_load(spark, tmp_path):
    import os

    import pytest

    store = tmp_path / "oldstore"
    (store / "bands").mkdir(parents=True)
    with pytest.raises(ValueError, match="no CURRENT manifest"):
        MinHashIndex.load(spark, str(store))


@pytest.mark.slow
def test_shard_assignment_property(spark):
    """Property check of the shard binning across random configs: a
    pure-Python lane prefix-sum reference must agree exactly, shards
    partition the docs, and every shard's PRIOR-token start is inside
    the budget (one-doc overrun bound). Exercised over a grid instead
    of @given: one Spark job per example is the cost driver, and the
    semantics vary only with (budget, lanes, doc mix)."""
    import random

    from pgsync_spark.sinks.shards import LANE_STRIDE, shard_assign

    rng = random.Random(3)
    for budget, lanes in [(50, 1), (64, 2), (200, 3), (37, 4)]:
        rows = [
            (i, " ".join(f"w{rng.randrange(40)}"
                         for _ in range(rng.randrange(1, 30))))
            for i in range(60)
        ]
        docs = spark.createDataFrame(rows, "doc_id bigint, text string")
        got = {
            r["doc_id"]: (r["n_tok"], r["shard_id"])
            for r in shard_assign(docs, budget=budget, lanes=lanes).collect()
        }
        # python reference: same lane split, same running sums
        n_tok = {i: len(t.split()) for i, t in rows}
        prior: dict[int, int] = {}
        for i in sorted(n_tok):
            lane = i % lanes
            p = prior.get(lane, 0)
            expect = lane * LANE_STRIDE + p // budget
            assert got[i] == (n_tok[i], expect), (budget, lanes, i)
            prior[lane] = p + n_tok[i]
        assert len(got) == len(rows)


def test_rearrival_of_accepted_doc_is_already_seen(spark):
    """A previously ACCEPTED doc re-arriving in a later batch (source
    re-delivery upstream of the stream's own replay protection) drops
    as a dup of itself — decision (id, dup_of=id, 1.0) — and the index
    keeps exactly one held copy. Pinned so the semantics are a
    contract, not an accident."""
    idx = MinHashIndex(spark)
    idx.ingest(_docs(spark, [(1, DOC)]), epoch=0)
    dec = idx.ingest(_docs(spark, [(1, DOC)]), epoch=1)
    assert [(r.doc_id, r.dup_of, r.jaccard) for r in dec.collect()] == [
        (1, 1, 1.0)
    ]
    assert sorted(
        r.doc_id for r in idx.shingles.select("doc_id").collect()
    ) == [1]
    idx.close()


def test_streaming_pre_filter_quality_gate(spark, tmp_path):
    """pre_filter runs BEFORE the probe (CCNet/Gopher order): rejects
    land under rejected/epoch=N, never enter the index (a later dup of
    a REJECTED doc survives — nothing to match), a NULL predicate
    rejects, and a dup of an accepted doc still drops."""
    import json
    import os

    from pgsync_spark.streaming.stream import start_dedup_stream

    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()
    short = "tiny text"
    with open(docs_dir / "b0.json", "w") as f:
        for doc_id, text in ((1, DOC), (2, short), (3, None)):
            f.write(json.dumps({"doc_id": doc_id, "text": text,
                                "lang": "en", "source": "s"}) + "\n")
    with open(docs_dir / "b1.json", "w") as f:
        # 4 dups accepted doc 1 -> drops; 5 dups REJECTED doc 2 but is
        # long enough itself? no — keep it short so the gate rejects it
        # too; 6 is long and fresh -> accepted
        for doc_id, text in ((4, DOC), (5, short),
                             (6, "long enough fresh words " * 4)):
            f.write(json.dumps({"doc_id": doc_id, "text": text,
                                "lang": "en", "source": "s"}) + "\n")
    os.utime(docs_dir / "b0.json", (1_000_000, 1_000_000))
    os.utime(docs_dir / "b1.json", (2_000_000, 2_000_000))

    out = str(tmp_path / "out")
    idx = MinHashIndex(spark)
    try:
        q = start_dedup_stream(
            spark, idx, str(docs_dir), str(tmp_path / "ckpt"), out,
            max_files_per_trigger=1,
            pre_filter="length(text) >= 20",
        )
        q.processAllAvailable()
        q.stop()
        accepted = spark.read.parquet(os.path.join(out, "accepted"))
        rejected = spark.read.parquet(os.path.join(out, "rejected"))
        decisions = spark.read.parquet(os.path.join(out, "decisions"))
        assert sorted(r["doc_id"] for r in accepted.collect()) == [1, 6]
        # 2+5 too short, 3 NULL text (NULL predicate = reject)
        assert sorted(r["doc_id"] for r in rejected.collect()) == [2, 3, 5]
        assert {r["doc_id"]: r["dup_of"]
                for r in decisions.collect()} == {4: 1}
        # rejects never became index state
        assert sorted(
            r.doc_id for r in idx.shingles.select("doc_id").collect()
        ) == [1, 6]
    finally:
        idx.close()


@pytest.mark.slow
def test_pre_filter_survives_crash_replay(spark, tmp_path):
    """pre_filter × exactly-once replay: stored decisions cover only
    KEPT docs, so the replay path must re-apply the (deterministic)
    gate — rejected and accepted outputs both rebuild correctly after
    a crash that lost epoch 1's commit/marker/outputs."""
    import json
    import os
    import shutil

    from pgsync_spark.streaming.stream import start_dedup_stream

    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()
    with open(docs_dir / "b0.json", "w") as f:
        for doc_id, text in ((1, DOC), (2, "tiny")):
            f.write(json.dumps({"doc_id": doc_id, "text": text,
                                "lang": "en", "source": "s"}) + "\n")
    with open(docs_dir / "b1.json", "w") as f:
        for doc_id, text in ((3, DOC), (4, "small"),
                             (5, "fresh long words " * 5)):
            f.write(json.dumps({"doc_id": doc_id, "text": text,
                                "lang": "en", "source": "s"}) + "\n")
    os.utime(docs_dir / "b0.json", (1_000_000, 1_000_000))
    os.utime(docs_dir / "b1.json", (2_000_000, 2_000_000))

    store = str(tmp_path / "store")
    out = str(tmp_path / "out")
    idx = MinHashIndex(spark, store_dir=store)
    try:
        q = start_dedup_stream(
            spark, idx, str(docs_dir), str(tmp_path / "ckpt"), out,
            max_files_per_trigger=1, pre_filter="length(text) >= 20",
        )
        q.processAllAvailable()
        q.stop()
    finally:
        idx.close()

    # crash during epoch 1 after the index commit: outputs + marker +
    # Spark commit record gone
    for sub in ("accepted", "decisions", "rejected"):
        shutil.rmtree(os.path.join(out, sub, "epoch=1"))
    os.remove(os.path.join(out, "_applied", "1"))
    for c in os.listdir(tmp_path / "ckpt" / "commits"):
        if c.strip(".crc").endswith("1"):
            os.remove(tmp_path / "ckpt" / "commits" / c)

    idx2 = MinHashIndex.load(spark, store)
    try:
        q2 = start_dedup_stream(
            spark, idx2, str(docs_dir), str(tmp_path / "ckpt"), out,
            max_files_per_trigger=1, pre_filter="length(text) >= 20",
        )
        q2.processAllAvailable()
        q2.stop()
        accepted = spark.read.parquet(os.path.join(out, "accepted"))
        rejected = spark.read.parquet(os.path.join(out, "rejected"))
        decisions = spark.read.parquet(os.path.join(out, "decisions"))
        assert sorted(r["doc_id"] for r in accepted.collect()) == [1, 5]
        assert sorted(r["doc_id"] for r in rejected.collect()) == [2, 4]
        assert {r["doc_id"]: r["dup_of"]
                for r in decisions.collect()} == {3: 1}
        # no double-ingest of the replayed kept docs
        assert sorted(
            r.doc_id for r in idx2.shingles.select("doc_id").collect()
        ) == [1, 5]
    finally:
        idx2.close()


@pytest.mark.slow
@pytest.mark.parametrize("seed", [0, 1])
def test_streaming_dedup_fuzz_vs_serial_reference(spark, tmp_path, seed):
    """Seeded multi-epoch fuzz of the streaming gold invariant: random
    batches with planted exact dups through start_dedup_stream must
    match a serial first-batch-wins Python reference exactly —
    decisions (who dropped, citing which survivor) and the accepted
    set. Non-dup docs use disjoint vocabularies (pairwise shingle
    jaccard 0), so only planted dups can drop and the reference is
    exact, not probabilistic."""
    import json
    import os
    import random

    from pgsync_spark.streaming.stream import start_dedup_stream

    rng = random.Random(seed)
    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()

    def fresh_text(i):
        return " ".join(f"w{i}x{j}" for j in range(25))

    texts: dict[int, str] = {}
    batches: list[list[int]] = []
    next_id = 0
    for k in range(4):
        batch = []
        for _ in range(rng.randrange(4, 9)):
            doc_id = next_id
            next_id += 1
            earlier = [d for b in batches for d in b]
            if earlier and rng.random() < 0.35:
                texts[doc_id] = texts[rng.choice(earlier)]  # planted dup
            else:
                texts[doc_id] = fresh_text(doc_id)
            batch.append(doc_id)
        batches.append(batch)
        with open(docs_dir / f"b{k}.json", "w") as f:
            for d in batch:
                f.write(json.dumps({"doc_id": d, "text": texts[d],
                                    "lang": "en", "source": "s"}) + "\n")
        os.utime(docs_dir / f"b{k}.json",
                 ((k + 1) * 1_000_000, (k + 1) * 1_000_000))

    # serial reference: within-batch no self-dedup; a doc drops iff an
    # identical text was accepted in an EARLIER batch, citing the one
    # held copy; survivors extend the accepted set after the batch
    accepted_by_text: dict[str, int] = {}
    ref_drops: dict[int, int] = {}
    for batch in batches:
        for d in sorted(batch):
            t = texts[d]
            if t in accepted_by_text:
                ref_drops[d] = accepted_by_text[t]
        for d in sorted(batch):
            if d not in ref_drops:
                accepted_by_text.setdefault(texts[d], d)

    out = str(tmp_path / "out")
    idx = MinHashIndex(spark)
    try:
        q = start_dedup_stream(
            spark, idx, str(docs_dir), str(tmp_path / "ckpt"), out,
            max_files_per_trigger=1,
        )
        q.processAllAvailable()
        q.stop()
        decisions = spark.read.parquet(os.path.join(out, "decisions"))
        got_drops = {r["doc_id"]: r["dup_of"] for r in decisions.collect()}
        assert got_drops == ref_drops, f"seed {seed}"
        accepted = spark.read.parquet(os.path.join(out, "accepted"))
        assert sorted(r["doc_id"] for r in accepted.collect()) == sorted(
            set(texts) - set(ref_drops)
        ), f"seed {seed}"
    finally:
        idx.close()


# --------------------------- CDC lifecycle (r8) ---------------------------

THIRD = (
    "red orange yellow green blue indigo violet cyan magenta teal "
    "maroon olive navy coral salmon plum"
)


def _cdc(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id bigint, text string, op string"
    )


@pytest.mark.slow
def test_minhash_cdc_delete_unblocks_future_dups(spark):
    """A deleted doc stops blocking: its exact copy arriving later is
    ACCEPTED (a removed doc is not grounds to drop new arrivals), and
    the delete's decision row carries NULL dup_of/jaccard."""
    idx = MinHashIndex(spark)
    idx.ingest(_docs(spark, [(1, DOC), (2, OTHER)]))
    # sanity: while doc 1 is live, its copy drops
    assert idx.ingest(_docs(spark, [(3, DOC)])).count() == 1
    dec = idx.apply_cdc(_cdc(spark, [(1, None, "d")]))
    rows = dec.collect()
    assert len(rows) == 1
    assert rows[0].doc_id == 1
    assert rows[0].dup_of is None and rows[0].jaccard is None
    # the same text again: nothing live blocks it now
    assert idx.ingest(_docs(spark, [(4, DOC)])).count() == 0
    # and the new copy is index state: a FIFTH copy drops against it
    d5 = idx.ingest(_docs(spark, [(5, DOC)])).collect()
    assert [(r.doc_id, r.dup_of) for r in d5] == [(5, 4)]
    idx.close()


@pytest.mark.slow
def test_minhash_cdc_update_swaps_blocking_version(spark):
    """After an update, the OLD text stops blocking and the NEW text
    blocks: the doc's identity persists, its content is current."""
    idx = MinHashIndex(spark)
    idx.ingest(_docs(spark, [(1, DOC), (2, OTHER)]))
    idx.apply_cdc(_cdc(spark, [(1, THIRD, "u")]))
    # old content unblocked
    assert idx.ingest(_docs(spark, [(3, DOC)])).count() == 0
    # new content blocks, attributed to doc 1
    d4 = idx.apply_cdc(_cdc(spark, [(4, THIRD, "u")])).collect()
    assert [(r.doc_id, r.dup_of, r.jaccard) for r in d4] == [(4, 1, 1.0)]
    idx.close()


@pytest.mark.slow
def test_minhash_cdc_update_does_not_match_own_old_version(spark):
    """An update re-sending the SAME text must survive — the probe
    excludes the batch's own superseded versions (otherwise every
    no-op update would delete its doc as a dup of itself)."""
    idx = MinHashIndex(spark)
    idx.ingest(_docs(spark, [(1, DOC), (2, OTHER)]))
    dec = idx.apply_cdc(_cdc(spark, [(1, DOC, "u")]))
    assert dec.count() == 0
    # doc 1 still blocks its copy afterwards
    d = idx.ingest(_docs(spark, [(3, DOC)])).collect()
    assert [(r.doc_id, r.dup_of) for r in d] == [(3, 1)]
    idx.close()


@pytest.mark.slow
def test_minhash_cdc_update_into_dup_drops_and_tombstones(spark):
    """An update whose new text is a live doc's duplicate: decision
    (doc, dup_of) AND the doc leaves the corpus entirely — its old
    version stops blocking too."""
    idx = MinHashIndex(spark)
    idx.ingest(_docs(spark, [(1, DOC), (2, OTHER)]))
    d = idx.apply_cdc(_cdc(spark, [(1, OTHER, "u")])).collect()
    assert [(r.doc_id, r.dup_of, r.jaccard) for r in d] == [(1, 2, 1.0)]
    # doc 1 is gone both ways: old text unblocked, and nothing under
    # doc 1 blocks OTHER (doc 2 does)
    assert idx.ingest(_docs(spark, [(3, DOC)])).count() == 0
    d4 = idx.ingest(_docs(spark, [(4, OTHER)])).collect()
    assert [(r.doc_id, r.dup_of) for r in d4] == [(4, 2)]
    idx.close()


def test_minhash_cdc_short_upsert_leaves_the_corpus(spark):
    """An upsert whose new text is under 3 tokens has no shingles: it is
    accepted (no decision, as the one-shot _shingle_cte never calls a
    short doc a duplicate), and its OLD version still leaves the live
    corpus, so the old text stops blocking. A bulk short doc stays
    accepted and unheld."""
    old = " ".join(DOC.split()[:10])
    idx = MinHashIndex(spark)
    assert idx.ingest(_docs(spark, [(1, old), (3, "two words")])).count() == 0
    assert idx.apply_cdc(_cdc(spark, [(1, "tiny text", "u")])).count() == 0
    assert idx.live("vals").filter("doc_id IN (1, 3)").count() == 0
    assert idx.ingest(_docs(spark, [(2, old)])).count() == 0
    d = idx.ingest(_docs(spark, [(4, old)])).collect()
    assert [(r.doc_id, r.dup_of) for r in d] == [(4, 2)]
    idx.close()


@pytest.mark.slow
def test_minhash_cdc_compact_folds_and_reloads(spark, tmp_path):
    """compact() drops shadowed versions + tombstones physically; the
    folded store reloads with identical probe behavior and zero
    overlay rows."""
    store = str(tmp_path / "mh")
    idx = MinHashIndex(spark, store_dir=store)
    idx.ingest(_docs(spark, [(1, DOC), (2, OTHER)]))
    idx.apply_cdc(
        _cdc(spark, [(1, THIRD, "u"), (2, None, "d")])
    )
    idx.compact()
    assert len(idx._segments) == 1
    assert idx.vals.filter(F.col("op") != "a").count() == 0
    assert idx.vals.filter(F.col("doc_id") == 2).count() == 0
    # live corpus is exactly {1: THIRD}
    assert idx.ingest(_docs(spark, [(5, OTHER)])).count() == 0
    d = idx.ingest(_docs(spark, [(6, THIRD)])).collect()
    assert [(r.doc_id, r.dup_of) for r in d] == [(6, 1)]
    idx.close()

    # compact reset the CDC flag (overlay provably empty) and the
    # manifest cutover persisted the reset: the reloaded store probes
    # on the append-only fast path with identical results
    assert not idx._has_cdc
    idx2 = MinHashIndex.load(spark, store)
    assert not idx2._has_cdc
    d = idx2.ingest(_docs(spark, [(7, THIRD)])).collect()
    assert [(r.doc_id, r.dup_of) for r in d] == [(7, 1)]
    idx2.close()


def test_minhash_cdc_replay_and_batch_contract(spark, tmp_path):
    """CDC epochs ride the exactly-once machinery: committed decisions
    read back via stored_decisions, a re-apply of the epoch raises,
    and an unfolded multi-row-per-doc batch raises up front."""
    store = str(tmp_path / "mh")
    idx = MinHashIndex(spark, store_dir=store)
    idx.ingest(_docs(spark, [(1, DOC), (2, OTHER)]), epoch=0)
    batch = _cdc(spark, [(1, None, "d")])
    idx.apply_cdc(batch, epoch=1)
    stored = idx.stored_decisions(1)
    assert [r.doc_id for r in stored.collect()] == [1]
    with pytest.raises(ValueError, match="already applied"):
        idx.apply_cdc(batch, epoch=1)
    with pytest.raises(ValueError, match="multiple rows"):
        idx.apply_cdc(
            _cdc(spark, [(9, DOC, "u"), (9, None, "d")]), epoch=2
        )
    assert not idx.epoch_applied(2)
    idx.close()


@pytest.mark.slow
def test_embedding_cdc_delete_update_semantics(spark):
    """EmbeddingIndex through the same lifecycle: delete unblocks,
    update swaps the blocking vector, a re-sent identical vector
    survives its own update."""
    from pgsync_spark.functions.dedup_index import EmbeddingIndex

    def vecs(rows):
        return spark.createDataFrame(
            rows, "vec_id bigint, embedding array<double>"
        )

    def unit(d):
        v = [0.0] * 64
        v[d] = 1.0
        return v

    v1, v2, v3 = unit(0), unit(1), unit(2)
    idx = EmbeddingIndex(spark)
    idx.ingest(vecs([(1, v1), (2, v2)]))
    assert idx.ingest(vecs([(3, v1)])).count() == 1  # blocked by 1
    # no-op update: must not match its own old version
    assert idx.apply_cdc(
        spark.createDataFrame(
            [(1, v1, "u")],
            "vec_id bigint, embedding array<double>, op string",
        )
    ).count() == 0
    # update 1 -> v3: old vector unblocked, new vector blocks
    idx.apply_cdc(
        spark.createDataFrame(
            [(1, v3, "u")],
            "vec_id bigint, embedding array<double>, op string",
        )
    )
    assert idx.ingest(vecs([(4, v1)])).count() == 0
    d = idx.ingest(vecs([(5, v3)])).collect()
    assert [(r.vec_id, r.dup_of) for r in d] == [(5, 1)]
    # delete 2: its copy is accepted afterwards
    dec = idx.apply_cdc(
        spark.createDataFrame(
            [(2, None, "d")],
            "vec_id bigint, embedding array<double>, op string",
        )
    ).collect()
    assert [(r.vec_id, r.dup_of, r.cosine) for r in dec] == [
        (2, None, None)
    ]
    assert idx.ingest(vecs([(6, v2)])).count() == 0
    idx.close()


@pytest.mark.slow
def test_minhash_cdc_through_streaming_pipeline(spark, tmp_path):
    """start_dedup_stream with the CDC schema drives
    MinHashIndex.apply_cdc: upserts probe/enter, deletes land in
    decisions/ (excluded from accepted/), and the post-CDC index
    blocks exactly the live corpus."""
    import json
    import os

    from pgsync_spark.streaming.stream import (
        CDC_DOCS_SCHEMA,
        start_dedup_stream,
    )

    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()
    b0 = [
        {"doc_id": 1, "text": DOC, "lang": "en", "source": "s0",
         "op": "u"},
        {"doc_id": 2, "text": OTHER, "lang": "en", "source": "s0",
         "op": "u"},
    ]
    b1 = [
        {"doc_id": 1, "text": THIRD, "lang": "en", "source": "s0",
         "op": "u"},
        {"doc_id": 2, "op": "d"},
        {"doc_id": 3, "text": DOC, "lang": "en", "source": "s1",
         "op": "u"},  # old DOC text is unblocked by 1's update
    ]
    with open(docs_dir / "b0.json", "w") as f:
        f.write("\n".join(json.dumps(r) for r in b0))
    with open(docs_dir / "b1.json", "w") as f:
        f.write("\n".join(json.dumps(r) for r in b1))
    os.utime(docs_dir / "b0.json", (1_000_000, 1_000_000))
    os.utime(docs_dir / "b1.json", (2_000_000, 2_000_000))

    idx = MinHashIndex(spark, store_dir=str(tmp_path / "store"))
    q = start_dedup_stream(
        spark,
        idx,
        str(docs_dir),
        str(tmp_path / "ckpt"),
        str(tmp_path / "out"),
        schema=CDC_DOCS_SCHEMA,
        max_files_per_trigger=1,
    )
    q.processAllAvailable()
    q.stop()

    import os as _os

    accepted = spark.read.parquet(str(tmp_path / "out" / "accepted"))
    assert sorted(r["doc_id"] for r in accepted.collect()) == [1, 1, 2, 3]
    dec1 = spark.read.parquet(
        str(tmp_path / "out" / "decisions" / "epoch=1")
    ).collect()
    assert [(r.doc_id, r.dup_of) for r in dec1] == [(2, None)]
    # live corpus = {1: THIRD, 3: DOC}: copies of both drop, OTHER is free
    assert idx.ingest(_docs(spark, [(10, OTHER)])).count() == 0
    d = idx.ingest(_docs(spark, [(11, THIRD)])).collect()
    assert [(r.doc_id, r.dup_of) for r in d] == [(11, 1)]
    idx.close()


@pytest.mark.slow
def test_bulk_ingest_of_cdc_touched_id_raises(spark):
    """r8 review finding: an op='a' re-add of an id with CDC history
    would be invisible to the overlay fold and silently discarded at
    the next compact — ingest() refuses instead (apply_cdc op='u' is
    the re-add path)."""
    idx = MinHashIndex(spark)
    idx.ingest(_docs(spark, [(1, DOC), (2, OTHER)]))
    idx.apply_cdc(_cdc(spark, [(1, None, "d")]))
    with pytest.raises(ValueError, match="CDC history"):
        idx.ingest(_docs(spark, [(1, DOC)]))
    # untouched NEW ids still bulk-ingest fine on a CDC index
    assert idx.ingest(_docs(spark, [(7, THIRD)])).count() == 0
    # after compact the history is folded away and the flag drops:
    # the id is genuinely gone, a plain re-add is sound again
    idx.compact()
    assert not idx._has_cdc
    assert idx.ingest(_docs(spark, [(1, DOC)])).count() == 0
    idx.close()


def test_cdc_delete_passes_pre_filter_gate(spark, tmp_path):
    """r8 review finding: a quality pre_filter must never swallow a
    CDC delete marker (NULL text always fails the predicate) — the
    tombstone reaches the index and the doc actually dies."""
    import json
    import os

    from pgsync_spark.functions.bm25_index import BM25Index
    from pgsync_spark.streaming.stream import (
        CDC_DOCS_SCHEMA,
        start_dedup_stream,
    )

    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()
    with open(docs_dir / "b0.json", "w") as f:
        f.write(json.dumps({"doc_id": 1, "text": "spark query engine",
                            "lang": "en", "source": "s0",
                            "op": "u"}) + "\n")
    with open(docs_dir / "b1.json", "w") as f:
        f.write(json.dumps({"doc_id": 1, "op": "d"}) + "\n")
    os.utime(docs_dir / "b0.json", (1_000_000, 1_000_000))
    os.utime(docs_dir / "b1.json", (2_000_000, 2_000_000))

    idx = BM25Index(spark, store_dir=str(tmp_path / "store"))
    q = start_dedup_stream(
        spark,
        idx,
        str(docs_dir),
        str(tmp_path / "ckpt"),
        str(tmp_path / "out"),
        schema=CDC_DOCS_SCHEMA,
        max_files_per_trigger=1,
        pre_filter="length(text) >= 5",
    )
    q.processAllAvailable()
    q.stop()
    assert idx.topk(("spark",), k=5).count() == 0  # deleted for real
    # and the delete row is not in rejected/
    rej = os.path.join(str(tmp_path / "out"), "rejected")
    for sub in os.listdir(rej):
        rows = spark.read.parquet(os.path.join(rej, sub)).collect()
        assert all(r["op"] != "d" for r in rows)
    idx.close()


def test_apply_cdc_null_op_is_upsert(spark):
    """r8 review pass 2: a NULL/missing op is an UPSERT ('d' deletes,
    anything else upserts) — not a row that silently vanishes from
    both branches."""
    idx = MinHashIndex(spark)
    idx.apply_cdc(_cdc(spark, [(1, DOC, None), (2, OTHER, "u")]))
    held = {r.doc_id for r in idx.shingles.select("doc_id").collect()}
    assert held == {1, 2}
    # and the NULL-op doc actually blocks its copy
    d = idx.ingest(_docs(spark, [(3, DOC)])).collect()
    assert [(r.doc_id, r.dup_of) for r in d] == [(3, 1)]
    idx.close()


@pytest.mark.slow
def test_rebind_does_not_resurrect_stale_versions(spark, tmp_path):
    """r8 review pass 2 (confirmed live pre-fix): compact used to keep
    real epoch numbers as ver, so a REBOUND stream reusing epoch 0
    produced an overlay row (id, ver=0) that semi-join-matched a
    compacted survivor written at the old epoch 0 — resurrecting and
    duplicating the stale version. compact now resets ver to -1."""
    from pgsync_spark.functions.bm25_index import BM25Index

    schema = "doc_id bigint, text string, lang string, source string"
    store = str(tmp_path / "bm25")
    idx = BM25Index(spark, store_dir=store)
    idx.ingest(
        spark.createDataFrame([(7, "oldword here", "en", "s0")], schema),
        epoch=0,
    )
    # direct-ingest epochs: first bind itself requires the rebind
    # opt-in (r7 ADVICE guard)
    idx.bind_stream("ckptA", allow_rebind=True)
    idx.close()

    idx2 = BM25Index.load(spark, store)
    idx2.bind_stream("ckptB", allow_rebind=True)  # compacts + resets
    assert idx2.vals.filter(F.col("ver") != -1).count() == 0
    # the rebound stream's epoch numbering restarts at 0
    idx2.apply_cdc(
        spark.createDataFrame(
            [(7, "newword only", "en", "s0", "u")], schema + ", op string"
        ),
        epoch=0,
    )
    assert idx2.topk(("oldword",), k=5).count() == 0  # stale text dead
    got = idx2.topk(("newword",), k=5).collect()
    assert [r["doc_id"] for r in got] == [7]  # once, not duplicated
    # N = 1 live doc (docstats not double-counted)
    idx2.close()


def test_storeless_rebind_also_resets_vers(spark):
    """The same rebind hazard for a store-less index: the forced
    compact must rewrite even a single held part."""
    idx = MinHashIndex(spark)
    idx.ingest(_docs(spark, [(1, DOC)]), epoch=0)
    idx.bind_stream("ckptA", allow_rebind=True)
    assert idx.vals.filter(F.col("ver") != -1).count() == 0
    idx.close()


@pytest.mark.slow
def test_bulk_reingest_still_self_blocked_on_cdc_index(spark):
    """r8 review pass 2: with CDC history present, a bulk ingest()
    re-containing a LIVE doc's id+text must still drop it as a dup of
    the held copy (the own-batch exclusion applies only to apply_cdc,
    where an update must not match its superseded version)."""
    idx = MinHashIndex(spark)
    idx.ingest(_docs(spark, [(1, DOC), (2, OTHER)]))
    idx.apply_cdc(_cdc(spark, [(9, THIRD, "u")]))  # sets _has_cdc
    d = idx.ingest(_docs(spark, [(1, DOC)])).collect()
    assert [(r.doc_id, r.dup_of, r.jaccard) for r in d] == [(1, 1, 1.0)]
    # and the index did not grow a second live copy of doc 1
    assert idx.vals.filter(F.col("doc_id") == 1).count() == 1
    idx.close()


def test_pre_filter_failing_update_tombstones_stale_version(
    spark, tmp_path
):
    """r8 review pass 2: an UPDATE whose new text fails the quality
    gate must not freeze the doc's old version in the index — the
    stream demotes it to a delete (audited in rejected/)."""
    import json
    import os

    from pgsync_spark.functions.bm25_index import BM25Index
    from pgsync_spark.streaming.stream import (
        CDC_DOCS_SCHEMA,
        start_dedup_stream,
    )

    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()
    with open(docs_dir / "b0.json", "w") as f:
        f.write(json.dumps({
            "doc_id": 1, "text": "spark engine fundamentals long enough",
            "lang": "en", "source": "s0", "op": "u"}) + "\n")
    with open(docs_dir / "b1.json", "w") as f:
        f.write(json.dumps({
            "doc_id": 1, "text": "short", "lang": "en", "source": "s0",
            "op": "u"}) + "\n")
    os.utime(docs_dir / "b0.json", (1_000_000, 1_000_000))
    os.utime(docs_dir / "b1.json", (2_000_000, 2_000_000))

    idx = BM25Index(spark, store_dir=str(tmp_path / "store"))
    q = start_dedup_stream(
        spark,
        idx,
        str(docs_dir),
        str(tmp_path / "ckpt"),
        str(tmp_path / "out"),
        schema=CDC_DOCS_SCHEMA,
        max_files_per_trigger=1,
        pre_filter="length(text) >= 20",
    )
    q.processAllAvailable()
    q.stop()
    # the stale long version is gone (not frozen), and the failing
    # short version never entered
    assert idx.topk(("spark",), k=5).count() == 0
    assert idx.topk(("short",), k=5).count() == 0
    # the original failing row is audited in rejected/
    rej = spark.read.parquet(
        str(tmp_path / "out" / "rejected" / "epoch=1")
    ).collect()
    assert [(r.doc_id, r.text) for r in rej] == [(1, "short")]
    idx.close()

def test_empty_cdc_batch_does_not_arm_overlay(spark, tmp_path):
    """r8 advice: an EMPTY micro-batch must not set _has_cdc — the
    epoch still commits (stream bookkeeping), but readers stay on the
    append-only fast path and a reloaded store does too."""
    store = str(tmp_path / "mh")
    idx = MinHashIndex(spark, store_dir=store)
    idx.ingest(_docs(spark, [(1, DOC)]), epoch=0)
    idx.apply_cdc(_cdc(spark, []), epoch=1)
    assert idx.epoch_applied(1)  # the epoch is committed state
    assert not idx._has_cdc
    assert idx._overlay_rows == 0
    idx.close()
    idx2 = MinHashIndex.load(spark, store)
    assert not idx2._has_cdc
    assert idx2.epoch_applied(1)
    idx2.close()


def test_stale_cdc_flag_cleared_in_manifest_on_early_return(
    spark, tmp_path
):
    """r8 advice: compact()'s no-dirty-rows early return must commit
    the manifest when it clears a stale persisted flag — otherwise a
    reloaded store pays the overlay fold per query forever."""
    store = str(tmp_path / "mh")
    idx = MinHashIndex(spark, store_dir=store)
    idx.ingest(_docs(spark, [(1, DOC)]), epoch=0)
    idx.compact()  # single compacted segment, no dirty rows
    # simulate a pre-r9 store whose manifest carries a stale flag
    idx._has_cdc = True
    idx._commit_manifest()
    idx.compact()  # no dirty rows, single segment -> early return
    assert not idx._has_cdc
    idx.close()
    idx2 = MinHashIndex.load(spark, store)
    assert not idx2._has_cdc  # the reset reached disk
    idx2.close()


def test_truncate_lifecycle_and_replay(spark, tmp_path):
    """r8 verdict item 3: truncate() clears the corpus as one
    committed epoch — decisions list every live doc, stored_decisions
    replays them, the store reloads empty, and held text stops
    blocking."""
    store = str(tmp_path / "mh")
    idx = MinHashIndex(spark, store_dir=store)
    idx.ingest(_docs(spark, [(1, DOC), (2, OTHER)]), epoch=0)
    dec = idx.truncate(epoch=1)
    rows = sorted(dec.collect(), key=lambda r: r.doc_id)
    assert [(r.doc_id, r.dup_of, r.jaccard) for r in rows] == [
        (1, None, None),
        (2, None, None),
    ]
    assert idx.epoch_applied(1)
    stored = idx.stored_decisions(1)
    assert sorted(r.doc_id for r in stored.collect()) == [1, 2]
    with pytest.raises(ValueError, match="already applied"):
        idx.truncate(epoch=1)
    # nothing blocks the old text now, and new ingest works
    assert idx.ingest(_docs(spark, [(3, DOC)]), epoch=2).count() == 0
    idx.close()
    # the cutover reached disk: reload shows {3} only
    idx2 = MinHashIndex.load(spark, store)
    held = {r.doc_id for r in idx2.shingles.select("doc_id").collect()}
    assert held == {3}
    assert idx2.epoch_applied(1)
    idx2.close()


def test_truncate_decisions_reflect_cdc_overlay(spark):
    """truncate() lists only docs LIVE at the instant of the truncate:
    a doc already deleted via CDC is not re-reported, and the
    post-truncate index starts on the append-only fast path (a bulk
    re-add of a formerly CDC-touched id is sound again)."""
    idx = MinHashIndex(spark)
    idx.ingest(_docs(spark, [(1, DOC), (2, OTHER)]))
    idx.apply_cdc(_cdc(spark, [(2, None, "d")]))
    dec = idx.truncate()
    assert [r.doc_id for r in dec.collect()] == [1]
    assert not idx._has_cdc and idx._overlay_rows == 0
    # id 2 had CDC history; after truncate it is genuinely gone and
    # plain ingest accepts it without the readd guard firing
    assert idx.ingest(_docs(spark, [(2, OTHER)])).count() == 0
    idx.close()


@pytest.mark.slow
def test_overlay_cap_triggers_autocompact(spark, tmp_path):
    """r8 verdict item 4: a CDC burst between compact_every cadence
    points must not grow the broadcast fold unboundedly — the index
    compacts itself once overlay rows exceed overlay_cap."""
    store = str(tmp_path / "mh")
    idx = MinHashIndex(spark, store_dir=store, overlay_cap=3)
    idx.ingest(_docs(spark, [(1, DOC), (2, OTHER)]))
    # each epoch: one upsert -> 1 overlay row (the new version)
    idx.apply_cdc(_cdc(spark, [(1, THIRD, "u")]))
    assert idx._has_cdc and idx._overlay_rows == 1
    idx.apply_cdc(_cdc(spark, [(1, DOC, "u")]))
    idx.apply_cdc(_cdc(spark, [(1, THIRD, "u")]))
    assert idx._overlay_rows == 3  # at the cap, not yet over
    assert idx._has_cdc
    dec = idx.apply_cdc(_cdc(spark, [(1, DOC, "u")]))
    dec.count()
    # 4 > cap: the commit auto-compacted — overlay folded physically
    assert not idx._has_cdc
    assert idx._overlay_rows == 0
    assert len(idx._segments) == 1
    assert idx.vals.filter(F.col("op") != "a").count() == 0
    # semantics intact: live corpus is {1: DOC, 2: OTHER}
    d = idx.ingest(_docs(spark, [(9, DOC)])).collect()
    assert [(r.doc_id, r.dup_of) for r in d] == [(9, 1)]
    idx.close()
    # the persisted counter survives reload mid-cycle
    idx2 = MinHashIndex.load(spark, store)
    assert idx2._overlay_rows == 0
    idx2.apply_cdc(_cdc(spark, [(2, THIRD, "u")]))
    assert idx2._overlay_rows == 1
    idx2.close()
    idx3 = MinHashIndex.load(spark, store)
    assert idx3._overlay_rows == 1  # manifest carried it
    idx3.close()


def test_pre_filter_null_op_row_gated_not_vanished(spark, tmp_path):
    """r8 advice (medium): a NULL-op CDC row that fails pre_filter
    must take the upsert branch of the gate — audited in rejected/
    and demoted to a delete — not vanish from both branches leaving
    its stale version live."""
    import json
    import os

    from pgsync_spark.functions.bm25_index import BM25Index
    from pgsync_spark.streaming.stream import (
        CDC_DOCS_SCHEMA,
        start_dedup_stream,
    )

    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()
    with open(docs_dir / "b0.json", "w") as f:
        f.write(json.dumps({
            "doc_id": 1, "text": "spark engine fundamentals long enough",
            "lang": "en", "source": "s0", "op": "u"}) + "\n")
    # NULL op (key absent) + text failing the length gate
    with open(docs_dir / "b1.json", "w") as f:
        f.write(json.dumps({
            "doc_id": 1, "text": "tiny", "lang": "en",
            "source": "s0"}) + "\n")
    os.utime(docs_dir / "b0.json", (1_000_000, 1_000_000))
    os.utime(docs_dir / "b1.json", (2_000_000, 2_000_000))

    idx = BM25Index(spark, store_dir=str(tmp_path / "store"))
    q = start_dedup_stream(
        spark,
        idx,
        str(docs_dir),
        str(tmp_path / "ckpt"),
        str(tmp_path / "out"),
        schema=CDC_DOCS_SCHEMA,
        max_files_per_trigger=1,
        pre_filter="length(text) >= 20",
    )
    q.processAllAvailable()
    q.stop()
    # the stale long version is dead (demoted delete reached the
    # index) and the failing new version never entered
    assert idx.topk(("spark",), k=5).count() == 0
    assert idx.topk(("tiny",), k=5).count() == 0
    # the NULL-op row is audited in rejected/
    rej = spark.read.parquet(
        str(tmp_path / "out" / "rejected" / "epoch=1")
    ).collect()
    assert [(r.doc_id, r.text) for r in rej] == [(1, "tiny")]
    idx.close()

def test_pre_filter_does_not_demote_unknown_ops(spark, tmp_path):
    """r9 review finding: a rejected row with an op OUTSIDE the
    closed vocabulary must keep its op and raise in apply_cdc — the
    demote-to-delete path must not convert garbage ops into silent
    per-doc deletes just because they failed the quality gate."""
    import json
    import os

    from pgsync_spark.functions.bm25_index import BM25Index
    from pgsync_spark.streaming.stream import (
        CDC_DOCS_SCHEMA,
        start_dedup_stream,
    )

    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()
    with open(docs_dir / "b0.json", "w") as f:
        f.write(json.dumps({
            "doc_id": 1, "text": "spark engine fundamentals long enough",
            "lang": "en", "source": "s0", "op": "u"}) + "\n")
    # op='x' with short text: fails the gate AND has a garbage op
    with open(docs_dir / "b1.json", "w") as f:
        f.write(json.dumps({
            "doc_id": 1, "text": "bad", "lang": "en", "source": "s0",
            "op": "x"}) + "\n")
    os.utime(docs_dir / "b0.json", (1_000_000, 1_000_000))
    os.utime(docs_dir / "b1.json", (2_000_000, 2_000_000))

    idx = BM25Index(spark, store_dir=str(tmp_path / "store"))
    q = start_dedup_stream(
        spark,
        idx,
        str(docs_dir),
        str(tmp_path / "ckpt"),
        str(tmp_path / "out"),
        schema=CDC_DOCS_SCHEMA,
        max_files_per_trigger=1,
        pre_filter="length(text) >= 20",
    )
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises(StreamingQueryException, match="unknown CDC op"):
        q.processAllAvailable()
    q.stop()
    # doc 1 was NOT silently tombstoned by the refused batch
    assert idx.topk(("spark",), k=5).count() == 1
    idx.close()

def test_storeless_replay_survives_autocompact(spark):
    """r9 review pass 2: _maybe_autocompact cuts the returned
    decisions over to a checkpoint and releases the original — the
    store-less _last_decisions replay slot must be cut over too, or
    an in-process batch retry after the compact replays a frame whose
    cache and lineage are both gone."""
    idx = MinHashIndex(spark, overlay_cap=1)
    idx.ingest(_docs(spark, [(1, DOC), (2, OTHER)]), epoch=0)
    # 2 overlay rows > cap 1: autocompact fires inside apply_cdc
    idx.apply_cdc(
        _cdc(spark, [(1, THIRD, "u"), (2, None, "d")]), epoch=1
    )
    assert not idx._has_cdc  # compacted
    stored = idx.stored_decisions(1)
    assert stored is not None
    # the replay frame is collectable after the compact released the
    # superseded parts (was: block-not-found on the stale frame)
    rows = sorted(r.doc_id for r in stored.collect())
    assert rows == [2]
    idx.close()


# ---------------------------------------------------------------------------
# compact(): one overlay fold, one checkpoint wave (shared base class —
# pinned on the two engine-owned index families)
# ---------------------------------------------------------------------------


def _dirty_index(spark, kind, rounds=1):
    """A store-less index seeded with 200 docs, plus ``rounds`` CDC
    epochs (20 upserts + 1 delete each) left unfolded."""
    import random

    rnd = random.Random(7)
    if kind == "bm25":
        from pgsync_spark.functions.bm25_index import BM25Index

        idx = BM25Index(spark)
        schema = "doc_id bigint, text string, lang string, source string"

        def payload(i, r):
            return (f"alpha w{i} w{i % 7} r{r}", None, None)
    elif kind == "minhash":
        idx = MinHashIndex(spark)
        schema = "doc_id bigint, text string"

        def payload(i, r):
            return (f"alpha beta w{i} w{i % 7} r{r} gamma delta",)
    else:
        from pgsync_spark.functions.dedup_index import EmbeddingIndex

        idx = (VectorIndex if kind == "vector" else EmbeddingIndex)(spark)
        schema = "vec_id bigint, embedding array<double>"

        def payload(i, r):
            return ([rnd.uniform(-1, 1) for _ in range(16)],)

    tomb = (None,) * len(payload(0, 0))
    idx.ingest(
        spark.createDataFrame(
            [(i,) + payload(i, -1) for i in range(200)], schema
        )
    )

    def cdc(r):
        rows = [(i,) + payload(i, r) + ("u",) for i in range(10 * r, 10 * r + 20)]
        rows.append((150 + r,) + tomb + ("d",))
        idx.apply_cdc(spark.createDataFrame(rows, schema + ", op string"))

    for r in range(rounds):
        cdc(r)
    return idx, cdc


def _leaf_rdds(df):
    """Ids of the checkpointed RDDs ``df``'s analyzed plan reads."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return {
        leaves.apply(i).rdd().id()
        for i in range(leaves.size())
        if leaves.apply(i).getClass().getSimpleName() == "LogicalRDD"
    }


@pytest.mark.parametrize(
    "kind,rounds,jobs",
    [
        pytest.param("bm25", 1, 4, id="bm25"),
        pytest.param("vector", 1, 4, id="vector"),
        pytest.param("bm25", 3, 6, id="bm25-3parts"),
        pytest.param("vector", 3, 6, id="vector-3parts"),
    ],
)
def test_cdc_compact_job_count(spark, kind, rounds, jobs):
    """A CDC-dirty compaction folds both sides in one concurrent wave,
    each through one broadcast of an overlay read from the CDC parts
    alone, never the compacted corpus. One CDC part is its own overlay
    (4 jobs: no aggregate, no overlay checkpoint); several aggregate
    once into one overlay checkpoint (6). No emptiness job, no keys
    count, no ver-reset rewrite. Counted as jobs the scheduler handed
    out around compact()."""
    idx, cdc = _dirty_index(spark, kind)
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    try:
        idx.compact()
        corpus = _leaf_rdds(idx.vals)
        for r in range(1, rounds + 1):
            cdc(r)
        assert idx._has_cdc and idx._overlay_rows == 21 * rounds
        overlay = _leaf_rdds(idx._cdc_overlay())
        assert len(overlay) == rounds and not overlay & corpus
        jobs0 = sched.numTotalJobs()
        idx.compact()
        assert sched.numTotalJobs() - jobs0 == jobs
        assert not idx._has_cdc and idx._overlay_rows == 0
        assert len(idx._key_parts) == len(idx._val_parts) == 1
        ver_op = idx.vals.groupBy("ver", "op").count().collect()
        live = 200 - 1 - rounds
        assert [(r.ver, r.op, r["count"]) for r in ver_op] == [(-1, "a", live)]
        assert {r.ver for r in idx.keys.select("ver").distinct().collect()} == {-1}
        ids = {r[0] for r in idx.vals.select(idx._ID_COL).collect()}
        assert ids == set(range(200)) - set(range(150, 151 + rounds))
    finally:
        idx.close()


@pytest.mark.parametrize("kind", ["bm25", "vector"])
def test_cdc_overlay_parts_survive_reload(spark, tmp_path, kind):
    """The overlay's CDC-part record across a store's life: a bulk
    ingest, a CDC epoch, a bulk ingest of new ids (a clean part between
    two dirty ones) and a second CDC epoch. The in-memory index, a
    fresh load() of its store, and a load() of a copy whose manifest
    lacks the record (every held part is then an overlay candidate)
    all serve what a one-shot index over the live docs serves, before
    and after a compact."""
    import json
    import random
    import shutil

    rnd = random.Random(11)
    if kind == "bm25":
        cls = BM25Index
        schema = "doc_id bigint, text string, lang string, source string"

        def payload(i, r):
            return (f"alpha w{i % 5} r{r} w{i}", None, None)

        def top(idx):
            terms = ("alpha", "w1", "r1", "r3")
            return [tuple(r) for r in idx.topk(terms, k=10).collect()]
    else:
        cls = VectorIndex
        schema = "vec_id bigint, embedding array<double>"

        def payload(i, r):
            return ([rnd.uniform(-1, 1) for _ in range(16)],)

        q = spark.createDataFrame(
            [(0, payload(0, 0)[0]), (1, payload(0, 0)[0])],
            "query_id bigint, embedding array<double>",
        )

        def top(idx):
            return [
                tuple(r)
                for r in idx.topk(q, k=10).orderBy("query_id", "rank").collect()
            ]

    store = str(tmp_path / "store")
    idx = cls(spark, store_dir=store)
    live: dict = {}
    tomb = (None,) * len(payload(0, 0))

    def ingest(ids, r):
        rows = [(i,) + payload(i, r) for i in ids]
        live.update((row[0], row) for row in rows)
        idx.ingest(spark.createDataFrame(rows, schema))

    def cdc(ups, dels, r):
        rows = [(i,) + payload(i, r) for i in ups]
        live.update((row[0], row) for row in rows)
        for i in dels:
            live.pop(i)
        idx.apply_cdc(
            spark.createDataFrame(
                [row + ("u",) for row in rows]
                + [(i,) + tomb + ("d",) for i in dels],
                schema + ", op string",
            )
        )

    def oneshot():
        ref = cls(spark)
        ref.ingest(spark.createDataFrame(list(live.values()), schema))
        out = top(ref)
        ref.close()
        return out

    def live_vals(i):
        return sorted(
            tuple(r) for r in i.live("vals").drop("ver", "op").collect()
        )

    ingest(range(40), 0)
    cdc(range(10), [30], 1)
    ingest(range(100, 120), 2)
    cdc([*range(5, 15), *range(100, 105)], [31, 110], 3)
    legacy = str(tmp_path / "legacy")
    shutil.copytree(store, legacy)
    with open(os.path.join(legacy, "CURRENT")) as f:
        m = json.load(f)
    assert m.pop("cdc_segments") == ["epoch=1", "epoch=3"]
    with open(os.path.join(legacy, "CURRENT"), "w") as f:
        json.dump(m, f)
    want = oneshot()
    assert top(idx) == want
    loaded, old = cls.load(spark, store), cls.load(spark, legacy)
    try:
        assert list(loaded._cdc_parts) == ["epoch=1", "epoch=3"]
        assert list(old._cdc_parts) == old._segments
        assert top(loaded) == top(old) == want
        assert live_vals(loaded) == live_vals(old) == live_vals(idx)
        assert [r[0] for r in live_vals(idx)] == sorted(live)
        old.compact()
        assert top(old) == want
    finally:
        loaded.close()
        old.close()
    idx.compact()
    assert not idx._cdc_parts and top(idx) == want
    idx.close()
    loaded = cls.load(spark, store)
    try:
        assert not loaded._cdc_parts and top(loaded) == want
    finally:
        loaded.close()


def _settled_jobs(spark):
    """The scheduler's job total once the MinHash probe's hot-bucket
    logger thread is done (its fallback count is a job of its own)."""
    from pgsync_spark.functions.dedup import HOT_BUCKET_PROBES

    probe = HOT_BUCKET_PROBES.get("minhash_index_probe")
    if probe is not None:
        probe.thread.join(60)
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


@pytest.mark.parametrize(
    "kind,plain,adaptive",
    [("bm25", 3, 8), ("vector", 3, 6),
     ("minhash", 10, None), ("embedding", 10, 33)],
)
def test_apply_cdc_job_count(spark, kind, plain, adaptive):
    """One dirty apply_cdc epoch (20 upserts + 1 delete over a held,
    already-dirty corpus) runs a pinned number of Spark jobs on every
    index class: ``plain`` with adaptive execution off (actions and
    broadcasts only, deterministic), ``adaptive`` with it on (every
    query stage is a job). The MinHash probe's adaptive count is not
    pinned: its re-planning races add a stage job on some runs."""
    idx, cdc = _dirty_index(spark, kind)
    key = "spark.sql.adaptive.enabled"
    counts = []
    try:
        for r, aqe in ((1, "false"), (2, "true")):
            spark.conf.set(key, aqe)
            jobs0 = _settled_jobs(spark)
            cdc(r)
            counts.append(_settled_jobs(spark) - jobs0)
        assert counts[0] == plain
        if adaptive is not None:
            assert counts[1] == adaptive
        assert idx._has_cdc and idx.next_epoch() == 4
    finally:
        spark.conf.set(key, "true")
        idx.close()


@pytest.mark.parametrize("kind", ["bm25", "vector"])
def test_cdc_compact_holds_no_extra_blocks(spark, kind):
    """Leak guard: rounds of apply_cdc + compact() on one index leave
    the same number of persistent RDDs after every round — the overlay
    checkpoint and each superseded part are released."""
    idx, cdc = _dirty_index(spark, kind, rounds=0)
    since = spark.sparkContext.emptyRDD().id()
    sizes = []
    try:
        for r in range(4):
            cdc(r)
            idx.compact()
            sizes.append(
                sum(
                    1
                    for rid in spark.sparkContext._jsc.getPersistentRDDs().keys()
                    if int(rid) > since
                )
            )
        assert sizes[1] == sizes[2] == sizes[3], sizes
    finally:
        idx.close()


def _entry_index(spark, kind):
    """A store-less ``kind`` index holding ids 1 and 2 (epoch 0), and
    ``rows(pairs)``: a CDC batch of (id, op) pairs whose payloads are
    pairwise far apart (no probe ever drops one)."""
    from pgsync_spark.functions.dedup_index import EmbeddingIndex

    if kind == "bm25":
        idx = BM25Index(spark)
        schema = "doc_id bigint, text string, lang string, source string"

        def payload(i):
            return (f"w{i}a w{i}b", None, None)
    elif kind == "minhash":
        idx = MinHashIndex(spark)
        schema = "doc_id bigint, text string"

        def payload(i):
            return (" ".join(f"w{i}{c}" for c in "abcdef"),)
    else:
        idx = (VectorIndex if kind == "vector" else EmbeddingIndex)(spark)
        schema = "vec_id bigint, embedding array<double>"

        def payload(i):  # one-hot: cosine 0 between distinct ids
            return ([1.0 if d == (i or 0) else 0.0 for d in range(16)],)

    def rows(pairs):
        return spark.createDataFrame(
            [(i,) + payload(i) + (op,) for i, op in pairs],
            schema + ", op string",
        )

    idx.ingest(rows([(1, "a"), (2, "a")]).drop("op"))
    return idx, rows


@pytest.mark.parametrize("kind", ["bm25", "vector", "minhash", "embedding"])
def test_apply_cdc_entry_contract(spark, kind):
    """apply_cdc's one entry, on every index class: a NULL id (alone
    or duplicated), a duplicate id, table-level 't' and an unknown op
    refuse without committing an epoch or arming the overlay; an empty
    batch commits its epoch without arming it; a NULL op and the
    documented upsert letters upsert; CDC history blocks a bulk
    re-add (the overlay would shadow it)."""
    idx, rows = _entry_index(spark, kind)
    idc = idx._ID_COL
    try:
        for pairs, msg in (
            ([(None, "u")], f"NULL {idc}"),
            ([(None, "u"), (None, "u")], f"NULL {idc}"),
            ([(3, "u"), (3, "d")], f"multiple rows for {idc} 3"),
            ([(3, "t")], "truncate"),
            ([(3, "x")], "unknown CDC op 'x'"),
        ):
            with pytest.raises(ValueError, match=msg):
                idx.apply_cdc(rows(pairs))
        assert idx.next_epoch() == 1
        assert not idx._has_cdc and idx._overlay_rows == 0
        idx.apply_cdc(rows([]))
        assert idx.epoch_applied(1)
        assert not idx._has_cdc and idx._overlay_rows == 0
        idx.apply_cdc(rows([(3, None), (4, "c"), (5, "i"), (1, "d")]))
        assert idx._has_cdc and idx._overlay_rows == 4
        live = idx.live("vals").select(idc).collect()
        assert sorted(r[idc] for r in live) == [2, 3, 4, 5]
        with pytest.raises(ValueError, match="CDC history"):
            idx.ingest(rows([(1, None)]).drop("op"))
    finally:
        idx.close()


def test_failed_compact_leaves_no_ghost_segment(
    spark, tmp_path, monkeypatch
):
    """A store-backed compact() whose vals write fails after its keys
    write deletes its ghost segment — it is never listed, so nothing
    else ever would — and the index keeps serving the old corpus, in
    memory and after a reload."""
    from pyspark.sql.readwriter import DataFrameWriter

    schema = "doc_id bigint, text string, lang string, source string"
    store = str(tmp_path / "bm25")
    idx = BM25Index(spark, store_dir=store)
    idx.ingest(
        spark.createDataFrame([(1, "spark engine", None, None)], schema)
    )
    idx.apply_cdc(
        spark.createDataFrame(
            [(2, "spark index", None, None, "u"),
             (1, None, None, None, "d")],
            schema + ", op string",
        )
    )
    before = [tuple(r) for r in idx.topk(("spark",), k=5).collect()]
    assert [r[0] for r in before] == [2]
    listed = sorted(idx._segments)
    parquet = DataFrameWriter.parquet

    def failing(self, path, *args, **kwargs):
        if os.path.join("docstats", "compacted") in path:
            raise OSError("disk full")
        return parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", failing)
    with pytest.raises(OSError, match="disk full"):
        idx.compact()
    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    for side in ("postings", "docstats"):
        assert sorted(os.listdir(os.path.join(store, side))) == listed
    assert sorted(idx._segments) == listed and idx._has_cdc
    assert [tuple(r) for r in idx.topk(("spark",), k=5).collect()] == before
    idx.close()
    idx2 = BM25Index.load(spark, store)
    assert [tuple(r) for r in idx2.topk(("spark",), k=5).collect()] == before
    idx2.close()


def test_one_index_write_path():
    """_AppendOnlyIndex owns the index family's write path: no subclass
    defines its own entry, epoch-row or removal-decision builder, and
    outside functions/dedup_index.py no function runs the CDC entry
    validation, or deletes a segment dir or commits the manifest
    around a segment swap (the one cutover is _cutover)."""
    import ast
    import pathlib

    from pgsync_spark.functions.dedup_index import _AppendOnlyIndex

    def subclasses(cls):
        for sub in cls.__subclasses__():
            if sub.__module__.startswith("pgsync_spark."):
                yield sub
                yield from subclasses(sub)

    base_only = {
        "ingest", "apply_cdc", "_write_epoch", "_append_rows",
        "_append_versioned", "_delete_decisions", "_removed", "_probe",
        "_cutover", "_validate_cdc_batch",
    }
    bad = [
        f"{sub.__name__}.{name}"
        for sub in subclasses(_AppendOnlyIndex)
        for name in sorted(base_only & set(vars(sub)))
    ]
    assert len(list(subclasses(_AppendOnlyIndex))) >= 5
    pkg = pathlib.Path(__file__).resolve().parent.parent / "pgsync_spark"
    owner = pkg / "functions" / "dedup_index.py"
    segment = {"_segments", "_swap_parts", "_KEYS_NAME", "_VALS_NAME"}
    n_files = 0
    for f in pkg.rglob("*.py"):
        if "__pycache__" in f.parts or f == owner:
            continue
        n_files += 1
        for fn in ast.walk(ast.parse(f.read_text())):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            names = {
                n.attr if isinstance(n, ast.Attribute) else n.id
                for n in ast.walk(fn)
                if isinstance(n, (ast.Attribute, ast.Name))
            }
            if "_validate_cdc_batch" in names or (
                names & segment and names & {"rmtree", "_commit_manifest"}
            ):
                bad.append(f"{f.name}:{fn.lineno}: {fn.name}")
    assert n_files > 20, f"package scan found only {n_files} files"
    assert not bad, (
        "index write path written outside _AppendOnlyIndex (use its "
        "hooks instead):\n" + "\n".join(bad)
    )


# -- store state: load() is the one open that checks it --------------------
#
# A committed store keeps the configuration it was built with. Each row:
# the class whose load() is asked, the store it opens, the value that
# store was built with, and a different value.
_EXPR = "CAST(array(1.0D, 2.0D) AS ARRAY<DOUBLE>)"
_STATE = {
    "analyzer": (BM25Index, "bm25", "standard", "whitespace"),
    "feature_expr": (
        VectorIndex, "vector", _EXPR, "CAST(x AS ARRAY<DOUBLE>)"
    ),
    "sample_mod": (IVFVectorIndex, "ivf", 3, 5),
    "family": (VectorIndex, "ivf", "ivf", "lsh"),
}


def _vectors(spark, n):
    from pgsync_spark.functions.hashing import hash_embed_py

    return spark.createDataFrame(
        [(i, hash_embed_py(f"s{i}")) for i in range(n)],
        "vec_id bigint, embedding array<double>",
    )


def _build_store(spark, path, kind, **state):
    """A committed store of ``kind`` (one ingested batch) built with
    ``state``; returns its path."""
    if kind == "bm25":
        idx = BM25Index(spark, store_dir=path, **state)
        idx.ingest(spark.createDataFrame(
            [(1, "High-Priority alert", None, None)],
            "doc_id bigint, text string, lang string, source string",
        ))
    elif kind == "vector":
        idx = VectorIndex(spark, store_dir=path, **state)
        idx.ingest(_vectors(spark, 1))
    else:  # enough hash-sampled ids to train the codebook
        idx = IVFVectorIndex(spark, store_dir=path, **state)
        idx.ingest(_vectors(spark, 60))
    idx.close()
    return path


@pytest.fixture(scope="module")
def state_stores(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("state")
    return {
        "bm25": _build_store(
            spark, str(root / "bm25"), "bm25", analyzer="standard"
        ),
        "vector": _build_store(
            spark, str(root / "vector"), "vector", feature_expr=_EXPR
        ),
        "ivf": _build_store(spark, str(root / "ivf"), "ivf", sample_mod=3),
    }


@pytest.mark.parametrize("mode", ["fresh", "same", "different", "omitted"])
@pytest.mark.parametrize("key", list(_STATE))
def test_load_checks_store_state(spark, tmp_path, state_stores, key, mode):
    """load(**state): a fresh dir takes the requested value, a
    committed store reloads under its own value, refuses a different
    one, and an omitted value adopts the stored one."""
    cls, kind, stored, other = _STATE[key]
    load = cls.load
    if mode == "different":
        with pytest.raises(ValueError, match=f"was built with {key}="):
            load(spark, state_stores[kind], **{key: other})
        return
    if mode == "fresh":
        idx, want = load(spark, str(tmp_path / "new"), **{key: other}), other
        assert idx.next_epoch() == 0
    elif mode == "same":
        idx, want = load(spark, state_stores[kind], **{key: stored}), stored
    else:
        idx, want = load(spark, state_stores[kind]), stored
    try:
        assert getattr(idx, key) == want
        assert mode == "fresh" or idx.next_epoch() == 1
    finally:
        idx.close()


def test_load_family_dispatch_and_foreign_class(spark, state_stores):
    """VectorIndex.load opens an IVF store as IVFVectorIndex; a store
    another class wrote refuses; a read that needs a store refuses a
    dir with no manifest."""
    idx = VectorIndex.load(spark, state_stores["ivf"])
    assert type(idx) is IVFVectorIndex and idx._cents
    idx.close()
    with pytest.raises(ValueError, match="written by VectorIndex"):
        IVFVectorIndex.load(spark, state_stores["vector"])
    with pytest.raises(ValueError, match="written by BM25Index"):
        VectorIndex.load(spark, state_stores["bm25"])
    with pytest.raises(ValueError, match="no CURRENT manifest"):
        VectorIndex.load(
            spark, state_stores["ivf"] + "-missing", must_exist=True
        )


def test_load_ivf_sample_mod_unset_matches_default(spark, tmp_path):
    """A store trained before the sample_mod dial existed (stored
    None) trained under PQT_SAMPLE_MOD: requesting that default
    matches, another modulus refuses."""
    from pgsync_spark.functions.similarity import PQT_SAMPLE_MOD

    store = _build_store(spark, str(tmp_path / "ivf0"), "ivf")
    idx = IVFVectorIndex.load(spark, store, sample_mod=PQT_SAMPLE_MOD)
    assert idx.sample_mod == PQT_SAMPLE_MOD
    idx.close()
    with pytest.raises(ValueError, match="was built with sample_mod="):
        IVFVectorIndex.load(spark, store, sample_mod=PQT_SAMPLE_MOD + 1)


def test_load_pre_stamp_store_adopts_explicit_feature_expr(
    spark, tmp_path, caplog
):
    """A pre-stamp vector store (no featurizer recorded) adopts an
    explicit feature_expr and stamps the manifest at once, so the next
    load refuses a different one; the default featurizer only warns
    and leaves the store unstamped."""
    from pgsync_spark.functions.vector_index import DEFAULT_FEATURE_EXPR

    store = _build_store(spark, str(tmp_path / "pre"), "vector")
    with caplog.at_level("WARNING"):
        VectorIndex.load(
            spark, store, feature_expr=DEFAULT_FEATURE_EXPR
        ).close()
    assert "pre-stamp" in caplog.text
    idx = VectorIndex.load(spark, store)
    assert idx.feature_expr is None
    idx.close()

    VectorIndex.load(spark, store, feature_expr=_EXPR).close()
    idx = VectorIndex.load(spark, store)  # stamped on disk, no epoch ran
    assert idx.feature_expr == _EXPR and idx.next_epoch() == 1
    idx.close()
    with pytest.raises(ValueError, match="was built with feature_expr="):
        VectorIndex.load(spark, store, feature_expr=DEFAULT_FEATURE_EXPR)
