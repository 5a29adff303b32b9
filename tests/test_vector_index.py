"""VectorIndex (incremental ANN serving index): batch-split
invariance vs the one-shot probe, store-backed restart, CDC
update/delete lifecycle, truncate, entry contracts."""

import os

import pytest
from pyspark.sql import functions as F

from pgsync_spark.functions.dedup_index import EmbeddingIndex
from pgsync_spark.functions.similarity import N_QUERIES
from pgsync_spark.functions.vector_index import VectorIndex

SF_DIR = "/root/testdata/sf0.001"


def _emb(spark):
    return spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))


def _queries(emb):
    return emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


def _oneshot(spark, corpus, queries):
    """Fresh index over the whole corpus — the parity baseline (the
    probe is per-vector, so batch splits must be invisible)."""
    ref = VectorIndex(spark)
    ref.ingest(corpus)
    out = [
        tuple(r)
        for r in ref.topk(queries, exclude_self=True)
        .orderBy("query_id", "rank")
        .collect()
    ]
    ref.close()
    return out


@pytest.mark.slow
def test_split_invariance_across_restart_and_compact(spark, tmp_path):
    """Build across two processes (close + load between batches),
    query, compact — every stage answers identically to a one-shot
    index over the same vectors."""
    emb = _emb(spark)
    q = _queries(emb)
    expected = _oneshot(spark, emb, q)
    store = str(tmp_path / "vec")

    idx = VectorIndex(spark, store_dir=store)
    idx.ingest(emb.filter(F.col("vec_id") % 3 == 0))
    idx.ingest(emb.filter(F.col("vec_id") % 3 == 1))
    idx.close()

    idx2 = VectorIndex.load(spark, store)
    idx2.ingest(emb.filter(F.col("vec_id") % 3 == 2))
    got = [
        tuple(r)
        for r in idx2.topk(q, exclude_self=True)
        .orderBy("query_id", "rank")
        .collect()
    ]
    assert got == expected

    idx2.compact()
    assert len(idx2._segments) == 1
    got = [
        tuple(r)
        for r in idx2.topk(q, exclude_self=True)
        .orderBy("query_id", "rank")
        .collect()
    ]
    assert got == expected
    idx2.close()

    idx3 = VectorIndex.load(spark, store)
    got = [
        tuple(r)
        for r in idx3.topk(q, exclude_self=True)
        .orderBy("query_id", "rank")
        .collect()
    ]
    assert got == expected
    idx3.close()


def test_cdc_update_moves_ranking_and_delete_tombstones(spark):
    """An UPDATE that changes a vector must serve the NEW vector (its
    buckets move with it); a DELETE must rank nowhere. Parity against
    a one-shot index over the post-CDC corpus, before and after
    compact()."""
    emb = _emb(spark)
    emb_t = emb.schema["embedding"].dataType
    q = _queries(emb)

    # post-CDC corpus: vec_id%7==3 -> successor's embedding,
    # vec_id%7==5 -> gone (query ids excluded from both)
    nxt = emb.select(
        (F.col("vec_id") - 1).alias("vec_id"),
        F.col("embedding").alias("nemb"),
    )
    upd_pred = (F.col("vec_id") % 7 == 3) & (F.col("vec_id") >= N_QUERIES)
    del_pred = (F.col("vec_id") % 7 == 5) & (F.col("vec_id") >= N_QUERIES)
    mut = (
        emb.join(nxt, "vec_id", "left")
        .filter(~del_pred)
        .select(
            "vec_id",
            F.when(upd_pred & F.col("nemb").isNotNull(), F.col("nemb"))
            .otherwise(F.col("embedding"))
            .alias("embedding"),
        )
    )
    expected = _oneshot(spark, mut, q)

    idx = VectorIndex(spark)
    idx.ingest(emb)
    ups = (
        emb.filter(upd_pred)
        .join(nxt, "vec_id")
        .select(
            "vec_id",
            F.col("nemb").alias("embedding"),
            F.lit("u").alias("op"),
        )
    )
    dels = emb.filter(del_pred).select(
        "vec_id",
        F.lit(None).cast(emb_t).alias("embedding"),
        F.lit("d").alias("op"),
    )
    dec = idx.apply_cdc(ups.unionByName(dels))
    # decisions are the deleted ids (the BM25Index convention)
    assert sorted(r.vec_id for r in dec.collect()) == sorted(
        r.vec_id for r in emb.filter(del_pred).collect()
    )

    got = [
        tuple(r)
        for r in idx.topk(q, exclude_self=True)
        .orderBy("query_id", "rank")
        .collect()
    ]
    assert got == expected

    idx.compact()  # the Lucene merge: fold the overlay physically
    assert not idx._has_cdc
    got = [
        tuple(r)
        for r in idx.topk(q, exclude_self=True)
        .orderBy("query_id", "rank")
        .collect()
    ]
    assert got == expected
    idx.close()


def test_truncate_clears_and_fresh_ingest_restarts(spark, tmp_path):
    emb = _emb(spark).filter(F.col("vec_id") < 50)
    q = _queries(emb)
    store = str(tmp_path / "vt")
    idx = VectorIndex(spark, store_dir=store)
    idx.ingest(emb)
    idx.apply_cdc(
        emb.filter(F.col("vec_id") == 7).select(
            "vec_id", "embedding", F.lit("d").alias("op")
        )
    )
    dec = idx.truncate()
    assert sorted(r.vec_id for r in dec.collect()) == sorted(
        r.vec_id for r in emb.filter(F.col("vec_id") != 7).collect()
    )
    assert idx.topk(q).count() == 0
    assert not idx._has_cdc and idx._overlay_rows == 0
    idx.ingest(emb)  # formerly CDC-touched ids re-enter cleanly
    assert idx.topk(q).count() > 0
    idx.close()
    idx2 = VectorIndex.load(spark, store)
    assert idx2.topk(q).count() > 0
    idx2.close()


def test_empty_index_topk_is_typed_empty(spark):
    idx = VectorIndex(spark)
    out = idx.topk(_queries(_emb(spark)))
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "query_id",
        "neighbor_id",
        "cosine",
        "rank",
    ]
    idx.close()


def test_null_embedding_upsert_raises(spark):
    """r10 review: a NULL embedding on an upsert would index bucket-0
    keys serving NULL cosines — the one-action validator refuses it
    (delete tombstones carry NULL embeddings by design). Both vector
    families share the entry: the dedup probe would otherwise hold the
    NULL copy under bucket-0 keys, where two NULL copies never dedup."""
    emb = _emb(spark).filter(F.col("vec_id") < 20)
    emb_t = emb.schema["embedding"].dataType

    def row(op):
        return spark.createDataFrame([(9,)], "vec_id bigint").select(
            "vec_id",
            F.lit(None).cast(emb_t).alias("embedding"),
            F.lit(op).alias("op"),
        )

    for cls in (VectorIndex, EmbeddingIndex):
        idx = cls(spark)
        try:
            idx.ingest(emb)
            with pytest.raises(ValueError, match="NULL embedding"):
                idx.apply_cdc(row("u"))
            # a delete with NULL embedding stays legal
            idx.apply_cdc(row("d"))
        finally:
            idx.close()


def test_ivf_codebook_freezes_and_survives_restart(spark, tmp_path):
    """IVFVectorIndex: the coarse codebook trains ONCE at seed and is
    INDEX STATE — a loaded store serves bit-identically without
    retraining, a CDC update crosses cells under the frozen codebook,
    and CDC/query before any training refuse loudly."""
    from pgsync_spark.functions.vector_index import IVFVectorIndex

    emb = _emb(spark)
    q = _queries(emb)

    # no codebook yet: both read and CDC paths refuse with the recipe
    fresh = IVFVectorIndex(spark)
    with pytest.raises(ValueError, match="no trained codebook"):
        fresh.apply_cdc(emb.limit(1).selectExpr(
            "vec_id", "embedding", "'u' AS op"))
    fresh.close()

    store = str(tmp_path / "ivf_store")
    idx = IVFVectorIndex(spark, store_dir=store)
    idx.ingest(emb)  # seed = build: trains + freezes
    cents = idx._cents
    assert cents is not None and len(cents) > 0
    before = [
        tuple(r)
        for r in idx.topk(q, exclude_self=True)
        .orderBy("query_id", "rank")
        .collect()
    ]
    idx.close()

    # restart: centroids come back from the manifest, not retraining
    idx2 = IVFVectorIndex.load(spark, store)
    assert idx2._cents == cents
    assert [
        tuple(r)
        for r in idx2.topk(q, exclude_self=True)
        .orderBy("query_id", "rank")
        .collect()
    ] == before

    # a CDC update re-assigns the moved vector under the FROZEN
    # codebook: give vec 9 the exact embedding of vec 8 — they must
    # land in the same cell and serve identical cosines vs any query
    mv = emb.filter(F.col("vec_id") == 8).select(
        F.lit(9).cast("bigint").alias("vec_id"),
        "embedding",
        F.lit("u").alias("op"),
    )
    idx2.apply_cdc(mv)
    assert idx2._cents == cents  # CDC never retrains
    # read the LATEST key version per id (raw keys still carry vec
    # 9's shadowed seed-time row until a compact folds it)
    rows = idx2.keys.filter(F.col("vec_id").isin(8, 9)).collect()
    latest = {}
    for r in rows:
        if r["vec_id"] not in latest or r["ver"] > latest[r["vec_id"]][1]:
            latest[r["vec_id"]] = (r["bucket"], r["ver"])
    assert latest[9][0] == latest[8][0]
    idx2.close()


def test_null_embedding_bulk_ingest_raises(spark):
    """r10 review finding: the NULL-embedding refusal covered only
    apply_cdc — the BULK path (ingest/seed) admitted NULLs that index
    bucket-0 keys serving NULL cosines. The lazy guard fires inside
    the epoch write, for both vector families."""
    df = spark.createDataFrame(
        [(1, [1.0] * 16), (2, None)],
        "vec_id bigint, embedding array<double>",
    )
    for cls in (VectorIndex, EmbeddingIndex):
        idx = cls(spark)
        try:
            with pytest.raises(Exception, match="NULL embedding on ingest"):
                idx.ingest(df)
        finally:
            idx.close()


def test_ivf_truncate_drops_codebook_and_retrains(spark, tmp_path):
    """r10 review pass 2: truncate() is a REBUILD for a trained index
    — centroids fit to the dropped corpus must not survive to assign
    the replacement corpus; the next ingest retrains (and the cleared
    slot persists across a restart)."""
    from pgsync_spark.functions.vector_index import IVFVectorIndex

    emb = _emb(spark)
    store = str(tmp_path / "ivf_t")
    idx = IVFVectorIndex(spark, store_dir=store)
    idx.ingest(emb)
    assert idx._cents is not None
    idx.truncate()
    assert idx._cents is None
    idx.close()

    idx2 = IVFVectorIndex.load(spark, store)
    assert idx2._cents is None  # the cleared slot persisted
    idx2.ingest(emb)  # a first ingest again: retrains
    assert idx2._cents is not None
    q = _queries(emb)
    assert idx2.topk(q, exclude_self=True).count() > 0
    idx2.close()


def test_ivf_failed_first_ingest_releases_base(spark):
    """r10 review pass 2: a first ingest whose training raises (too
    few sampled vectors to initialize the hash-init codebook) must
    not leak the persisted base frame."""
    from pgsync_spark.functions.similarity import IVF_CELLS
    from pgsync_spark.functions.vector_index import IVFVectorIndex

    # < IVF_CELLS rows total => the hash-sample can never reach the
    # codebook size
    emb = _emb(spark).filter(
        (F.col("vec_id") >= 100) & (F.col("vec_id") < 100 + IVF_CELLS - 2)
    )
    idx = IVFVectorIndex(spark)
    before = len(spark.sparkContext._jsc.getPersistentRDDs())
    with pytest.raises(ValueError, match="codebook"):
        idx.ingest(emb)
    after = len(spark.sparkContext._jsc.getPersistentRDDs())
    assert after <= before
    idx.close()


def test_ivf_seed_needs_no_fixed_ids(spark):
    """The r10-advice footgun, closed: a maintained IVF index seeds
    from ANY corpus — here one missing every demo-codebook id
    [N_QUERIES, N_QUERIES + IVF_CELLS) — because init="hash" draws
    the initial centroids from the hash-sample itself."""
    from pgsync_spark.functions.vector_index import IVFVectorIndex

    emb = _emb(spark).filter(F.col("vec_id") >= 100)
    idx = IVFVectorIndex(spark)
    idx.ingest(emb)
    assert idx._cents is not None
    q = _emb(spark).filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    assert idx.topk(q).count() > 0
    idx.close()


def _ivf_mut_corpus(emb):
    """The post-CDC live corpus _vec_cdc_batch produces (updates move
    vec_id%7==3 to its successor's embedding, deletes drop %7==5;
    queries exempt)."""
    nxt = emb.select(
        (F.col("vec_id") - 1).alias("vec_id"),
        F.col("embedding").alias("nemb"),
    )
    upd = (F.col("vec_id") % 7 == 3) & (F.col("vec_id") >= N_QUERIES)
    dele = (F.col("vec_id") % 7 == 5) & (F.col("vec_id") >= N_QUERIES)
    return (
        emb.join(nxt, "vec_id", "left")
        .filter(~dele)
        .select(
            "vec_id",
            F.when(upd & F.col("nemb").isNotNull(), F.col("nemb"))
            .otherwise(F.col("embedding"))
            .alias("embedding"),
        )
    )


@pytest.mark.slow
def test_ivf_rebuild_equals_fresh_build_and_survives_restart(
    spark, tmp_path
):
    """rebuild() REAL invariant: after seed + CDC drift, a rebuild
    must serve bit-identically to a FRESH IVFVectorIndex built
    directly over the post-CDC live corpus — same training input,
    same hash init, same Lloyd, so same codebook and same rankings.
    The rebuilt store holds ONE segment, zero overlay state, and a
    restart serves the rebuilt geometry from the manifest."""
    from pgsync_spark.queries import _vec_cdc_batch
    from pgsync_spark.functions.vector_index import IVFVectorIndex

    emb = _emb(spark)
    q = _queries(emb)
    mut = _ivf_mut_corpus(emb)

    fresh = IVFVectorIndex(spark)
    fresh.ingest(mut)
    expected = [
        tuple(r)
        for r in fresh.topk(q, exclude_self=True)
        .orderBy("query_id", "rank")
        .collect()
    ]
    expected_cents = fresh._cents
    fresh.close()

    store = str(tmp_path / "ivf_rb")
    idx = IVFVectorIndex(spark, store_dir=store)
    idx.ingest(emb)
    seed_cents = idx._cents
    idx.apply_cdc(_vec_cdc_batch(emb))
    epochs_before = set(idx._epochs)
    dec = idx.rebuild()
    assert dec.count() == 0  # membership unchanged
    assert idx._cents == expected_cents
    assert idx._cents != seed_cents  # the drift moved the geometry
    assert len(idx._segments) == 1
    assert idx._has_cdc is False and idx._overlay_rows == 0
    got = [
        tuple(r)
        for r in idx.topk(q, exclude_self=True)
        .orderBy("query_id", "rank")
        .collect()
    ]
    assert got == expected
    # the rebuild is EPOCH-LESS maintenance (like compact): consuming
    # next_epoch() would collide with a bound stream's next
    # micro-batch, which would then replay empty decisions instead of
    # indexing — durability lives in the manifest's rebuilds counter
    assert idx._epochs == epochs_before
    assert idx._rebuilds == 1
    idx.close()

    idx2 = IVFVectorIndex.load(spark, store)
    assert idx2._cents == expected_cents
    assert idx2._has_cdc is False
    assert idx2._rebuilds == 1
    got2 = [
        tuple(r)
        for r in idx2.topk(q, exclude_self=True)
        .orderBy("query_id", "rank")
        .collect()
    ]
    assert got2 == expected
    # post-rebuild CDC assigns under the NEW codebook and serves
    idx2.apply_cdc(
        emb.filter(F.col("vec_id") == 8).select(
            F.lit(9).cast("bigint").alias("vec_id"),
            "embedding",
            F.lit("u").alias("op"),
        )
    )
    assert idx2._cents == expected_cents  # CDC never retrains
    assert idx2.topk(q, exclude_self=True).count() > 0
    idx2.close()


@pytest.mark.slow
def test_ivf_rebuild_crash_before_flip_leaves_old_geometry(
    spark, tmp_path, monkeypatch
):
    """A rebuild that dies before the manifest flip must leave BOTH
    the old corpus and the old codebook fully live (keys assigned
    under one codebook are unreadable under another — they travel in
    the same atomic fact), in memory and on disk."""
    from pgsync_spark.queries import _vec_cdc_batch
    from pgsync_spark.functions.vector_index import IVFVectorIndex

    emb = _emb(spark)
    q = _queries(emb)
    store = str(tmp_path / "ivf_crash")
    idx = IVFVectorIndex(spark, store_dir=store)
    idx.ingest(emb)
    idx.apply_cdc(_vec_cdc_batch(emb))
    seed_cents = idx._cents
    before = [
        tuple(r)
        for r in idx.topk(q, exclude_self=True)
        .orderBy("query_id", "rank")
        .collect()
    ]
    segments_before = list(idx._segments)
    epochs_before = set(idx._epochs)

    boom = RuntimeError("injected crash at the flip")
    monkeypatch.setattr(
        idx, "_commit_manifest", lambda: (_ for _ in ()).throw(boom)
    )
    with pytest.raises(RuntimeError, match="injected crash"):
        idx.rebuild()
    monkeypatch.undo()
    # the crashed rebuild's unlisted segment is deleted, not left as
    # a full-corpus ghost parquet copy (r11 advice): only the
    # manifest-listed segments remain on disk
    import os

    for name in (idx._KEYS_NAME, idx._VALS_NAME):
        on_disk = set(os.listdir(os.path.join(store, name)))
        assert on_disk == set(segments_before), (name, on_disk)
    # in-memory state rolled back wholesale
    assert idx._cents == seed_cents
    assert idx._segments == segments_before
    assert idx._epochs == epochs_before
    assert idx._has_cdc is True
    assert idx._rebuilds == 0
    idx.close()

    # on disk the old manifest still governs: load serves the
    # pre-rebuild answers (the ghost segment is never read)
    idx2 = IVFVectorIndex.load(spark, store)
    assert idx2._cents == seed_cents
    got = [
        tuple(r)
        for r in idx2.topk(q, exclude_self=True)
        .orderBy("query_id", "rank")
        .collect()
    ]
    assert got == before
    # and a retried rebuild completes from exactly this state
    idx2.rebuild()
    assert idx2._cents != seed_cents
    assert idx2.topk(q, exclude_self=True).count() > 0
    idx2.close()


def test_ivf_rebuild_entry_contracts(spark):
    """rebuild() refusals: unseeded (no codebook) and empty index."""
    from pgsync_spark.functions.vector_index import IVFVectorIndex

    idx = IVFVectorIndex(spark)
    with pytest.raises(ValueError, match="no trained codebook"):
        idx.rebuild()
    idx.close()


def test_topk_plan_shape(spark):
    """The docstring's scale claims as assertions: the probe resolves
    by BROADCAST joins (no sort-merge anywhere), and the only hash
    exchanges are CANDIDATE-sized (the distinct + the per-query
    window) — the held corpus is never shuffled by a query."""
    emb = _emb(spark)
    idx = VectorIndex(spark)
    idx.ingest(emb)
    out = idx.topk(_queries(emb), exclude_self=True)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "SortMergeJoin" not in final, final
    assert final.count("BroadcastHashJoin") >= 2, final
    assert final.count("Exchange hashpartitioning") <= 2, final
    idx.close()


def test_ivf_topk_plan_shape_after_rebuild(spark):
    """The IVF family keeps the same serving-plan discipline,
    including after a rebuild: the probe is one Arrow assignment of
    the QUERY frame (mapInPandas with the codebook broadcast in the
    closure, served to the shared topk SQL text through a per-index
    view), candidates resolve by broadcast joins, and the held
    corpus is never shuffled — no sort-merge join, candidate-sized
    hash exchanges only."""
    from pgsync_spark.functions.vector_index import IVFVectorIndex

    emb = _emb(spark)
    idx = IVFVectorIndex(spark)
    idx.ingest(emb)
    idx.rebuild()
    out = idx.topk(_queries(emb), exclude_self=True)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "SortMergeJoin" not in final, final
    assert final.count("BroadcastHashJoin") >= 2, final
    assert final.count("Exchange hashpartitioning") <= 2, final
    assert "MapInPandas" in final or "PythonMapInArrow" in final, final
    views = [f"global_temp.{v}" for v in idx._views._names]
    assert views and all(spark.catalog.tableExists(v) for v in views)
    idx.close()
    assert not any(spark.catalog.tableExists(v) for v in views)


@pytest.mark.slow
@pytest.mark.parametrize("family", ["lsh", "ivf"])
@pytest.mark.parametrize("seed", [11, 29])
def test_vector_cdc_fuzz_matches_oneshot(spark, family, seed):
    """Seeded random CDC lifecycle fuzz for BOTH vector families (the
    bm25 fuzz's contract on the embedding side): interleaved bulk
    ingests, vector-moving updates, deletes, CDC inserts,
    resurrections, truncates (with the IVF retrain-on-reseed rule),
    a mid-sequence compact, and for IVF a rebuild after epoch 0 —
    after every CDC epoch and at the end the held state must answer
    bit-identically to a one-shot index over the model corpus (for
    IVF: one-shot under the SAME current codebook, so the CDC epochs
    after the rebuild check assignment under the retrained one)."""
    import random

    from pgsync_spark.functions.hashing import hash_embed_py
    from pgsync_spark.functions.similarity import IVF_CELLS
    from pgsync_spark.functions.vector_index import IVFVectorIndex

    rng = random.Random(seed)
    vocab = ["spark", "query", "vector", "engine", "index", "data",
             "tokens", "cdc", "stream", "delta"]

    def vec():
        return hash_embed_py(
            " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 4)))
        )

    schema = "vec_id bigint, embedding array<double>"
    cls = IVFVectorIndex if family == "ivf" else VectorIndex
    model: dict[int, list] = {}
    deleted: list[int] = []
    idx = cls(spark)
    next_id = 0

    def seed_batch():
        """IVF's first batch (and every post-truncate reseed) must
        carry >= IVF_CELLS hash-SAMPLED rows to initialize the
        codebook (ids 0..22 yield 11 sampled under h32 % 2)."""
        nonlocal next_id
        rows = []
        for _ in range(N_QUERIES + IVF_CELLS + 8):
            did, v = next_id, vec()
            next_id += 1
            model[did] = v
            rows.append((did, v))
        idx.ingest(spark.createDataFrame(rows, schema))

    q = spark.createDataFrame(
        [(i, hash_embed_py(w)) for i, w in enumerate(vocab[:3])],
        "query_id bigint, embedding array<double>",
    )

    def assert_matches_oneshot(at):
        corpus = spark.createDataFrame(list(model.items()), schema)
        got = [
            tuple(r)
            for r in idx.topk(q, k=5).orderBy("query_id", "rank").collect()
        ]
        ref = cls(spark)
        if family == "ivf":
            # the one-shot baseline serves under the SAME current
            # codebook — a fresh training over the model corpus is a
            # different (legal) index, not this one's contract
            ref._cents = [row[:] for row in idx._cents]
        ref.ingest(corpus)
        want = [
            tuple(r)
            for r in ref.topk(q, k=5).orderBy("query_id", "rank").collect()
        ]
        ref.close()
        assert got == want, (family, seed, at)

    seed_batch()
    for epoch in range(7):
        r = rng.random()
        # epoch 5 truncates DETERMINISTICALLY (the r9 fuzz rule: a
        # 12% chance per epoch can leave whole seeds truncate-blind),
        # plus the random chance on other epochs
        if model and (epoch == 5 or r < 0.12):
            idx.truncate()
            model.clear()
            deleted.clear()
            if family == "ivf":
                # a trained index reseeds after truncate (the next
                # ingest retrains on the replacement corpus) — but
                # only if fresh init ids exist; post-truncate ids
                # restart the numbering contract, so reset next_id
                next_id = 0
                seed_batch()
            continue
        if r < 0.5 or not model:
            rows = []
            for _ in range(rng.randint(1, 5)):
                did, v = next_id, vec()
                next_id += 1
                model[did] = v
                rows.append((did, v))
            idx.ingest(spark.createDataFrame(rows, schema))
        else:
            batch: dict[int, tuple] = {}
            for did in rng.sample(
                sorted(model), k=min(len(model), rng.randint(1, 4))
            ):
                if rng.random() < 0.4:
                    batch[did] = (did, None, "d")
                    deleted.append(did)
                    model.pop(did)
                else:
                    v = vec()  # the vector MOVES (cells/buckets move)
                    model[did] = v
                    batch[did] = (did, v, rng.choice(["u", None]))
            for _ in range(rng.randint(0, 2)):  # CDC inserts
                did, v = next_id, vec()
                next_id += 1
                model[did] = v
                batch[did] = (did, v, "u")
            if deleted and rng.random() < 0.5:  # resurrection
                did = rng.choice(deleted)
                if did not in batch:
                    deleted.remove(did)
                    v = vec()
                    model[did] = v
                    batch[did] = (did, v, "u")
            idx.apply_cdc(
                spark.createDataFrame(
                    list(batch.values()), schema + ", op string"
                )
            )
            assert_matches_oneshot(epoch)
        if epoch == 0 and family == "ivf":
            # a retrain over the grown corpus moves the codebook; both
            # seeds run a CDC epoch before their first truncate
            cents = [row[:] for row in idx._cents]
            idx.rebuild()
            assert idx._cents != cents, seed
        if epoch == 3:
            idx.compact()

    assert_matches_oneshot("end")
    idx.close()


def test_hash_embed_recognizer_pins_generator():
    """r10 review pass 3: the feature-FAMILY gate recognizes
    hash_embed_sparksql output by its exact prefix — this test pins
    generator and recognizer together so a formatting change in one
    cannot silently blind the CLI's text-query gate."""
    from pgsync_spark.functions.hashing import (
        hash_embed_sparksql,
        is_hash_embed_sql,
    )

    assert is_hash_embed_sql(hash_embed_sparksql("doc"))
    assert is_hash_embed_sql(
        hash_embed_sparksql("get_json_object(doc, '$.t')", dim=4)
    )
    # non-hash featurizers stay refused even when they MENTION md5
    assert not is_hash_embed_sql("encoder_udf(md5(doc), features)")
    assert not is_hash_embed_sql("CAST(encoder_out AS ARRAY<DOUBLE>)")
    assert not is_hash_embed_sql(None)
    assert not is_hash_embed_sql("")


def test_ivf_sample_mod_is_training_state(spark, tmp_path):
    """sample_mod (the training-budget dial, r10 advice): a custom
    modulus trains on exactly the mod-N hash-sample (bit-equal to the
    library impl under the same modulus), persists in the manifest,
    and rebuild() re-samples under it."""
    from pgsync_spark.functions.similarity import (
        _ivf_trained_centroids_impl,
    )
    from pgsync_spark.functions.vector_index import IVFVectorIndex

    emb = _emb(spark)
    store = str(tmp_path / "ivf_mod")
    idx = IVFVectorIndex(spark, store_dir=store, sample_mod=4)
    idx.ingest(emb)
    assert idx._cents == _ivf_trained_centroids_impl(
        emb, init="hash", sample_mod=4
    )
    # a DIFFERENT modulus trains a different codebook (the dial is
    # real, not a no-op)
    assert idx._cents != _ivf_trained_centroids_impl(
        emb, init="hash", sample_mod=2
    )
    idx.close()

    idx2 = IVFVectorIndex.load(spark, store)
    assert idx2.sample_mod == 4  # manifest round-trip
    idx2.rebuild()
    # same live corpus, same modulus -> the retrain lands on the same
    # codebook (rebuild re-sampled under the persisted discipline)
    assert idx2._cents == _ivf_trained_centroids_impl(
        emb, init="hash", sample_mod=4
    )
    idx2.close()

    with pytest.raises(ValueError, match="sample_mod"):
        IVFVectorIndex(spark, sample_mod=0)


@pytest.mark.slow
def test_ivf_rebuild_improves_recall_on_clustered_drift(spark):
    """r11 verdict item 1, rebuild half: on the mixture-of-centers
    corpus, a codebook trained on a 2-mode seed serves the 8 modes
    that arrived via CDC by CROWDING them into 2-3 cells — the
    3-probe then reranks ~2/3 of the corpus exactly, so recall
    survives but the serving cost a 100× deployment pays (candidates
    per query) explodes. rebuild() retrains over the live corpus and
    must recover BOTH: recall stays near-perfect AND the probed
    fraction collapses back to the balanced-cells budget — i.e.
    recall at FIXED serving cost strictly improves. (On the r11
    hash-noise corpus this ratio stayed flat, which is exactly what
    the clustered corpus exists to fix.)"""
    from pgsync_spark.functions.hashing import cluster_center_sparksql
    from pgsync_spark.functions.similarity import (
        N_QUERIES,
        ann_bruteforce_topk,
        clustered_corpus,
    )
    from pgsync_spark.functions.vector_index import IVFVectorIndex

    emb = clustered_corpus(_emb(spark)).localCheckpoint(eager=True)
    center = F.expr(cluster_center_sparksql("CAST(vec_id AS STRING)"))
    # drift scenario: the index seeds (and trains) on clusters 0-1
    # plus the query vectors; the other 8 modes arrive as CDC
    # upserts — queries 0,1,3,4 (clusters 3,8,8,6) then have ALL
    # their mode-mates indexed under a codebook that split its 10
    # cells across 2 modes and never saw theirs
    seed = emb.filter((center < 2) | (F.col("vec_id") < N_QUERIES))
    cdc = (
        emb.filter((center >= 2) & (F.col("vec_id") >= N_QUERIES))
        .select("vec_id", "embedding", F.lit("u").alias("op"))
    )
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    gt = {
        (r["query_id"], r["neighbor_id"])
        for r in ann_bruteforce_topk(emb).collect()
    }

    idx = IVFVectorIndex(spark)
    idx.ingest(seed)
    idx.apply_cdc(cdc)

    n_live = emb.count()

    def recall():
        hits = {
            (r["query_id"], r["neighbor_id"])
            for r in idx.topk(q, exclude_self=True).collect()
        }
        return len(hits & gt) / len(gt)

    def probed_fraction():
        # candidates the exact rerank pays for, per query — the
        # serving cost at fixed nprobe
        keys = idx.live("keys")
        probe = idx._probe_frame(
            q.select(F.col("query_id").alias("vec_id"), "embedding")
        )
        n = (
            keys.join(F.broadcast(probe), ["band", "bucket"])
            .select("query_id", "vec_id")
            .distinct()
            .count()
        )
        return n / N_QUERIES / n_live

    r_stale, f_stale = recall(), probed_fraction()
    idx.rebuild()
    r_rebuilt, f_rebuilt = recall(), probed_fraction()
    idx.close()
    # the stale codebook must actually be hurting: the 3-probe
    # reranks over half the corpus (crowded cells)
    assert f_stale > 0.5, (r_stale, f_stale, r_rebuilt, f_rebuilt)
    # rebuild recovers the balanced-cell budget at no recall loss
    assert r_rebuilt >= r_stale, (r_stale, r_rebuilt)
    assert r_rebuilt >= 0.95, (r_stale, r_rebuilt)
    # measured at sf0.001: 0.72 -> 0.39 (1.8x fewer candidates)
    assert f_rebuilt < 0.6 * f_stale, (f_stale, f_rebuilt)
    # the headline: recall per probed-corpus-fraction improves by
    # >= 1.5x — the number that stayed FLAT on hash noise in r11
    assert r_rebuilt / f_rebuilt > 1.5 * (r_stale / f_stale), (
        r_stale, f_stale, r_rebuilt, f_rebuilt,
    )


def test_ivf_hash_init_dedupes_duplicate_vec_ids(spark):
    """r11 advice: the SQL oracle ranks SELECT DISTINCT vec_id for
    its hash-init, so the engine must not seed duplicate initial
    centroids when the training corpus carries duplicate vec_ids —
    the init picks IVF_CELLS DISTINCT ids either way."""
    from pgsync_spark.functions.similarity import (
        _ivf_trained_centroids_impl,
    )

    emb = _emb(spark)
    doubled = emb.unionAll(emb)  # every vec_id appears twice
    # identical-duplicate rows are weight-neutral in the Lloyd means
    # (sum and count both double, floor(2s/2n) == floor(s/n)) and
    # assignment is per-point — so with a DISTINCT-id init the
    # doubled corpus must train the exact same codebook; without the
    # dedupe the init would seed repeated centroids and diverge
    assert _ivf_trained_centroids_impl(
        doubled, init="hash"
    ) == _ivf_trained_centroids_impl(emb, init="hash")
    # and a corpus whose DISTINCT ids are fewer than IVF_CELLS
    # refuses even if raw rows are plentiful
    from pgsync_spark.functions.similarity import IVF_CELLS

    tiny = emb.limit(200).withColumn(
        "vec_id", F.col("vec_id") % 2
    )
    with pytest.raises(ValueError, match="distinct sampled"):
        _ivf_trained_centroids_impl(tiny, init="hash")


def test_ivf_nprobe_dial_serving(spark):
    """The nprobe serving dial (r12 — the act half of the
    ann_probe_cost_frontier measurement): widening the probe set is
    monotone in recall, on the clustered corpus recall saturates by
    the default width, and the dial is probe-time state (toggling it
    on a live index changes only the probe set, never stored keys)."""
    from pgsync_spark.functions.similarity import (
        IVF_CELLS,
        ann_bruteforce_topk,
        clustered_corpus,
    )
    from pgsync_spark.functions.vector_index import IVFVectorIndex

    with pytest.raises(ValueError, match="nprobe"):
        IVFVectorIndex(spark, nprobe=0)
    with pytest.raises(ValueError, match="nprobe"):
        IVFVectorIndex(spark, nprobe=IVF_CELLS + 1)

    emb = clustered_corpus(_emb(spark)).localCheckpoint(eager=True)
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    gt = {
        (r["query_id"], r["neighbor_id"])
        for r in ann_bruteforce_topk(emb).collect()
    }
    idx = IVFVectorIndex(spark, nprobe=1)
    idx.ingest(emb)

    def recall():
        hits = {
            (r["query_id"], r["neighbor_id"])
            for r in idx.topk(q, exclude_self=True).collect()
        }
        return len(hits & gt) / len(gt)

    def probed_cells():
        return idx._probe_frame(
            q.select(F.col("query_id").alias("vec_id"), "embedding")
        ).count()

    assert probed_cells() == N_QUERIES * 1
    r1 = recall()
    idx.nprobe = 3  # probe-time toggle, no reindex
    assert probed_cells() == N_QUERIES * 3
    r3 = recall()
    # monotone, and saturated on the modal corpus (frontier: 0.98 at
    # nprobe=1, 1.0 from 2 on)
    assert r1 >= 0.9, (r1, r3)
    assert r3 >= r1, (r1, r3)
    assert r3 >= 0.98, (r1, r3)
    idx.close()
