"""KeyedOverlay unit tests: apply/compact/reset semantics, including
multi-row-per-key stores (the lineage shape)."""

from pyspark.sql import functions as F

from pgsync_spark import caching
from pgsync_spark.operators.overlay import KeyedOverlay, apply_parallel


def _df(spark, rows, schema="k long, v string"):
    return spark.createDataFrame(rows, schema)


def _rows(ov):
    return {(r["k"], r["v"]) for r in ov.view().collect()}


def test_apply_replaces_and_deletes(spark):
    ov = KeyedOverlay(_df(spark, [(1, "a"), (2, "b"), (3, "c")]), ["k"])
    # replace k=1, delete k=2 (touched, no rows), insert k=9
    ov.apply(
        _df(spark, [(1,), (2,)], "k long"),
        _df(spark, [(1, "a2"), (9, "new")]),
        key_bound=3,
    )
    assert _rows(ov) == {(1, "a2"), (3, "c"), (9, "new")}
    # second apply: update the overlay-resident new key
    ov.apply(
        _df(spark, [(9,)], "k long"),
        _df(spark, [(9, "new2")]),
        key_bound=1,
    )
    assert _rows(ov) == {(1, "a2"), (3, "c"), (9, "new2")}


def test_multi_row_per_key(spark):
    base = _df(spark, [(1, "x"), (1, "y"), (2, "z")])
    ov = KeyedOverlay(base, ["k"])
    ov.apply(
        _df(spark, [(1,)], "k long"),
        _df(spark, [(1, "p"), (1, "q"), (1, "r")]),
        key_bound=1,
    )
    assert _rows(ov) == {(1, "p"), (1, "q"), (1, "r"), (2, "z")}


def test_compact_cadence_and_generation(spark):
    ov = KeyedOverlay(_df(spark, [(1, "a")]), ["k"], compact_every=2)
    ov.apply(_df(spark, [(1,)], "k long"), _df(spark, [(1, "b")]), key_bound=1)
    assert ov.generation == 0 and ov.overlay is not None
    ov.apply(_df(spark, [(1,)], "k long"), _df(spark, [(1, "c")]), key_bound=1)
    # second apply hit the cadence: folded into a fresh base
    assert ov.generation == 1 and ov.overlay is None
    assert _rows(ov) == {(1, "c")}


def test_key_bound_threshold_compacts(spark):
    ov = KeyedOverlay(
        _df(spark, [(1, "a")]), ["k"], compact_every=100, row_cap=2
    )
    # cumulative key bound must exceed max(4*batch_bound, row_cap)=4,
    # so the 5th single-key apply triggers the size compaction
    for i in range(5):
        ov.apply(
            _df(spark, [(1,)], "k long"),
            _df(spark, [(1, f"v{i}")]),
            key_bound=1,
        )
    assert ov.generation >= 1
    assert _rows(ov) == {(1, "v4")}


def test_view_identity_stable_between_changes(spark):
    ov = KeyedOverlay(_df(spark, [(1, "a")]), ["k"])
    assert ov.view() is ov.view()
    ov.apply(_df(spark, [(1,)], "k long"), _df(spark, [(1, "b")]), key_bound=1)
    v = ov.view()
    assert v is ov.view()


def test_reset_swaps_base(spark):
    ov = KeyedOverlay(_df(spark, [(1, "a")]), ["k"])
    ov.apply(_df(spark, [(2,)], "k long"), _df(spark, [(2, "b")]), key_bound=1)
    ov.reset(_df(spark, [(7, "z")]))
    assert _rows(ov) == {(7, "z")}
    assert ov.overlay is None and ov.generation >= 1


def _held(df) -> bool:
    """Whether a localCheckpoint frame's blocks are still persisted."""
    rdd = df._jdf.queryExecution().analyzed().rdd()
    return rdd.getStorageLevel().isValid()


def _jobs(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def test_apply_parallel_one_checkpoint_job_per_store(spark):
    """Each store's apply is ONE eager overlay checkpoint (tombstones
    and replacement rows in one flagged frame): a two-store wave — the
    engine's doc + lineage apply — submits exactly two jobs."""
    docs = KeyedOverlay(_df(spark, [(1, "a"), (2, "b")]), ["k"])
    lineage = KeyedOverlay(_df(spark, [(1, "x"), (1, "y"), (2, "z")]), ["k"])
    touched = _df(spark, [(1,)], "k long")
    applies = [
        (docs, docs.flagged(touched, _df(spark, [(1, "a2")])), 1),
        (lineage, lineage.flagged(touched, _df(spark, [(1, "p")])), 1),
    ]
    before = _jobs(spark)
    apply_parallel(applies)
    assert _jobs(spark) - before == 2
    assert _rows(docs) == {(1, "a2"), (2, "b")}
    assert _rows(lineage) == {(1, "p"), (2, "z")}


def test_apply_parallel_defers_superseded_frames(spark):
    """A caller whose concurrent jobs still scan the pre-apply view
    passes a release sink: the superseded overlay and the compacted
    base land there, still readable, instead of being unpersisted."""
    ov = KeyedOverlay(_df(spark, [(1, "a"), (2, "b")]), ["k"])
    ov.apply(_df(spark, [(1,)], "k long"), _df(spark, [(1, "a2")]), key_bound=1)
    first = ov.overlay
    deferred: list = []
    new = ov.flagged(_df(spark, [(2,)], "k long"), _df(spark, [(2, "b2")]))
    apply_parallel([(ov, new, 1)], release=deferred.append)
    assert deferred == [first] and first.count() == 2  # tombstone + live row
    second = ov.overlay
    ov.compact(release=deferred.append)
    assert deferred[1:] == [second] and second.count() == 4
    assert _rows(ov) == {(1, "a2"), (2, "b2")}
    assert all(_held(df) for df in deferred)
    # the default sink releases inline: the compacted base's blocks go
    base = ov.base
    ov.reset(_df(spark, [(7, "z")]))
    assert not _held(base) and _rows(ov) == {(7, "z")}
    assert caching.release_local_checkpoints(deferred) == 2
    assert not any(_held(df) for df in deferred)
