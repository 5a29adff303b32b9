"""Keyed overlay store: base + one batch-sized flagged overlay, compacted on a cadence.

The one store design under every keyed store the engine maintains —
each CDC-touched table's bronze snapshot (``streaming/cdc.py``), the
doc store and the lineage reverse index (``streaming/incremental.py``):
applying a batch costs O(batch + overlay), never O(store). A store may
hold MULTIPLE rows per key (lineage has one per key column value).

- ``base``: the big frame — a checkpoint, or the initial lazy scan (a
  raw parquet table keeps its pushdown and pruning).
- ``overlay``: ONE eager checkpoint holding, per key touched since the
  last compaction, one tombstone row (``__live`` false, value columns
  null) plus that key's replacement rows (``__live`` true); a touched
  key with no live rows is a delete.

The view is ``base ⟕anti tombstone-keys ∪ live rows``: depth 1, one
broadcast-guarded anti-join over the base scan, never a per-batch
fragment chain (growing lazy union chains were measured to spike). One
tombstone per touched key keeps the broadcast side exactly the key set,
so the accumulated ``key_bound`` bounds it however many live rows a key
has. An apply checkpoints ``prev ⟕anti touched-keys ∪ new`` —
:func:`apply_parallel` submits several stores' checkpoints in one
concurrent wave. A store folds into a fresh base after ``compact_every``
applies, or once its key bound exceeds ``max(4 × batch bound,
row_cap)``, which keeps the view's anti-join under the broadcast limit.
Delta/Iceberg mapping: MERGE writing deletion vectors + new files per
batch, OPTIMIZE on a cadence.

Superseded checkpoints go to a ``release`` sink, released at once by
default. A caller whose concurrent jobs still scan the pre-apply view
passes a list's ``append`` and releases after its wave: localCheckpoint
blocks have no lineage, so an unpersist racing a scan loses them.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import caching
from ..plans.docs import _bt
from .joins import BROADCAST_ROW_LIMIT, maybe_broadcast

# the overlay flag column; reserved in every store's schema
LIVE = "__live"
DEAD = f"NOT {LIVE}"

Release = Callable[[DataFrame], object]


class KeyedOverlay:
    def __init__(
        self,
        base: DataFrame,
        key_cols: list[str],
        compact_every: int = 8,
        row_cap: int = BROADCAST_ROW_LIMIT,
        owns_base: bool = False,
    ):
        """``owns_base``: whether compaction may release ``base``'s
        checkpoint blocks (False for raw scans, and for bases whose
        blocks are shared with another store, e.g. the full-sync
        combined frame backing both docs and lineage — the owner
        releases those)."""
        self.base = base
        self.key_cols = list(key_cols)
        self.compact_every = compact_every
        self.row_cap = row_cap
        self.owns_base = owns_base
        self.overlay: DataFrame | None = None
        # upper bound of tombstone rows — the view's broadcast guard
        self.key_bound = 0
        self._batch_bound = 0
        self._applies = 0
        # bumped whenever base is replaced by a compaction/reset — lets
        # the engine know a shared initial base has been superseded
        self.generation = 0
        self._view: DataFrame | None = None
        self._tomb_sql: list[str] | None = None
        self._winner_rows = None

    def view(self) -> DataFrame:
        """Current contents; cached so repeated reads (and identity
        checks) between state changes get the same frame."""
        if self._view is None:
            if self.overlay is None:
                self._view = self.base
            else:
                tombs = self.overlay.filter(DEAD).select(*self.key_cols)
                self._view = self.base.join(
                    maybe_broadcast(tombs, known_rows=self.key_bound),
                    on=self.key_cols,
                    how="left_anti",
                ).unionByName(self.overlay.filter(LIVE).drop(LIVE))
        return self._view

    @property
    def compact_due(self) -> bool:
        """Whether the cadence or the size rule asks for a compaction."""
        return self._applies >= self.compact_every or self.key_bound > max(
            4 * self._batch_bound, self.row_cap
        )

    def _tombstone(self) -> list[str]:
        """A tombstone row's columns over a touched-keys frame, as SQL
        (cached: the schema outlives compaction and reset). Text, not
        Column trees: building a store's tombstone from Columns cost
        about 130 py4j round trips, paid on each store's first apply."""
        if self._tomb_sql is None:
            keys = set(self.key_cols)
            self._tomb_sql = [
                _bt(f.name) if f.name in keys
                else f"CAST(NULL AS {f.dataType.simpleString()}) AS {_bt(f.name)}"
                for f in self.base.schema.fields
            ] + [f"false AS {LIVE}"]
        return self._tomb_sql

    def flagged(self, touched_keys: DataFrame, rows: DataFrame) -> DataFrame:
        """One apply's overlay rows: a tombstone per touched key plus
        the replacement ``rows``, flagged."""
        return touched_keys.selectExpr(*self._tombstone()).unionByName(
            rows.withColumn(LIVE, F.lit(True))
        )

    def flagged_winners(self, winners: DataFrame) -> DataFrame:
        """One apply's overlay rows from ONE row per touched key: the
        key's replacement when ``__live``, else a delete. Every key's
        tombstone and every live row come out of one Generate whose
        input is every column, so a plan reading the result twice (the
        merge's touched-key guard and its union) shares one exchange
        below it."""
        if self._winner_rows is None:
            tomb = f"struct({', '.join(self._tombstone())})"
            cols = ", ".join(map(_bt, self.base.columns))
            image = f"struct({cols}, true AS {LIVE})"
            self._winner_rows = F.expr(
                f"explode(IF({LIVE}, array({tomb}, {image}), array({tomb})))"
            ).alias("__row")
        return winners.select(self._winner_rows).select("__row.*")

    def _merged(self, new: DataFrame, key_bound: int) -> DataFrame:
        """The LAZY next overlay ``prev ⟕anti touched-keys ∪ new`` for
        flagged rows ``new`` (:meth:`flagged`, :meth:`flagged_winners`)
        — the prepare half
        of an apply; the caller checkpoints it and hands the result to
        :meth:`_commit`."""
        if self.overlay is None:
            return new
        touched = new.filter(DEAD).select(*self.key_cols)
        return self.overlay.join(
            maybe_broadcast(touched, known_rows=key_bound),
            on=self.key_cols,
            how="left_anti",
        ).unionByName(new)

    def _commit(self, overlay: DataFrame, key_bound: int, release: Release) -> None:
        """Install a checkpointed overlay from :meth:`_merged`."""
        if self.overlay is not None:
            release(self.overlay)
        self.overlay = overlay
        self.key_bound += key_bound
        self._batch_bound = key_bound
        self._applies += 1
        self._view = None

    def apply(
        self, touched_keys: DataFrame, rows: DataFrame, key_bound: int
    ) -> None:
        """Replace every row of ``touched_keys`` with ``rows`` and
        compact when due. ``key_bound`` is an upper bound on the
        touched-key count — the merge's broadcast guard, accumulated
        into the view's."""
        apply_parallel([(self, self.flagged(touched_keys, rows), key_bound)])

    def compact(self, release: Release | None = None) -> None:
        """Fold base+overlay into a fresh base checkpoint (OPTIMIZE
        analog); the only O(store) step, amortized over the cadence."""
        new_base = self.view().localCheckpoint(eager=True)
        self.reset(new_base, owns_base=True, release=release)

    def reset(
        self,
        base: DataFrame,
        owns_base: bool = False,
        release: Release | None = None,
    ) -> None:
        """Swap in a new base (compaction / restore / truncate),
        dropping the overlay and releasing owned frames."""
        release = release or caching.release_local_checkpoint
        if self.owns_base:
            release(self.base)
        if self.overlay is not None:
            release(self.overlay)
        self.base = base
        self.owns_base = owns_base
        self.overlay = None
        self.key_bound = self._batch_bound = self._applies = 0
        self.generation += 1
        self._view = None

    def release(self) -> None:
        """Free every owned checkpoint (store teardown)."""
        self.reset(self.base.limit(0))


def apply_parallel(
    applies: list[tuple[KeyedOverlay, DataFrame, int]],
    release: Release | None = None,
    compact: Callable[[KeyedOverlay], object] | None = None,
) -> None:
    """Apply one batch to SEVERAL stores: one overlay checkpoint per
    store, all submitted in ONE concurrent wave. Each entry is
    (store, flagged rows, key_bound); the stores must be distinct and
    their inputs independent. Then every store whose ``compact_due``
    holds is compacted through ``compact`` (default: its own
    :meth:`KeyedOverlay.compact` with ``release``)."""
    release = release or caching.release_local_checkpoint
    merged = [store._merged(new, bound) for store, new, bound in applies]
    for (store, _new, bound), ck in zip(
        applies, caching.local_checkpoint_parallel(merged)
    ):
        store._commit(ck, bound, release)
    compact = compact or (lambda store: store.compact(release))
    for store, _new, _bound in applies:
        if store.compact_due:
            compact(store)
