"""CDC event model + snapshot materialization.

The event schema mirrors the reference's ``Payload``
(ref: pgsync/base.py:83-152, constants.py:61-72): op ∈ INSERT / UPDATE /
DELETE / TRUNCATE, old/new images as string→string maps (the reference
parses PostgreSQL test_decoding text into exactly this shape,
ref: pgsync/base.py:1115-1176 — we skip the text parsing and consume
structured events, as a Debezium-style source would deliver).

``TableMaterializer`` applies a batch of events to per-table bronze
snapshots: UPDATE/DELETE remove the old image's PK, INSERT/UPDATE add
the new image. Each snapshot is a ``KeyedOverlay`` store (the one
base + overlay design, operators/overlay.py) — the Delta-less MERGE
equivalent; on a real deployment this is a Delta/Iceberg MERGE INTO
keyed on the PK.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import caching, exc
from ..catalog import Catalog
from ..operators.overlay import LIVE, KeyedOverlay, apply_parallel

INSERT, UPDATE, DELETE, TRUNCATE = "INSERT", "UPDATE", "DELETE", "TRUNCATE"
TG_OPS = (INSERT, UPDATE, DELETE, TRUNCATE)

CDC_SCHEMA = T.StructType(
    [
        T.StructField("op", T.StringType(), False),
        T.StructField("schema", T.StringType(), True),
        T.StructField("table", T.StringType(), False),
        T.StructField("old", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("new", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("txid", T.LongType(), True),
    ]
)


def payloads_from_rows(spark: SparkSession, rows: list[dict]) -> DataFrame:
    """Build a CDC DataFrame from plain dicts (tests / demo sequences).
    Values in old/new are stringified, as logical decoding delivers."""
    norm = []
    for r in rows:
        if r.get("op") not in TG_OPS:
            raise exc.InvalidTGOPError(f"op {r.get('op')!r} not in {TG_OPS}")
        norm.append(
            {
                "op": r["op"],
                "schema": r.get("schema", "public"),
                "table": r["table"],
                "old": {k: str(v) for k, v in (r.get("old") or {}).items()},
                "new": {k: str(v) for k, v in (r.get("new") or {}).items()},
                "txid": int(r.get("txid", 0)),
            }
        )
    return spark.createDataFrame(norm, CDC_SCHEMA)


# Debezium change-event envelope (public CDC standard emitted for BOTH
# PostgreSQL WAL and MySQL binlog sources — the engine's analog of the
# reference's two decoders, ref: pgsync/base.py:1115-1176 test_decoding
# parse and the MySQL binlog path). Scalar values coerce to strings in
# the map fields, matching logical decoding's stringly images.
DEBEZIUM_ENVELOPE = (
    "op string, before map<string,string>, after map<string,string>, "
    "source struct<table:string, db:string, schema:string, txId:string>, "
    "ts_ms long"
)


def debezium_to_cdc(df: DataFrame, value_col: str = "value") -> DataFrame:
    """Map a raw Debezium JSON envelope column to CDC_SCHEMA rows.

    op: c/r → INSERT (r = snapshot read), u → UPDATE, d → DELETE,
    t → TRUNCATE. ``source.schema`` (PostgreSQL) falls back to
    ``source.db`` (MySQL). ``txId`` is used when numeric, else the
    event timestamp orders the stream (MySQL GTIDs are not integers).
    Rows with unknown ops are dropped. Pure column expressions — safe
    inside readStream without leaving whole-stage codegen.
    """
    e = F.from_json(F.col(value_col), DEBEZIUM_ENVELOPE)
    op = (
        F.when(e["op"].isin("c", "r"), F.lit(INSERT))
        .when(e["op"] == "u", F.lit(UPDATE))
        .when(e["op"] == "d", F.lit(DELETE))
        .when(e["op"] == "t", F.lit(TRUNCATE))
    )
    empty = F.expr("map()").cast("map<string,string>")
    return (
        df.select(
            op.alias("op"),
            F.coalesce(e["source"]["schema"], e["source"]["db"]).alias("schema"),
            e["source"]["table"].alias("table"),
            F.coalesce(e["before"], empty).alias("old"),
            F.coalesce(e["after"], empty).alias("new"),
            F.coalesce(
                e["source"]["txId"].try_cast("long"), e["ts_ms"]
            ).alias("txid"),
        )
        .filter(F.col("op").isNotNull())
    )


def _typed_image(
    events: DataFrame,
    image: str,
    snapshot: DataFrame,
    cols: list[str],
    extra: list | None = None,
) -> DataFrame:
    """Extract ``cols`` from the old/new map, cast to the snapshot's
    column types (logical-decoding images are strings,
    ref parse_value: pgsync/base.py:1089-1113). ``extra`` columns pass
    through untouched (event-order metadata for LWW folds)."""
    dtypes = dict(snapshot.dtypes)
    sel = []
    for c in cols:
        sel.append(F.col(image).getItem(c).cast(dtypes[c]).alias(c))
    return events.select(*sel, *(extra or []))


class TableMaterializer:
    """Keeps per-table bronze snapshots current by applying CDC batches.

    Each touched table's snapshot is one ``KeyedOverlay`` keyed on its
    primary key (operators/overlay.py has the store design: base,
    flagged overlay, depth-1 view, compaction). The base starts as the
    raw parquet scan, so predicate pushdown and column pruning still
    reach the files; the catalog serves the store's view. What is
    bronze-specific lives here: the last-write-wins fold of a batch's
    events into one action per key, the TRUNCATE cut, and catalog
    registration. A touched table's key bound grows by 2 per event (old
    pk + new pk on a pk change).
    """

    # event-order metadata riding through the LWW fold; reserved names
    # so a synced table's own columns can never collide with them
    META_COLS = ("__cdc_txid", "__cdc_seq", "__cdc_sub")

    def __init__(self, catalog: Catalog, compact_every: int = 8):
        self.catalog = catalog
        self.compact_every = compact_every
        self._stores: dict[str, KeyedOverlay] = {}
        # per-table prebuilt Column trees for the LWW fold (dead/live
        # projections, window spec) — they depend only on the table's
        # schema, which truncate (limit(0)) and compact (re-checkpoint)
        # both preserve, so they are built once per table instead of
        # per batch (guide §7.3 driver-side construction)
        self._fold_exprs: dict[str, tuple] = {}

    def _fold_exprs_for(self, table: str, base: DataFrame) -> tuple:
        """(pks, dead_cond, dead_sel, live_cond, live_sel, window) for
        ``table`` — the event→action fold expressions, cached. The
        dead/live selects fuse _typed_image's projection with the
        action-shape projection (one Project; same resolved tree)."""
        cached = self._fold_exprs.get(table)
        if cached is not None:
            return cached
        reserved = set(self.META_COLS) | {LIVE}
        if reserved & set(base.columns):
            raise exc.SchemaError(
                f"table {table!r} has columns colliding with CDC "
                f"metadata names {sorted(reserved & set(base.columns))}"
            )
        pks = list(self.catalog.primary_key(table))
        dtypes = dict(base.dtypes)
        meta = [F.col("txid").alias("__cdc_txid"), F.col("__cdc_seq")]
        dead_sel = [
            F.col("old").getItem(c).cast(dtypes[c]).alias(c)
            if c in pks
            else F.lit(None).cast(dtypes[c]).alias(c)
            for c in base.columns
        ] + [F.lit(False).alias(LIVE), *meta, F.lit(0).alias("__cdc_sub")]
        live_sel = [
            F.col("new").getItem(c).cast(dtypes[c]).alias(c)
            for c in base.columns
        ] + [F.lit(True).alias(LIVE), *meta, F.lit(1).alias("__cdc_sub")]
        w = Window.partitionBy(*pks).orderBy(
            *[F.col(c).desc() for c in self.META_COLS]
        )
        out = (
            pks,
            F.col("op").isin(UPDATE, DELETE),
            dead_sel,
            F.col("op").isin(INSERT, UPDATE),
            live_sel,
            w,
        )
        self._fold_exprs[table] = out
        return out

    def tables(self) -> list[str]:
        """The tables holding a CDC-maintained (or restored) snapshot."""
        return sorted(self._stores)

    def store(self, table: str) -> KeyedOverlay | None:
        """``table``'s snapshot store, None while it still reads the
        raw source."""
        return self._stores.get(table)

    def restore(self, table: str, df: DataFrame) -> None:
        """Serve ``df`` (a persisted snapshot) as ``table``: the
        table's store resets onto it, releasing its owned frames —
        restoring into a warm engine must not leak them."""
        store = self._stores.get(table)
        if store is None:
            self._stores[table] = self._new_store(table, df)
        else:
            store.reset(df)
        self.catalog.register_df(table, df)

    def _new_store(self, table: str, base: DataFrame) -> KeyedOverlay:
        return KeyedOverlay(
            base,
            list(self.catalog.primary_key(table)),
            compact_every=self.compact_every,
        )

    def release(self) -> None:
        """Free every checkpoint this materializer owns and restore the
        catalog's raw-source resolution for the touched tables. Engines
        that own their materializer call this from teardown — without
        it, a process cycling engines (a multi-section benchmark, a
        re-synced daemon) accumulates superseded snapshot blocks until
        GC pressure shows up as multi-second batch outliers (measured)."""
        for table, store in self._stores.items():
            store.release()
            self.catalog.unregister(table)
        self._stores.clear()

    def compact(self, table: str, defer_release: list | None = None) -> None:
        """Fold ``table``'s store into a fresh base checkpoint and serve
        it (OPTIMIZE analog).

        ``defer_release``: when the caller has OTHER jobs concurrently
        scanning the pre-compaction snapshot view (process_batch's
        resolve wave), superseded frames are appended there instead of
        released; the caller releases after its wave completes."""
        store = self._stores[table]
        store.compact(
            release=defer_release.append if defer_release is not None else None
        )
        self.catalog.register_df(table, store.view())

    def apply(
        self,
        events: DataFrame,
        materialized: bool = False,
        stats: list | None = None,
        seq_col: str | None = None,
        defer_release: list | None = None,
    ) -> None:
        """Apply one batch. Events are folded per table with
        LAST-WRITE-WINS semantics: each event contributes a *dead*
        action for its old-image PK (UPDATE/DELETE) and/or a *live*
        action carrying its new image (INSERT/UPDATE); the latest
        action per key — ordered by txid, then in-batch sequence —
        decides whether that key gets a replacement row or only its
        tombstone. This matches the reference, which applies events in
        stream order (ref: pgsync/sync.py:1855-1888 run grouping), so
        INSERT→UPDATE→UPDATE on one key in a single micro-batch yields
        exactly the final image and UPDATE→DELETE yields a delete.
        TRUNCATE empties the table as of its stream position: events
        ordered AFTER the last TRUNCATE still apply (a batch of
        TRUNCATE→INSERT keeps the re-inserted rows, exactly as serial
        replay would).

        ``seq_col``: name of an explicit per-event sequence column
        (LSN / Kafka offset) when the source provides one — the
        authoritative same-txid order. Without it the fold falls back
        to ``monotonically_increasing_id`` over the checkpointed batch,
        which preserves arrival order WITHIN each source partition
        (partition id in the high bits); for multi-partition sources
        same-txid cross-partition order is partition order, not global
        arrival order — provide ``seq_col`` there.

        ``materialized``: the caller already eagerly checkpointed the
        events frame (process_batch does, once per batch) — skip the
        local one. ``stats``: per-table batch statistics (mappings with
        ``table`` / ``n`` / ``has_trunc``) when the caller already
        aggregated them (process_batch folds them into the events
        checkpoint via observe) — skips this method's own aggregation
        action. ``defer_release``: as for :meth:`compact` — required
        whenever the caller runs apply() concurrently with jobs that
        still scan the PRE-batch snapshot views. Per touched table the
        only job is its overlay checkpoint, and all touched tables'
        checkpoints are submitted in ONE concurrent wave."""
        ckpt = None
        if not materialized:
            # decouple from micro-batch source files that vanish after
            # the epoch
            events = ckpt = events.localCheckpoint(eager=True)
        seq = F.col(seq_col) if seq_col else F.monotonically_increasing_id()
        events = events.withColumn("__cdc_seq", seq.cast("long"))
        if stats is None:
            stats = events.groupBy("table").agg(
                F.count(F.lit(1)).alias("n"),
                F.max((F.col("op") == TRUNCATE).cast("int")).alias("has_trunc"),
            ).collect()
        release = defer_release.append if defer_release is not None else None
        table_of: dict[KeyedOverlay, str] = {}
        applies: list[tuple[KeyedOverlay, DataFrame, int]] = []
        for r in stats:
            table, n_ev, has_trunc = r["table"], r["n"], bool(r["has_trunc"])
            if n_ev == 0 and not has_trunc:
                continue
            snap = self.catalog.df(table)
            store = self._stores.get(table)
            if store is None:
                store = self._stores[table] = self._new_store(table, snap)
            pks, dead_cond, dead_sel, live_cond, live_sel, w = (
                self._fold_exprs_for(table, snap)
            )
            ev = events.filter(F.col("table") == table)
            if has_trunc:
                # TRUNCATE empties the snapshot as of its stream
                # position (ref: _truncate_op); only events ordered
                # after the LAST truncate survive into the LWW fold
                store.reset(snap.limit(0), release=release)
                cut = ev.filter(F.col("op") == TRUNCATE).select(
                    F.max(
                        F.struct(
                            F.coalesce(F.col("txid"), F.lit(0)).alias("t"),
                            F.col("__cdc_seq").alias("s"),
                        )
                    ).alias("__cut")
                )
                ev = ev.crossJoin(F.broadcast(cut)).filter(
                    F.struct(
                        F.coalesce(F.col("txid"), F.lit(0)).alias("t"),
                        F.col("__cdc_seq").alias("s"),
                    )
                    > F.col("__cut")
                ).drop("__cut")
            # key-action stream: dead(old pk) for UPDATE/DELETE, live(new
            # image) for INSERT/UPDATE. __cdc_sub breaks the tie inside
            # one UPDATE that keeps its key (the live image wins over
            # the removal of the same key by the same event). All
            # projection trees are prebuilt per table (_fold_exprs_for).
            dead = ev.filter(dead_cond).select(*dead_sel)
            live = ev.filter(live_cond).select(*live_sel)
            # one window shuffle over a batch-sized frame: last action
            # per key wins (LWW), a live winner replaces the key's rows
            winners = (
                dead.unionByName(live)
                .withColumn("__cdc_rn", F.row_number().over(w))
                .filter(F.col("__cdc_rn") == 1)
                .drop("__cdc_rn", *self.META_COLS)
            )
            table_of[store] = table
            applies.append((store, store.flagged_winners(winners), 2 * n_ev))
        apply_parallel(
            applies,
            release=release,
            compact=lambda store: self.compact(
                table_of[store], defer_release=defer_release
            ),
        )
        if ckpt is not None:
            # the overlay checkpoints are eager: nothing reads it again
            (release or caching.release_local_checkpoint)(ckpt)
        for store, table in table_of.items():
            self.catalog.register_df(table, store.view())
