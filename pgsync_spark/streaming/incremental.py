"""Incremental view maintenance: CDC events → recompute affected docs.

This is the reference's one genuinely novel engine piece (SURVEY §4 #5):
a child-table event does not patch documents in place — it resolves the
set of AFFECTED ROOT keys and re-runs the full tree query restricted to
those keys, then upserts/deletes in the sink
(ref: pgsync/sync.py:1345-1493 _payloads → op handlers → sync(filters)).

Spark-first shape of each reference mechanism:

- reverse ``_meta`` search of the sink (ref: pgsync/search_client.py:
  218-251, sync.py:835-1011) → a maintained **lineage DataFrame**
  ``(table, pk_col, pk_value, _id)`` exploded from the compiled docs'
  key arrays; old-image lookups are joins against it. Composite keys
  match per-column — a superset of the true affected set, safe because
  recompute is idempotent.
- FK-math resolvers for new images (ref: _root_foreign_key_resolver,
  _through_node_resolver) → precomputed join chains from each node's
  table up to the root, executed against the current snapshots.
- chunked IN-list re-sync filters (FILTER_CHUNK_SIZE=5000,
  ref: pgsync/sync.py:1464-1493) → one broadcast left_semi join
  (compile_assembled's root_keys) — no chunking needed at any scale.
- op decision table (ref: _insert_op/_update_op/_delete_op/_truncate_op
  pgsync/sync.py:1116-1343): INSERT/UPDATE/DELETE resolve old images via
  lineage and new images via FK chains (covers root PK change: old doc
  id drops out, new id recomputes — ref: sync.py:1194-1225); TRUNCATE of
  a child marks every doc referencing the table, TRUNCATE of the root
  empties the store.

The doc store and lineage index are ``KeyedOverlay`` stores
(operators/overlay.py), like the bronze snapshots, so a batch's store
maintenance costs O(batch + overlay) — never a full store rewrite.
"""

from __future__ import annotations

import gc
from functools import partial

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .. import caching
from ..catalog import Catalog
from ..node import SYSTEM_COLUMNS, Node, Tree
from ..operators.joins import maybe_broadcast
from ..operators.overlay import KeyedOverlay
from ..operators.overlay import apply_parallel as apply_overlays_parallel
from .cdc import DELETE, INSERT, TRUNCATE, UPDATE, TableMaterializer, _typed_image


def base_table_remap(tree: Tree) -> dict[str, str]:
    """{base_table → node.table} for every node declaring
    ``base_tables`` — CDC events naming a physical base table are
    consumed as events on the node's (view) table, the reference's
    view substitution (ref: pgsync/sync.py:1843-1853 builds the same
    lookup from node.base_tables and retags payloads).

    Validated for idempotence: a remap target must not itself be a
    remap source (chained view-of-view routing would make re-applying
    the remap — which a multi-index runner does — change the answer).
    """
    remap: dict[str, str] = {}
    for node in tree.root.traverse_post_order():
        for base in node.base_tables:
            if base in remap and remap[base] != node.table:
                raise ValueError(
                    f"base table {base!r} mapped to both {remap[base]!r} "
                    f"and {node.table!r}"
                )
            remap[base] = node.table
    validate_remap(remap)
    return remap


def validate_remap(
    remap: dict[str, str], node_tables: set[str] | None = None
) -> None:
    """Reject remaps that are not idempotent under re-application.

    A remap target must not itself be a remap source (chained
    view-of-view routing: base→viewX, viewX→viewY would retag already
    retagged events on a second application). When ``node_tables`` is
    given (the union of every tree's node tables, for a merged
    multi-tree remap), a remap source must not be any tree's node
    table — one tree's real table doubling as another tree's declared
    base would silently reroute (and then drop) the first tree's
    events instead of raising the config error this enforces."""
    for base, target in remap.items():
        if target in remap:
            raise ValueError(
                f"remap target {target!r} (from {base!r}) is itself a "
                "declared base table — chained view routing is not supported"
            )
        if node_tables is not None and base in node_tables:
            raise ValueError(
                f"base table {base!r} (remapped to {target!r}) is also a "
                "node table of another tree — its events would be "
                "rerouted away from that tree"
            )


def remap_column(remap: dict[str, str]) -> F.Column | None:
    """The ``table`` column retagged through ``remap`` (single
    application — each row matches at most one source name); None when
    the mapping is empty. Columns are immutable unresolved expressions,
    so a caller builds this once and reuses it every batch."""
    if not remap:
        return None
    expr = F.col("table")
    for base, target in sorted(remap.items()):
        expr = F.when(F.col("table") == base, F.lit(target)).otherwise(expr)
    return expr


def lineage_df(combined: DataFrame, keys_cols: dict) -> DataFrame:
    """(table, pk_col, pk_value, _id) — the reverse index that replaces
    the reference's ES ``_meta`` terms search — as ONE pass over the
    materialized combined frame.

    The per-(table, pk) key arrays ride along in ``combined`` (already
    distinct + stringified, see ``compile_assembled(include_keys=True)``);
    packing them into an array of structs and exploding twice emits
    every lineage row in a single scan — the earlier union of one
    select per key column re-scanned the widest frame in the engine
    len(keys_cols) times per sync. Rows are deduped per doc but NOT
    globally: the only consumers are left_semi/anti joins, for which
    duplicates are harmless — a global dropDuplicates here would
    shuffle every key of every doc on every full sync and batch."""
    entries = [
        F.struct(
            F.lit(table).alias("table"),
            F.lit(pk).alias("pk_col"),
            F.col(colname).alias("vals"),
        )
        for (table, pk), colname in sorted(keys_cols.items())
    ]
    return (
        combined.select(F.col("_id"), F.explode(F.array(*entries)).alias("e"))
        .select(
            F.col("e.table").alias("table"),
            F.col("e.pk_col").alias("pk_col"),
            F.explode("e.vals").alias("pk_value"),
            F.col("_id"),
        )
    )


def materialize_combined(
    combined: DataFrame,
    keys_cols: dict,
    count_obs: Observation | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """One-pass materialization of a compiled+assembled combined frame
    (doc JSON + typed root PKs + slim key arrays) →
    (docs, lineage, combined).

    The combined projection is localCheckpoint-ed eagerly, so the
    denormalization plan runs exactly once; the doc store and the
    lineage index are lazy projections over the checkpointed rows.
    Replaces a persist of the wide pre-JSON frame + one eager
    checkpoint per store + one cache scan per key column (measured
    ~2× on full_sync at sf0.1). On a cluster the checkpoint is a
    Delta/parquet write; same shape.

    ``combined`` is returned so the caller can release its blocks
    (caching.release_local_checkpoint) once both views have been
    superseded by a newer store checkpoint.

    ``count_obs``: an Observation to ride the checkpoint job with a
    ``n_docs`` row count (combined has exactly one row per doc) — the
    caller reads it after this returns, instead of running a separate
    count() action."""
    if count_obs is not None:
        combined = combined.observe(
            count_obs, F.count(F.lit(1)).alias("n_docs")
        )
    else:
        # a caller may pass a MEMOIZED plan (full_sync's compile memo);
        # localCheckpoint on that same Dataset would reuse its first
        # materialization's blocks — result caching across syncs, which
        # the engine must never do (and once those blocks are released,
        # the truncated lineage cannot recompute). A no-op alias forces
        # a fresh QueryExecution/RDD per call; the SubqueryAlias is
        # erased by the optimizer, so the executed plan is identical.
        combined = combined.alias("__resync")
    combined = combined.localCheckpoint(eager=True)
    doc_cols = [c for c in combined.columns if not c.startswith("__k_")]
    docs = combined.select(*doc_cols)
    lineage = lineage_df(combined, keys_cols)
    return docs, lineage, combined


def _consumer_wave(calls: list) -> None:
    """Run the doc consumers' calls of one batch concurrently, wait for
    EVERY one of them, then re-raise the first failure in registration
    order — a raising consumer never leaves another mid-apply when the
    batch's temporaries are released."""
    if len(calls) <= 1:
        for call in calls:
            call()
        return
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(len(calls)) as ex:
        futures = [ex.submit(call) for call in calls]
    for f in futures:
        f.result()


class IncrementalEngine:
    """Maintains (docs, lineage) for one Tree against a mutable Catalog."""

    def __init__(
        self,
        spark,
        tree: Tree,
        catalog: Catalog,
        materializer: TableMaterializer | None = None,
    ):
        """``materializer``: pass a shared one when several engines run
        different trees over the SAME catalog (multi-index sync) — the
        orchestrator then applies each batch to the snapshots exactly
        once and calls ``process_batch(..., apply_snapshots=False)``."""
        self.spark = spark
        self.tree = tree
        self.catalog = catalog
        self._owns_materializer = materializer is None
        self.materializer = materializer or TableMaterializer(catalog)
        self.root_pks = list(catalog.primary_key(tree.root.table, tree.root))
        self._chains = self._build_chains(tree)
        self._watched = self._watched_columns(tree)
        self._schemas = self._declared_schemas(tree)
        self._base_remap = base_table_remap(tree)
        self._keys_by_table = self._lineage_keys(tree)
        # per-batch Column trees that depend only on engine config
        # (watched columns, schema scope, table inventory) are built
        # ONCE here and reused every micro-batch — Columns are
        # immutable unresolved expressions, so reuse across frames is
        # exact, and rebuilding them was ~100s of py4j round-trips of
        # driver-side construction per batch (guide §7.3)
        self._scope_cond = self._event_scope()
        self._keep_cond = self._keep_event()
        self._remap_col = remap_column(self._base_remap)
        # _resolve_old_images' per-(table, pk-tuple) projection trees:
        # (table, filter cond, select Columns) — one lineage-pair
        # branch each, identical every batch
        self._old_image_exprs: list[tuple[str, F.Column, list[F.Column]]] = []
        for table, tuples in sorted(self._keys_by_table.items()):
            for pks in tuples:
                if len(pks) == 1:
                    name = pks[0]
                    val = F.col("old").getItem(pks[0])
                else:
                    # composite pk → tuple lineage entry; require every
                    # pk component present (concat_ws skips nulls)
                    name = "|".join(pks)
                    present = F.lit(True)
                    for p in pks:
                        present = present & F.col("old").getItem(p).isNotNull()
                    val = F.when(
                        present,
                        F.concat_ws(
                            "|", *[F.col("old").getItem(p) for p in pks]
                        ),
                    )
                self._old_image_exprs.append(
                    (
                        table,
                        F.col("table") == table,
                        [
                            F.lit(table).alias("table"),
                            F.lit(name).alias("pk_col"),
                            val.cast("string").alias("pk_value"),
                        ],
                    )
                )
        self._stat_tables = sorted(self._schemas)
        keep = self._keep_cond
        self._stat_metrics = []
        for i, t in enumerate(self._stat_tables):
            is_t = F.col("table") == t
            self._stat_metrics += [
                F.sum(is_t.cast("int")).alias(f"n_{i}"),
                F.max(F.when(is_t, F.col("txid"))).alias(f"mx_{i}"),
                F.sum((is_t & keep).cast("int")).alias(f"na_{i}"),
                F.sum(
                    (is_t & F.col("op").isin(INSERT, UPDATE) & keep).cast("int")
                ).alias(f"nn_{i}"),
                F.sum(
                    (is_t & F.col("op").isin(UPDATE, DELETE) & keep).cast("int")
                ).alias(f"no_{i}"),
                F.max(
                    (is_t & (F.col("op") == TRUNCATE)).cast("int")
                ).alias(f"nt_{i}"),
            ]
        # doc store and lineage reverse index, keyed on _id. An earlier
        # design re-checkpointed the full store every batch — correct,
        # but a 150k-doc store rewrite for a 3.3k-event batch is the
        # wrong cost shape at scale.
        self._docs_store: KeyedOverlay | None = None
        self._lineage_store: KeyedOverlay | None = None
        # the full-sync combined checkpoint backs BOTH stores' initial
        # bases; released once each store compacts onto its own base
        self._shared_base: DataFrame | None = None
        # (catalog.version, combined frame, keys_cols) of the last
        # full-corpus compile — see full_sync
        self._full_plan: tuple | None = None
        # engine-lifetime temp-view cache for the per-batch one-SQL
        # compiles: unchanged snapshot views re-register zero times
        from ..plans.sqlgen import ViewScope

        self._view_scope = ViewScope(spark)
        # ops counters (the reference's status loop analog,
        # ref: pgsync/sync.py:2084-2112)
        self.stats = {
            "batches": 0,
            "events": 0,
            "recomputed_docs": 0,
            "suppressed_updates": 0,
        }
        self.checkpoint: int | None = None  # highest txid applied
        # config-declared plugin chain, resolved at engine construction
        # so a typo'd name fails at startup, not mid-sync (ref:
        # pgsync/sync.py:148-149 builds Plugins in Sync.__init__)
        from ..plugin import load_plugins

        self.plugins = load_plugins(list(tree.plugins or []))
        # per-batch doc-delta consumers (streaming/index_sync.py
        # SearchIndexMaintainer): each gets apply(upserts, deleted_ids)
        # after the stores commit, and truncate() on a root TRUNCATE —
        # the reference's sync→search-index leg with the index owned
        # by the engine (ref: pgsync/sync.py:1495-1528). The consumers
        # of one batch run CONCURRENTLY, one thread each: they must
        # own disjoint state (no shared view names or files) and must
        # not read each other's effects within the batch. Every call
        # returns before process_batch does; the first failure (in
        # registration order) re-raises after all of them finished.
        self.doc_consumers: list = []

    # -- store plumbing ------------------------------------------------
    STORE_COMPACT_EVERY = 8

    @property
    def docs(self) -> DataFrame | None:
        """(_id, doc, *root_pks) — current contents of the doc store."""
        return self._docs_store.view() if self._docs_store is not None else None

    def docs_for_sink(self) -> DataFrame | None:
        """Sink-facing documents: the doc store run through the tree's
        config-declared plugin chain (ref: pgsync/sync.py:1571-1572 —
        plugins transform every doc on its way to the index; a falsy
        return drops the doc from indexing). The STORE stays
        pre-plugin: recompute correctness depends on the engine's own
        canonical docs, and the reference likewise applies plugins
        only at indexing time. ``_routing`` rides through the
        crossing; store-internal root-pk columns do not (no sink reads
        them)."""
        docs = self.docs
        return docs if docs is None else self._through_plugins(docs)

    def _through_plugins(self, docs: DataFrame) -> DataFrame:
        """``docs`` through the tree's plugin chain — the crossing both
        sink-facing paths (docs_for_sink, the batch's consumer delta)
        take; ``_routing`` rides through."""
        if not self.plugins:
            return docs
        from ..plugin import apply_plugins

        return apply_plugins(
            docs,
            self.plugins,
            index=self.tree.index or self.tree.root.table,
            passthrough=tuple(c for c in docs.columns if c == "_routing"),
        )

    @docs.setter
    def docs(self, df: DataFrame | None) -> None:
        self._docs_store = self._store_onto(self._docs_store, df)
        self._maybe_release_shared()

    @property
    def lineage(self) -> DataFrame | None:
        return (
            self._lineage_store.view()
            if self._lineage_store is not None
            else None
        )

    @lineage.setter
    def lineage(self, df: DataFrame | None) -> None:
        self._lineage_store = self._store_onto(self._lineage_store, df)
        self._maybe_release_shared()

    def _store_onto(
        self, store: KeyedOverlay | None, df: DataFrame | None
    ) -> KeyedOverlay | None:
        """The doc/lineage store holding ``df``: ``store`` reset onto
        it, or a new store keyed on ``_id``."""
        if df is None:
            return None
        if store is None:
            return KeyedOverlay(df, ["_id"], compact_every=self.STORE_COMPACT_EVERY)
        store.reset(df)
        return store

    def _teardown_stores(self) -> None:
        for store in (self._docs_store, self._lineage_store):
            if store is not None:
                store.release()
        if self._shared_base is not None:
            caching.release_local_checkpoint(self._shared_base)
            self._shared_base = None
        if self._owns_materializer:
            # a shared materializer (SyncRunner) outlives any one
            # engine; an owned one must not leak its snapshot blocks
            self.materializer.release()
        # drop the compile-scope temp views too: without this, every
        # engine leaked one view per tree table plus the root-keys
        # view (holding a strong ref to the last batch's root-keys
        # frame) into the global temp catalog for the app's lifetime.
        # Safe mid-lifecycle (full_sync tears down before swapping
        # stores): the memoized full-corpus plan is already resolved,
        # and the next per-batch compile lazily re-registers its views.
        self._view_scope.release()

    def _maybe_release_shared(self) -> None:
        """Free the full-sync combined checkpoint once neither store's
        base derives from it anymore (both have compacted or been
        reset)."""
        if (
            self._shared_base is not None
            and self._docs_store is not None
            and self._lineage_store is not None
            and self._docs_store.generation > 0
            and self._lineage_store.generation > 0
        ):
            caching.release_local_checkpoint(self._shared_base)
            self._shared_base = None

    # -- full (initial) sync ------------------------------------------
    def full_sync(self) -> DataFrame:
        # the full-corpus compiled plan is engine state: the tree and
        # catalog determine it entirely, so a re-sync against an
        # unchanged catalog reuses the plan instead of paying the
        # compile pass again. catalog.version bumps on every
        # snapshot-view register/unregister, so a mid-stream re-sync
        # against materialized snapshots always recompiles. Only the
        # PLAN is memoized — materialize_combined below re-executes it
        # from the current files on every call. The compile itself is
        # one parse+analyze of one SQL text (plans/sqlgen.py).
        memo = self._full_plan
        if memo is not None and memo[0] == self.catalog.version:
            combined_plan, keys_cols = memo[1], memo[2]
        else:
            from ..plans.sqlgen import compile_assembled

            combined_plan, cmeta = compile_assembled(
                self.catalog,
                self.tree,
                include_pks=True,
                include_keys=True,
                scope=self._view_scope,
            )
            keys_cols = dict(cmeta.keys_cols)
            self._full_plan = (self.catalog.version, combined_plan, keys_cols)
        expected = set()
        for table, tuples in self._keys_by_table.items():
            for pks in tuples:
                expected.update((table, pk) for pk in pks)
                if len(pks) > 1:
                    expected.add((table, "|".join(pks)))
        assert set(keys_cols) == expected, (
            "lineage key inventory diverged from compiled keys: "
            f"{sorted(set(keys_cols) ^ expected)}"
        )
        docs, lineage, combined = materialize_combined(combined_plan, keys_cols)
        self._teardown_stores()
        self._docs_store = self._store_onto(None, docs)
        self._lineage_store = self._store_onto(None, lineage)
        self._shared_base = combined
        return self.docs

    def _lineage_keys(self, tree: Tree) -> dict[str, list[tuple[str, ...]]]:
        """table → distinct pk tuples (catalog/declared order, matching
        the compiler's key + tuple-key columns — every node's pks plus
        through-table pks), so old-image resolution works on engines
        restored from a DocStore without a full_sync in this session."""
        out: dict[str, list[tuple[str, ...]]] = {}
        def add(table: str, pks: tuple[str, ...]) -> None:
            if pks not in out.setdefault(table, []):
                out[table].append(pks)
        for node in tree.root.traverse_post_order():
            add(node.table, tuple(self.catalog.primary_key(node.table, node)))
            for through in node.relationship.through_tables:
                add(through, tuple(self.catalog.primary_key(through)))
        return out

    # -- event scoping -------------------------------------------------
    def _watched_columns(self, tree: Tree) -> dict[str, list[str]]:
        """Per-table columns whose change can affect any document: the
        node's projected columns (all non-system columns when none are
        declared), every FK column touching the table, and its PKs —
        the reference's trigger UPDATE_OF set
        (ref: pgsync/trigger.py:58-71: UPDATE fires only when a watched
        column IS DISTINCT FROM its old value)."""
        watched: dict[str, set[str]] = {}

        def add(table: str, cols):
            watched.setdefault(table, set()).update(cols)

        for node in tree.root.traverse_post_order():
            if node.columns:
                add(node.table, {s.name for s in node.columns})
            else:
                add(
                    node.table,
                    set(self.catalog.columns(node.table)) - SYSTEM_COLUMNS,
                )
            add(node.table, self.catalog.primary_key(node.table, node))
            if node.parent is None:
                continue
            rel = node.relationship
            if rel.through_tables:
                through = rel.through_tables[0]
                fk_p = self.catalog.foreign_key(node.parent.table, through)
                fk_c = self.catalog.foreign_key(node.table, through)
                add(node.parent.table, fk_p.parent)
                add(through, fk_p.child)
                add(node.table, fk_c.parent)
                add(through, fk_c.child)
                add(through, self.catalog.primary_key(through))
            else:
                fk = self.catalog.resolve_fk(node.parent, node)
                add(node.parent.table, fk.parent)
                add(node.table, fk.child)
        return {t: sorted(c) for t, c in watched.items()}

    def _declared_schemas(self, tree: Tree) -> dict[str, set[str]]:
        """table → declared schema names (empty set = accept any)."""
        out: dict[str, set[str]] = {}
        for node in tree.root.traverse_post_order():
            out.setdefault(node.table, set())
            if node.schema:
                out[node.table].add(node.schema)
            for through in node.relationship.through_tables:
                out.setdefault(through, set())
                if node.schema:
                    out[through].add(node.schema)
        return out

    def _event_scope(self) -> F.Column:
        """Events this tree consumes: table in the tree AND, when the
        node declares a schema, payload.schema must match — two tables
        with the same name in different schemas must not
        cross-contaminate (ref: pgsync/sync.py:622-623)."""
        cond = None
        for table, schemas in self._schemas.items():
            c = F.col("table") == table
            if schemas:
                c = c & F.col("schema").isin(*sorted(schemas))
            cond = c if cond is None else (cond | c)
        return cond if cond is not None else F.lit(False)

    def _keep_event(self) -> F.Column:
        """False only for UPDATE events whose old/new images agree
        (null-safe) on every watched column of their table — those
        cannot change any document. Conservative by construction: an
        old image that omits a watched column keeps the event."""
        suppress = None
        for table, cols in self._watched.items():
            unchanged = F.lit(True)
            for c in cols:
                unchanged = unchanged & F.col("old").getItem(c).eqNullSafe(
                    F.col("new").getItem(c)
                )
            s = (F.col("op") == UPDATE) & (F.col("table") == table) & unchanged
            suppress = s if suppress is None else (suppress | s)
        return ~suppress if suppress is not None else F.lit(True)

    # -- resolution chains --------------------------------------------
    def _build_chains(self, tree: Tree):
        """table → list of join chains. A chain is a list of hops
        (child_cols, parent_table, parent_cols) walking up to the root;
        the event's own table contributes the first hop's child cols.
        Tables appearing at several tree positions get several chains."""
        chains: dict[str, list[list[tuple]]] = {}

        def add(table: str, chain: list[tuple]):
            chains.setdefault(table, []).append(chain)

        def walk(node: Node, up: list[tuple]):
            # `up` = hops from node's PARENT to root
            for ch in node.children:
                if ch.relationship.through_tables:
                    through = ch.relationship.through_tables[0]
                    fk_p = self.catalog.foreign_key(node.table, through)
                    fk_c = self.catalog.foreign_key(ch.table, through)
                    through_hop = [(tuple(fk_p.child), node.table, tuple(fk_p.parent))] + up
                    add(through, through_hop)
                    add(
                        ch.table,
                        [(tuple(fk_c.parent), through, tuple(fk_c.child))] + through_hop,
                    )
                    walk(ch, [(tuple(fk_c.parent), through, tuple(fk_c.child))] + through_hop)
                else:
                    fk = self.catalog.resolve_fk(node, ch)
                    hop = [(tuple(fk.child), node.table, tuple(fk.parent))] + up
                    add(ch.table, hop)
                    walk(ch, hop)

        add(tree.root.table, [])
        walk(tree.root, [])
        return chains

    def _resolve_new_images(
        self, events: DataFrame, new_counts: dict[str, int]
    ) -> DataFrame | None:
        """Affected root keys from INSERT/UPDATE new images, by joining
        up the FK chains against the current snapshots.

        ``new_counts``: per-table INSERT/UPDATE event counts from the
        batch stats aggregation. Tables with zero new images skip their
        chains entirely — a batch touching only the root never scans a
        child snapshot here (the recompute reads children anyway, but
        resolution must not). Every frame in a chain is bounded by its
        table's event count (first hop distinct-selects from events;
        child→parent hops are many-to-one), so the count guards each
        broadcast: small batch → broadcast hint, bulk backfill → the
        planner/AQE decides."""
        outs = []
        for table, chains in self._chains.items():
            n_events = new_counts.get(table, 0)
            if n_events == 0:
                continue
            ev = events.filter(
                (F.col("table") == table) & F.col("op").isin(INSERT, UPDATE)
            )
            snap = self.catalog.df(table)
            for chain in chains:
                if not chain:  # root events: pks straight from the image
                    vals = _typed_image(ev, "new", snap, self.root_pks)
                    outs.append(vals)
                    continue
                first_child_cols = list(chain[0][0])
                cur = _typed_image(ev, "new", snap, first_child_cols).dropDuplicates()
                for idx, (child_cols, parent_table, parent_cols) in enumerate(chain):
                    psnap = self.catalog.df(parent_table)
                    cond = None
                    for cc, pc in zip(child_cols, parent_cols):
                        c = cur[cc] == psnap[pc]
                        cond = c if cond is None else (cond & c)
                    joined = psnap.join(
                        maybe_broadcast(cur, known_rows=n_events), cond, "inner"
                    )
                    if idx + 1 == len(chain):  # reached the root table
                        cur = joined.select(
                            *[psnap[c] for c in self.root_pks]
                        ).dropDuplicates()
                    else:  # next hop's child cols live on this parent
                        cur = joined.select(
                            *[psnap[c] for c in chain[idx + 1][0]]
                        ).dropDuplicates()
                outs.append(cur.toDF(*self.root_pks))
        if not outs:
            return None
        out = outs[0]
        for o in outs[1:]:
            out = out.unionByName(o)
        return out.dropDuplicates()

    def _resolve_old_images(
        self,
        events: DataFrame,
        n_events: int,
        has_truncate: bool = True,
        old_tables: set[str] | None = None,
    ) -> DataFrame:
        """Affected doc _ids from old images / deletes / truncates via the
        lineage reverse index.

        Matching is AND-across-pk-columns per table (the reference's
        reverse search builds one terms filter per ``_meta.<table>.<pk>``
        and the filters conjoin, ref: pgsync/search_client.py:218-251):
        a doc is affected only if, for EVERY pk column of the table, it
        references one of the batch's old values. Per-column-union
        matching would be quadratically wrong for composite keys — a
        single lineitem event would match every doc sharing
        l_linenumber=1 (~1/7 of ALL docs) and recompute them. The value
        sets are event-bounded (broadcast); each pk column is one
        filter+semi pass over the checkpointed lineage (pk_col is a
        partition-prunable column in a production store), and the
        id-set intersection joins shrink monotonically.

        Contract: old images carry ALL pk columns of their table (the
        reference trigger always emits them, ref: pgsync/trigger.py
        primary_keys payload; Debezium before-images likewise).
        ``has_truncate=False`` (known from the batch stats aggregation)
        skips the truncate lineage pass entirely."""
        ev = events.filter(F.col("op").isin(UPDATE, DELETE))
        branches = [
            ev.filter(cond).select(*cols)
            for table, cond, cols in self._old_image_exprs
            if old_tables is None or table in old_tables
        ]
        if branches:
            pairs = branches[0]
            for b in branches[1:]:
                pairs = pairs.unionByName(b)
            pairs = pairs.filter(F.col("pk_value").isNotNull())
            by_keys = self.lineage.join(
                maybe_broadcast(pairs, known_rows=n_events),
                on=["table", "pk_col", "pk_value"],
                how="left_semi",
            ).select("_id")
        else:  # INSERT-only batch: no old images at all
            by_keys = self.lineage.select("_id").limit(0)
        # no dropDuplicates: the only consumer is a left_semi join, which
        # dedups inherently — an explicit distinct here is a pure shuffle
        if not has_truncate:
            return by_keys
        trunc_tables = events.filter(F.col("op") == TRUNCATE).select("table")
        by_trunc = self.lineage.join(
            maybe_broadcast(trunc_tables, known_rows=n_events),
            on=["table"],
            how="left_semi",
        ).select("_id")
        return by_keys.unionByName(by_trunc)

    # -- one batch -----------------------------------------------------
    def process_batch(
        self,
        events: DataFrame,
        txmin: int | None = None,
        txmax: int | None = None,
        apply_snapshots: bool = True,
        timings: dict | None = None,
    ) -> None:
        """foreachBatch body: filter → materialize → resolve → recompute
        → upsert/delete → maintain lineage.

        ``timings``: pass a dict to accumulate per-phase wall-clock
        seconds (keyed by phase name) — first-class profiling, so
        benchmark/profiling harnesses never have to mirror this body.

        ``txmin``/``txmax`` bound the transaction window: only events
        with ``txmin <= txid < txmax`` apply — the reference's snapshot
        window predicate (ref: pgsync/querybuilder.py:446-467,
        base.py:734-749) expressed on the CDC log. The engine checkpoint
        advances to the highest applied txid
        (ref: pgsync/sync.py:1890-1893).

        ``apply_snapshots=False``: a multi-index orchestrator
        (SyncRunner) already applied this batch to the shared catalog's
        snapshots; skip the materializer and only resolve/recompute.
        NOTE the resolvers then see post-batch snapshots for old images
        too — exact all the same, because old-image resolution reads the
        LINEAGE index (pre-batch by construction), never the table
        snapshots."""
        from time import perf_counter

        _t = perf_counter()

        def mark(label: str) -> None:
            nonlocal _t
            now = perf_counter()
            if timings is not None:
                timings[label] = round(
                    timings.get(label, 0.0) + (now - _t), 4
                )
            _t = now

        if self._remap_col is not None:
            events = events.withColumn("table", self._remap_col)
        events = events.filter(self._scope_cond)
        if txmin is not None:
            events = events.filter(F.col("txid") >= txmin)
        if txmax is not None:
            events = events.filter(F.col("txid") < txmax)
        # one eager checkpoint decouples the whole batch from the
        # micro-batch source files (which vanish after the epoch) —
        # downstream frames derive from it lazily. EVERY batch
        # statistic rides the checkpoint job itself via observe (the
        # scope filter bounds the table inventory, so the grouped
        # aggregation unrolls into per-table conditional aggregates) —
        # the former separate stats collect was a full extra driver
        # round-trip per batch. The metric Columns themselves are
        # engine state (built once in __init__).
        keep = self._keep_cond
        tables = self._stat_tables
        obs = Observation()
        metrics = self._stat_metrics
        # coalesce before the checkpoint: a micro-batch is driver-bounded
        # (maxFilesPerTrigger / maxOffsetsPerTrigger), so 8 parse tasks
        # cover any configured batch size, and EVERY downstream job over
        # the checkpointed events schedules 8 tasks instead of the
        # session default (32+) — pure scheduler latency at small batch
        # sizes. Shuffly consumers re-expand to spark.sql.shuffle
        # .partitions as usual. coalesce concatenates consecutive source
        # partitions in order, so the (partition, offset) arrival order
        # that seeds the LWW __cdc_seq tie-break is preserved.
        events = (
            events.coalesce(8).observe(obs, *metrics)
            .localCheckpoint(eager=True)
        )
        vals = obs.get  # metrics fired by the checkpoint action
        per_table = [
            {
                "table": t,
                "n": int(vals[f"n_{i}"] or 0),
                "mx": vals[f"mx_{i}"],
                "n_active": int(vals[f"na_{i}"] or 0),
                "n_new": int(vals[f"nn_{i}"] or 0),
                "n_old": int(vals[f"no_{i}"] or 0),
                "has_trunc": int(vals[f"nt_{i}"] or 0),
            }
            for i, t in enumerate(tables)
        ]
        per_table = [r for r in per_table if r["n"] > 0]
        mark("events_ckpt")
        n_total = sum(r["n"] for r in per_table)
        if n_total == 0:
            caching.release_local_checkpoint(events)
            return
        n_active = sum(int(r["n_active"] or 0) for r in per_table)
        new_counts = {r["table"]: int(r["n_new"] or 0) for r in per_table}
        old_tables = {r["table"] for r in per_table if int(r["n_old"] or 0) > 0}
        any_trunc = any(r["has_trunc"] for r in per_table)
        root_trunc = any(
            r["has_trunc"] and r["table"] == self.tree.root.table
            for r in per_table
        )
        mxs = [r["mx"] for r in per_table if r["mx"] is not None]
        self.stats["batches"] += 1
        self.stats["events"] += n_active
        self.stats["suppressed_updates"] += n_total - n_active
        if mxs:
            self.checkpoint = max(self.checkpoint or 0, max(mxs))

        # frames whose blocks this batch owns; everything the stores
        # keep is copied into eager overlay checkpoints before the
        # batch ends, so ALL temporaries release at batch end
        batch_tmp: list[DataFrame] = [events]
        try:
            if root_trunc:
                # TRUNCATE of the root empties the stores as of its stream
                # position (ref: _truncate_op). Events ordered AFTER the
                # truncate still apply — the materializer's LWW fold keeps
                # them in the bronze snapshots (exact (txid, seq) cut), and
                # any INSERT/UPDATE new images re-enter the normal resolve/
                # recompute below against the emptied stores: old images
                # resolve against the now-empty lineage (nothing to
                # delete), new-image keys recompute from the post-batch
                # snapshots, where pre-truncate rows no longer exist — so
                # only rows that survive serial replay come back.
                if apply_snapshots:
                    self.materializer.apply(events, materialized=True, stats=per_table)
                apply_snapshots = False  # applied here; skip below
                mark("materializer")
                docs_ck = self.docs.limit(0).localCheckpoint(eager=True)
                lin_ck = self.lineage.limit(0).localCheckpoint(eager=True)
                self._docs_store.reset(docs_ck, owns_base=True)
                self._lineage_store.reset(lin_ck, owns_base=True)
                self._maybe_release_shared()
                # the doc corpus was cleared as of this stream position
                # — engine-owned indexes clear too; post-truncate events
                # in this same batch re-enter below and reach the
                # consumers as ordinary upserts
                _consumer_wave([c.truncate for c in self.doc_consumers])
                if sum(new_counts.values()) == 0:
                    # no new images anywhere in the batch — nothing after
                    # the truncate can materialize
                    return
            if n_active == 0:
                # only suppressed no-op UPDATEs: keep snapshots exact (their
                # unwatched columns may have changed) but skip all doc work
                if apply_snapshots:
                    self.materializer.apply(events, materialized=True, stats=per_table)
                return

            # suppressed events never resolve or recompute (ref:
            # pgsync/trigger.py:58-71), but they DO reach the materializer
            # so snapshots stay exact on unwatched columns
            active = events if n_total == n_active else events.filter(keep)

            # ---- wave 1: bronze apply ∥ old-image ids ∥ new-image keys ---
            # All three depend only on the events checkpoint and PRE-batch
            # state, so they run as ONE concurrent wave of jobs instead of
            # three serial driver round-trips:
            #  - the materializer folds the batch into the bronze snapshots;
            #  - old images resolve against the lineage index (pre-batch by
            #    construction);
            #  - new images resolve their FK chains against the PRE-batch
            #    snapshots. Exact by induction: an event whose ancestor
            #    chain crosses a row created in THIS batch is covered by
            #    that row's own event, whose chain is one hop shorter and
            #    starts from its event image (never a snapshot read), so
            #    the affected-root union over all events is the same set
            #    serial replay reaches — rows linked through since-updated
            #    parents over-approximate, and recompute is idempotent.
            #    (The runner path, apply_snapshots=False, resolves against
            #    POST-batch snapshots — also exact, same argument.)
            ids_old = self._resolve_old_images(
                active,
                n_active,
                has_truncate=any_trunc,
                old_tables=old_tables,
            )
            new_keys = self._resolve_new_images(active, new_counts)
            mark("resolve_build")
            wave: list = []
            # frames the materializer supersedes (prev overlays, compacted
            # bases) must NOT unpersist mid-wave: the new_keys/ids jobs in
            # this same wave scan the PRE-batch snapshot views, and a lost
            # localCheckpoint block is unrecoverable (no lineage). They
            # defer into batch_tmp and release with the other temporaries
            # after every consumer is done.
            deferred: list[DataFrame] = []
            if apply_snapshots:
                # per-table stats from the events checkpoint ride along —
                # the materializer skips its own aggregation action
                wave.append(
                    lambda: self.materializer.apply(
                        events,
                        materialized=True,
                        stats=per_table,
                        defer_release=deferred,
                    )
                )
            wave.append(lambda: ids_old.localCheckpoint(eager=True))
            if new_keys is not None:
                wave.append(lambda nk=new_keys: nk.localCheckpoint(eager=True))
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(len(wave)) as ex:
                results = [f.result() for f in [ex.submit(t) for t in wave]]
            if apply_snapshots:
                results = results[1:]
            batch_tmp.extend(deferred)
            ids = results[0]
            batch_tmp.append(ids)
            if new_keys is not None:
                new_keys = results[-1]
                batch_tmp.append(new_keys)
            mark("bronze_resolve_wave")

            # broadcast guards below use event-derived UPPER BOUNDS instead
            # of exact counts — each exact count is a driver sync point (a
            # full Spark job), and an upper bound decides the broadcast the
            # same way where it matters: a bulk backfill / child TRUNCATE
            # makes the bound huge → shuffle path, a normal batch keeps it
            # tiny → broadcast. n_new bound: every resolved root key traces
            # to at least one INSERT/UPDATE event.
            n_new = sum(new_counts.values()) if new_keys is not None else 0
            if new_keys is not None:
                key_ids = new_keys.select(
                    F.concat_ws("|", *[F.col(c).cast("string") for c in self.root_pks]).alias(
                        "_id"
                    )
                )
                ids = ids.unionByName(key_ids)  # semi-join side: dupes harmless
            # old-image ids ≤ n_active events ... except a child TRUNCATE,
            # whose lineage sweep can return the whole store — no bound is
            # knowable without counting, so count only then (cheap: ids is
            # already checkpointed).
            n_ids = ids.count() if any_trunc else n_active + n_new
            mark("ids_count")

            # ONE store materialization covers every downstream need: the
            # affected ids that exist in the store, with their typed root
            # PKs riding along, UNIONED with the new-image keys — a single
            # checkpoint feeds both the store maintenance and the
            # recompute. Ids absent from the store (new inserts)
            # anti-remove nothing, so restricting the store anti-join side
            # to the in-store subset is exact; recompute keys for new
            # inserts ride in via the __new rows.
            affected = self.docs.join(
                maybe_broadcast(ids, known_rows=n_ids), "_id", "left_semi"
            ).select("_id", *self.root_pks).withColumn("__new", F.lit(False))
            if new_keys is not None:
                affected = affected.unionByName(
                    new_keys.select(
                        F.concat_ws(
                            "|", *[F.col(c).cast("string") for c in self.root_pks]
                        ).alias("_id"),
                        *self.root_pks,
                    ).withColumn("__new", F.lit(True))
                )
            affected = affected.localCheckpoint(eager=True)
            mark("affected_ckpt")
            batch_tmp.append(affected)
            n_affected = n_ids  # affected ⊆ ids ∪ new: same broadcast decision
            affected_ids = affected.filter(~F.col("__new")).select("_id")

            # recompute those roots from the CURRENT snapshots (both inputs
            # checkpointed → the compiler's fan-out re-reads, never recomputes;
            # it dedups root_keys itself)
            affected_keys = affected.select(*self.root_pks)

            from ..plans.sqlgen import compile_assembled

            combined_plan, cmeta = compile_assembled(
                self.catalog,
                self.tree,
                root_keys=affected_keys,
                root_keys_rows=n_affected + n_new,
                include_pks=True,
                include_keys=True,
                scope=self._view_scope,
            )
            # upsert + implicit delete: affected docs that did not recompute
            # (root row gone) simply don't come back (ref: _delete_op).
            # The recomputed-doc count rides the combined checkpoint via
            # observe — no separate count() action.
            count_obs = Observation()
            new_docs, new_lineage, new_combined = materialize_combined(
                combined_plan, cmeta.keys_cols, count_obs=count_obs
            )
            batch_tmp.append(new_combined)
            self.stats["recomputed_docs"] += int(count_obs.get["n_docs"])
            mark("recompute_tree")
            # store maintenance is O(batch + overlay): replace the affected
            # keys' rows in each overlay store (a key whose doc did not
            # recompute simply has no replacement rows — the implicit
            # delete). New-insert ids ride in via the rows side; they were
            # never in the base, so the touched-key anti-join is exact.
            # Both stores' overlay checkpoints (one each) go out in ONE
            # concurrent wave.
            apply_overlays_parallel([
                (store, store.flagged(affected_ids, rows), n_affected)
                for store, rows in (
                    (self._docs_store, new_docs),
                    (self._lineage_store, new_lineage),
                )
            ])
            mark("stores_overlay")
            self._maybe_release_shared()
            if self.doc_consumers:
                # the sink-facing doc DELTA: recomputed docs through the
                # tree's plugin chain (a plugin-dropped doc is simply not
                # re-indexed — the reference drops at indexing time too,
                # leaving whatever the sink held; ref: pgsync/sync.py:
                # 1571-1572), plus the ids whose docs vanished (root row
                # gone — the engine's implicit delete, made explicit for
                # consumers). Both frames derive from this batch's eager
                # checkpoints (new_combined / affected), so consumers run
                # BEFORE the release below — as ONE concurrent wave: each
                # index's apply + compaction is mostly driver-side
                # scheduling, so serially the indexes took turns idling
                # the executors (see the doc_consumers contract in
                # __init__).
                ups = self._through_plugins(new_docs)
                gone = affected_ids.join(
                    new_docs.select("_id"), "_id", "left_anti"
                )
                _consumer_wave(
                    [partial(c.apply, ups, gone) for c in self.doc_consumers]
                )
                mark("doc_consumers")
        finally:
            # overlay checkpoints are eager — every batch temporary
            # (events, resolved keys, affected set, recompute output)
            # is fully copied out by the time the body ends, and a
            # raising consumer must not leak them either
            caching.release_local_checkpoints(batch_tmp)
            # py4j caches each method called on a JavaObject in the
            # object itself (a reference cycle), so the JVM Dataset
            # behind every frame this batch executed — its plan,
            # broadcast relations and shuffle state — stays pinned in
            # the driver until CPython's next full collection, which may
            # be many batches away. Collecting here releases the batch's
            # plans at batch end (67-71 ms a call in a 4-core
            # cdc_search run).
            gc.collect()
