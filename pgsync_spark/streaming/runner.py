"""Multi-index sync orchestration: N trees off ONE change stream.

The reference's CLI loads a schema.json that is a LIST of index
definitions and runs one ``Sync`` per entry, each consuming the same
database's change feed (ref: pgsync/__main__.py:60-85 loops
``config_loader``; pgsync/sync.py Sync-per-document). SyncRunner is the
engine-side analog: one shared catalog + ONE TableMaterializer keep the
bronze-layer snapshots, applied exactly once per batch; each tree's
IncrementalEngine then resolves and recomputes only its own documents
(``apply_snapshots=False``).

Why shared: two trees over the same tables would otherwise each
maintain a private copy of every snapshot (2× block storage) and apply
every batch twice. At scale the bronze layer is the expensive part —
it must be shared, exactly like N Delta-reading pipelines share one
MERGE-maintained table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import caching
from ..catalog import Catalog
from ..node import Tree
from .cdc import TableMaterializer
from .incremental import IncrementalEngine, remap_column, validate_remap


class SyncRunner:
    """Runs one IncrementalEngine per Tree over a shared Catalog."""

    def __init__(self, spark: SparkSession, trees: list[Tree], catalog: Catalog):
        if not trees:
            raise ValueError("SyncRunner needs at least one tree")
        self.spark = spark
        self.catalog = catalog
        self.materializer = TableMaterializer(catalog)
        self.engines: dict[str, IncrementalEngine] = {}
        for i, tree in enumerate(trees):
            name = tree.index or f"{tree.root.table}_{i}"
            if name in self.engines:
                raise ValueError(f"duplicate index name {name!r}")
            self.engines[name] = IncrementalEngine(
                spark, tree, catalog, materializer=self.materializer
            )
        # merged view→base remap across trees: the shared materializer
        # must see retagged events (a base table is often not a catalog
        # table at all); conflicting declarations are config errors.
        # The MERGED dict re-runs the per-tree idempotence validation
        # plus a cross-tree check: tree A's node table declared as tree
        # B's base table would chain (base→viewX, viewX→viewY) or
        # silently reroute A's events — config error, not event loss.
        self._base_remap: dict[str, str] = {}
        for eng in self.engines.values():
            for base, target in eng._base_remap.items():
                if self._base_remap.get(base, target) != target:
                    raise ValueError(
                        f"base table {base!r} remapped to both "
                        f"{self._base_remap[base]!r} and {target!r} by "
                        "different trees"
                    )
                self._base_remap[base] = target
        node_tables = {
            node.table
            for eng in self.engines.values()
            for node in eng.tree.root.traverse_post_order()
        }
        validate_remap(self._base_remap, node_tables=node_tables)
        self._remap_col = remap_column(self._base_remap)

    @classmethod
    def from_config(
        cls, spark: SparkSession, config_path: str, catalog: Catalog
    ) -> "SyncRunner":
        """`pgsync -c schema.json` analog (local path / http(s) / s3)."""
        from ..config import config_loader

        return cls(spark, config_loader(config_path), catalog)

    def full_sync(self) -> dict[str, DataFrame]:
        """Initial load of every index; returns name → docs."""
        return {name: eng.full_sync() for name, eng in self.engines.items()}

    def process_batch(
        self,
        events: DataFrame,
        txmin: int | None = None,
        txmax: int | None = None,
    ) -> None:
        """foreachBatch body for all indices.

        The raw batch applies to the shared snapshots ONCE (all tables —
        the bronze layer serves any tree); each engine then scopes the
        events to its own tables and recomputes its documents against
        the post-batch snapshots. Old-image resolution reads each
        engine's own lineage index, which is pre-batch by construction,
        so apply-order does not race resolution."""
        if self._remap_col is not None:
            events = events.withColumn("table", self._remap_col)
        if txmin is not None:
            events = events.filter(F.col("txid") >= txmin)
        if txmax is not None:
            events = events.filter(F.col("txid") < txmax)
        events = events.localCheckpoint(eager=True)
        self.materializer.apply(events, materialized=True)
        for eng in self.engines.values():
            eng.process_batch(events, apply_snapshots=False)
        # every engine eagerly re-checkpointed its scoped subset and the
        # materializer's overlays are eager — the raw batch frame has no
        # remaining consumers
        caching.release_local_checkpoint(events)

    @property
    def checkpoint(self) -> int | None:
        """Highest txid applied across indices (min over engines would
        under-ACK ones that saw no events; the reference keeps one
        checkpoint file per index — per-engine values remain available
        as ``engines[name].checkpoint``)."""
        vals = [e.checkpoint for e in self.engines.values() if e.checkpoint]
        return max(vals) if vals else None

    def writers(self, base_url: str, **kwargs) -> dict:
        """One BulkHttpWriter per index, wired from each tree's own
        declaration (index name, ingest pipeline; routing rides in the
        doc frames) — the runner analog of the reference constructing
        its search client per document config."""
        from ..sinks.search import BulkHttpWriter

        return {
            name: BulkHttpWriter.from_tree(base_url, eng.tree, **kwargs)
            for name, eng in self.engines.items()
        }

    def docs(self, name: str) -> DataFrame:
        return self.engines[name].docs

    @property
    def stats(self) -> dict[str, dict]:
        return {name: dict(e.stats) for name, e in self.engines.items()}

    def close(self) -> None:
        """Release every engine's stores and the SHARED materializer's
        snapshot checkpoints. Engines never release a shared
        materializer themselves (it outlives any one of them), so an
        embedder cycling runners in one long-lived session must close
        the runner — process exit (the CLI) subsumes this."""
        for eng in self.engines.values():
            eng._teardown_stores()
        self.materializer.release()
