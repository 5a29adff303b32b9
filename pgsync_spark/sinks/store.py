"""Persistent doc-store: parquet-backed state for the incremental engine.

The reference persists its checkpoint (txid / binlog pos) to a file or
Redis and the documents to the search index (ref: pgsync/sync.py:
1581-1656). Here the engine's state pieces — doc store, lineage
reverse index, checkpoint, and the CDC-modified bronze snapshots —
write to a versioned parquet layout:

    <path>/v<N>/docs/ , <path>/v<N>/lineage/ ,
    <path>/v<N>/tables/<table>/ , <path>/v<N>/state.json
    <path>/CURRENT  ← atomic pointer file naming the live version

A writer prepares v<N+1> completely, then swaps CURRENT (a one-line
file write — atomic on POSIX). Readers resolve CURRENT first, so a
crash mid-write never exposes a torn version. On a cluster the same
layout works on any object store; Delta/Iceberg would subsume this with
MERGE + time travel, but the engine semantics are identical.

Snapshot persistence matters because the reference's table state lives
in PostgreSQL and survives a restart for free; here the bronze layer is
DERIVED (base parquet + applied CDC), so without ``tables/`` a restart
would silently resume against pre-CDC table state and every subsequent
recompute would read stale rows. Only tables the materializer actually
touched are written — pristine tables keep resolving to the original
parquet with full pushdown.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import SparkSession


def write_atomic(path: str, text: str) -> None:
    """Replace ``path`` with ``text`` in one step: write a sibling
    ``<path>.tmp``, then os.replace it over ``path`` (atomic on POSIX),
    so a reader sees the old file or the new one, never a torn one."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, path)


class DocStore:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        os.makedirs(path, exist_ok=True)

    def _current(self) -> int | None:
        p = os.path.join(self.path, "CURRENT")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return int(f.read().strip())

    def save(self, engine) -> int:
        """Persist the engine's state as the next version and swap.

        Snapshots: every table the materializer holds a snapshot store
        for writes its CURRENT merged view — the restored catalog then
        serves post-CDC rows. With a shared
        materializer (SyncRunner), call save on one engine per store
        path; the snapshot set is materializer-wide either way."""
        version = (self._current() or 0) + 1
        vdir = os.path.join(self.path, f"v{version}")
        engine.docs.write.mode("overwrite").parquet(os.path.join(vdir, "docs"))
        engine.lineage.write.mode("overwrite").parquet(
            os.path.join(vdir, "lineage")
        )
        mat = getattr(engine, "materializer", None)
        touched = mat.tables() if mat else []
        for table in touched:
            engine.catalog.df(table).write.mode("overwrite").parquet(
                os.path.join(vdir, "tables", table)
            )
        with open(os.path.join(vdir, "state.json"), "w") as f:
            json.dump(
                {
                    "checkpoint": engine.checkpoint,
                    "stats": engine.stats,
                    "tables": touched,
                },
                f,
            )
        write_atomic(os.path.join(self.path, "CURRENT"), str(version))
        return version

    def load(self, engine) -> bool:
        """Restore state into an engine; returns False if nothing saved.

        Persisted table snapshots re-register into the engine's catalog
        (through the materializer, whose stores reset onto them), so
        recomputes and further batches run against post-CDC state even
        in a brand-new session/catalog."""
        version = self._current()
        if version is None:
            return False
        vdir = os.path.join(self.path, f"v{version}")
        engine.docs = self.spark.read.parquet(os.path.join(vdir, "docs"))
        engine.lineage = self.spark.read.parquet(os.path.join(vdir, "lineage"))
        with open(os.path.join(vdir, "state.json")) as f:
            state = json.load(f)
        engine.checkpoint = state.get("checkpoint")
        engine.stats = state.get("stats", engine.stats)
        mat = getattr(engine, "materializer", None)
        for table in state.get("tables", []):
            df = self.spark.read.parquet(os.path.join(vdir, "tables", table))
            if mat is not None:
                mat.restore(table, df)
            else:
                engine.catalog.register_df(table, df)
        return True
