"""Structured Streaming front-end for the incremental engine.

The reference's three change sources — logical-slot polling, WAL push,
trigger/NOTIFY (ref: pgsync/sync.py:1720-2063, base.py:696-849) — all
reduce to "an ordered stream of Payload events". Here that stream is a
Structured Streaming source (a JSON file dir in tests; Kafka/Debezium in
production — same code path), and each micro-batch runs the engine's
``process_batch`` inside ``foreachBatch``:

- micro-batch atomicity replaces the reference's BEGIN/COMMIT buffering
  + LSN ACK (ref: sync.py:1947-2050): offsets advance only after the
  batch commits, and doc upserts are idempotent by ``_id``, so replays
  converge (exactly-once effect).
- the checkpointLocation replaces the reference's txid/binlog-pos
  checkpoint files (ref: sync.py:1581-1656).
- within a batch, events are folded per table (cdc.TableMaterializer) —
  the analog of the reference's (op, table) run-grouping and safe-insert
  reordering (ref: sync.py:625-636, 1855-1888).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..catalog import Catalog
from ..node import Tree
from .cdc import CDC_SCHEMA
from .incremental import IncrementalEngine


def start_cdc_stream(
    spark: SparkSession,
    engine,
    events_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 10,
    poll_interval: str | None = None,
) -> StreamingQuery:
    """Stream JSON CDC events from a directory into the engine.

    ``engine`` is anything exposing ``process_batch(events_df)`` — a
    single IncrementalEngine or a multi-index SyncRunner (N trees off
    this one stream, the reference's one-consumer-per-document shape).

    ``maxFilesPerTrigger`` bounds micro-batch size — the analog of the
    reference's LOGICAL_SLOT_CHUNK_SIZE paging (ref: settings.py:40).
    ``poll_interval`` (e.g. "5 seconds") switches to a ProcessingTime
    trigger — the reference's polling mode for read-only sources
    (ref: pgsync/sync.py:2368-2382).
    """
    events = (
        spark.readStream.schema(CDC_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(events_dir)
    )

    def on_batch(batch_df, epoch_id: int):
        engine.process_batch(batch_df)

    writer = events.writeStream.foreachBatch(on_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if poll_interval is not None:
        writer = writer.trigger(processingTime=poll_interval)
    return writer.start()


DEDUP_DOCS_SCHEMA = "doc_id bigint, text string, lang string, source string"

# CDC-shaped doc stream for search-index maintenance (BM25Index):
# op is 'd' for delete (text/lang/source ignored); u/c/i/r/a or NULL
# is an upsert; any other op raises in apply_cdc (op='t' is
# table-level — index.truncate()). Pass as ``schema=`` to
# start_dedup_stream; batches carrying an ``op`` column route to
# index.apply_cdc instead of ingest.
CDC_DOCS_SCHEMA = DEDUP_DOCS_SCHEMA + ", op string"


def start_dedup_stream(
    spark: SparkSession,
    index,
    docs_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    schema: str = DEDUP_DOCS_SCHEMA,
    max_files_per_trigger: int = 10,
    drift_column: str | None = None,
    compact_every: int | None = None,
    rebind: bool = False,
    poll_interval: str | None = None,
    pre_filter: str | None = None,
    drift_alert_kl: float | None = None,
) -> StreamingQuery:
    """Streaming training-data ingestion dedup: a JSON doc stream →
    per micro-batch probe against the incremental near-dup index →
    accepted docs land under ``out_dir/accepted/epoch=N``, drop
    decisions under ``out_dir/decisions/epoch=N``, and the index
    extends with the survivors — the continuously-fed corpus pipeline
    the one-shot dedup operators can't provide (state lives in the
    ``index``: MinHashIndex or EmbeddingIndex, optionally
    store-backed for cross-restart durability).

    Replay semantics (Structured Streaming re-runs the last epoch
    after a restart whose offsets had not committed): the canonical
    batchId-dedup recipe — an ``_applied/<epoch>`` marker written
    after all effects makes a completed-but-unacknowledged epoch a
    no-op on re-run (the common replay mode, since offsets commit
    only after foreachBatch returns), and per-epoch output dirs are
    mode=overwrite so a half-written output replays idempotently.
    For a STORE-BACKED index the pipeline is exactly-once end to end:
    the index commits each epoch's state + decisions atomically (one
    CURRENT manifest flip, see functions/dedup_index.py), so on
    replay either the epoch is not committed (the index provably does
    not contain the batch — re-probing is correct) or it is
    (``epoch_applied``; the committed decisions are read back via
    ``stored_decisions`` and the outputs rebuilt without a re-probe,
    which would wrongly match the batch against itself). A store-less
    index keeps only the marker fast-path — it cannot survive the
    crash that creates the gap anyway.

    ``drift_column``: when set (e.g. ``"source"``), each epoch also
    writes ``out_dir/stats/epoch=N.json`` with the batch's mix over
    that column and KL(batch ‖ corpus-so-far) — the queries.py
    corpus_drift_kl monitor made operational on the live stream, with
    the micro-batch epoch as the real batch key. The per-batch mix is
    a tiny groupBy (bounded by the column's cardinality) collected
    AFTER the reduction; running totals re-seed from committed stats
    files on restart, and the marker/stored-decision replay paths
    skip double counting.

    ``compact_every``: run ``index.compact()`` after every N applied
    epochs — bounds the per-epoch segment growth (small-files walk on
    disk, one-union-frame-per-batch probe plans in memory) of a
    long-running stream. Compaction is itself an atomic manifest
    cutover, so a crash mid-compact replays cleanly.

    ``rebind``: a store's epoch bookkeeping is paired with ONE
    checkpoint dir (epoch ids restart at 0 per checkpoint); starting
    over an existing store with a different checkpoint raises unless
    rebind=True, which keeps the held corpus but restarts the epoch
    bookkeeping (every incoming batch is probed fresh).

    ``pre_filter``: a SQL boolean expression applied BEFORE the dedup
    probe — the CCNet/Gopher pipeline order (quality-gate first, so
    junk never pays for signatures or enters the index). Rejects land
    under ``out_dir/rejected/epoch=N`` for audit; a NULL predicate
    counts as reject, never a silent drop. The expression is
    deterministic over the batch, so the stored-decision replay path
    re-applies it exactly. On a CDC-shaped stream (op column): DELETE
    markers are exempt from the gate (a tombstone carries no doc and
    must reach the index), and a gated-out UPSERT is DEMOTED to a
    delete — the doc's current content no longer qualifies, so its
    stale held version must not keep serving; the original row still
    lands in rejected/.

    ``drift_alert_kl``: with ``drift_column``, epochs whose KL exceeds
    this threshold are marked ``"alert": true`` in their stats file
    and logged at WARNING — the monitor acts instead of only
    recording. Epoch 0 never alerts (it defines the corpus).

    Producer discipline: stage files OUTSIDE ``docs_dir`` and rename
    them in (rename is atomic within a filesystem). The file source
    lists the directory continuously; a file written in place can be
    ingested half-written as its own torn epoch, after which the
    completed file's rows arrive as a second epoch whose prefix
    "duplicates" the torn one (measured in the r7 soak harness as
    misaligned epochs + mass drops).
    """
    import json
    import math
    import os

    from pyspark.sql import functions as F

    from .. import caching
    from ..sinks.store import write_atomic

    # epoch numbers restart at 0 for every new checkpoint dir, so the
    # index's applied-epoch bookkeeping is only honored for the
    # checkpoint that produced it — a mismatch raises (or, with
    # rebind=True, keeps the corpus and restarts epoch bookkeeping)
    sid = os.path.abspath(checkpoint_dir)
    # a store-backed index commits store_dir/decisions/epoch=N; the
    # stream writes out_dir/decisions/epoch=N. The same directory for
    # both silently couples the two in normal operation and DEADLOCKS
    # the exactly-once replay path: on a committed-epoch replay,
    # stored_decisions() reads store_dir/decisions/epoch=N while
    # on_batch overwrites the identical path ("Cannot overwrite a path
    # that is also being read from"). Refuse up front, before any
    # mutation.
    if getattr(index, "store_dir", None) is not None and os.path.abspath(
        out_dir
    ) == os.path.abspath(index.store_dir):
        raise ValueError(
            f"out_dir {out_dir!r} is the index's own store_dir; both "
            "write decisions/epoch=N under their root — stream outputs "
            "need a separate directory"
        )
    # the OUT_DIR is epoch-keyed too (_applied markers, per-epoch
    # output/stats dirs): a rebound stream renumbers from 0, and a
    # stale marker would silently skip its genuinely new batches.
    # Unlike the index (whose corpus transfers via rebind), outputs
    # cannot be merged across streams — demand a fresh out_dir.
    # Checked BEFORE bind_stream so a refused start leaves the index
    # unmutated.
    sid_path = os.path.join(out_dir, "_stream_id")
    if os.path.exists(sid_path):
        with open(sid_path) as f:
            prev = f.read().strip()
        if prev != sid:
            raise ValueError(
                f"out_dir {out_dir!r} holds epoch-keyed outputs of "
                f"stream {prev!r}; markers/outputs do not transfer "
                "between checkpoints — use a fresh out_dir (the index "
                "store itself transfers via rebind)"
            )
    index.bind_stream(sid, allow_rebind=rebind)
    if not os.path.exists(sid_path):
        os.makedirs(out_dir, exist_ok=True)
        write_atomic(sid_path, sid)

    docs = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(docs_dir)
    )
    applied_dir = os.path.join(out_dir, "_applied")
    stats_dir = os.path.join(out_dir, "stats")
    totals: dict[str, int] = {}
    if drift_column is not None and os.path.isdir(stats_dir):
        # restart: re-seed the corpus-so-far mix from committed stats
        for fname in os.listdir(stats_dir):
            if fname.endswith(".json"):
                with open(os.path.join(stats_dir, fname)) as f:
                    for s, n in json.load(f)["counts"].items():
                        totals[s] = totals.get(s, 0) + n

    def record_drift(batch_df, epoch_id: int) -> None:
        stats_path = os.path.join(stats_dir, f"epoch={epoch_id}.json")
        if os.path.exists(stats_path):  # replayed epoch: already counted
            return
        counts = {
            str(r[0]): r[1]
            for r in batch_df.groupBy(drift_column)
            .agg(F.count(F.lit(1)))
            .collect()
        }
        # compute against a PROSPECTIVE mix; fold into the running
        # totals only after the stats file commits — a write failure
        # followed by an in-process batch retry must not double count
        merged = dict(totals)
        for s, n in counts.items():
            merged[s] = merged.get(s, 0) + n
        bn, t = sum(counts.values()), sum(merged.values())
        kl = (
            sum(
                (n / bn) * math.log((n / bn) / (merged[s] / t))
                for s, n in counts.items()
            )
            if bn
            else 0.0
        )
        stat = {"epoch": epoch_id, "n_docs": bn, "counts": counts, "kl": kl}
        if (
            drift_alert_kl is not None
            and sum(totals.values()) > 0  # epoch 0 defines the corpus
            and kl > drift_alert_kl
        ):
            stat["alert"] = True
            import logging

            logging.getLogger(__name__).warning(
                "drift alert: epoch %d KL %.4f over %s exceeds %.4f "
                "(mix %s)",
                epoch_id,
                kl,
                drift_column,
                drift_alert_kl,
                counts,
            )
        if "text" in batch_df.columns:
            # second drift signal: token-length quantiles per epoch —
            # the classic upstream-truncation/boilerplate detector.
            # Same tiny-aggregate discipline (one 1-row agg per epoch).
            from ..functions import hashing

            row = batch_df.agg(
                F.percentile_approx(
                    F.size(hashing.tokens("text")), [0.5, 0.9]
                ).alias("q")
            ).first()
            if row and row["q"] is not None:
                stat["tok_len_p50"] = int(row["q"][0])
                stat["tok_len_p90"] = int(row["q"][1])
        os.makedirs(stats_dir, exist_ok=True)
        write_atomic(stats_path, json.dumps(stat, sort_keys=True))
        totals.clear()
        totals.update(merged)

    def on_batch(batch_df, epoch_id: int):
        marker = os.path.join(applied_dir, str(epoch_id))
        if os.path.exists(marker):
            return
        batch_df = batch_df.persist()
        kept = batch_df
        if pre_filter is not None:
            # quality gate BEFORE the probe: rejects never pay for
            # signatures or enter the index; NULL predicate = reject.
            # CDC DELETE markers are exempt — they carry no doc (NULL
            # text would always fail a quality predicate), and a
            # swallowed tombstone leaves the deleted doc live in the
            # index forever (r8 review finding).
            keep = F.coalesce(
                F.expr(pre_filter).cast("boolean"), F.lit(False)
            )
            if "op" in batch_df.columns:
                # eqNullSafe, not ==: a NULL op is an UPSERT (the
                # apply_cdc contract), so it must take the gate like
                # any upsert. Plain == yields NULL for NULL op, and
                # NULL | false = NULL — the row would vanish from BOTH
                # kept (filter drops NULL) and rejected (~NULL is NULL
                # too): never indexed, never demoted to delete, never
                # audited, its stale version left live (r8 advice).
                keep = F.col("op").eqNullSafe("d") | keep
            kept = batch_df.filter(keep)
            rejected = batch_df.filter(~keep)
            rejected.write.mode("overwrite").parquet(
                os.path.join(out_dir, "rejected", f"epoch={epoch_id}")
            )
            if "op" in batch_df.columns:
                # a CDC upsert whose NEW content fails the quality
                # gate must not freeze the doc's stale old version in
                # the index (the same failure class as a swallowed
                # tombstone) — demote it to a DELETE: the doc's
                # current content no longer qualifies, so it leaves
                # the index; the original row is already in rejected/
                # for audit. For a brand-new doc this tombstones an
                # id the index never held — a harmless no-op row.
                # Demotion applies ONLY to legitimate upsert ops:
                # rewriting an unknown (or table-level 't') op to 'd'
                # here would turn garbage into a silent per-doc
                # delete, bypassing apply_cdc's closed-vocabulary
                # guard whenever the bad row happens to fail the gate
                # (review finding) — such rows keep their op and
                # raise downstream like any other contract breach.
                from ..functions.dedup_index import UPSERT_OPS

                demotable = F.col("op").isNull() | F.col("op").isin(
                    *UPSERT_OPS
                )
                kept = kept.unionByName(
                    rejected.withColumn(
                        "op",
                        F.when(demotable, F.lit("d")).otherwise(
                            F.col("op")
                        ),
                    )
                )
        if index.epoch_applied(epoch_id):
            # replay of a committed epoch: the batch is already index
            # state — rebuild the outputs from the committed decisions
            # (store-backed: read back from the epoch's decision dir;
            # store-less: the retained latest-epoch decisions cover the
            # in-process batch-retry case)
            decisions = index.stored_decisions(epoch_id)
            if decisions is None:
                # unreachable in practice: a store-less index dies with
                # the process that numbered the epochs, and bind_stream
                # rejects foreign checkpoints — but never guess
                batch_df.unpersist()
                return
        elif "op" in kept.columns:
            # CDC-shaped stream (rows carry op: upsert/'d'): updates
            # and deletes flow into the index's versioned/tombstone
            # path; decisions = the deleted doc_ids, so the accepted
            # output below is exactly the upserted docs and the
            # committed-epoch replay rebuilds both sides unchanged
            decisions = index.apply_cdc(kept, epoch=epoch_id)
        else:
            decisions = index.ingest(kept, epoch=epoch_id)
        id_col = decisions.columns[0]  # doc_id / vec_id
        accepted = kept.join(
            decisions.select(id_col), id_col, "left_anti"
        )
        accepted.write.mode("overwrite").parquet(
            os.path.join(out_dir, "accepted", f"epoch={epoch_id}")
        )
        decisions.write.mode("overwrite").parquet(
            os.path.join(out_dir, "decisions", f"epoch={epoch_id}")
        )
        caching.release(decisions)
        if drift_column is not None:
            record_drift(batch_df, epoch_id)
        batch_df.unpersist()
        os.makedirs(applied_dir, exist_ok=True)
        with open(marker, "w"):
            pass
        if compact_every and (epoch_id + 1) % compact_every == 0:
            index.compact()

    writer = docs.writeStream.foreachBatch(on_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if poll_interval is not None:
        writer = writer.trigger(processingTime=poll_interval)
    return writer.start()
