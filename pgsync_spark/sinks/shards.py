"""Training-shard export sink: the output side of a pretraining data
pipeline. Documents are binned into token-budgeted shards (the
WebDataset / Megatron-style "N shards of ~B tokens each" layout), each
shard written as its own parquet directory, and a MANIFEST.json commits
the export atomically — a data loader reads the manifest, never the
directory listing, so a crashed or in-flight export is invisible.

Shard assignment is the pack_sequences discipline (queries.py): a
GLOBAL running token sum would serialize the corpus through one
partition, so docs are sharded into WRITER_LANES independent lanes by
doc_id and each lane runs its own window prefix sum — WRITER_LANES-way
parallel, deterministic, and at 1000 executors you raise WRITER_LANES;
the shape stays one window shuffle keyed by lane. A doc belongs wholly
to the shard its first token lands in (start-offset binning), so a
shard can overrun the budget by at most one document — the standard
scalable approximation; exact bin packing is inherently sequential.

ref: pgsync/sync.py:1117-1160 (checkpoint-committed batch emission —
the same write-then-atomically-commit discipline, here temp-file +
os.replace on the manifest instead of a checkpoint row).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..functions import hashing
from .store import write_atomic

WRITER_LANES = 4
SHARD_TOKEN_BUDGET = 512
LANE_STRIDE = 1 << 40  # shard_id = lane * stride + fill-order seq


def _assigned(docs: DataFrame, budget: int, lanes: int) -> DataFrame:
    """``docs`` with lane/n_tok/shard_id columns added — the single
    lane-keyed window shuffle both the slim assignment query and the
    sink's full-payload write run through."""
    d = docs.withColumn("lane", F.col("doc_id") % lanes).withColumn(
        "n_tok",
        F.size(hashing.tokens("text")).cast("bigint"),
    )
    w = (
        W.partitionBy("lane")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    prior = F.coalesce(F.sum("n_tok").over(w), F.lit(0)).cast("bigint")
    # SQL `div` = exact integer division on longs (matches DuckDB `//`
    # in the oracle); float floor(prior / budget) is only safe < 2^53.
    # Lane stride 2^40: ~1.1e12 shards per lane before collision — a
    # 100 TB lane at budget 512 needs ~5e7, so the encoding holds with
    # 4 orders of magnitude of headroom (a 1e6 stride would collide
    # exactly at the module's stated scale).
    return (
        d.withColumn("_prior", prior)
        .withColumn(
            "shard_id",
            (
                F.col("lane") * LANE_STRIDE
                + F.expr(f"_prior div {int(budget)}")
            ).cast("bigint"),
        )
        .drop("_prior", "lane")
    )


def shard_assign(
    docs: DataFrame,
    budget: int = SHARD_TOKEN_BUDGET,
    lanes: int = WRITER_LANES,
) -> DataFrame:
    """(doc_id, n_tok, shard_id) for every document. shard_id encodes
    (lane, file_seq) as lane * 2^40 + seq so shards sort by lane then
    fill order."""
    return _assigned(docs, budget, lanes).select(
        "doc_id", "n_tok", "shard_id"
    )


def write_training_shards(
    docs: DataFrame,
    out_dir: str,
    budget: int = SHARD_TOKEN_BUDGET,
    lanes: int = WRITER_LANES,
) -> dict:
    """Export ``docs`` (documents schema) as token-budgeted parquet
    shards under ``out_dir/shards-v<N>/shard_id=K/`` plus an
    atomically committed ``MANIFEST.json``. Returns the manifest dict.

    The per-shard stats the manifest records (n_docs, n_tokens, doc_id
    range) come from one tiny aggregate (|shards| rows — bounded by
    corpus_tokens / budget, collected AFTER the reduction, never the
    corpus). A re-export writes a NEW versioned data directory and
    flips the manifest to it — the committed export is never rewritten
    in place, so a crashed or in-flight re-export stays invisible to
    manifest-guided readers (old versions are deleted only after the
    flip). Re-running is content-idempotent: same shards, next
    version."""
    import shutil

    version = 1
    manifest_path = os.path.join(out_dir, "MANIFEST.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            version = json.load(f).get("version", 0) + 1
    data_dir = f"shards-v{version}"
    # assignment computed INLINE over the full rows: one lane-keyed
    # window shuffle carrying the payload, instead of a slim window +
    # a corpus-sized doc_id join (three shuffles) to reattach it
    assigned = _assigned(docs, budget, lanes)
    # one executor-parallel write, partition-pruned reads per shard
    assigned.write.mode("overwrite").partitionBy("shard_id").parquet(
        os.path.join(out_dir, data_dir)
    )
    # manifest stats come from the FILES JUST WRITTEN, not the logical
    # plan — re-aggregating `assigned` would tokenize and window the
    # corpus a second time; this also makes the manifest a read-back
    # verification of what actually landed on disk
    stats = (
        docs.sparkSession.read.parquet(os.path.join(out_dir, data_dir))
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .orderBy("shard_id")
        .collect()
    )
    manifest = {
        "version": version,
        "data_dir": data_dir,
        "budget": budget,
        "lanes": lanes,
        "n_shards": len(stats),
        "n_docs": int(sum(r["n_docs"] for r in stats)),
        "n_tokens": int(sum(r["n_tokens"] for r in stats)),
        "shards": [
            {
                "shard_id": int(r["shard_id"]),
                "path": f"{data_dir}/shard_id={int(r['shard_id'])}",
                "n_docs": int(r["n_docs"]),
                "n_tokens": int(r["n_tokens"]),
                "min_doc_id": int(r["min_doc_id"]),
                "max_doc_id": int(r["max_doc_id"]),
            }
            for r in stats
        ],
    }
    write_atomic(
        manifest_path, json.dumps(manifest, indent=1, sort_keys=True)
    )
    # superseded versions are unreachable after the flip — best-effort
    # cleanup (a crash here leaves orphans no reader ever touches)
    for name in os.listdir(out_dir):
        if name.startswith("shards-v") and name != data_dir:
            shutil.rmtree(os.path.join(out_dir, name), ignore_errors=True)
    return manifest


def read_training_shards(
    spark, out_dir: str, shard_ids: list[int] | None = None
) -> DataFrame:
    """The consumer side of the manifest contract: read an export via
    MANIFEST.json — never the directory listing, so an in-flight or
    crashed re-export is invisible — optionally restricted to
    ``shard_ids`` (a data-loader worker's slice). The shard_id filter
    lands on the partition column, so Spark prunes to exactly the
    requested shard directories (verify with PartitionFilters in
    .explain)."""
    with open(os.path.join(out_dir, "MANIFEST.json")) as f:
        manifest = json.load(f)
    data_dir = manifest.get("data_dir", "shards")
    listed = [s["shard_id"] for s in manifest["shards"]]
    if shard_ids is None:
        wanted = listed
    else:
        unknown = sorted(set(shard_ids) - set(listed))
        if unknown:
            raise ValueError(
                f"shard ids not in MANIFEST.json: {unknown} "
                f"(manifest lists {len(listed)} shards)"
            )
        wanted = list(shard_ids)
    df = spark.read.parquet(os.path.join(out_dir, data_dir))
    return df.filter(F.col("shard_id").isin(wanted))
