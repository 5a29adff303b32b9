"""Recall before/after IVFVectorIndex.rebuild() on a drifted corpus
(r10 verdict item 1's measurement criterion).

Scenario: the index seeds (and trains its frozen codebook) on a THIRD
of the embeddings corpus, then the corpus drifts away from the seed —
CDC upserts the other two thirds AND moves/deletes vectors per the
registry's standard mutation — so by query time the codebook was fit
to a minority snapshot of what it now serves. Measure recall@K of the
IVF top-k against brute-force exact cosine over the live corpus,
BEFORE the rebuild (seed codebook) and AFTER (codebook retrained over
the live corpus), plus the cell-occupancy balance of the two
codebooks (a codebook fit to stale data partitions the live corpus
worse, which is what nprobe-bounded recall pays for).

Usage: python scratch_rebuild_recall.py [--sf DIR] [--clustered]

--clustered (r11 verdict item 1): run the same measurement over the
mixture-of-centers corpus (similarity.clustered_corpus) with a
DISTRIBUTION-shift drift — the index seeds on 2 of the 10 modes and
the other 8 arrive via CDC. On hash noise the rebuild could only be
shown as partition balance; on the clustered corpus the stale
codebook's crowded cells make the 3-probe rerank most of the corpus,
and the rebuild's recovery shows up where a deployment pays:
candidates/query at equal-or-better recall (recall per
probed-fraction, the ratio that stayed flat on noise).
"""

import argparse
import os
import time

from pyspark.sql import functions as F

from pgsync_spark import get_spark
from pgsync_spark.functions.similarity import IVF_CELLS, N_QUERIES, TOP_K
from pgsync_spark.functions.vector_index import IVFVectorIndex, VectorIndex

parser = argparse.ArgumentParser(description=__doc__)
parser.add_argument("--sf", default="/root/testdata/sf0.01", dest="sf_dir")
parser.add_argument("--clustered", action="store_true")
opts = parser.parse_args()

spark = get_spark("rebuild-recall")
emb = spark.read.parquet(os.path.join(opts.sf_dir, "embeddings.parquet"))

if opts.clustered:
    from pgsync_spark.functions.hashing import cluster_center_sparksql
    from pgsync_spark.functions.similarity import clustered_corpus

    emb = clustered_corpus(emb).localCheckpoint(eager=True)
    _center = F.expr(cluster_center_sparksql("CAST(vec_id AS STRING)"))
    # distribution shift: seed on modes {0,1} + queries
    seed = emb.filter((_center < 2) | (F.col("vec_id") < N_QUERIES))
else:
    # seed = a third of the corpus (plus the query vectors, which are
    # corpus members in the registry convention)
    seed = emb.filter(
        (F.col("vec_id") % 3 == 0) | (F.col("vec_id") < N_QUERIES)
    )
if opts.clustered:
    # drift = distribution shift: the 8 unseen modes arrive whole
    cdc = emb.filter(
        (_center >= 2) & (F.col("vec_id") >= N_QUERIES)
    ).select("vec_id", "embedding", F.lit("u").alias("op"))
# drift: the other two thirds arrive as CDC upserts; the standard
# registry mutation (move %7==3 to successor, delete %7==5) rides along
emb_t = emb.schema["embedding"].dataType
nxt = emb.select(
    (F.col("vec_id") - 1).alias("vec_id"), F.col("embedding").alias("nemb")
)
rest = emb.filter(
    (F.col("vec_id") % 3 != 0)
    & (F.col("vec_id") >= N_QUERIES)
    & (F.col("vec_id") % 7 != 5)  # deleted ids carry ONLY their tombstone
)
ups = (
    emb.filter((F.col("vec_id") % 7 == 3) & (F.col("vec_id") >= N_QUERIES))
    .join(nxt, "vec_id")
    .select("vec_id", F.col("nemb").alias("embedding"))
)
if not opts.clustered:
    cdc = (
        rest.select("vec_id", "embedding")
        .join(ups.select("vec_id"), "vec_id", "left_anti")
        .unionByName(ups)
        .select("vec_id", "embedding", F.lit("u").alias("op"))
        .unionByName(
            emb.filter(
                (F.col("vec_id") % 7 == 5) & (F.col("vec_id") >= N_QUERIES)
            ).select(
                "vec_id",
                F.lit(None).cast(emb_t).alias("embedding"),
                F.lit("d").alias("op"),
            )
        )
    )

q = emb.filter(F.col("vec_id") < N_QUERIES).select(
    F.col("vec_id").alias("query_id"), "embedding"
)

idx = IVFVectorIndex(spark)
idx.ingest(seed)
idx.apply_cdc(cdc)

# ground truth: exact cosine top-K over the SAME live corpus, served
# by the probe-free path (a VectorIndex with every bucket probed is
# overkill; brute force = cross score + window). Reuse the live fold
# the index itself holds so both sides see the identical corpus.
live = idx.live("vals").select(
    "vec_id", "embedding"
).localCheckpoint(eager=True)
n_live = live.count()

from pgsync_spark.functions.similarity import cosine6
from pyspark.sql import Window as W

scored = (
    live.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv"))
    .crossJoin(F.broadcast(q.select("query_id", F.col("embedding").alias("qv"))))
    .filter(F.col("neighbor_id") != F.col("query_id"))
    .select(
        "query_id",
        "neighbor_id",
        cosine6("qv", "cv").alias("cosine"),
    )
)
w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
gt = {
    (r["query_id"], r["neighbor_id"])
    for r in scored.withColumn("rank", F.row_number().over(w))
    .filter(F.col("rank") <= TOP_K)
    .collect()
}


def recall(idx):
    hits = {
        (r["query_id"], r["neighbor_id"])
        for r in idx.topk(q, exclude_self=True).collect()
    }
    return len(hits & gt) / len(gt)


def probed(idx):
    """mean candidates per query under the CURRENT codebook — the
    exact-rerank cost a query pays; recall divided by this is the
    efficiency of the cell geometry."""
    keys = idx.live("keys")
    probe = idx._probe_frame(
        q.select(F.col("query_id").alias("vec_id"), "embedding")
    )  # (query_id, band, bucket)
    n = (
        keys.join(F.broadcast(probe), ["band", "bucket"])
        .select("query_id", "vec_id")
        .distinct()
        .count()
    )
    return round(n / N_QUERIES, 1)


def occupancy(idx):
    """live vectors per cell under the CURRENT codebook (rn=1 keys,
    overlay folded) — max/mean imbalance of the coarse partition."""
    keys = idx.live("keys")
    counts = [
        r["n"]
        for r in keys.groupBy("bucket").agg(F.count("*").alias("n")).collect()
    ]
    mean = sum(counts) / max(len(counts), 1)
    return {
        "cells_used": len(counts),
        "max": max(counts),
        "mean": round(mean, 1),
        "imbalance": round(max(counts) / mean, 2),
    }


r_before = recall(idx)
occ_before = occupancy(idx)
cand_before = probed(idx)
t0 = time.perf_counter()
idx.rebuild()
rebuild_s = round(time.perf_counter() - t0, 2)
r_after = recall(idx)
occ_after = occupancy(idx)
cand_after = probed(idx)

print(
    f"live corpus: {n_live} vectors; seed trained on "
    + ("modes {0,1} of 10 (clustered corpus)" if opts.clustered
       else "~1/3 of it")
)
print(
    f"recall@{TOP_K} BEFORE rebuild (seed codebook): {r_before:.3f}  "
    f"candidates/query {cand_before} "
    f"({round(cand_before / n_live, 2)} of corpus)  occ {occ_before}"
)
print(
    f"recall@{TOP_K} AFTER  rebuild (live codebook): {r_after:.3f}  "
    f"candidates/query {cand_after} "
    f"({round(cand_after / n_live, 2)} of corpus)  occ {occ_after}"
)
print(
    f"recall per probed-corpus-fraction: "
    f"before {round(r_before / (cand_before / n_live), 2)}, "
    f"after {round(r_after / (cand_after / n_live), 2)}"
)
print(f"rebuild wall: {rebuild_s}s; cells={IVF_CELLS}, nprobe=3")
idx.close()
spark.stop()
