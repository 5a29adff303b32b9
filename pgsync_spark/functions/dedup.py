"""Deduplication operators over the `documents` table.

Scale design (the part that matters at 100 TB):
- exact dedup: single hash-groupBy — map-side partial agg, one shuffle
  on a uniformly distributed hash key (no skew by construction).
- MinHash+LSH: signatures are computed scan-side (one md5 per shingle,
  16 linear permutations); candidate generation explodes only
  (doc × n_bands) rows and shuffles on band-hash buckets, never the
  O(n²) pair space. Exact Jaccard verification touches only bucket
  collisions. This is the standard shingle→minhash→band→bucket-join
  pipeline (Broder; Leskovec et al., Mining of Massive Datasets ch.3).
- SimHash: per-doc 32-bit signature via bitwise majority vote of token
  hashes, computed with higher-order array functions — no explode, no
  shuffle at all for signature computation.
- n-gram Jaccard: 1-permutation min-shingle blocking, exact verify
  within blocks.
- embedding near-dup: banded sign-LSH blocked cosine (similarity.py).

Multi-consumer stages persist() and register their caches with
caching.owned(result, ...) — callers release them with
caching.release(result) / release_all() after materializing.

Every operator has a DuckDB oracle built on the same md5-derived
hashing (functions/hashing.py).
"""

from __future__ import annotations

import logging
import threading

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..caching import adopt, owned, release, release_local_checkpoint
from .hashing import (
    combine_shingles_sparksql,
    combine_shingles_sql,
    h32_sparksql,
    h32_sql,
    perm_sparksql,
    perm_sql,
    round6,
    round6_sql,
    tokens_sparksql,
    tokens_sql,
)

# shared oracle CTE: documents → hashed 3-gram shingle sets (bigint)
def _shingle_cte() -> str:
    tok = tokens_sql("text")
    comb = combine_shingles_sql("th", 3)
    return f"""
        toks AS (SELECT doc_id, {tok} AS tok FROM documents),
        th_t AS (SELECT doc_id, list_transform(tok, t -> {h32_sql('t')}) AS th FROM toks),
        shs AS (SELECT doc_id, list_distinct({comb}) AS sh FROM th_t)"""

N_PERMS = 16
N_BANDS = 4
ROWS_PER_BAND = N_PERMS // N_BANDS
JACCARD_THRESHOLD = 0.2
# Hot-bucket guard: an LSH bucket wider than this is dropped from
# candidate generation (boilerplate-heavy corpora otherwise go
# quadratic inside a single bucket). Docs in a dropped bucket can still
# pair through their other N_BANDS-1 bands.
MAX_BUCKET_WIDTH = 200

log = logging.getLogger(__name__)

class _HotBucketProbe:
    """Handle on one call's hot-bucket observation: ``thread`` is the
    logger thread (join it to wait for the metric), ``n_hot`` is the
    observed drop count once the terminal action has run. Observation.get
    is not re-entrant across threads, so the logger thread reads it once
    and stashes the value here."""

    def __init__(self, thread: threading.Thread | None = None):
        self.thread = thread
        self.n_hot: int | None = None


# op-name → probe for the most recent call with log_drops=True
HOT_BUCKET_PROBES: dict[str, _HotBucketProbe] = {}


def _observe_hot_buckets(grouped: DataFrame, hot: F.Column, opname: str) -> DataFrame:
    """Attach the hot-bucket drop count to ``grouped``'s own
    aggregation pass via Dataset.observe — the metric is computed by
    the SAME job that feeds the pair expansion, so logging costs zero
    extra actions in the normal path (the pre-r4 implementation ran a
    separate count() over a persisted copy: a full second pass per
    call, measured 1.49× on the bench). A daemon thread blocks on
    Observation.get and emits the warning as soon as the caller's
    terminal action completes; if the frame is never executed the
    thread parks harmlessly.

    Corner case (measured): when EVERY bucket is hot the query returns
    zero rows and AQE's empty-relation propagation replans the joins
    away, dropping the CollectMetrics node — the observation is lost in
    exactly the situation the warning exists for. The thread detects
    the loss (Observation.get errors after the action) and falls back
    to one direct count over ``grouped`` — an extra pass paid only in
    that pathological case.
    """
    obs = Observation()
    out = grouped.observe(obs, F.sum(hot.cast("long")).alias("n_hot"))
    probe = _HotBucketProbe()

    def _wait_and_log() -> None:
        try:
            n_hot = int(obs.get["n_hot"] or 0)
        except Exception:
            # metrics lost to AQE replanning — recount from the plan
            # (upstream persists may already be released: correct
            # either way, just slower, and only on the all-hot path)
            try:
                n_hot = grouped.filter(hot).count()
            except Exception:  # session torn down
                return
        probe.n_hot = n_hot
        if n_hot:
            log.warning(
                "%s: dropped %d hot buckets (width > %d)",
                opname, n_hot, MAX_BUCKET_WIDTH,
            )

    t = threading.Thread(
        target=_wait_and_log, daemon=True, name=f"{opname}-hot-bucket-log"
    )
    probe.thread = t
    t.start()
    HOT_BUCKET_PROBES[opname] = probe
    return out


def dedup_exact(df: DataFrame) -> DataFrame:
    """Exact duplicate groups: md5(lower(text)) → group, keep the min
    doc_id as canonical, report the sorted duplicate id list."""
    return (
        df.select("doc_id", F.md5(F.lower(F.col("text"))).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("canonical_id"),
            F.to_json(F.array_sort(F.collect_list("doc_id"))).alias("doc_ids"),
        )
        .filter(F.col("n_docs") > 1)
    )


def dedup_exact_sql() -> str:
    return """
        SELECT content_hash, COUNT(*) AS n_docs, MIN(doc_id) AS canonical_id,
               to_json(list(doc_id ORDER BY doc_id)) AS doc_ids
        FROM (SELECT doc_id, md5(lower(text)) AS content_hash FROM documents)
        GROUP BY content_hash HAVING COUNT(*) > 1
    """


def _shingle_sets(df: DataFrame) -> DataFrame:
    """(doc_id, sh): the distinct hashed 3-gram shingle set (bigint)
    of every doc with >= 3 tokens (the oracle's _shingle_cte). Staged:
    tokens → per-token md5 (the only string hashing) → rolling 3-gram
    combine → distinct. Everything stays in whole-stage codegen."""
    return (
        df.select("doc_id", F.expr(tokens_sparksql("text")).alias("tok"))
        .filter(F.size("tok") >= 3)  # combine_shingles precondition
        .withColumn(
            "th", F.expr(f"transform(tok, t -> {h32_sparksql('t')})")
        )
        .withColumn(
            "sh",
            F.expr(
                f"array_distinct({combine_shingles_sparksql('th', 3)})"
            ),
        )
        .select("doc_id", "sh")
    )


def _unshingled(df: DataFrame) -> DataFrame:
    """(doc_id) of every doc _shingle_sets leaves out: under 3 tokens,
    or NULL text. With no shingles it is never a duplicate (the
    oracle's _shingle_cte) and there is nothing to hold."""
    has = F.size(F.expr(tokens_sparksql("text"))) >= 3
    return df.filter(~F.coalesce(has, F.lit(False))).select("doc_id")


def _signatures(df: DataFrame) -> tuple[DataFrame, list[DataFrame]]:
    """doc_id + 16-permutation minhash signature + distinct hashed
    shingle set (bigint): _shingle_sets → 16 linear permutations.

    Returns (frame, persisted_intermediates) — the caller owns the
    persisted frames and must register them via caching.owned()."""
    # single-parse forms throughout (similarity.cosine6 discipline):
    # built with one py4j call each — the 16-permutation sig listcomp
    # alone measured ~0.7s of driver construction time per invocation
    sig = F.expr(
        "array("
        + ", ".join(
            f"array_min(transform(sh, h -> {perm_sparksql('h', i)}))"
            for i in range(N_PERMS)
        )
        + ")"
    )
    # persist the shingle sets before fanning out into 16 permutation
    # scans: the conditional (when-guarded) shingle expression defeats
    # Spark's per-operator subexpression elimination, so without a
    # materialization barrier the whole tokenize+hash pipeline would
    # re-run once per permutation (measured 18× slowdown)
    shs = _shingle_sets(df).persist()
    return shs.select("doc_id", "sh", sig.alias("sig")), [shs]


def minhash_signatures(df: DataFrame) -> DataFrame:
    """Expose signatures (doc_id, sig array) — useful on its own and the
    first stage of the LSH pipeline."""
    sigs, cached = _signatures(df)
    out = sigs.select("doc_id", F.to_json(F.col("sig")).alias("minhash_sig"))
    return owned(out, cached)


def minhash_signatures_sql() -> str:
    perms = ", ".join(
        f"list_min(list_transform(sh, h -> {perm_sql('h', i)}))"
        for i in range(N_PERMS)
    )
    return f"""
        WITH {_shingle_cte()}
        SELECT doc_id, to_json([{perms}]) AS minhash_sig
        FROM shs WHERE len(sh) > 0
    """


def minhash_lsh_pairs(df: DataFrame, log_drops: bool = True) -> DataFrame:
    """Near-duplicate pairs: banded LSH candidates + exact Jaccard ≥ θ.

    Candidates = docs sharing any band bucket; shuffle volume is
    O(n · n_bands), and the pair join happens per-bucket. Buckets wider
    than MAX_BUCKET_WIDTH are dropped before the self-join (quadratic
    hot-bucket guard) and the drop count is LOGGED by default — a cap
    that fires silently reads as full coverage when it isn't. The count
    rides the bucket aggregation itself via Dataset.observe (zero extra
    actions); log_drops=False skips attaching the observation.
    """
    # the persisted SHINGLE frame feeds both consumers (bands + verify);
    # the sig column has exactly ONE consumer (bands), so it is computed
    # inline from the shingle cache instead of persisted — re-caching
    # doc_id+sh+sig would copy every shingle array into memory a second
    # time just to avoid one single-pass computation (at 100 TB you
    # would checkpoint the shingles to storage instead — same idea,
    # durable)
    sigs, cached = _signatures(df)
    # bands table carries ONLY (doc_id, band, bucket) — the heavy shingle
    # arrays must not ride through the self-join / dedup shuffles; shared
    # with the cross-corpus variant so the two LSH consumers can never
    # silently diverge on banding
    bands = _band_frame(sigs)

    # ONE shuffle does candidate generation AND the hot-bucket guard:
    # group docs per (band, bucket), drop buckets wider than
    # MAX_BUCKET_WIDTH with a free size filter (docs in dropped buckets
    # keep their other bands), and expand i<j pairs inline with
    # higher-order functions — no self-join, no second exchange, no
    # broadcast anti-join. Pair arrays are bounded by the cap
    # (≤ MAX_BUCKET_WIDTH²/2 structs per bucket row before explode).
    grouped = bands.groupBy("band", "bucket").agg(
        F.collect_list("doc_id").alias("ids")
    )
    if log_drops:
        grouped = _observe_hot_buckets(
            grouped, F.size("ids") > MAX_BUCKET_WIDTH, "minhash_lsh_pairs"
        )
    buckets = grouped.filter(
        (F.size("ids") >= 2) & (F.size("ids") <= MAX_BUCKET_WIDTH)
    ).select(F.array_sort("ids").alias("ids"))
    cand = (
        buckets.select(
            # single-parse form of the 2-level pair-expansion lambda
            # (x = element, i = its index): same tree, one py4j call
            F.explode(
                F.expr(
                    "flatten(transform(ids, (x, i) -> "
                    "transform(slice(ids, i + 2, size(ids) - i - 1), "
                    "y -> named_struct('id1', x, 'id2', y))))"
                )
            ).alias("p")
        )
        .select(F.col("p.id1").alias("id1"), F.col("p.id2").alias("id2"))
        .dropDuplicates(["id1", "id2"])
    )
    # shingle sets join back by id for the exact verify (two cheap
    # id-keyed joins instead of shuffling arrays with every candidate)
    shs = sigs.select("doc_id", "sh")
    cand = (
        cand.join(shs.select(F.col("doc_id").alias("id1"), F.col("sh").alias("sh1")), "id1")
        .join(shs.select(F.col("doc_id").alias("id2"), F.col("sh").alias("sh2")), "id2")
    )
    inter = F.size(F.array_intersect("sh1", "sh2")).cast("double")
    union = F.size(F.array_union("sh1", "sh2")).cast("double")
    jac = inter / union
    out = (
        cand.select("id1", "id2", round6(jac).alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )
    return owned(out, cached)


def minhash_lsh_pairs_sql() -> str:
    perms = ", ".join(
        f"list_min(list_transform(sh, h -> {perm_sql('h', i)}))"
        for i in range(N_PERMS)
    )
    band_rows = " UNION ALL ".join(
        f"""SELECT doc_id, {b} AS band,
               md5(concat_ws(',', {', '.join(f'CAST(sig[{b * ROWS_PER_BAND + r + 1}] AS VARCHAR)' for r in range(ROWS_PER_BAND))})) AS bucket
            FROM sigs"""
        for b in range(N_BANDS)
    )
    return f"""
        WITH {_shingle_cte()},
        sigs AS (SELECT doc_id, sh, [{perms}] AS sig FROM shs WHERE len(sh) > 0),
        bands_raw AS ({band_rows}),
        bands AS (
          SELECT doc_id, band, bucket FROM (
            SELECT doc_id, band, bucket,
                   COUNT(*) OVER (PARTITION BY band, bucket) AS w
            FROM bands_raw
          ) WHERE w <= {MAX_BUCKET_WIDTH}
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        )
        SELECT id1, id2,
               {round6_sql('CAST(len(list_intersect(s1.sh, s2.sh)) AS DOUBLE) / CAST(len(list_distinct(s1.sh || s2.sh)) AS DOUBLE)')} AS jaccard
        FROM cand JOIN shs s1 ON s1.doc_id = cand.id1
                  JOIN shs s2 ON s2.doc_id = cand.id2
        WHERE {round6_sql('CAST(len(list_intersect(s1.sh, s2.sh)) AS DOUBLE) / CAST(len(list_distinct(s1.sh || s2.sh)) AS DOUBLE)')} >= {JACCARD_THRESHOLD}
    """


def simhash(df: DataFrame) -> DataFrame:
    """32-bit SimHash per doc: majority vote per bit over distinct-token
    hashes (Charikar). Pure array expressions — no explode, no shuffle.
    Built as single-parse F.expr strings: the 32 bit-majority
    when/filter chains alone were ~1000 py4j calls of construction per
    invocation through the Column API (the cosine6 discipline)."""
    hashed = F.expr(
        f"transform(array_distinct({tokens_sparksql('text')}), "
        f"t -> {h32_sparksql('t')})"
    )
    base = df.select("doc_id", hashed.alias("h")).filter(F.size("h") > 0)
    sim = F.expr(
        " + ".join(
            f"(CASE WHEN 2 * size(filter(h, x -> "
            f"(shiftright(x, {b}) & 1) = 1)) > size(h) "
            f"THEN CAST({2 ** b} AS BIGINT) "
            f"ELSE CAST(0 AS BIGINT) END)"
            for b in range(32)
        )
    )
    return base.select("doc_id", sim.alias("simhash"))


def simhash_sql() -> str:
    tok = f"list_distinct({tokens_sql('text')})"
    bit_terms = " + ".join(
        f"(CASE WHEN 2 * len(list_filter(h, x -> ((x >> {b}) & 1) = 1)) > len(h) "
        f"THEN CAST({2 ** b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for b in range(32)
    )
    return f"""
        SELECT doc_id, {bit_terms} AS simhash
        FROM (SELECT doc_id, list_transform(toks, t -> {h32_sql('t')}) AS h
              FROM (SELECT doc_id, {tok} AS toks FROM documents)
              WHERE len(toks) > 0)
    """


def ngram_jaccard_pairs(df: DataFrame) -> DataFrame:
    """Blocked n-gram Jaccard: block on the 1-perm min-shingle hash
    (docs sharing their rarest shingle), verify exact Jaccard within
    blocks. Blocking keys are uniformly distributed hash values."""
    base = (
        _shingle_sets(df)
        .withColumn(
            "block",
            F.expr(f"array_min(transform(sh, h -> {perm_sparksql('h', 0)}))"),
        )
        .persist()  # consumed by both sides of the block self-join
    )
    a, b = base.alias("a"), base.alias("b")
    cand = a.join(
        b,
        (F.col("a.block") == F.col("b.block")) & (F.col("a.doc_id") < F.col("b.doc_id")),
    )
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh"))).cast("double")
    union = F.size(F.array_union(F.col("a.sh"), F.col("b.sh"))).cast("double")
    out = cand.select(
        F.col("a.doc_id").alias("id1"),
        F.col("b.doc_id").alias("id2"),
        round6(inter / union).alias("jaccard"),
    )
    return owned(out, [base])


def ngram_jaccard_pairs_sql() -> str:
    return f"""
        WITH {_shingle_cte()},
        base AS (
          SELECT doc_id, sh,
                 list_min(list_transform(sh, h -> {perm_sql('h', 0)})) AS block
          FROM shs WHERE len(sh) > 0
        )
        SELECT a.doc_id AS id1, b.doc_id AS id2,
               {round6_sql('CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE)')} AS jaccard
        FROM base a JOIN base b ON a.block = b.block AND a.doc_id < b.doc_id
    """


class NonConvergenceError(RuntimeError):
    """Label propagation hit its round budget before reaching the
    fixpoint (graph diameter exceeds max_rounds)."""


def connected_components(
    pairs: DataFrame, max_rounds: int = 21, strict: bool = False
) -> DataFrame:
    """Connected components over an (id1, id2) pair graph, labeled by
    the minimum reachable id — min-label propagation with POINTER
    DOUBLING (path shortcutting, the Shiloach–Vishkin / MapReduce-CC
    move), driven from the driver with no per-row driver work:

        labels ← id
        repeat:
          label(id) ← min(label(id), min over neighbors)   # propagate
          label(id) ← label(label(id))                     # shortcut

    Plain propagation converges in O(diameter) rounds; the shortcut
    step squares the reach each round, so a chain of length d resolves
    in O(log d) rounds — at 100 TB that is the difference between ~5
    shuffle rounds and hundreds. Every label value is itself a node id
    (the min of a set of reachable ids), so the shortcut is an inner
    self-join of the labels frame on ``label = id``; both steps only
    ever DECREASE labels, preserving the monotonicity the convergence
    check relies on. Round 1 skips the shortcut: after one propagation
    labels are neighborhood minima, and shortcutting them buys < one
    extra hop while costing a full self-join — the doubling payoff
    starts at round 2.

    Driver actions are batched: CHECK_EVERY rounds run lazily, then one
    localCheckpoint materializes them all and truncates lineage (the
    logical plan would otherwise deepen by a union+groupBy+join per
    round). Labels only decrease, so the total label sum strictly
    decreases until the fixpoint — sum unchanged across one full round
    ⟺ no label moved ⟺ propagation alone is stable ⟺ labels are
    constant per component (the true fixpoint). Sums accumulate in
    decimal(38,0): int64 ids times ~1e12 rows stays < 1e38, whereas a
    bigint sum of snowflake-scale ids overflows (ANSI-mode
    ArithmeticException mid-job).

    NO SILENT CAPS: if the fixpoint is not reached within
    ``max_rounds`` (graph diameter > ~2^max_rounds), the count of
    still-changing labels is computed and either raised
    (``strict=True``) or logged as a warning — callers always get a
    signal that the labeling is incomplete.
    """
    CHECK_EVERY = 2
    # Symmetrize with ONE pass over the pair pipeline: explode each pair
    # into both directions. (A union of two selects over the unpersisted
    # pairs frame would execute the whole upstream candidate+verify
    # pipeline once PER BRANCH — measured 2× the materialization cost.)
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col("id1").alias("id1"), F.col("id2").alias("id2")),
                    F.struct(
                        F.col("id2").alias("id1"), F.col("id1").alias("id2")
                    ),
                )
            ).alias("e")
        )
        .select("e.id1", "e.id2")
        .persist()
    )
    _sum = F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
    labels: DataFrame | None = None
    prev_sum: object = None  # no sample yet (None never equals a Decimal)
    rounds = 0
    converged = False
    while rounds < max_rounds:
        prev_labels = labels
        # every ROUND's sum is observed inside the one fused plan, so a
        # fixpoint reached mid-window is detected without the extra
        # confirming window (equal sums on ANY adjacent rounds prove it
        # — monotone, so once equal, all later rounds are no-ops). NO
        # up-front materialization either: round 1 fuses label init +
        # first propagation into a single aggregation over the
        # symmetrized edges (label(id) = min(id, min of neighbors)), so
        # the first window's checkpoint is the operator's FIRST action.
        window_obs = []
        # never overshoot the documented budget: the last window shrinks
        # to whatever rounds remain (a 1-round window still detects the
        # fixpoint against the previous window's last sum)
        for _ in range(min(CHECK_EVERY, max_rounds - rounds)):
            if labels is None:
                labels = (
                    edges.groupBy(F.col("id1").alias("id"))
                    .agg(F.min(F.least("id1", "id2")).alias("label"))
                )
            else:
                neighbor = (
                    edges.join(labels, edges.id2 == labels.id, "inner")
                    .select(F.col("id1").alias("id"), F.col("label"))
                )
                labels = (
                    labels.select("id", "label")
                    .unionByName(neighbor)
                    .groupBy("id")
                    .agg(F.min("label").alias("label"))
                )
            rounds += 1
            if rounds > 1:
                # shortcut: label(id) ← label(label(id)). label values
                # are node ids, so the inner join is total.
                hop = labels.select(
                    F.col("id").alias("__hid"), F.col("label").alias("__hlabel")
                )
                labels = (
                    labels.join(hop, labels.label == hop.__hid, "inner")
                    .select("id", F.col("__hlabel").alias("label"))
                )
            obs = Observation()
            labels = labels.observe(obs, _sum)
            window_obs.append(obs)
        labels = labels.localCheckpoint(eager=True)
        try:
            sums = [o.get["s"] for o in window_obs]
        except Exception:  # noqa: BLE001 — metrics lost to AQE replan
            # empty-relation propagation can replan CollectMetrics away
            # (reachable when the graph is empty); the frame is already
            # checkpointed, so one direct tiny aggregate recovers the
            # final sum. None ⟺ no labels ⟺ the empty fixpoint; a
            # non-None recovered sum becomes ONE sample (intra-window
            # progression is unknowable — never fake equality from it)
            recovered = labels.agg(_sum).first()["s"]
            if recovered is None:
                if prev_labels is not None:
                    release_local_checkpoint(prev_labels)
                converged = True
                break
            sums = [recovered]
        if prev_labels is not None:
            release_local_checkpoint(prev_labels)
        seq = ([prev_sum] if prev_sum is not None else []) + sums
        if any(a == b for a, b in zip(seq, seq[1:])):
            converged = True
            break
        prev_sum = sums[-1]
    if not converged:
        # one more lazy round, then count ids whose label would still
        # move — the non-convergence magnitude
        neighbor = (
            edges.join(labels, edges.id2 == labels.id, "inner")
            .select(F.col("id1").alias("id"), F.col("label"))
        )
        probe = (
            labels.select("id", "label")
            .unionByName(neighbor)
            .groupBy("id")
            .agg(F.min("label").alias("__new_l"))
        )
        n_changing = (
            probe.join(labels.select("id", F.col("label").alias("__old_l")), "id")
            .filter(F.col("__new_l") != F.col("__old_l"))
            .count()
        )
        if n_changing:
            msg = (
                f"connected_components did not converge in {rounds} rounds: "
                f"{n_changing} labels still changing (graph diameter > "
                f"{max_rounds}); raise max_rounds or pass strict=False "
                "to accept the partial labeling"
            )
            if strict:
                edges.unpersist()
                raise NonConvergenceError(msg)
            log.warning(msg)
    edges.unpersist()
    return labels.select("id", "label")


def dedup_clusters(
    df: DataFrame, max_rounds: int = 21, strict: bool = False
) -> DataFrame:
    """Duplicate CLUSTERS: connected components over the verified
    near-dup pair graph, labeled by the minimum reachable doc_id.

    The DuckDB oracle computes the same fixpoint as a recursive
    transitive closure — agreeing outputs prove the iteration converged
    to the true component labeling. Non-convergence within
    ``max_rounds`` warns (or raises with ``strict=True``) — see
    :func:`connected_components`. The final labels frame is
    lineage-free, so every upstream cache (LSH signatures, edges) is
    released before returning.
    """
    lsh = minhash_lsh_pairs(df)
    labels = connected_components(
        lsh.select("id1", "id2"), max_rounds=max_rounds, strict=strict
    )
    release(lsh)  # signature/shingle caches — labels no longer need them
    # Deliberately UNSORTED: output order carries no meaning, the oracle
    # comparison is order-insensitive, and an orderBy here would append a
    # range-partition exchange + sort for pure cosmetics (callers that
    # want sorted output sort the small result themselves).
    return labels.select(
        F.col("id").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def dedup_clusters_sql() -> str:
    pairs = minhash_lsh_pairs_sql()
    return f"""
        WITH RECURSIVE pairs AS ({pairs}),
        edges AS (
          SELECT id1 AS src, id2 AS dst FROM pairs
          UNION ALL
          SELECT id2, id1 FROM pairs
        ),
        reach(a, b) AS (
          SELECT src, src FROM edges
          UNION
          SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b
        )
        SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a
    """


def dedup_canonical(
    df: DataFrame, max_rounds: int = 21, strict: bool = False
) -> DataFrame:
    """The DEDUPLICATED corpus — what a training pipeline actually
    feeds downstream: one canonical survivor (minimum doc_id) per
    near-dup cluster plus every unclustered doc, each with the number
    of corpus docs it represents.

    Shape at scale: the labels frame covers ONLY docs that belong to a
    near-dup cluster — O(duplicated docs), tiny next to the corpus — and
    every cluster member (including its canonical) appears in it. So the
    per-cluster sizes come from a groupBy over labels ALONE, and the
    unclustered survivors come from a broadcast-able LEFT ANTI join on
    the corpus scan. The corpus itself never shuffles at all (narrow
    anti-join + union); the only exchange is the tiny labels agg. No
    trailing orderBy either — that would range-partition the whole
    canonical corpus purely for cosmetic output order the oracle never
    needed.
    """
    labels = dedup_clusters(df, max_rounds=max_rounds, strict=strict)
    # labels is checkpointed (lineage-free) by connected_components, so
    # the size-guard count is a cached scan; below the guard the
    # corpus-side anti-join needs no shuffle at all
    return canonical_attach(
        df.select("doc_id"),
        labels.select(
            F.col("doc_id").alias("id"), F.col("cluster_id").alias("label")
        ),
        "doc_id",
    )


def canonical_attach(
    corpus_ids: DataFrame, labels: DataFrame, id_col: str
) -> DataFrame:
    """Survivor attach shared by the lexical (dedup_canonical) and
    semantic (similarity.semantic_dedup_canonical) pipelines: cluster
    survivors and sizes come from the tiny (id, label) frame ALONE
    (every member, including the canonical, is a labeled node), and
    unclustered ids survive with size 1 via a broadcast-guarded LEFT
    ANTI join — the corpus side never shuffles; the only exchange is
    the labels agg."""
    from ..operators.joins import maybe_broadcast

    unclustered = (
        corpus_ids.join(
            maybe_broadcast(labels.select(F.col("id").alias(id_col))),
            id_col,
            "left_anti",
        )
        .select(id_col, F.lit(1).cast("long").alias("cluster_size"))
    )
    clustered = labels.groupBy(F.col("label").alias(id_col)).agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return unclustered.unionByName(clustered)


K_SPAN = 16  # tokens per span (the C4 "three-sentence span" analog)


def dedup_spans_global(df: DataFrame, k: int = K_SPAN) -> DataFrame:
    """C4-style repeated-span removal, corpus-GLOBAL: cut every doc
    into non-overlapping ``k``-token spans, keep only the FIRST
    occurrence of each span across the whole corpus (min (doc_id,
    position)), and reassemble each doc from its surviving spans —
    the within-doc operator family's missing sibling (doc-level dedup
    keeps/drops whole docs; this strips repeated boilerplate while
    keeping the rest of the document). Ref behavior analog: C4's
    "discard all but one of any three-sentence span occurring more
    than once" (Raffel et al.), on token spans because the corpus has
    no sentence marks.

    Output: (doc_id, clean_text, n_spans, n_removed) for EVERY doc.

    Shape at scale: spans explode inside the scan stage (no shuffle);
    the global winner per span hash is a groupBy-min — partial
    aggregation shrinks hot keys (corpus-wide boilerplate spans) on
    the map side, which is why this is a groupBy+join rather than one
    row_number window (a window would serialize each hot hash in a
    single task); the spans⋈winners join is h-keyed with AQE skew
    splits; reassembly is one doc_id-keyed agg (unique key, no skew).
    One md5 per span (~1/k of the per-token hashing the minhash
    family already pays), oracle-portable."""
    # single-parse construction throughout (guide §7.3 — the Column
    # lambda chains were ~620 py4j round-trips, most of the benched
    # metric's cost at sf0.1); trees unchanged, oracle pins the values
    base = (
        df.selectExpr("doc_id", f"{tokens_sparksql('text')} AS tok")
        .selectExpr("doc_id", "tok", "size(tok) AS n_tok")
        # SQL `div` = exact integer division on longs, matching the
        # oracle's `//` for any n_tok (float `/`+cast is only exact
        # below 2^53 and fragile under ANSI/decimal config changes)
        .selectExpr(
            "doc_id", "tok", "n_tok", f"(n_tok + {k - 1}) div {k} AS n_spans"
        )
    )
    # spans feed THREE consumers (winners agg, the kept join's probe
    # side, reassembly); persist so the corpus tokenizes once for them
    # — without the barrier each consumer re-runs the tokenize+explode
    # +md5 pipeline (the same once-per-branch trap the CC edge
    # symmetrization and the sign-LSH keys frame already fixed)
    spans = (
        base.filter(F.col("n_tok") > 0)
        .selectExpr(
            "doc_id",
            "posexplode(transform(sequence(0, CAST(n_spans - 1 AS INT)), "
            f"i -> array_join(slice(tok, i * {k} + 1, {k}), ' '))) "
            "AS (pos, span_text)",
        )
        .selectExpr("doc_id", "pos", "span_text", "md5(span_text) AS h")
        .persist()
    )
    winners = spans.groupBy("h").agg(
        F.expr("min(struct(doc_id, pos)) AS w")
    )
    kept = spans.join(winners, "h").filter(
        F.expr("doc_id = w.doc_id AND pos = w.pos")
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list("
            "struct(pos, span_text))), s -> s.span_text), ' ') "
            "AS clean_text"
        ),
        F.expr("count(1) AS n_kept"),
    )
    out = base.select("doc_id", "n_spans").join(rebuilt, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        "n_spans",
        (F.col("n_spans") - F.coalesce(F.col("n_kept"), F.lit(0))).alias(
            "n_removed"
        ),
    )
    return owned(out, [spans])


def dedup_spans_global_sql(k: int = K_SPAN) -> str:
    toks = tokens_sql("text")
    return f"""
        WITH sized AS (
          SELECT doc_id, tok, len(tok) AS n_tok,
                 CAST((len(tok) + {k - 1}) // {k} AS BIGINT) AS n_spans
          FROM (SELECT doc_id, {toks} AS tok FROM documents)
        ),
        spans AS (
          SELECT doc_id, CAST(t.i AS INT) AS pos,
                 array_to_string(tok[t.i * {k} + 1 : t.i * {k} + {k}], ' ')
                   AS span_text
          FROM sized, UNNEST(range(0, n_spans)) AS t(i)
          WHERE n_tok > 0
        ),
        hashed AS (SELECT *, md5(span_text) AS h FROM spans),
        kept AS (
          SELECT doc_id, pos, span_text FROM (
            SELECT *, row_number() OVER (
              PARTITION BY h ORDER BY doc_id, pos
            ) AS rn FROM hashed
          ) WHERE rn = 1
        ),
        rebuilt AS (
          SELECT doc_id,
                 string_agg(span_text, ' ' ORDER BY pos) AS clean_text,
                 COUNT(*) AS n_kept
          FROM kept GROUP BY doc_id
        )
        SELECT s.doc_id,
               COALESCE(r.clean_text, '') AS clean_text,
               s.n_spans,
               s.n_spans - COALESCE(r.n_kept, 0) AS n_removed
        FROM sized s LEFT JOIN rebuilt r USING (doc_id)
    """


def dedup_canonical_sql() -> str:
    clusters = dedup_clusters_sql()
    return f"""
        WITH labels AS ({clusters}),
        lbl AS (
          SELECT COALESCE(l.cluster_id, d.doc_id) AS canonical_id
          FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id
        )
        SELECT canonical_id AS doc_id, COUNT(*) AS cluster_size
        FROM lbl GROUP BY canonical_id
    """


def _band_frame(sigs: DataFrame) -> DataFrame:
    """(doc_id, band, bucket) from a signature frame — slim keys only."""
    return sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat_ws(
                                ",",
                                *[
                                    F.col("sig")[b * ROWS_PER_BAND + r].cast("string")
                                    for r in range(ROWS_PER_BAND)
                                ],
                            )
                        ).alias("bucket"),
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("bb"),
    ).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def _crosscorpus_candidates(
    bands_a: DataFrame,
    bands_b: DataFrame,
    a_name: str,
    b_name: str,
    opname: str,
    log_drops: bool = True,
) -> DataFrame:
    """Two-sided banded candidate generation shared by the one-shot
    cross-corpus join and the incremental MinHash index probe: both
    sides' slim (doc_id, band, bucket) keys meet in ONE grouped shuffle
    on (band, bucket); per-bucket the A×B pair expansion happens inline
    via higher-order functions with a per-side hot-bucket cap
    (quadratic guard, drops observed via _observe_hot_buckets).
    Returns distinct (a_name, b_name) id pairs."""
    tagged = bands_a.withColumn("side", F.lit("a")).unionByName(
        bands_b.withColumn("side", F.lit("b"))
    )
    grouped = tagged.groupBy("band", "bucket").agg(
        F.array_sort(
            F.collect_list(F.when(F.col("side") == "a", F.col("doc_id")))
        ).alias("ids_a"),
        F.array_sort(
            F.collect_list(F.when(F.col("side") == "b", F.col("doc_id")))
        ).alias("ids_b"),
    )
    if log_drops:
        grouped = _observe_hot_buckets(
            grouped,
            (F.size("ids_a") > MAX_BUCKET_WIDTH)
            | (F.size("ids_b") > MAX_BUCKET_WIDTH),
            opname,
        )
    buckets = grouped.filter(
        (F.size("ids_a") >= 1)
        & (F.size("ids_b") >= 1)
        & (F.size("ids_a") <= MAX_BUCKET_WIDTH)
        & (F.size("ids_b") <= MAX_BUCKET_WIDTH)
    )
    return (
        buckets.select(
            F.explode(
                F.flatten(
                    F.transform(
                        "ids_a",
                        lambda x: F.transform(
                            F.col("ids_b"),
                            lambda y: F.struct(x.alias("a_id"), y.alias("b_id")),
                        ),
                    )
                )
            ).alias("p")
        )
        .select(F.col("p.a_id").alias(a_name), F.col("p.b_id").alias(b_name))
        .dropDuplicates([a_name, b_name])
    )


def minhash_crosscorpus_pairs(
    df_a: DataFrame, df_b: DataFrame, log_drops: bool = True
) -> DataFrame:
    """Fuzzy JOIN between two corpora: near-duplicate (a_id, b_id)
    pairs with exact Jaccard ≥ θ, candidates blocked by shared minhash
    band buckets — the dedup-against-existing-corpus operator (filter
    fresh crawl B against held corpus A) as opposed to self-dedup.

    Same scale shape as minhash_lsh_pairs: both sides' slim
    (id, band, bucket) keys meet in ONE grouped shuffle; per-bucket the
    A×B pair expansion happens inline via higher-order functions with a
    per-side hot-bucket cap (quadratic guard, drops logged by default).
    Heavy shingle arrays only join back per-id for the exact verify.
    """
    sigs_a, cached_a = _signatures(df_a)
    sigs_b, cached_b = _signatures(df_b)
    sigs_a = sigs_a.persist()
    sigs_b = sigs_b.persist()
    cached = cached_a + cached_b + [sigs_a, sigs_b]
    cand = _crosscorpus_candidates(
        _band_frame(sigs_a),
        _band_frame(sigs_b),
        "a_id",
        "b_id",
        "minhash_crosscorpus_pairs",
        log_drops=log_drops,
    )
    cand = cand.join(
        sigs_a.select(F.col("doc_id").alias("a_id"), F.col("sh").alias("sh1")),
        "a_id",
    ).join(
        sigs_b.select(F.col("doc_id").alias("b_id"), F.col("sh").alias("sh2")),
        "b_id",
    )
    inter = F.size(F.array_intersect("sh1", "sh2")).cast("double")
    union = F.size(F.array_union("sh1", "sh2")).cast("double")
    jac = inter / union
    out = cand.select("a_id", "b_id", round6(jac).alias("jaccard")).filter(
        F.col("jaccard") >= JACCARD_THRESHOLD
    )
    return owned(out, cached)


def minhash_crosscorpus_pairs_sql(pred_a: str, pred_b: str) -> str:
    """Oracle: same banding/caps/threshold over two predicate-defined
    corpora of the ``documents`` table."""
    perms = ", ".join(
        f"list_min(list_transform(sh, h -> {perm_sql('h', i)}))"
        for i in range(N_PERMS)
    )
    band_rows = " UNION ALL ".join(
        f"""SELECT doc_id, {b} AS band,
               md5(concat_ws(',', {', '.join(f'CAST(sig[{b * ROWS_PER_BAND + r + 1}] AS VARCHAR)' for r in range(ROWS_PER_BAND))})) AS bucket
            FROM sigs"""
        for b in range(N_BANDS)
    )
    jac = round6_sql(
        "CAST(len(list_intersect(s1.sh, s2.sh)) AS DOUBLE) / "
        "CAST(len(list_distinct(s1.sh || s2.sh)) AS DOUBLE)"
    )
    return f"""
        WITH {_shingle_cte()},
        sigs AS (SELECT doc_id, sh, [{perms}] AS sig FROM shs WHERE len(sh) > 0),
        bands_raw AS ({band_rows}),
        ba AS (
          SELECT doc_id, band, bucket FROM (
            SELECT doc_id, band, bucket,
                   COUNT(*) OVER (PARTITION BY band, bucket) AS w
            FROM bands_raw WHERE {pred_a}
          ) WHERE w <= {MAX_BUCKET_WIDTH}
        ),
        bb AS (
          SELECT doc_id, band, bucket FROM (
            SELECT doc_id, band, bucket,
                   COUNT(*) OVER (PARTITION BY band, bucket) AS w
            FROM bands_raw WHERE {pred_b}
          ) WHERE w <= {MAX_BUCKET_WIDTH}
        ),
        cand AS (
          SELECT DISTINCT ba.doc_id AS a_id, bb.doc_id AS b_id
          FROM ba JOIN bb ON ba.band = bb.band AND ba.bucket = bb.bucket
        )
        SELECT a_id, b_id, {jac} AS jaccard
        FROM cand JOIN shs s1 ON s1.doc_id = cand.a_id
                  JOIN shs s2 ON s2.doc_id = cand.b_id
        WHERE {jac} >= {JACCARD_THRESHOLD}
    """


def incremental_probe_sql(n_batches: int = 3) -> str:
    """Oracle for MinHashIndex (dedup_index.py) run over ``documents``
    with ingestion batches doc_id % n_batches, unrolled stage by stage:
    stage k's index side is the SURVIVORS of batches < k (first-batch-
    wins recursion — a doc dropped at stage j never indexes, so stage
    k docs resembling only the dropped copy correctly survive), with
    the per-side hot-bucket width caps applied per stage exactly as
    the Spark probe applies them, plus the exact-fingerprint side
    channel (identical shingle sets match regardless of bucket heat,
    jaccard exactly 1.0; UNION collapses the pair when both lanes
    find it)."""
    m = n_batches
    perms = ", ".join(
        f"list_min(list_transform(sh, h -> {perm_sql('h', i)}))"
        for i in range(N_PERMS)
    )
    band_rows = " UNION ALL ".join(
        f"""SELECT doc_id, {b} AS band,
               md5(concat_ws(',', {', '.join(f'CAST(sig[{b * ROWS_PER_BAND + r + 1}] AS VARCHAR)' for r in range(ROWS_PER_BAND))})) AS bucket
            FROM sigs"""
        for b in range(N_BANDS)
    )
    jac = round6_sql(
        "CAST(len(list_intersect(s1.sh, s2.sh)) AS DOUBLE) / "
        "CAST(len(list_distinct(s1.sh || s2.sh)) AS DOUBLE)"
    )
    ctes = [
        f"sigs AS (SELECT doc_id, sh, [{perms}] AS sig FROM shs WHERE len(sh) > 0)",
        f"br AS ({band_rows})",
        """fps AS (SELECT doc_id,
               md5(list_aggregate(list_sort(sh), 'string_agg', ',')) AS fp
             FROM sigs)""",
        f"surv0 AS (SELECT doc_id FROM sigs WHERE doc_id % {m} = 0)",
    ]
    drop_tables = []
    for k in range(1, m):
        prev = f"surv{k - 1}"
        ctes.append(
            f"""i{k} AS (
              SELECT doc_id, band, bucket FROM (
                SELECT b.doc_id, b.band, b.bucket,
                       COUNT(*) OVER (PARTITION BY b.band, b.bucket) AS w
                FROM br b JOIN {prev} s ON b.doc_id = s.doc_id
              ) WHERE w <= {MAX_BUCKET_WIDTH}
            )"""
        )
        ctes.append(
            f"""b{k} AS (
              SELECT doc_id, band, bucket FROM (
                SELECT doc_id, band, bucket,
                       COUNT(*) OVER (PARTITION BY band, bucket) AS w
                FROM br WHERE doc_id % {m} = {k}
              ) WHERE w <= {MAX_BUCKET_WIDTH}
            )"""
        )
        ctes.append(
            f"""v{k} AS (
              SELECT c.new_id, c.old_id, {jac} AS jaccard
              FROM (SELECT DISTINCT i{k}.doc_id AS old_id,
                           b{k}.doc_id AS new_id
                    FROM i{k} JOIN b{k}
                      ON i{k}.band = b{k}.band
                     AND i{k}.bucket = b{k}.bucket) c
              JOIN shs s1 ON s1.doc_id = c.old_id
              JOIN shs s2 ON s2.doc_id = c.new_id
              WHERE {jac} >= {JACCARD_THRESHOLD}
              UNION
              SELECT fn.doc_id AS new_id, fo.doc_id AS old_id,
                     1.0 AS jaccard
              FROM fps fo
              JOIN {prev} sv ON fo.doc_id = sv.doc_id
              JOIN fps fn ON fn.fp = fo.fp
              WHERE fn.doc_id % {m} = {k}
            )"""
        )
        ctes.append(
            f"""d{k} AS (
              SELECT new_id, min(old_id) AS dup_of
              FROM v{k} GROUP BY new_id
            )"""
        )
        ctes.append(
            f"""dj{k} AS (
              SELECT d{k}.new_id AS doc_id, {k} AS batch,
                     d{k}.dup_of, v{k}.jaccard
              FROM d{k} JOIN v{k}
                ON v{k}.new_id = d{k}.new_id
               AND v{k}.old_id = d{k}.dup_of
            )"""
        )
        drop_tables.append(f"dj{k}")
        if k < m - 1:
            ctes.append(
                f"""surv{k} AS (
                  SELECT doc_id FROM {prev}
                  UNION ALL
                  SELECT doc_id FROM sigs WHERE doc_id % {m} = {k}
                    AND doc_id NOT IN (SELECT new_id FROM d{k})
                )"""
            )
    union = " UNION ALL ".join(f"SELECT * FROM {t}" for t in drop_tables)
    return f"""
        WITH {_shingle_cte()},
        {', '.join(ctes)}
        SELECT doc_id, CAST(batch AS INT) AS batch, dup_of, jaccard
        FROM ({union})
    """


# the CDC mutation the dedup_cdc_probe registry query applies: docs
# matching CDC_UPD_PRED get CDC_SUFFIX appended (an UPDATE — the old
# text must stop blocking, the new text blocks iff it survives); docs
# matching CDC_DEL_PRED are DELETED. Both restricted to the two
# pre-CDC ingestion batches (doc_id % 3 < 2) so the post-CDC bulk
# ingest of batch 2 never trips the CDC-history readd guard.
CDC_SUFFIX = " spark vector query engine"
CDC_UPD_PRED = "doc_id % 3 < 2 AND doc_id % 7 = 3"
CDC_DEL_PRED = "doc_id % 3 < 2 AND doc_id % 7 = 5"


def cdc_probe_sql() -> str:
    """Oracle for MinHashIndex.apply_cdc (dedup_index.py) — the
    incremental_probe_sql recursion extended with one CDC epoch,
    unrolled over a VERSIONED document set (ver 0 = original text,
    ver 1 = CDC-updated text):

    - stage 1: batch doc_id % 3 == 1 probes the batch-0 survivors
      (identical to incremental_probe_sql's stage 1);
    - stage 2 (the CDC epoch): the updated docs' NEW text probes the
      live set MINUS the batch's own ids and the deleted ids (an
      update never matches its own superseded version, a delete stops
      blocking instantly); deletes emit NULL-metric decisions; a
      dropped upsert leaves the corpus entirely;
    - stage 3: batch doc_id % 3 == 2 probes the post-CDC live set
      (mixed versions: survivors at ver 0, accepted updates at ver 1).

    Same per-stage hot-bucket caps and exact-fingerprint lane as the
    append-only oracle, applied to the live (folded) index side
    exactly as the Spark probe applies them after its overlay fold."""
    tok = tokens_sql("text")
    comb = combine_shingles_sql("th", 3)
    perms = ", ".join(
        f"list_min(list_transform(sh, h -> {perm_sql('h', i)}))"
        for i in range(N_PERMS)
    )
    band_rows = " UNION ALL ".join(
        f"""SELECT doc_id, ver, {b} AS band,
               md5(concat_ws(',', {', '.join(f'CAST(sig[{b * ROWS_PER_BAND + r + 1}] AS VARCHAR)' for r in range(ROWS_PER_BAND))})) AS bucket
            FROM sigs"""
        for b in range(N_BANDS)
    )
    jac = round6_sql(
        "CAST(len(list_intersect(s1.sh, s2.sh)) AS DOUBLE) / "
        "CAST(len(list_distinct(s1.sh || s2.sh)) AS DOUBLE)"
    )

    def stage(k: int, idx_set: str, batch_pred: str, fp_pred: str,
              batch_ver: int) -> list[str]:
        return [
            f"""i{k} AS (
              SELECT doc_id, ver, band, bucket FROM (
                SELECT b.doc_id, b.ver, b.band, b.bucket,
                       COUNT(*) OVER (PARTITION BY b.band, b.bucket) AS w
                FROM br b JOIN {idx_set} s
                  ON b.doc_id = s.doc_id AND b.ver = s.ver
              ) WHERE w <= {MAX_BUCKET_WIDTH}
            )""",
            f"""b{k} AS (
              SELECT doc_id, band, bucket FROM (
                SELECT doc_id, band, bucket,
                       COUNT(*) OVER (PARTITION BY band, bucket) AS w
                FROM br WHERE {batch_pred}
              ) WHERE w <= {MAX_BUCKET_WIDTH}
            )""",
            f"""v{k} AS (
              SELECT c.new_id, c.old_id, {jac} AS jaccard
              FROM (SELECT DISTINCT i{k}.doc_id AS old_id,
                           i{k}.ver AS old_ver, b{k}.doc_id AS new_id
                    FROM i{k} JOIN b{k}
                      ON i{k}.band = b{k}.band
                     AND i{k}.bucket = b{k}.bucket) c
              JOIN shs s1 ON s1.doc_id = c.old_id AND s1.ver = c.old_ver
              JOIN shs s2 ON s2.doc_id = c.new_id
               AND s2.ver = {batch_ver}
              WHERE {jac} >= {JACCARD_THRESHOLD}
              UNION
              SELECT fn.doc_id AS new_id, fo.doc_id AS old_id,
                     1.0 AS jaccard
              FROM fps fo
              JOIN {idx_set} sv
                ON fo.doc_id = sv.doc_id AND fo.ver = sv.ver
              JOIN fps fn ON fn.fp = fo.fp AND fn.ver = {batch_ver}
              WHERE {fp_pred}
            )""",
            f"""d{k} AS (
              SELECT new_id, min(old_id) AS dup_of
              FROM v{k} GROUP BY new_id
            )""",
            f"""dj{k} AS (
              SELECT d{k}.new_id AS doc_id, {k} AS stage,
                     d{k}.dup_of, v{k}.jaccard
              FROM d{k} JOIN v{k}
                ON v{k}.new_id = d{k}.new_id
               AND v{k}.old_id = d{k}.dup_of
            )""",
        ]

    ctes = [
        f"""docs_v AS (
          SELECT doc_id, 0 AS ver, text FROM documents
          UNION ALL
          SELECT doc_id, 1 AS ver, text || '{CDC_SUFFIX}' AS text
          FROM documents WHERE {CDC_UPD_PRED}
        )""",
        f"toks AS (SELECT doc_id, ver, {tok} AS tok FROM docs_v)",
        f"""th_t AS (SELECT doc_id, ver,
               list_transform(tok, t -> {h32_sql('t')}) AS th FROM toks)""",
        f"shs AS (SELECT doc_id, ver, list_distinct({comb}) AS sh FROM th_t)",
        f"""sigs AS (SELECT doc_id, ver, sh, [{perms}] AS sig
             FROM shs WHERE len(sh) > 0)""",
        f"br AS ({band_rows})",
        """fps AS (SELECT doc_id, ver,
               md5(list_aggregate(list_sort(sh), 'string_agg', ',')) AS fp
             FROM sigs)""",
        """surv0 AS (SELECT doc_id, ver FROM sigs
             WHERE doc_id % 3 = 0 AND ver = 0)""",
        *stage(1, "surv0", "doc_id % 3 = 1 AND ver = 0",
               "fn.doc_id % 3 = 1", 0),
        """surv1 AS (
          SELECT doc_id, ver FROM surv0
          UNION ALL
          SELECT doc_id, 0 AS ver FROM sigs
          WHERE doc_id % 3 = 1 AND ver = 0
            AND doc_id NOT IN (SELECT new_id FROM d1)
        )""",
        # extra_dead of the CDC probe: the batch's own ids (mirroring
        # the Spark side exactly: the post-signature ids, i.e. ver=1
        # sigs) plus the deleted ids
        f"""dead2 AS (
          SELECT doc_id FROM sigs WHERE ver = 1
          UNION
          SELECT doc_id FROM documents WHERE {CDC_DEL_PRED}
        )""",
        """idx2 AS (SELECT doc_id, ver FROM surv1
             WHERE doc_id NOT IN (SELECT doc_id FROM dead2))""",
        *stage(2, "idx2", "ver = 1", "TRUE", 1),
        f"""dj2d AS (
          SELECT doc_id, 2 AS stage, CAST(NULL AS BIGINT) AS dup_of,
                 CAST(NULL AS DOUBLE) AS jaccard
          FROM documents WHERE {CDC_DEL_PRED}
        )""",
        """surv2 AS (
          SELECT doc_id, ver FROM idx2
          UNION ALL
          SELECT doc_id, 1 AS ver FROM sigs
          WHERE ver = 1 AND doc_id NOT IN (SELECT new_id FROM d2)
        )""",
        *stage(3, "surv2", "doc_id % 3 = 2 AND ver = 0",
               "fn.doc_id % 3 = 2", 0),
    ]
    union = " UNION ALL ".join(
        f"SELECT * FROM {t}" for t in ("dj1", "dj2", "dj2d", "dj3")
    )
    return f"""
        WITH {', '.join(ctes)}
        SELECT doc_id, CAST(stage AS INT) AS stage, dup_of, jaccard
        FROM ({union})
    """
