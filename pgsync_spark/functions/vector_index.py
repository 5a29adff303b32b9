"""Incremental ANN vector index — streaming-maintained semantic
retrieval state, the Embedding-side sibling of BM25Index (the
reference's vector topology: embedding plugins compute a vector per
doc and the sink maintains it as a ``dense_vector``/``knn_vector``
field queried by kNN — ref: plugins/sentence_transformer_plugin.py,
pgsync/constants.py:91,117 mapping types; this is that lifecycle with
the index state owned by the engine itself).

Unlike EmbeddingIndex (a DEDUP gate: probes reject near-duplicates and
only survivors enter), a serving index accepts EVERYTHING — ingest
decisions are structurally empty, exactly like BM25Index — and answers
``topk(queries)``: approximate nearest neighbors by banded sign-LSH
candidate generation + exact-cosine re-rank. The approximation is
ENGINE-DETERMINISTIC (the probe set is a pure function of the stored
banding scheme), so a DuckDB oracle replays it bit-for-bit — the same
discipline as ann_lsh_multiprobe_topk.

State rides the shared `_AppendOnlyIndex` machinery (append-only
segments, atomic CURRENT manifest, epoch bookkeeping, ``compact()``,
``bind_stream``, CDC overlay) from dedup_index.py:

- keys frame ``bands``: (vec_id, band, bucket, ver) — the ONE sign-LSH
  banding scheme shared with EmbeddingIndex (similarity.py: N_BANDS
  bands × PLANES_PER_BAND sign planes), partitioned on disk by band.
- vals frame ``vectors``: (vec_id, embedding, ver, op) — the exact
  re-rank payload; candidates join back by id so vectors are never
  dragged through the candidate shuffle.

UPDATE/DELETE is the Lucene-style versioned overlay: ``apply_cdc``
appends new-version rows and tombstones, queries fold the overlay
(``live``: a broadcast left join bounded by ``overlay_cap``),
``compact()`` folds it physically. A CDC update that changes a doc's
embedding MOVES its buckets and its ranking — engine_sync_ann_topk
(queries.py) gates exactly that end to end.

Scale shape: ingest is one O(batch) band explode; a query is one
broadcast probe join against the banded keys (≤ |queries| × N_BANDS ×
probe-width rows on the broadcast side), an id-join to fetch candidate
vectors, and a per-query window top-k — the held corpus is never
rescanned beyond the keys slice, and the exact re-rank touches only
candidates (~N_BANDS × 2^-PLANES_PER_BAND of the corpus per probe).
The recall/cost dial is PLANES_PER_BAND (exponentially narrower cells)
plus ``probe_hamming`` multi-probe width, the same dials as
EmbeddingIndex.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.joins import BROADCAST_ROW_LIMIT
from .dedup_index import EmbeddingIndex, _AppendOnlyIndex
from .hashing import hash_embed_sparksql

log = logging.getLogger(__name__)

# the featurizer a writer gets without naming one (the
# VectorIndexMaintainer default): the hash embedding of the whole doc
DEFAULT_FEATURE_EXPR = hash_embed_sparksql("doc")

_TOPK_SCHEMA = (
    "query_id bigint, neighbor_id bigint, cosine double, rank int"
)


class VectorIndex(_AppendOnlyIndex):
    """See module docstring. Rows: (vec_id, embedding); a NULL
    embedding on an upsert refuses. ingest() never drops vectors (a
    serving index accepts everything) — decisions are structurally
    empty, which keeps the base class's exactly-once epoch replay
    semantics intact for streaming front-ends; apply_cdc returns the
    deleted ids."""

    _KEYS_NAME = "bands"
    _VALS_NAME = "vectors"
    _ID_COL = "vec_id"
    _PAYLOAD = ("embedding",)
    _DECISIONS = "vec_id bigint"
    _REQUIRED = "embedding"
    # the index family: store state, fixed when the store is created
    family = "lsh"

    def __init__(
        self,
        spark: SparkSession,
        store_dir: str | None = None,
        probe_hamming: int | None = None,
        overlay_cap: int | None = BROADCAST_ROW_LIMIT,
        feature_expr: str | None = None,
    ):
        super().__init__(spark, store_dir, overlay_cap=overlay_cap)
        if probe_hamming is None:
            from .similarity import PROBE_HAMMING

            probe_hamming = PROBE_HAMMING
        # a QUERY-time dial (stored keys are never perturbed), so not
        # manifest state — unlike BM25's analyzer, two processes may
        # serve the same store at different probe widths
        self.probe_hamming = probe_hamming
        # an optional RECORD of the feature space the vectors came
        # from (e.g. the maintainer's vec_expr): cosines across two
        # featurizations are garbage, so writers that know their
        # featurizer stamp it here, the manifest persists it, and
        # load(feature_expr=...) refuses a mismatch the way it refuses
        # BM25's analyzer. None = unrecorded (library callers own the
        # contract).
        self.feature_expr = feature_expr
        # incremental per-(band, bucket) occupancy counters (None =
        # not tracking) — see the occupancy section below
        self._cell_counts: dict[tuple[int, int], int] | None = None

    def _manifest_extra(self) -> dict:
        return {
            "feature_expr": self.feature_expr,
            "cell_counts": (
                [[b, k, n] for (b, k), n in self._cell_counts.items()]
                if self._cell_counts is not None
                else None
            ),
        }

    def _load_manifest_extra(self, m: dict) -> None:
        self.feature_expr = m.get("feature_expr")
        cc = m.get("cell_counts")
        self._cell_counts = (
            {(b, k): n for b, k, n in cc} if cc is not None else None
        )

    @classmethod
    def _load_class(cls, written_by: str | None, family: str | None):
        # a store loads as the family that wrote it (both answer the
        # same topk contract, but keys assigned under one scheme are
        # unreadable under the other); no store yet: the requested one
        if written_by is None:
            return {"lsh": VectorIndex, "ivf": IVFVectorIndex}.get(
                family, cls
            )
        return IVFVectorIndex if written_by == "IVFVectorIndex" else cls

    def _adopt(self, key: str, requested) -> None:
        if key != "feature_expr" or self.feature_expr is not None:
            return super()._adopt(key, requested)
        # a pre-stamp store (library-built with no featurizer record)
        # adopts an explicit featurizer and stamps it at once, so the
        # mismatch check is armed even if no epoch commits. The default
        # is what a writer gets without naming one, so it may not be
        # the store's original space: warn instead of stamping it
        if requested == DEFAULT_FEATURE_EXPR:
            log.warning(
                "pre-stamp vector store %s maintained with the DEFAULT "
                "hash featurizer — if it was built with a different "
                "one, upserts will mix feature spaces; pass the "
                "original feature_expr",
                self.store_dir,
            )
            return
        self.feature_expr = requested
        self._commit_manifest()
        log.warning(
            "adopting feature_expr %r as the featurizer of pre-stamp "
            "vector store %s (stamped into the manifest now)",
            requested,
            self.store_dir,
        )

    # -- occupancy statistic (THE one implementation) -------------------------
    #
    # max/mean per-(band, bucket) key occupancy is the engine's
    # partition-health signal: --ann-stats prints it, --ann-frontier's
    # cost axis follows it, and the VectorIndexMaintainer rebuild
    # policy fires on it. One statistic, one definition
    # (occupancy_imbalance over a counts mapping), two ways to obtain
    # the counts:
    #
    # - live_cell_counts(): EXACT — one column-pruned keys scan with
    #   the CDC overlay folded, map-side combine down to <= cells
    #   rows. O(live keys); right for one-shot diagnostics (the CLI).
    # - occupancy_counts: INCREMENTAL — counters carried as index
    #   state (manifest-persisted in the same atomic flip as the
    #   epoch that moved them), updated O(batch) from each appended
    #   keys frame, re-derived exactly from the folded frame at every
    #   physical overlay fold (compact / rebuild / truncate). Between
    #   folds the counters are a GROSS upper envelope of the live
    #   counts: an upsert adds its new cell without decrementing the
    #   old (the old cell is unknowable without an id-lookup scan —
    #   the exact cost this design removes), and a delete decrements
    #   nothing. The drift is structurally bounded by the SAME cap
    #   that bounds every reader's overlay fold: at most
    #   ``overlay_cap`` + one batch of stale key rows, reconciled to
    #   exact at the autocompact that cap forces. The max/mean RATIO
    #   can therefore lag the live truth in either direction until
    #   the next fold (stale rows pad max and mean alike) — a policy
    #   firing decision moves by at most that bounded drift, and the
    #   anti-thrash floor reads the same counters consistently.
    #   Right for a per-micro-batch policy check at 10^10 vectors,
    #   where even a column-pruned corpus scan per epoch dominates
    #   the stream.

    @staticmethod
    def occupancy_imbalance(
        counts: dict[tuple[int, int], int],
    ) -> float | None:
        """max/mean cell occupancy over a counts mapping — THE
        statistic; None for an empty index."""
        if not counts:
            return None
        vals = list(counts.values())
        return max(vals) / (sum(vals) / len(vals))

    def _count_cells(self, keys: DataFrame) -> dict[tuple[int, int], int]:
        return {
            (r["band"], r["bucket"]): r["n"]
            for r in keys.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }

    def live_cell_counts(self) -> dict[tuple[int, int], int]:
        """EXACT per-(band, bucket) live-key occupancy, overlay
        folded — the scan-derived form of the statistic and the
        reference the incremental counters reconcile against."""
        keys = self.live("keys")
        return {} if keys is None else self._count_cells(keys)

    def enable_occupancy_tracking(self) -> None:
        """Start maintaining the incremental counters (idempotent).
        On an index already holding data this pays ONE exact scan to
        initialize; every later epoch updates O(batch)."""
        if self._cell_counts is None:
            self._cell_counts = self.live_cell_counts()

    @property
    def occupancy_counts(self) -> dict[tuple[int, int], int] | None:
        """The incremental counters (None when tracking is off) —
        a driver-side dict read, ZERO Spark work."""
        return self._cell_counts

    def reconcile_occupancy(self) -> dict[tuple[int, int], int]:
        """One exact scan → counters: the sanctioned OUT-OF-BAND
        reconcile point (physical folds reconcile automatically; the
        rebuild policy calls this to confirm a counter crossing
        before paying for a rebuild). Returns the exact counts; when
        tracking is on they replace the envelope — persisted at the
        next manifest commit (a crash before it reloads the older
        gross form, which is still a valid envelope)."""
        counts = self.live_cell_counts()
        if self._cell_counts is not None:
            self._cell_counts = counts
        return counts

    def _track_appended_keys(self, keys: DataFrame) -> None:
        if self._cell_counts is None:
            return
        for cell, n in self._count_cells(keys).items():
            self._cell_counts[cell] = self._cell_counts.get(cell, 0) + n

    def _track_folded_keys(self, keys: DataFrame | None) -> None:
        if self._cell_counts is None:
            return
        self._cell_counts = (
            self._count_cells(keys) if keys is not None else {}
        )

    # the ONE banding scheme — shared with EmbeddingIndex so the two
    # index families can never drift apart on cell geometry
    _band_keys = staticmethod(EmbeddingIndex._band_keys)

    # -- key-scheme hooks (overridden by IVFVectorIndex) ---------------------

    def _key_frame(self, df: DataFrame) -> DataFrame:
        """(vec_id, band, bucket) stored keys for a batch."""
        return self._band_keys(df)

    def topk(
        self,
        queries: DataFrame,
        k: int | None = None,
        exclude_self: bool = False,
    ) -> DataFrame:
        """ANN top-k over the held corpus for each row of ``queries``
        (query_id, embedding): each query probes its band buckets
        plus every Hamming<=probe_hamming perturbation, candidates
        re-rank by exact cosine, ties break (cosine desc,
        neighbor_id asc). ``exclude_self`` drops neighbor_id ==
        query_id pairs — for query vectors that are corpus members
        (the ann_* registry convention). Output: (query_id,
        neighbor_id, cosine, rank).

        Plan shape: the probe frame (|queries| × N_BANDS × probe
        width rows) broadcasts against the banded keys; candidate ids
        join vals by id for the exact re-rank — the corpus-sized
        frames are never shuffled, and with a store the keys scan is
        band/bucket row-group-prunable.

        Construction: ONE spark.sql over memoized parts views (a
        Column-API construction was 568 py4j round-trips per call,
        the dominant serving-path cost — guide §7.3);
        tests/test_topk_sql_parity.py pins the rows against the
        DuckDB vector_topk_sql mirror."""
        from .similarity import TOP_K

        if k is None:
            k = TOP_K
        if self.keys is None:
            return self.spark.createDataFrame([], _TOPK_SCHEMA)
        with self._views.lease() as view:
            return self.spark.sql(
                self._topk_sql(view, queries, k, exclude_self)
            )

    def _topk_sql(
        self, view, queries: DataFrame, k: int, exclude_self: bool
    ) -> str:
        """The whole topk plan as ONE Spark SQL text, its query-side
        views registered through the caller's lease ``view``. The
        shared query frame is expanded textually, never as a CTE (see
        _AppendOnlyIndex one-SQL notes)."""
        from .similarity import _dot_sparksql, _norm_sparksql

        q_sub, cand = self._candidates_sql(view, queries, exclude_self)
        vsub = self._parts_view("vals")
        c = (
            f"{_dot_sparksql('qv', 'cv')} / "
            f"({_norm_sparksql('qv')} * {_norm_sparksql('cv')})"
        )
        cos = f"(floor(({c}) * 1e6 + 0.5D) / 1e6)"
        scored = f"""(SELECT /*+ BROADCAST(q) */ c.query_id, c.neighbor_id, {cos} AS cosine
  FROM {cand} c
  JOIN (SELECT vec_id AS neighbor_id, embedding AS cv FROM {vsub}) v USING (neighbor_id)
  JOIN {q_sub} q USING (query_id))"""
        return f"""SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT query_id, neighbor_id, cosine,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
  FROM {scored})
WHERE rank <= {k}"""

    def _candidates_sql(
        self, view, queries: DataFrame, exclude_self: bool
    ) -> tuple[str, str]:
        """(q_sub, cand) as SQL text over the lease ``view``: the query
        subquery (query_id, qv), and the distinct (query_id,
        neighbor_id) pairs its probe keys reach in the live keys —
        what topk re-ranks and what ``--ann-frontier`` counts."""
        ksub = self._parts_view("keys")
        q_sub = (
            f"(SELECT CAST(query_id AS BIGINT) AS query_id, "
            f"embedding AS qv FROM {view(queries, 'q')})"
        )
        probe = self._probe_sql(q_sub, queries, view)
        self_pred = (
            "\n  WHERE k.neighbor_id != p.query_id" if exclude_self else ""
        )
        cand = f"""(SELECT DISTINCT query_id, neighbor_id FROM (
  SELECT /*+ BROADCAST(p) */ query_id, neighbor_id
  FROM (SELECT vec_id AS neighbor_id, band, bucket FROM {ksub}) k
  JOIN {probe} p USING (band, bucket){self_pred}))"""
        return q_sub, cand

    def _probe_sql(self, q_sub: str, queries: DataFrame, view) -> str:
        """(query_id, band, bucket) probe keys as SQL text over the
        ``q_sub`` query subquery (query_id, qv): sign-LSH buckets (the
        stored keys' banding) plus every Hamming<=probe_hamming
        perturbation. ``queries`` and the topk's lease ``view`` are
        for subclasses whose probe has no SQL text form."""
        from .similarity import (
            N_BANDS,
            PLANES_PER_BAND,
            _probe_masks,
            _sign_bucket_sparksql,
        )

        P = PLANES_PER_BAND
        bands = ", ".join(
            _sign_bucket_sparksql("embedding", b * P, P)
            for b in range(N_BANDS)
        )
        bk = (
            f"(SELECT vec_id, posexplode(array({bands})) AS (band, bucket) "
            f"FROM (SELECT query_id AS vec_id, qv AS embedding FROM {q_sub}))"
        )
        if self.probe_hamming:
            masks = _probe_masks(P, self.probe_hamming)
            arr = (
                "array("
                + ", ".join(f"(bucket ^ {m})" for m in masks)
                + ")"
            )
            return (
                f"(SELECT query_id, band, explode({arr}) AS bucket "
                f"FROM (SELECT vec_id AS query_id, band, bucket FROM {bk}))"
            )
        return f"(SELECT vec_id AS query_id, band, bucket FROM {bk})"


class IVFVectorIndex(VectorIndex):
    """VectorIndex with a TRAINED, FROZEN coarse quantizer instead of
    sign-LSH bands — the maintained-index form of ann_ivf_trained_topk
    (the topology real ANN deployments run: FAISS-style IVF indexes
    train their coarse codebook once at build and assign every later
    insert under it; retraining is a rebuild, not an update — the
    reference's knn_vector mapping types sit on exactly such engines,
    pgsync/constants.py:117).

    The FIRST ingest trains IVF_CELLS centroids over that seed batch
    (similarity._ivf_trained_centroids_impl with init="hash" —
    integer-exact Lloyd over a bounded hash-sample, codebook
    initialized from the sample's own hash-smallest rows, so ANY seed
    corpus with >= IVF_CELLS sampled vectors trains; deterministic,
    oracle-replayable). Every later batch — CDC upserts included —
    assigns under the STORED centroids in one Arrow pass
    (ivf_assign_trained), so a CDC update that moves a vector moves
    its CELL. Keys: (vec_id, band=0, bucket=cell_id). A query probes
    its IVF_NPROBE nearest cells; candidates re-rank by exact cosine
    — the same broadcast-probe + id-join plan as the LSH form,
    cell-pruned instead of band-pruned. ``rebuild()`` retrains over
    the live corpus and reassigns behind one atomic manifest flip —
    the retrain-is-a-rebuild half of the FAISS discipline.

    Centroids are INDEX STATE: persisted in the manifest
    (_manifest_extra) and restored by load(), like BM25's analyzer —
    keys assigned under one codebook are unreadable under another."""

    family = "ivf"

    def __init__(
        self,
        spark: SparkSession,
        store_dir: str | None = None,
        overlay_cap: int | None = BROADCAST_ROW_LIMIT,
        feature_expr: str | None = None,
        sample_mod: int | None = None,
        nprobe: int | None = None,
    ):
        # probe_hamming=0: the IVF probe set is the nprobe cell list,
        # never Hamming perturbations (that dial is sign-LSH-specific)
        super().__init__(
            spark,
            store_dir,
            probe_hamming=0,
            overlay_cap=overlay_cap,
            feature_expr=feature_expr,
        )
        # PROBE-TIME behavior, not index state (the probe_hamming
        # precedent: load() builds with the default and a caller sets
        # it per deployment) — the serving half of the
        # ann_probe_cost_frontier measurement: widen for recall on a
        # corpus the frontier shows still climbing, narrow to 1-2
        # where it saturates (CLI: --ann-nprobe)
        if nprobe is None:
            from .similarity import IVF_NPROBE

            nprobe = IVF_NPROBE
        from .similarity import IVF_CELLS

        if not 1 <= nprobe <= IVF_CELLS:
            raise ValueError(
                f"nprobe must be in [1, {IVF_CELLS}] (cells probed "
                f"per query; the codebook has {IVF_CELLS} cells), "
                f"got {nprobe}"
            )
        self.nprobe = nprobe
        self._cents: list[list[int]] | None = None
        # completed rebuild() count — durable "a rebuild happened"
        # bookkeeping that deliberately lives OUTSIDE the applied-epoch
        # set (see rebuild() on why an epoch number would collide with
        # a bound stream's next micro-batch)
        self._rebuilds = 0
        # training hash-sample modulus (None = the PQT_SAMPLE_MOD
        # default): the budget dial for corpora whose default sample
        # would exceed the driver-side training budget. TRAINING
        # STATE — persisted in the manifest so rebuild() re-samples
        # under the same discipline (CLI: --ivf-sample-mod).
        if sample_mod is not None and sample_mod < 1:
            raise ValueError(
                f"sample_mod must be >= 1, got {sample_mod}"
            )
        self.sample_mod = sample_mod

    def _manifest_extra(self) -> dict:
        return {
            **super()._manifest_extra(),
            "ivf_cents": self._cents,
            "rebuilds": self._rebuilds,
            "sample_mod": self.sample_mod,
        }

    def _load_manifest_extra(self, m: dict) -> None:
        super()._load_manifest_extra(m)
        self._cents = m.get("ivf_cents")
        self._rebuilds = m.get("rebuilds", 0)
        self.sample_mod = m.get("sample_mod")

    def _adopt(self, key: str, requested) -> None:
        if key == "sample_mod" and self.sample_mod is None:
            # trained before the dial existed, so under the default
            from .similarity import PQT_SAMPLE_MOD

            self.sample_mod = PQT_SAMPLE_MOD
        super()._adopt(key, requested)

    def _require_cents(self) -> list[list[int]]:
        if self._cents is None:
            raise ValueError(
                "IVFVectorIndex has no trained codebook — the FIRST "
                "ingest trains it; seed with a representative corpus "
                "before querying or applying CDC"
            )
        return self._cents

    def _check_cdc_ready(self) -> None:
        # a CDC batch must never TRAIN (the codebook froze at seed;
        # training on a mutation batch would silently re-bucket
        # nothing but the batch) — require it up front for a clear
        # error instead of _key_frame training on the wrong corpus
        self._require_cents()

    def truncate(self, epoch: int | None = None) -> DataFrame:
        """Corpus clear is a REBUILD for a trained index: the codebook
        was fit to the corpus being dropped, so it drops too — the
        next ingest is a first ingest and retrains on ITS corpus.
        Keeping centroids fit to a deleted corpus would silently
        degrade recall on the replacement (r10 review pass 2).

        The slot clears BEFORE the base truncate so its ONE atomic
        manifest flip persists both the empty corpus and the cleared
        codebook (clearing after left a crash window where a
        committed truncate still carried the dead corpus's centroids
        — r10 review pass 3); a failed truncate restores the
        in-memory slot so a live index never retrains mid-corpus."""
        prev, self._cents = self._cents, None
        try:
            return super().truncate(epoch)
        except BaseException:
            self._cents = prev
            raise

    def rebuild(self) -> DataFrame:
        """Retrain the coarse codebook over the CURRENT live corpus
        and reassign every live vector under it, cut over as ONE
        atomic manifest flip — the missing half of "retraining is a
        rebuild" (the seed codebook froze on the first batch; a
        corpus that has grown or drifted since serves under cell
        geometry fit to data that may no longer exist — the
        reference-side analog is the cluster reindex a knn_vector
        mapping change forces, ref: pgsync/constants.py:117).

        Semantics: fold the CDC overlay to the live corpus, run the
        SAME integer-exact Lloyd training over it (init="hash" — the
        corpus-agnostic init, so any live corpus with >= IVF_CELLS
        sampled vectors retrains), assign every live vector under the
        new centroids in one Arrow pass, and cut over through
        _cutover: ONE manifest flip persists the new segment AND the
        new codebook AND the bumped ``rebuilds`` counter together
        (keys assigned under one codebook are unreadable under
        another, so they must travel in the same atomic fact; a failed
        rebuild leaves the old corpus and codebook fully live, in
        memory too, and deletes its ghost segment). All CDC overlay
        state folds into the rebuild (it is also a compact), so the
        next epoch starts on the append-only fast path.

        Deliberately EPOCH-LESS maintenance, like ``compact()`` —
        NOT an applied epoch: a rebuild changes no corpus membership
        and emits no decisions, and consuming next_epoch() would
        hand it exactly the number a bound stream's NEXT micro-batch
        arrives with — that batch would then see epoch_applied() and
        replay the rebuild's empty decisions instead of indexing
        (silent data loss, found in this round's review pass). The
        "a rebuild happened" durability lives in the manifest's
        ``rebuilds`` counter instead. Returns an empty decisions
        frame for call-site symmetry with the other lifecycle ops.

        Scale shape: training is driver-side over the bounded
        hash-sample (raises over budget); reassignment + rewrite is
        one full-corpus Arrow pass — O(corpus), the cost a rebuild
        fundamentally is, paid only when invoked (CLI:
        --ann-rebuild)."""
        from .. import caching
        from .similarity import (
            _ivf_trained_centroids_impl,
            ivf_assign_trained,
        )

        self._require_cents()
        vals = self.live("vals")
        if vals is None:
            raise ValueError(
                "rebuild() on an empty IVFVectorIndex — nothing to "
                "retrain on; seed with ingest() first"
            )
        # freeze the live snapshot ONCE: training samples it, the
        # reassignment scans it, and the new vals segment rewrites it
        # — one eager checkpoint instead of three overlay folds
        live = vals.select(self._ID_COL, "embedding").localCheckpoint(
            eager=True
        )
        try:
            new_cents = _ivf_trained_centroids_impl(
                live, init="hash", sample_mod=self.sample_mod
            )
            # the compact sentinel: every rebuilt row is live and
            # versionless (-1 is strictly older than any real epoch,
            # so later CDC rows always win the max-ver fold)
            ver = F.lit(-1).cast("long")
            vals = live.withColumn("ver", ver).withColumn("op", F.lit("a"))
            keys = (
                ivf_assign_trained(live, new_cents)
                .filter(F.col("rn") == 1)
                .select(
                    "vec_id",
                    F.lit(0).alias("band"),
                    F.col("cell_id").alias("bucket"),
                )
                .withColumn("ver", ver)
            )
            if self.store_dir is None:
                # store-less, the new parts must be materialized
                # before the old ones release
                keys, vals = caching.local_checkpoint_parallel([keys, vals])
            self._cutover(
                f"rebuilt-{self._rebuilds + 1}",
                keys,
                vals,
                _cents=new_cents,
                _rebuilds=self._rebuilds + 1,
            )
            return self._removed(None)
        finally:
            caching.release_local_checkpoint(live)

    def _key_frame(self, df: DataFrame) -> DataFrame:
        from .similarity import (
            _ivf_trained_centroids_impl,
            ivf_assign_trained,
        )

        if self._cents is None:
            # first ingest = build: train here so the centroids are
            # set before _append commits the manifest that persists
            # them (training collects eagerly inside). Deliberately
            # the UNmemoized impl: the _memo_trained cache keys on the
            # input PLAN's semanticHash, which a maintained index
            # seeded twice from a mutable source would alias across
            # different data snapshots — an index trains once per
            # LIFETIME, so there is nothing for a cache to save here
            # (r10 review pass 2). init="hash": a MAINTAINED index
            # seeds from arbitrary corpora (doc-hash ids, CDC
            # replays), so the codebook initializes from the
            # hash-sample itself — no fixed demo-id contract (the
            # r10-advice footgun: any corpus lacking vec_ids [5,15)
            # died here).
            self._cents = _ivf_trained_centroids_impl(
                df, init="hash", sample_mod=self.sample_mod
            )
        return (
            ivf_assign_trained(df, self._cents)
            .filter(F.col("rn") == 1)
            .select(
                "vec_id",
                F.lit(0).alias("band"),
                F.col("cell_id").alias("bucket"),
            )
        )

    def _probe_sql(self, q_sub: str, queries: DataFrame, view) -> str:
        """The trained probe is an Arrow (mapInPandas) pass with no
        SQL text form: it registers as one more leased view that the
        shared topk text reads in place of the sign-LSH probe."""
        qkeys = queries.select(
            F.col("query_id").cast("bigint").alias("vec_id"), "embedding"
        )
        return (
            f"(SELECT query_id, band, bucket FROM "
            f"{view(self._probe_frame(qkeys), 'p')})"
        )

    def _probe_frame(self, qkeys: DataFrame) -> DataFrame:
        from .similarity import ivf_assign_trained

        return ivf_assign_trained(
            qkeys, self._require_cents(), nprobe=self.nprobe
        ).select(
            F.col("vec_id").alias("query_id"),
            F.lit(0).alias("band"),
            F.col("cell_id").alias("bucket"),
        )


def ivf_topk_sql(
    corpus: str,
    queries: str,
    k: int | None = None,
    dim: int | None = None,
    exclude_self: bool = False,
    sample_mod: int | None = None,
    nprobe: int | None = None,
) -> str:
    """DuckDB mirror of a maintained IVFVectorIndex's topk over a
    ``corpus`` CTE/view (vec_id, embedding) and a ``queries``
    CTE/view (query_id, embedding) — replays the HASH-init Lloyd
    training over the corpus (the geometry a maintained index holds
    after seeding on, or rebuilding over, exactly that corpus),
    assigns the corpus under the trained centroids, probes each
    query's IVF_NPROBE nearest cells, and exact-cosine re-ranks.
    Queries need NOT be corpus members (they quantize and rank
    against the trained centroids directly — the engine-maintained
    form, where query vectors are featurized query TEXTS). Returns
    "<internal CTEs>, <final SELECT>" to append after the caller's
    own WITH list, like vector_topk_sql."""
    from .hashing import round6_sql
    from .similarity import (
        IVF_NPROBE,
        IVFT_ITERS,
        TOP_K,
        _dot_sql,
        _ivf_trained_sql_ctes,
        _norm_sql,
        _normalized_sql,
    )

    if k is None:
        k = TOP_K
    if nprobe is None:
        nprobe = IVF_NPROBE
    if dim is None:
        from .similarity import EMB_DIM

        dim = EMB_DIM
    self_pred = (
        " AND a.neighbor_id <> p.query_id" if exclude_self else ""
    )
    cos = round6_sql(
        _dot_sql("q.embedding", "c.embedding")
        + " / ("
        + _norm_sql("q.embedding")
        + " * "
        + _norm_sql("c.embedding")
        + ")"
    )
    ctes = _ivf_trained_sql_ctes(
        corpus=corpus, init="hash", dim=dim, sample_mod=sample_mod
    )
    return f"""{ctes},
iq_norm AS (
  SELECT query_id, {_normalized_sql("embedding")} AS nv FROM {queries}
),
iq_pts AS (
  SELECT query_id, d,
         CAST(floor(nv[d + 1] * 1e6 + 0.5) AS BIGINT) AS q
  FROM iq_norm, (SELECT unnest(range({dim})) AS d)
),
iq_dist AS (
  SELECT p.query_id, c.c, sum((p.q - c.q) * (p.q - c.q)) AS dd
  FROM iq_pts p JOIN icent{IVFT_ITERS} c ON c.d = p.d
  GROUP BY p.query_id, c.c
),
iq_probe AS (
  SELECT query_id, c AS cell_id FROM (
    SELECT query_id, c,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY dd, c) AS rn
    FROM iq_dist
  ) WHERE rn <= {nprobe}
),
iassign AS (
  SELECT vec_id AS neighbor_id, cell_id FROM itrk WHERE rn = 1
),
ivcand AS (
  SELECT p.query_id, a.neighbor_id
  FROM iq_probe p JOIN iassign a ON a.cell_id = p.cell_id{self_pred}
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT v.query_id, v.neighbor_id, {cos} AS cosine,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY v.query_id
           ORDER BY {cos} DESC, v.neighbor_id) AS INT) AS rank
  FROM ivcand v
  JOIN {queries} q ON q.query_id = v.query_id
  JOIN {corpus} c ON c.vec_id = v.neighbor_id
) WHERE rank <= {k}"""


def vector_topk_sql(
    corpus: str,
    queries: str,
    k: int | None = None,
    probe_hamming: int | None = None,
    exclude_self: bool = False,
) -> str:
    """DuckDB mirror of VectorIndex.topk over a ``corpus`` CTE/view
    (vec_id, embedding) and a ``queries`` CTE/view (query_id,
    embedding) — band keys, multi-probe expansion, distinct
    candidates, exact-cosine re-rank, all expression-for-expression
    with the engine. Returns "<internal CTEs>, <final SELECT>" to
    append after the caller's own WITH list:
    ``f"WITH mycte AS (...), {vector_topk_sql('mycte', 'q')}"``."""
    from .similarity import (
        N_BANDS,
        PLANES_PER_BAND,
        PROBE_HAMMING,
        TOP_K,
        _band_bucket_sql,
        _dot_sql,
        _norm_sql,
        probe_buckets_sql,
    )
    from .hashing import round6_sql

    if k is None:
        k = TOP_K
    if probe_hamming is None:
        probe_hamming = PROBE_HAMMING
    vkeys = " UNION ALL ".join(
        f"SELECT vec_id, {b} AS band, "
        f"{_band_bucket_sql('embedding', b)} AS bucket FROM {corpus}"
        for b in range(N_BANDS)
    )
    qkeys = " UNION ALL ".join(
        f"SELECT query_id, {b} AS band, "
        f"{_band_bucket_sql('embedding', b)} AS bucket FROM {queries}"
        for b in range(N_BANDS)
    )
    if probe_hamming:
        probes = (
            "SELECT query_id, band, unnest("
            + probe_buckets_sql("bucket", PLANES_PER_BAND, probe_hamming)
            + ") AS bucket FROM vqkeys"
        )
    else:
        probes = "SELECT query_id, band, bucket FROM vqkeys"
    self_pred = " AND k.vec_id <> p.query_id" if exclude_self else ""
    cos = round6_sql(
        _dot_sql("q.embedding", "c.embedding")
        + " / ("
        + _norm_sql("q.embedding")
        + " * "
        + _norm_sql("c.embedding")
        + ")"
    )
    return f"""vkeys AS ({vkeys}),
vqkeys AS ({qkeys}),
vprobe AS ({probes}),
vcand AS (
  SELECT DISTINCT p.query_id, k.vec_id AS neighbor_id
  FROM vprobe p JOIN vkeys k
    ON k.band = p.band AND k.bucket = p.bucket{self_pred}
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT vcand.query_id, vcand.neighbor_id, {cos} AS cosine,
         CAST(ROW_NUMBER() OVER (PARTITION BY vcand.query_id
              ORDER BY {cos} DESC, vcand.neighbor_id) AS INT) AS rank
  FROM vcand
  JOIN {queries} q ON q.query_id = vcand.query_id
  JOIN {corpus} c ON c.vec_id = vcand.neighbor_id
) WHERE rank <= {k}"""
