"""Incremental BM25 inverted index — streaming-maintained lexical
retrieval state, the search-index sibling of the dedup indexes (the
reference maintains its search index incrementally the same way: every
sync batch upserts documents into Elasticsearch and queries hit the
continuously-updated index, ref: pgsync/sync.py poll loop +
search_client.py bulk; this is that lifecycle with the index state
owned by the engine itself).

State rides the shared `_AppendOnlyIndex` machinery (append-only
segments, atomic CURRENT manifest, epoch bookkeeping, `compact()`,
`bind_stream`) from dedup_index.py:

- postings (keys frame): ``(band, term, doc_id, tf, dl, ver)`` — band =
  h32(term) % BM25_INDEX_BANDS is the on-disk partition key
  (partitionBy("band") in the base class), so a query's scan prunes to
  its terms' directories exactly like the dedup band dirs.
  ``dl`` is denormalized onto each posting so scoring never joins the
  corpus-sized docstats side. ``ver`` is the epoch that wrote the
  doc version the posting belongs to.
- docstats (vals frame): ``(doc_id, dl, lang, source, ver, op)`` —
  one row per ingested doc VERSION. Docs with zero tokens hold no
  postings but still count toward N / avgdl, exactly like the
  one-shot scorer. ``op`` is 'a' for bulk ``ingest()`` rows, 'u' for
  ``apply_cdc`` upserts, 'd' for delete tombstones (dl, lang and
  source NULL — every reader folds the overlay first).

UPDATE/DELETE (the reference's entire reason to exist is keeping a
search index in sync under CDC — ref: pgsync/sync.py:1254-1343 delete
paths, search_client.py:100-212 bulk delete actions) is append-only
Lucene-style: ``apply_cdc`` appends new-version postings/stats and
delete tombstones; nothing is rewritten in place. Query time folds a
CDC OVERLAY (``live``): docs never touched by CDC (op='a' only) pass
the broadcast left join untouched, docs with CDC rows resolve to their
max-``ver`` row (tombstone on top = dead). The overlay is sized by
CDC traffic since the last ``compact()`` — compact() folds shadowed
versions and tombstones away physically and resets the overlay to
zero, exactly Lucene's merge. On-disk, the ``op != 'a'`` overlay scan
prunes bulk segments at the parquet row-group level (op is constant
'a' there, min/max stats skip them).

BM25 is incremental BY ADDITIVITY: N, sum_dl, df(term), tf are all
per-doc sums, so an index built from ANY batch split scores
bit-identically to the one-shot batch scorer (queries.py
_bm25_scored_sparksql, whose fixed-point micro-nat discipline topk()
mirrors expression-for-expression). That equivalence is the oracle:
bm25_incremental_topk ingests in 3 batches and must hash-match
text_bm25_topk's one-shot DuckDB SQL.

Scale shape: ingest is one O(batch) explode→(doc,term) count (index
BUILD pays the tf shuffle once per batch, so queries never do);
query-time cost is a partition-pruned postings slice over |terms|
bands, two 1-row stat aggregates broadcast back, and a TakeOrdered
top-k — the held corpus is never rescanned or reshuffled.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup_index import _AppendOnlyIndex
from .hashing import analyze, h32, h32_py

# on-disk partition fan-out for postings; a query prunes to
# |terms| / BM25_INDEX_BANDS of the directory tree
BM25_INDEX_BANDS = 32


def _band_of(term: str) -> int:
    """Python-side mirror of h32(term) % BM25_INDEX_BANDS for query
    planning (the predicate must be a literal for partition pruning)."""
    return h32_py(term) % BM25_INDEX_BANDS


class BM25Index(_AppendOnlyIndex):
    """See module docstring. Rows: (doc_id, text, lang, source).
    ingest() never drops docs (a search index accepts everything) —
    decisions are structurally empty, which keeps the base class's
    exactly-once epoch replay semantics intact for streaming
    front-ends; apply_cdc's decisions are the deleted doc_ids.

    ``analyzer`` names the tokenizer (hashing.ANALYZERS): "whitespace"
    (lowercase + whitespace split — the historical default) or
    "standard" (lowercase + ASCII-alnum runs, so 'Priority.' and
    'priority' collide — the engine's analogue of the reference
    sink's analyzer settings, ref: pgsync/search_client.py:261-303,
    constants.py:132-162). The analyzer is INDEX STATE: it is
    persisted in the manifest and restored by load() — postings
    tokenized one way are unreadable under another, so a loaded store
    always re-binds the analyzer that wrote it. Query text must be
    analyzed the same way (``analyze_terms``)."""

    _KEYS_NAME = "postings"
    _VALS_NAME = "docstats"
    _PAYLOAD = ("dl", "lang", "source")

    def __init__(self, *args, analyzer: str = "whitespace", **kwargs):
        from .hashing import _check_analyzer

        super().__init__(*args, **kwargs)
        _check_analyzer(analyzer)
        self.analyzer = analyzer

    def _manifest_extra(self) -> dict:
        return {"analyzer": self.analyzer}

    def _load_manifest_extra(self, m: dict) -> None:
        # pre-analyzer manifests were all whitespace-tokenized
        self.analyzer = m.get("analyzer", "whitespace")

    def analyze_terms(self, text: str) -> tuple[str, ...]:
        """Analyze QUERY text with the index's own analyzer — terms
        tokenized differently from the postings match nothing."""
        from .hashing import analyze_py

        return tuple(analyze_py(text, self.analyzer))

    def _prepare(self, ups: DataFrame) -> tuple[DataFrame, list]:
        # ONE tokenize pass feeds both frames (r7 review: independent
        # plans re-ran the scan+tokenize per _append materialization)
        base = (
            ups.select(
                "doc_id",
                # NULL text tokenizes as empty, never as a NULL toks
                # whose size(-1/NULL) would silently poison sum_dl /
                # avgdl for every later query — one malformed streamed
                # record must not corrupt corpus stats. String arg →
                # the single-parse analyze form (same tree).
                analyze("coalesce(text, '')", self.analyzer).alias(
                    "toks"
                ),
                "lang",
                "source",
            )
            .withColumn("dl", F.size("toks"))
            .persist()
        )
        return base, [base]

    def _key_frame(self, base: DataFrame) -> DataFrame:
        return (
            base.select("doc_id", "dl", F.explode("toks").alias("term"))
            .groupBy("doc_id", "dl", "term")
            .agg(F.count(F.lit(1)).cast("long").alias("tf"))
            .select(
                (h32("term") % F.lit(BM25_INDEX_BANDS)).alias("band"),
                "term",
                "doc_id",
                "tf",
                "dl",
            )
        )

    def topk(self, terms: tuple[str, ...], k: int = 10) -> DataFrame:
        """BM25 top-k over the held corpus for ``terms`` — the same
        fixed-point micro-nat arithmetic as queries._bm25_scored_sparksql
        (floor-snapped idf per term, bigint per-term contributions),
        so results are bit-identical to one-shot scoring of the same
        docs. Output: (doc_id, lang, source, score_micro, rank).

        Construction: ONE spark.sql over memoized parts views (a
        Column-API construction was 819 py4j round-trips per call —
        the dominant cost of every serving/hybrid BM25 leg; guide
        §7.3). tests/test_topk_sql_parity.py pins the rows against
        the one-shot DuckDB scorer, CDC and no-CDC."""
        if self.keys is None or not terms:
            # empty index, or a query whose every term was filtered
            # away upstream (stopword removal): a typed empty result,
            # not a Spark analysis crash over zero agg columns
            return self.spark.createDataFrame(
                [],
                "doc_id bigint, lang string, source string, "
                "score_micro bigint, rank int",
            )
        return self.spark.sql(self._topk_sql(terms, k))

    def _topk_sql(self, terms: tuple[str, ...], k: int) -> str:
        """The whole topk plan as ONE Spark SQL text; shared subtrees
        expanded textually, never as CTEs (see _AppendOnlyIndex
        one-SQL notes). Terms ride through the _spark_sql_str escaper
        so arbitrary query text can never break out of the literal.

        Per-term document frequency comes straight off the pruned
        slice: a doc holds at most one live posting per term (ingest
        groups per (doc, term); the CDC fold keeps one version), so
        count(slice rows with term=t AND tf>0) is the df. The dfs ride
        the SAME one-row broadcast as the corpus stats — a map-side-
        combined aggregate, NOT an unpartitioned window (that funnels
        every candidate through ONE partition, a serial stage whenever
        a term is near-stopword-frequent, guide §2.5) and NOT an
        aggregate over the candidate pivot (a second evaluation of the
        GROUP BY = the slice shuffled twice per query). A term absent
        from the whole held corpus has no df row and scores 0, like
        the one-shot scorer's sum over no hits."""
        from ..operators.filters import _spark_sql_str as _sq
        from ..queries import bm25_term_micro

        kview = self._parts_view("keys")
        vsub = self._parts_view("vals")
        bands = sorted({_band_of(t) for t in terms})
        in_bands = ", ".join(str(b) for b in bands)
        in_terms = ", ".join(_sq(t) for t in terms)
        # over a CDC-folded view the slice still prunes first: Catalyst
        # pushes this filter through the fold's left join, so the
        # overlay join runs over the |terms|-band slice, never the
        # whole postings corpus
        sl = (
            f"(SELECT * FROM {kview} WHERE band IN ({in_bands}) "
            f"AND term IN ({in_terms}))"
        )
        tfs = ",\n  ".join(
            f"coalesce(max(CASE WHEN (term = {_sq(t)}) THEN tf END), "
            f"CAST(0 AS BIGINT)) AS tf{i}"
            for i, t in enumerate(terms)
        )
        cand = (
            f"(SELECT doc_id, dl,\n  {tfs}\n  FROM {sl} "
            f"GROUP BY doc_id, dl)"
        )
        dfs = ", ".join(
            f"sum(CAST(((term = {_sq(t)}) AND (tf > 0)) AS BIGINT)) AS df{i}"
            for i, t in enumerate(terms)
        )
        stats = f"""(SELECT * FROM (
  SELECT n_docs, sum_dl, CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE) AS avgdl
  FROM (SELECT count(1) AS n_docs, sum(dl) AS sum_dl FROM {vsub}))
  CROSS JOIN (SELECT {dfs} FROM {sl}))"""
        score = " + ".join(
            bm25_term_micro(
                f"tf{i}",
                f"coalesce(df{i}, CAST(0 AS BIGINT))",
                "n_docs",
                "dl",
                "avgdl",
            )
            for i in range(len(terms))
        )
        top = f"""(SELECT doc_id, score_micro FROM (
  SELECT /*+ BROADCAST(s) */ doc_id, {score} AS score_micro
  FROM {cand} CROSS JOIN {stats} s)
  WHERE score_micro > 0 ORDER BY score_micro DESC, doc_id LIMIT {k})"""
        return f"""SELECT doc_id, lang, source, score_micro,
       CAST(ROW_NUMBER() OVER (ORDER BY score_micro DESC, doc_id) AS INT) AS rank
FROM (SELECT /*+ BROADCAST(t) */ v.doc_id, v.lang, v.source, t.score_micro
      FROM (SELECT doc_id, lang, source FROM {vsub}) v JOIN {top} t USING (doc_id))"""
