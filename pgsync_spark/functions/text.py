"""Text-analysis operators over the `documents` table: token counting,
quality scoring, language ID, document fingerprinting.

All pure Column expressions (JVM-side, codegen) — no Python in the hot
path; linear in input size, embarrassingly parallel, no shuffles except
final aggregation-free projection. Each has a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .hashing import (h32_sparksql, h32_sql, perm_sparksql, perm_sql, round6, round6_sql, shingles, shingles_sql, tokens, tokens_sparksql, tokens_sql)

# tiny per-language stopword lists for the n-gram/stopword heuristic
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "for", "on"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "por", "con", "los"],
    "de": ["der", "die", "und", "das", "ist", "von", "mit", "für", "auf", "ein"],
    "fr": ["le", "la", "et", "les", "des", "en", "un", "du", "que", "pour"],
}


def text_stats(df: DataFrame) -> DataFrame:
    """Token count, distinct count, avg word length, quality score.

    quality = 0.4·min(1, n/100) + 0.3·uniq_ratio + 0.3·min(1, avg_len/8)
    — all double arithmetic with a fixed evaluation order so the oracle
    reproduces it bit-for-bit.

    Single-parse construction (guide §7.3; D-suffixed double literals
    mirror the former F.lit doubles — see cosine6)."""
    from .hashing import tokens_sparksql

    ts = tokens_sparksql("text")
    n = f"CAST(size({ts}) AS DOUBLE)"
    uniq = f"CAST(size(array_distinct({ts})) AS DOUBLE)"
    avg_len = (
        f"aggregate({ts}, 0.0D, (acc, x) -> acc + "
        f"CAST(length(x) AS DOUBLE)) / nullif({n}, 0.0D)"
    )
    quality = (
        f"0.4D * least(1.0D, {n} / 100.0D) "
        f"+ 0.3D * ({uniq} / nullif({n}, 0.0D)) "
        f"+ 0.3D * least(1.0D, ({avg_len}) / 8.0D)"
    )
    return df.selectExpr(
        "doc_id",
        f"size({ts}) AS n_tokens",
        f"size(array_distinct({ts})) AS n_uniq_tokens",
        f"(floor(({avg_len}) * 1e6 + 0.5D) / 1e6) AS avg_token_len",
        f"(floor(({quality}) * 1e6 + 0.5D) / 1e6) AS quality",
    )


def text_stats_sql() -> str:
    tok = tokens_sql("text")
    n = f"CAST(len(toks) AS DOUBLE)"
    uniq = "CAST(len(list_distinct(toks)) AS DOUBLE)"
    avg_len = (
        "list_reduce(list_prepend(0.0, list_transform(toks, "
        "x -> CAST(length(x) AS DOUBLE))), (a, b) -> a + b) / nullif(" + n + ", 0.0)"
    )
    quality = (
        f"0.4 * least(1.0, {n} / 100.0) + 0.3 * ({uniq} / nullif({n}, 0.0)) "
        f"+ 0.3 * least(1.0, ({avg_len}) / 8.0)"
    )
    return f"""
        SELECT doc_id,
               len(toks) AS n_tokens,
               len(list_distinct(toks)) AS n_uniq_tokens,
               {round6_sql(avg_len)} AS avg_token_len,
               {round6_sql(quality)} AS quality
        FROM (SELECT doc_id, {tok} AS toks FROM documents)
    """


def lang_id(df: DataFrame) -> DataFrame:
    """Stopword-hit language ID with deterministic tiebreak (score desc,
    language code asc). The declared `lang` column rides along so accuracy
    can be inspected; prediction depends only on `text`."""
    tok = F.array_distinct(tokens("text"))
    scores = [
        F.size(F.array_intersect(tok, F.array(*[F.lit(w) for w in ws]))).alias(
            f"score_{lang}"
        )
        for lang, ws in STOPWORDS.items()
    ]
    scored = df.select("doc_id", "lang", *scores)
    best = F.greatest(*[F.col(f"score_{lang}") for lang in STOPWORDS])
    pred = F.lit("und")
    for lang in sorted(STOPWORDS, reverse=True):
        pred = F.when(
            (F.col(f"score_{lang}") == best) & (best > 0), F.lit(lang)
        ).otherwise(pred)
    return scored.select(
        "doc_id", "lang", pred.alias("pred_lang"), best.alias("best_score")
    )


def lang_id_sql() -> str:
    tok = f"list_distinct({tokens_sql('text')})"
    # literal lists: ['the','and',...]
    score_cols = ", ".join(
        "len(list_intersect(toks, ["
        + ", ".join("'" + w.replace("'", "''") + "'" for w in ws)
        + f"])) AS score_{lang}"
        for lang, ws in STOPWORDS.items()
    )
    best = "greatest(" + ", ".join(f"score_{lang}" for lang in STOPWORDS) + ")"
    pred = "'und'"
    for lang in sorted(STOPWORDS, reverse=True):
        pred = f"CASE WHEN score_{lang} = best AND best > 0 THEN '{lang}' ELSE {pred} END"
    return f"""
        SELECT doc_id, lang, {pred} AS pred_lang, best AS best_score
        FROM (
          SELECT doc_id, lang, {best} AS best, *
          FROM (SELECT doc_id, lang, {score_cols}
                FROM (SELECT doc_id, lang, {tok} AS toks FROM documents))
        )
    """


# Gopher-style quality-rule thresholds (Rae et al. 2021 §A1.1, public),
# scaled to the synthetic corpus (short word-soup documents)
QF_MIN_WORDS = 10
QF_MAX_WORDS = 100_000
QF_MEAN_LEN_LO = 2.0
QF_MEAN_LEN_HI = 12.0
QF_MAX_SYMBOL_RATIO = 0.1
QF_MIN_STOP_HITS = 1


def quality_filter(df: DataFrame) -> DataFrame:
    """Gopher-style rule-based quality filter: word-count bounds, mean
    word length band, symbol ratio cap, minimum stopword hits. Pure
    columnar expressions; emits the measured features plus the keep
    decision so downstream pipelines can re-threshold without re-scan."""
    tok = tokens("text")
    n = F.size(tok)
    nd = n.cast("double")
    mean_len = F.aggregate(
        tok, F.lit(0.0), lambda acc, x: acc + F.length(x).cast("double")
    ) / F.nullif(nd, F.lit(0.0))
    lowered = F.lower(F.col("text"))
    symbols = F.length(lowered) - F.length(
        F.regexp_replace(lowered, "[^a-z0-9 ]", "")
    )
    symbol_ratio = symbols.cast("double") / F.nullif(
        F.length(lowered).cast("double"), F.lit(0.0)
    )
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(tok), F.array(*[F.lit(w) for w in STOPWORDS["en"]])
        )
    )
    keep = (
        (n >= QF_MIN_WORDS)
        & (n <= QF_MAX_WORDS)
        & (mean_len >= QF_MEAN_LEN_LO)
        & (mean_len <= QF_MEAN_LEN_HI)
        & (symbol_ratio <= QF_MAX_SYMBOL_RATIO)
        & (stop_hits >= QF_MIN_STOP_HITS)
    )
    return df.select(
        "doc_id",
        n.alias("n_words"),
        round6(mean_len).alias("mean_word_len"),
        round6(symbol_ratio).alias("symbol_ratio"),
        stop_hits.alias("stop_hits"),
        keep.alias("keep"),
    )


def quality_filter_sql() -> str:
    tok = tokens_sql("text")
    n = "len(toks)"
    nd = f"CAST({n} AS DOUBLE)"
    mean_len = (
        "list_reduce(list_prepend(0.0, list_transform(toks, "
        f"x -> CAST(length(x) AS DOUBLE))), (a, b) -> a + b) / nullif({nd}, 0.0)"
    )
    symbol_ratio = (
        "CAST(length(lower(text)) - length(regexp_replace(lower(text), "
        "'[^a-z0-9 ]', '', 'g')) AS DOUBLE) "
        "/ nullif(CAST(length(lower(text)) AS DOUBLE), 0.0)"
    )
    stops = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    stop_hits = f"len(list_intersect(list_distinct(toks), [{stops}]))"
    keep = (
        f"{n} >= {QF_MIN_WORDS} AND {n} <= {QF_MAX_WORDS} "
        f"AND ({mean_len}) >= {QF_MEAN_LEN_LO} AND ({mean_len}) <= {QF_MEAN_LEN_HI} "
        f"AND ({symbol_ratio}) <= {QF_MAX_SYMBOL_RATIO} "
        f"AND {stop_hits} >= {QF_MIN_STOP_HITS}"
    )
    return f"""
        SELECT doc_id, {n} AS n_words,
               {round6_sql(mean_len)} AS mean_word_len,
               {round6_sql(symbol_ratio)} AS symbol_ratio,
               {stop_hits} AS stop_hits,
               ({keep}) AS keep
        FROM (SELECT doc_id, text, {tok} AS toks FROM documents)
    """


# -- model-based quality scoring (the fastText-filter pipeline step) --------
# Hashed bag-of-words LINEAR classifier: feature index = h32(token) %
# QC_DIM, doc score = mean feature weight in milli-units. This is the
# "model-based quality filter" stage of CCNet/FineWeb-style pipelines
# (a linear model over hashed token features IS fastText's
# architecture); the weights here are a deterministic md5-derived
# pseudo-model so both engines score bit-identically — a real trained
# model drops in by replacing QC_WEIGHTS_MILLI, and the operator's
# plan shape (weights ride the plan as a 256-int literal array; pure
# in-scan map, ZERO exchanges) is what the engine pins.
QC_DIM = 256
# keep threshold in milli-units. A real deployment fits this cut on a
# labeled dev set; here it sits at the pseudo-model's corpus median
# (~-198 at sf0.01) so the decision column exercises both branches
# instead of collapsing to one class.
QC_KEEP_MILLI = -198.0


def _qc_weights_milli() -> list[int]:
    from .hashing import h32_py

    return [h32_py(f"qw{j}") % 2001 - 1000 for j in range(QC_DIM)]


QC_WEIGHTS_MILLI = _qc_weights_milli()


def quality_classifier(df: DataFrame) -> DataFrame:
    """Per-doc classifier score + keep decision. Exact BIGINT weight
    sum; the mean is one int/int double division (identical IEEE
    result in both engines), rounded for the compare.

    Single-parse construction (guide §7.3): the 256-weight literal
    array alone was ~260 py4j round-trips per build (~1,400 with the
    fold lambdas — ~60% of the benched metric at sf0.1); one
    selectExpr parse builds the same expressions in-JVM. D-suffixed
    double literals keep the arithmetic in doubles (see cosine6)."""
    w = "array(" + ", ".join(str(x) for x in QC_WEIGHTS_MILLI) + ")"
    ts = tokens_sparksql("text")
    total = (
        f"aggregate(transform({ts}, t -> CAST(element_at({w}, "
        f"CAST((({h32_sparksql('t')} % {QC_DIM}) + 1) AS INT)) AS BIGINT)), "
        f"CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )
    score = (
        f"(floor((CAST({total} AS DOUBLE) / "
        f"nullif(CAST(size({ts}) AS DOUBLE), 0.0D)) * 1e6 + 0.5D) / 1e6)"
    )
    return df.selectExpr(
        "doc_id",
        "lang",
        f"size({ts}) AS n_tokens",
        f"{score} AS score_milli",
        f"COALESCE(({score}) >= {QC_KEEP_MILLI!r}D, false) AS keep",
    )


def quality_classifier_sql() -> str:
    weights = "[" + ", ".join(str(x) for x in QC_WEIGHTS_MILLI) + "]"
    total = (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(toks, t -> CAST(({weights})"
        f"[({h32_sql('t')} % {QC_DIM}) + 1] AS BIGINT))), "
        f"(a, b) -> a + b)"
    )
    score = round6_sql(
        f"CAST({total} AS DOUBLE) "
        f"/ nullif(CAST(len(toks) AS DOUBLE), 0.0)"
    )
    return f"""
        SELECT doc_id, lang, len(toks) AS n_tokens,
               {score} AS score_milli,
               COALESCE({score} >= {QC_KEEP_MILLI}, FALSE) AS keep
        FROM (SELECT doc_id, lang, {tokens_sql('text')} AS toks
              FROM documents)
    """


NGRAM_TOPK = 20


def ngram_topk(df: DataFrame) -> DataFrame:
    """Corpus-level top-K word trigrams by occurrence count. Plan shape:
    explode → hash-agg with map-side partials → distributed top-K
    (TakeOrderedAndProject via orderBy+limit — no global sort of the
    full n-gram space). Deterministic tiebreak (count desc, ngram asc)
    makes the LIMIT boundary engine-independent."""
    sh = shingles(tokens("text"), 3)
    return (
        df.select(F.explode(sh).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("ngram"))
        .limit(NGRAM_TOPK)
    )


def ngram_topk_sql() -> str:
    tok = tokens_sql("text")
    sh = shingles_sql("toks", 3)
    return f"""
        SELECT ngram, COUNT(*) AS n_occurrences
        FROM (SELECT unnest({sh}) AS ngram
              FROM (SELECT {tok} AS toks FROM documents))
        GROUP BY ngram
        ORDER BY n_occurrences DESC, ngram
        LIMIT {NGRAM_TOPK}
    """


# redaction patterns — conservative RE2/Java-regex common subset
_EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
_URL_RE = r"https?://[^ ]+"
_PHONE_RE = r"\+1-555-[0-9]+"


def pii_redact(df: DataFrame) -> DataFrame:
    """PII scrubbing: email / URL / phone patterns replaced by typed
    placeholders, with per-doc match counts. The synthetic corpus
    contains no PII, so both engines first augment the text with
    deterministic doc_id-derived contact strings — the redaction is
    then verified non-vacuously on identical inputs."""
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or +1-555-"),
        F.col("doc_id").cast("string"),
        F.lit(" via https://docs.example.com/d/"),
        F.col("doc_id").cast("string"),
    )
    n_emails = F.size(F.regexp_extract_all(aug, F.lit(_EMAIL_RE), 0))
    n_urls = F.size(F.regexp_extract_all(aug, F.lit(_URL_RE), 0))
    n_phones = F.size(F.regexp_extract_all(aug, F.lit(_PHONE_RE), 0))
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(aug, _EMAIL_RE, "<EMAIL>"), _URL_RE, "<URL>"
        ),
        _PHONE_RE,
        "<PHONE>",
    )
    return df.select(
        "doc_id",
        n_emails.alias("n_emails"),
        n_urls.alias("n_urls"),
        n_phones.alias("n_phones"),
        redacted.alias("redacted"),
    )


def pii_redact_sql() -> str:
    aug = (
        "text || ' contact user' || CAST(doc_id AS VARCHAR) || "
        "'@mail.example.com or +1-555-' || CAST(doc_id AS VARCHAR) || "
        "' via https://docs.example.com/d/' || CAST(doc_id AS VARCHAR)"
    )
    return f"""
        SELECT doc_id,
               len(regexp_extract_all({aug}, '{_EMAIL_RE}')) AS n_emails,
               len(regexp_extract_all({aug}, '{_URL_RE}')) AS n_urls,
               len(regexp_extract_all({aug}, '{_PHONE_RE}')) AS n_phones,
               regexp_replace(regexp_replace(regexp_replace({aug},
                   '{_EMAIL_RE}', '<EMAIL>', 'g'),
                   '{_URL_RE}', '<URL>', 'g'),
                   '{_PHONE_RE}', '<PHONE>', 'g') AS redacted
        FROM documents
    """


def fingerprint(df: DataFrame) -> DataFrame:
    """Document fingerprints: exact content hash (md5 of lowercased
    text), and a 1-permutation min-shingle hash — the rolling-hash
    fingerprint family (content-defined, stable under suffix edits)."""
    minsh = (
        f"array_min(transform(sh, s -> "
        f"{perm_sparksql(h32_sparksql('s'), 0)}))"
    )
    return df.select(
        "doc_id", "text", shingles(tokens("text"), 3).alias("sh")
    ).select(
        "doc_id",
        F.md5(F.lower(F.col("text"))).alias("content_hash"),
        F.expr(minsh).alias("min_shingle_hash"),
    )


def fingerprint_sql() -> str:
    tok = tokens_sql("text")
    sh = shingles_sql("toks", 3)
    minsh = f"list_min(list_transform(sh, s -> {perm_sql(h32_sql('s'), 0)}))"
    return f"""
        SELECT doc_id, md5(lower(text)) AS content_hash,
               {minsh} AS min_shingle_hash
        FROM (SELECT doc_id, text, {sh} AS sh
              FROM (SELECT doc_id, text, {tok} AS toks FROM documents))
    """
