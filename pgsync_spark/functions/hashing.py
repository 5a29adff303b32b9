"""Engine-portable hashing primitives.

Everything is built on md5 (identical output in Spark and DuckDB) so the
DuckDB oracle can reproduce Spark results bit-for-bit. Spark's native
``hash()``/``xxhash64`` would be faster but engine-specific; md5 runs
JVM-side in codegen, which is fast enough (bench-verified) and keeps the
correctness gate meaningful. The minhash permutation family is linear
``(a_i * h + b_i) mod p`` over the 32-bit md5 prefix — one md5 per
shingle total, not per permutation.

Each kernel has one Spark form, a Spark-SQL text builder
(``*_sparksql``); a Column-returning name only parses it. ``*_sql``
are the DuckDB mirrors (the oracle), ``*_py`` the driver-side ones.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# 2^61 - 1 (Mersenne prime); a_i < 2^31, h < 2^32 → a*h + b < 2^63, no overflow
MERSENNE_P = 2305843009213693951
_A_MOD = 2147483647


def perm_params(i: int) -> tuple[int, int]:
    """Deterministic permutation constants, same formula in SQL."""
    a = (2654435761 * (i + 1)) % _A_MOD or 1
    b = (40503 * (i + 7)) % _A_MOD
    return a, b


def h32_py(s: str) -> int:
    """Python-side mirror of h32 — for driver-side planning literals
    (BM25 band pruning predicates, pseudo-model weights, synthetic
    embeddings). One definition: a drifted copy would silently
    mis-bucket against the engine-side md5 convention."""
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def h32(expr: str) -> Column:
    """h32_sparksql over a column name or Spark-SQL fragment."""
    return F.expr(h32_sparksql(expr))


def h32_sparksql(expr: str) -> str:
    """First 8 hex chars of md5 as a bigint in [0, 2^32) — the one
    Spark form (text: one parse builds the tree in-JVM, where a
    Column-API chain pays a py4j round-trip per node)."""
    return f"CAST(conv(substring(md5({expr}), 1, 8), 16, 10) AS BIGINT)"


def h32_sql(expr: str) -> str:
    return f"(('0x' || substring(md5({expr}), 1, 8))::BIGINT)"


def perm_sql(expr: str, i: int) -> str:
    a, b = perm_params(i)
    return f"(({expr} * CAST({a} AS BIGINT) + {b}) % {MERSENNE_P})"


def perm_sparksql(expr: str, i: int) -> str:
    """Minhash permutation i of a 32-bit hash, (a_i * h + b_i) mod p.
    a/b are < 2^31 (plain INT literals); MERSENNE_P needs the L
    (bigint) suffix."""
    a, b = perm_params(i)
    return f"(({expr} * {a} + {b}) % {MERSENNE_P}L)"


def round6(col: Column) -> Column:
    """Portable 6-dp rounding: floor(x*1e6 + 0.5)/1e6 — pure IEEE double
    ops, bit-identical across engines. Engine-native round() differs:
    Spark rounds the shortest decimal repr (BigDecimal.valueOf), DuckDB
    rounds the true binary value, so boundary cases flip."""
    return F.floor(col * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)


def round6_sql(expr: str) -> str:
    return f"(floor(({expr}) * 1e6 + 0.5) / 1e6)"


# The split regex \s+ (Java's whitespace class) with no backslash in
# the SQL text. A backslash in a Spark SQL string literal reads one
# way by default and another under escapedStringLiterals=true ('\\s+'
# is the regex \\s+ there, so a whole document is one token, no
# error); chr(92) reads the same under both, and the optimizer folds
# the concat back to the literal \s+. Raw whitespace characters would
# parse the same too, but their line breaks would split every plan
# string that prints the pattern.
_WS_SPLIT_SQL = "concat(chr(92), 's+')"
# Java's \s is exactly [ \t\n\x0b\f\r]. The DuckDB and Python mirrors
# spell that class out: RE2's \s lacks \x0b, and str.split() also
# splits on \x85, \xa0 and \x1c-\x1f, which Java's \s does not.
_WS_SPLIT_DUCK = "[\\s\\v]+"
_WS_SPLIT_PY = re.compile("[ \t\n\x0b\f\r]+")


def tokens(expr: str) -> Column:
    """tokens_sparksql over a column name or Spark-SQL fragment."""
    return F.expr(tokens_sparksql(expr))


def tokens_sparksql(expr: str) -> str:
    """Lowercased whitespace tokens, empties dropped. Text, so one
    parse builds the filter/split/lower tree (the lambda is ~30 py4j
    round-trips through the Column API)."""
    return f"filter(split(lower({expr}), {_WS_SPLIT_SQL}), x -> x != '')"


def tokens_sql(expr: str) -> str:
    return f"list_filter(string_split_regex(lower({expr}), '{_WS_SPLIT_DUCK}'), x -> x <> '')"


# ---------------------------------------------------------------------------
# Analyzers — the engine's (tiny) analogue of the reference sink's
# analyzer surface (ref: pgsync/search_client.py:261-303 index
# settings; analysis vocabulary pgsync/constants.py:132-162). Each
# analyzer exists in THREE mirrored forms (Spark SQL text, DuckDB SQL,
# driver-side Python) so an index built with one is oracle-replayable
# and query terms can be analyzed the same way the corpus was.
# ---------------------------------------------------------------------------

ANALYZERS = ("whitespace", "standard", "standard_stop", "standard_stem")
# "standard": lowercase + ASCII-alnum runs (a Lucene-standard-ish
# word splitter) — 'Priority.' and 'priority' collide, '1-URGENT'
# yields ('1', 'urgent'). Deliberately ASCII: [a-z0-9] behaves
# identically in Spark, DuckDB, and Python re, which is what keeps
# the oracle gate meaningful; non-ASCII letters are dropped the same
# way by all three.
_STANDARD_RE = "[a-z0-9]+"

# "standard_stop": standard + drop the classic Lucene/ES English stop
# set (the reference sink supports configurable stop filtering via
# the analyzer/analysis mapping parameters its schema accepts — ref:
# pgsync/constants.py:132-162 lists that mapping-parameter
# vocabulary; the ES standard analyzer itself defaults to
# stopwords:_none_, so this is the opt-in form; BM25 rankings over
# stopword-heavy text differ materially under it).
# The list is FROZEN index vocabulary: an index built under it
# is only readable by the same list, so it lives here next to the
# analyzer name the manifest persists — never edit in place, add a
# new analyzer name instead.
STOPWORDS = (
    "a", "an", "and", "are", "as", "at", "be", "but", "by", "for",
    "if", "in", "into", "is", "it", "no", "not", "of", "on", "or",
    "such", "that", "the", "their", "then", "there", "these", "they",
    "this", "to", "was", "will", "with",
)


# "standard_stem": standard_stop + the Harman S-removal stemmer
# (plural-only; r11 verdict item 5 — full Porter is not mirrorable in
# ~20 lines across Java-regex/RE2/Python, this is): three ordered
# rules, each a capture-group regex so RE2 (DuckDB) needs no
# lookbehind —
#   1. ([^ea])ies$ -> \1y   (priorities -> priority; eies/aies exempt)
#   2. ([^aeo])es$ -> \1e   (classes -> classe; aes/ees/oes exempt)
#   3. ([^us])s$   -> \1    (dogs -> dog; kiss/bus exempt)
# Applied as one sequential replace chain (rule 1 output ends in y,
# rule 2 output in e — later rules can't re-match an earlier rule's
# output, so the chain IS the else-if cascade). Stop filtering runs
# BEFORE stemming (the Lucene/ES chain order — 'this' is stopped, not
# stemmed to 'thi'). Like the stop list, the rules are FROZEN index
# vocabulary: an index built under them is only readable by the same
# rules — never edit in place, add a new analyzer name instead.
_STEM_RULES = (
    (r"([^ea])ies$", 1, "y"),
    (r"([^aeo])es$", 1, "e"),
    (r"([^us])s$", 1, ""),
)


def _stem_chain_sql(expr: str) -> str:
    for pat, _, suf in _STEM_RULES:
        expr = f"regexp_replace({expr}, '{pat}', '\\1{suf}')"
    return expr


def _stem_py(w: str) -> str:
    for pat, _, suf in _STEM_RULES:
        w = re.sub(pat, r"\1" + suf, w)
    return w


def _check_analyzer(analyzer: str) -> None:
    if analyzer not in ANALYZERS:
        raise ValueError(
            f"unknown analyzer {analyzer!r}; one of {ANALYZERS}"
        )


def analyze(expr: str, analyzer: str = "whitespace") -> Column:
    """analyze_sparksql over a column name or Spark-SQL fragment."""
    return F.expr(analyze_sparksql(expr, analyzer))


def analyze_sparksql(expr: str, analyzer: str = "whitespace") -> str:
    """Tokenize ``expr`` with the named analyzer (array<string>). Text,
    so one parse builds the tree (the stop-array and filter/transform
    lambdas are ~60 py4j round-trips through the Column API, paid per
    ingest epoch). Every interpolated constant goes through the
    _spark_sql_str escaper; the current constants contain no quote or
    backslash, so they read the same under either
    escapedStringLiterals setting."""
    from ..operators.filters import _spark_sql_str as _sq

    _check_analyzer(analyzer)
    if analyzer == "whitespace":
        return tokens_sparksql(expr)
    toks = f"regexp_extract_all(lower({expr}), {_sq(_STANDARD_RE)}, 0)"
    if analyzer in ("standard_stop", "standard_stem"):
        lst = ", ".join(_sq(w) for w in STOPWORDS)
        toks = f"filter({toks}, x -> NOT array_contains(array({lst}), x))"
    if analyzer == "standard_stem":
        inner = "x"
        for pat, _, suf in _STEM_RULES:
            inner = (
                f"regexp_replace({inner}, {_sq(pat)}, {_sq('$1' + suf)})"
            )
        toks = f"transform({toks}, x -> {inner})"
    return toks


def analyze_sql(expr: str, analyzer: str = "whitespace") -> str:
    """DuckDB mirror of ``analyze`` — same tokens, element for
    element."""
    _check_analyzer(analyzer)
    if analyzer == "whitespace":
        return tokens_sql(expr)
    toks = f"regexp_extract_all(lower({expr}), '{_STANDARD_RE}')"
    if analyzer in ("standard_stop", "standard_stem"):
        lst = ", ".join(f"'{w}'" for w in STOPWORDS)
        toks = f"list_filter({toks}, x -> NOT list_contains([{lst}], x))"
    if analyzer == "standard_stem":
        toks = f"list_transform({toks}, x -> {_stem_chain_sql('x')})"
    return toks


def analyze_py(s: str, analyzer: str = "whitespace") -> list[str]:
    """Driver-side mirror — analyzing QUERY text the way the corpus
    was indexed (BM25Index.analyze_terms). ASCII-only semantics match
    the engine forms; exotic unicode case-folding may differ, which
    only affects driver-side query convenience, never indexed state."""
    _check_analyzer(analyzer)
    if analyzer == "whitespace":
        return [t for t in _WS_SPLIT_PY.split(s.lower()) if t]
    toks = re.findall(_STANDARD_RE, s.lower())
    if analyzer in ("standard_stop", "standard_stem"):
        toks = [t for t in toks if t not in STOPWORDS]
    if analyzer == "standard_stem":
        toks = [_stem_py(t) for t in toks]
    return toks


# ---------------------------------------------------------------------------
# Deterministic hash embedding — text → array<double>, the ONE formula
# in three mirrored forms (Spark SQL string, DuckDB SQL, Python). Used
# wherever a doc-derived vector must be oracle-replayable: the
# engine-owned vector index derives each doc's embedding from its
# content, so a CDC update that changes the content MOVES the vector
# (the update-visibility proof engine_sync_ann_topk asserts), and the
# DuckDB oracle recomputes the identical vector from the post-CDC
# corpus. Component i = h32(text || '#i') % 2001 - 1000 (symmetric
# around 0, so sign-LSH band buckets split ~evenly). This is a HASH
# featurizer — no semantic locality; identical text → identical
# vector, anything else → near-orthogonal noise — which is exactly
# the determinism the correctness gate needs (a learned encoder slots
# in behind the same array<double> column at deployment).
# ---------------------------------------------------------------------------

# 16 dims covers the sign-LSH banding's N_BANDS × PLANES_PER_BAND
# leading dims (similarity.py: 4 × 4) — the minimum an EmbeddingIndex/
# VectorIndex key scheme reads
HASH_EMBED_DIM = 16
_EMBED_MOD = 2001
_EMBED_OFF = 1000


def hash_embed_sparksql(expr: str, dim: int = HASH_EMBED_DIM) -> str:
    """Spark-SQL string form (for selectExpr / F.expr): unrolled
    array literal, one md5 per dim — stays inside whole-stage codegen
    (an interpreted transform() HOF over md5 is the measured slow
    path)."""
    comps = []
    for i in range(dim):
        h = (
            f"CAST(conv(substring(md5(concat(coalesce({expr}, ''), "
            f"'#{i}')), 1, 8), 16, 10) AS BIGINT)"
        )
        comps.append(
            f"CAST(({h} % {_EMBED_MOD} - {_EMBED_OFF}) AS DOUBLE)"
        )
    return "array(" + ", ".join(comps) + ")"


# the exact prefix every hash_embed_sparksql output starts with — the
# FAMILY recognizer for stamped feature_exprs (a loose "md5" substring
# test misclassified learned-encoder exprs that merely mention md5,
# r10 review pass 3). Lives beside the generator so they move together;
# tests/test_vector_index.py::test_hash_embed_recognizer_pins_generator
# pins generator ↔ recognizer agreement.
_HASH_EMBED_SQL_PREFIX = "array(CAST((CAST(conv(substring(md5(concat(coalesce("


def is_hash_embed_sql(expr: str | None) -> bool:
    """True iff ``expr`` was generated by hash_embed_sparksql (over
    any inner expression/dim) — text queries hash-featurize and only
    match stores whose vectors came from this family."""
    return bool(expr) and expr.startswith(_HASH_EMBED_SQL_PREFIX)


def hash_embed_sql(expr: str, dim: int = HASH_EMBED_DIM) -> str:
    """DuckDB mirror of hash_embed_sparksql (list literal)."""
    comps = []
    for i in range(dim):
        h = h32_sql(f"concat(coalesce({expr}, ''), '#{i}')")
        comps.append(
            f"CAST(({h} % {_EMBED_MOD} - {_EMBED_OFF}) AS DOUBLE)"
        )
    return "[" + ", ".join(comps) + "]"


def hash_embed_py(s: str | None, dim: int = HASH_EMBED_DIM) -> list[float]:
    """Driver-side mirror — building QUERY vectors from literal text."""
    s = s or ""
    return [
        float(h32_py(f"{s}#{i}") % _EMBED_MOD - _EMBED_OFF)
        for i in range(dim)
    ]


# ---------------------------------------------------------------------------
# Deterministic CLUSTERED embedding — a mixture-of-centers corpus
# generator in the same three mirrored forms (Spark SQL string,
# DuckDB SQL, Python). hash_embed_* above is a pure hash featurizer:
# every distinct input is near-orthogonal noise, which is the right
# determinism for CDC-visibility proofs but makes recall evaluation
# measure only partition balance (r11 verdict: the rebuild
# measurement showed recall DROPPING on structureless vectors while
# recall-per-probed-fraction stayed flat). Real encoder output
# clusters — vectors of related docs share a mode (the reference-side
# vectors come from real sentence encoders, ref:
# plugins/sentence_transformer_plugin.py) — so quality evaluation
# needs a corpus with modes. Here: each input hashes to one of
# ``centers`` seeded center vectors (components hash-derived from the
# center id, ±1000, scaled by CLUSTER_SCALE) and adds its own
# hash-derived integer offset (±1000):
#
#   center  = h32(input || '#c') % centers
#   comp_j  = CLUSTER_SCALE * (h32('ctr:' || center || '#' || j)
#                              % 2001 - 1000)
#           + (h32(input || '#o' || j) % 2001 - 1000)
#
# Same-cluster cosine concentrates near S²/(S²+1) (S=CLUSTER_SCALE),
# cross-cluster near 0 — so exact top-k is same-cluster, trained
# coarse quantizers can align cells to modes, and data-independent
# cells (hash codebooks, corpus-seed codebooks) pay a measurable
# recall penalty. All-integer before the final DOUBLE cast:
# bit-identical in Spark, DuckDB, and Python.
# ---------------------------------------------------------------------------

# matches similarity.IVF_CELLS (asserted there at import): the
# idealized trained-IVF case is one cell per mode, which is what
# makes the trained-vs-seeded recall delta interpretable
CLUSTER_CENTERS = 10
# 1: same-cluster cosine ~0.5 vs cross-cluster ~0±0.13 — clusters
# are unambiguous to EXACT cosine (ground truth stays same-cluster)
# but the offset term carries as much of each point's direction as
# the center term, so DATA-INDEPENDENT cells (hash codebooks, stale
# codebooks, corpus-seed codebooks) assign cluster members noisily
# (the near-tie set of cells exceeds nprobe) while TRAINED centroids
# sit on the modes and keep assignment signal-dominated — exactly
# the asymmetry training is for (scale 2 made centers dominate so
# much that even stale codebooks kept clusters atomic and rebuild
# had nothing to recover)
CLUSTER_SCALE = 1


def cluster_center_sparksql(
    expr: str, centers: int = CLUSTER_CENTERS
) -> str:
    """Spark-SQL string form of the cluster (center) id in
    [0, centers)."""
    cstr = f"concat(coalesce({expr}, ''), '#c')"
    return f"({h32_sparksql(cstr)} % {centers})"


def cluster_center_sql(expr: str, centers: int = CLUSTER_CENTERS) -> str:
    """DuckDB mirror of cluster_center_sparksql."""
    cstr = f"concat(coalesce({expr}, ''), '#c')"
    return f"({h32_sql(cstr)} % {centers})"


def cluster_center_py(s: str | None, centers: int = CLUSTER_CENTERS) -> int:
    """Python mirror — driver-side planning (seed/drift splits)."""
    return h32_py(f"{s or ''}#c") % centers


def cluster_embed_sparksql(
    expr: str,
    dim: int = HASH_EMBED_DIM,
    centers: int = CLUSTER_CENTERS,
    scale: int = CLUSTER_SCALE,
) -> str:
    """Spark-SQL string form (for F.expr / selectExpr): unrolled
    array literal — like hash_embed_sparksql, stays inside
    whole-stage codegen; the repeated center-id subexpression is
    CSE'd there."""
    c = f"CAST({cluster_center_sparksql(expr, centers)} AS STRING)"
    comps = []
    for j in range(dim):
        ctr = h32_sparksql(f"concat('ctr:', {c}, '#{j}')")
        off = h32_sparksql(f"concat(coalesce({expr}, ''), '#o{j}')")
        comps.append(
            f"CAST(({scale} * ({ctr} % {_EMBED_MOD} - {_EMBED_OFF}) + "
            f"({off} % {_EMBED_MOD} - {_EMBED_OFF})) AS DOUBLE)"
        )
    return "array(" + ", ".join(comps) + ")"


def cluster_embed_sql(
    expr: str,
    dim: int = HASH_EMBED_DIM,
    centers: int = CLUSTER_CENTERS,
    scale: int = CLUSTER_SCALE,
) -> str:
    """DuckDB mirror of cluster_embed_sparksql (list literal)."""
    c = f"CAST({cluster_center_sql(expr, centers)} AS VARCHAR)"
    comps = []
    for j in range(dim):
        ctr = h32_sql(f"concat('ctr:', {c}, '#{j}')")
        off = h32_sql(f"concat(coalesce({expr}, ''), '#o{j}')")
        comps.append(
            f"CAST(({scale} * ({ctr} % {_EMBED_MOD} - {_EMBED_OFF}) + "
            f"({off} % {_EMBED_MOD} - {_EMBED_OFF})) AS DOUBLE)"
        )
    return "[" + ", ".join(comps) + "]"


def cluster_embed_py(
    s: str | None,
    dim: int = HASH_EMBED_DIM,
    centers: int = CLUSTER_CENTERS,
    scale: int = CLUSTER_SCALE,
) -> list[float]:
    """Python mirror — driver-side query vectors / test fixtures."""
    s = s or ""
    c = cluster_center_py(s, centers)
    return [
        float(
            scale * (h32_py(f"ctr:{c}#{j}") % _EMBED_MOD - _EMBED_OFF)
            + (h32_py(f"{s}#o{j}") % _EMBED_MOD - _EMBED_OFF)
        )
        for j in range(dim)
    ]


# largest prime below 2^32: combined shingle hashes stay in the 32-bit
# domain `perm` expects (a_i * h must fit int64); the rolling mix
# (c * 4099 + h) peaks below 2^45 — no overflow in either engine
SHINGLE_P = 4294967291
_MIX = 4099


def combine_shingles_sparksql(th: str, k: int = 3) -> str:
    """Rolling-combined hashed word k-grams from a *materialized*
    token-hash column (array<bigint>): one md5 per TOKEN (not per
    shingle), then integer mixing — ~k× fewer hashes than hashing joined
    shingle strings, and bigint sets make the Jaccard set-ops integer
    comparisons. `th` must name a bound column, not an inline transform
    — element_at over an expression would re-evaluate it per element.
    SHINGLE_P carries the L suffix (bigint arithmetic).

    PRECONDITION: rows must be pre-filtered to size(th) >= k. The
    expression is deliberately unguarded — wrapping it in CASE WHEN
    disables codegen/CSE when a downstream filter references it
    (measured 200× slowdown)."""
    c = f"element_at({th}, i)"
    for j in range(1, k):
        c = f"(({c}) * {_MIX} + element_at({th}, i + {j})) % {SHINGLE_P}L"
    return (
        f"transform(sequence(1, size({th}) - {k - 1}), i -> {c})"
    )


def combine_shingles_sql(th: str, k: int = 3) -> str:
    c = f"{th}[i]"
    for j in range(1, k):
        c = f"(({c}) * {_MIX} + {th}[i+{j}]) % {SHINGLE_P}"
    return (
        f"CASE WHEN len({th}) >= {k} THEN "
        f"list_transform(range(1, len({th}) - {k - 2}), i -> {c}) "
        f"ELSE [] END"
    )


def shingles(tok: Column, k: int = 3) -> Column:
    """Word k-grams: ['a','b','c','d'] → ['a b c', 'b c d']."""
    return F.when(
        F.size(tok) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(tok) - (k - 1)),
            lambda i: F.concat_ws(" ", F.slice(tok, i, k)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def shingles_sql(tok_expr: str, k: int = 3) -> str:
    return (
        f"CASE WHEN len({tok_expr}) >= {k} THEN "
        f"list_transform(range(1, len({tok_expr}) - {k - 2}), "
        f"i -> array_to_string(({tok_expr})[i:i+{k - 1}], ' ')) "
        f"ELSE [] END"
    )
