"""Query registry: every implemented operator exposed as a named query
with a DuckDB oracle — the driver contract (see __spark_entry__.py).

Numeric canonicalization: money aggregates are summed as DECIMAL(18,2)
(exact, associative — deterministic across engines and partitionings,
unlike float sums whose result depends on reduction order) and emitted
as strings; averages divide the exact decimal sum (as double) by the
exact count, both IEEE-deterministic.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from .catalog import Catalog, TPCH_TABLES, time_micros
from .functions import hashing
from .functions.hashing import h32_sql, round6_sql
from .operators.windows import bounded_rank_window
from .operators.filters import filters_to_spark_sql, filters_to_sql
from .plans.oracle import oracle_doc_sql
from .plans.sqlgen import default_scope
from . import schemas


@dataclass
class QueryDef:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None


REGISTRY: dict[str, QueryDef] = {}


def register(name: str, oracle: str | None):
    def deco(fn):
        REGISTRY[name] = QueryDef(fn=fn, oracle=oracle)
        return fn

    return deco


def catalog_for(spark: SparkSession, sf_dir: str) -> Catalog:
    return Catalog(spark, sf_dir)


# ---------------------------------------------------------------------------
# Denormalization queries: one per relationship topology (SURVEY §2.3/§2.4)
# ---------------------------------------------------------------------------

def _denorm_fn(tree_name: str):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        # one-SQL compile (plans/sqlgen.py): one parse+analyze for the
        # whole tree, checked against the DuckDB oracle registered below
        from .plans.sqlgen import compile_assembled

        cat = Catalog(spark, sf_dir)
        df, _meta = compile_assembled(cat, schemas.tree(tree_name))
        return df

    fn.__name__ = f"denorm_{tree_name}"
    return fn


for _name in schemas.tree_names():
    REGISTRY[f"denorm_{_name}"] = QueryDef(
        fn=_denorm_fn(_name),
        oracle=oracle_doc_sql(
            schemas.tree(_name),
            TPCH_TABLES,
            schemas.columns_of,
            schemas.column_type_of,
        ),
    )


# ---------------------------------------------------------------------------
# Projection / filter / predicate operators (SURVEY §2.2)
# ---------------------------------------------------------------------------

_ROOT_FILTERS = [
    {"o_orderstatus": "F", "o_orderpriority": "1-URGENT"},
    {"o_orderstatus": "P"},
]


@register(
    "filter_root_or_and",
    f"""SELECT o_orderkey, o_orderstatus, o_orderpriority
        FROM orders WHERE {filters_to_sql(_ROOT_FILTERS)}""",
)
def filter_root_or_and(spark, sf_dir):
    """pgsync root-filter semantics: list=OR of dict=AND clauses
    (ref: pgsync/querybuilder.py:100-132)."""
    df = Catalog(spark, sf_dir).df("orders")
    cond = filters_to_spark_sql(_ROOT_FILTERS, dict(df.dtypes))
    return df.filter(cond).select(
        "o_orderkey", "o_orderstatus", "o_orderpriority"
    )


@register(
    "projection_pushdown",
    """SELECT l_orderkey, l_extendedprice FROM lineitem
       WHERE l_shipdate < TIMESTAMP '1996-01-01' AND l_discount > 0.05""",
)
def projection_pushdown(spark, sf_dir):
    """Projection+filter that must reach the parquet scan (checked in
    tests via explain: PushedFilters + 4-column ReadSchema)."""
    df = Catalog(spark, sf_dir).df("lineitem")
    return df.filter(
        (F.col("l_shipdate") < "1996-01-01") & (F.col("l_discount") > 0.05)
    ).select("l_orderkey", "l_extendedprice")


@register("count_scan", "SELECT COUNT(*) AS cnt FROM lineitem")
def count_scan(spark, sf_dir):
    """Count scan (ref: pgsync/base.py:1246-1252 fetchcount)."""
    df = Catalog(spark, sf_dir).df("lineitem")
    return df.groupBy().agg(F.count(F.lit(1)).alias("cnt"))


@register(
    "distinct_values",
    "SELECT DISTINCT c_mktsegment FROM customer",
)
def distinct_values(spark, sf_dir):
    df = Catalog(spark, sf_dir).df("customer")
    return df.select("c_mktsegment").distinct()


# ---------------------------------------------------------------------------
# Joins (SURVEY §2.3) — incl. the semi/anti forms the incremental engine uses
# ---------------------------------------------------------------------------


@register(
    "join_fk_broadcast",
    """SELECT o.o_orderkey, o.o_totalprice, c.c_name, n.n_name
       FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
       JOIN nation n ON c.c_nationkey = n.n_nationkey""",
)
def join_fk_broadcast(spark, sf_dir):
    """Dimension joins; customer/nation broadcast under the session
    threshold → no shuffle of the fact table."""
    cat = Catalog(spark, sf_dir)
    o, c, n = cat.df("orders"), cat.df("customer"), cat.df("nation")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select("o_orderkey", "o_totalprice", "c_name", "n_name")
    )


@register(
    "semi_join_affected_roots",
    """SELECT c_custkey, c_name FROM customer c
       WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                     AND o.o_orderstatus = 'P')""",
)
def semi_join_affected_roots(spark, sf_dir):
    """left_semi against a key set — the scale-path form of the
    reference's affected-root re-sync filters (ref: pgsync/sync.py:835-1011)."""
    cat = Catalog(spark, sf_dir)
    c = cat.df("customer")
    keys = cat.df("orders").filter(F.col("o_orderstatus") == "P").select("o_custkey")
    return c.join(
        F.broadcast(keys), c.c_custkey == keys.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@register(
    "anti_join",
    """SELECT c_custkey FROM customer c
       WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""",
)
def anti_join(spark, sf_dir):
    cat = Catalog(spark, sf_dir)
    c = cat.df("customer")
    o = cat.df("orders").select("o_custkey")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey")


@register(
    "self_join_pairs",
    """SELECT a.n_nationkey AS n1, b.n_nationkey AS n2
       FROM nation a JOIN nation b
         ON a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey""",
)
def self_join_pairs(spark, sf_dir):
    """Self-join with distinct aliases (reference self-referential node
    support, ref: pgsync/querybuilder.py:575-577)."""
    cat = Catalog(spark, sf_dir)
    a = cat.df("nation").alias("a")
    b = cat.df("nation").alias("b")
    return a.join(
        b,
        (F.col("a.n_regionkey") == F.col("b.n_regionkey"))
        & (F.col("a.n_nationkey") < F.col("b.n_nationkey")),
    ).select(F.col("a.n_nationkey").alias("n1"), F.col("b.n_nationkey").alias("n2"))


# ---------------------------------------------------------------------------
# Aggregations (SURVEY §2.4) + classic OLAP shapes for the benchmark
# ---------------------------------------------------------------------------


def _dec(col: str) -> F.Column:
    return F.col(col).cast("decimal(18,2)")


def _disc_price() -> F.Column:
    """price * (1 - discount) computed entirely in decimal arithmetic —
    exact and engine-independent (a double product rounds its 2dp ties
    differently across engines)."""
    one = F.lit(1).cast("decimal(18,2)")
    return _dec("l_extendedprice") * (one - _dec("l_discount"))


_DISC_PRICE_SQL = (
    "CAST(l_extendedprice AS DECIMAL(18,2)) * "
    "(CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))"
)


@register(
    "agg_pricing_summary",
    """SELECT l_returnflag, l_linestatus,
              CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS sum_qty,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS sum_base_price,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS VARCHAR) AS sum_disc_price,
              COUNT(*) AS count_order,
              ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_qty
       FROM lineitem
       WHERE l_shipdate <= TIMESTAMP '1998-09-02'
       GROUP BY l_returnflag, l_linestatus""",
)
def agg_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: grouped multi-aggregate with map-side partial agg.
    Decimal sums are exact → partition-order independent."""
    df = Catalog(spark, sf_dir).df("lineitem")
    return (
        df.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("string").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("string").alias("sum_base_price"),
            F.sum(_disc_price()).cast("string").alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
            F.round(
                F.sum(_dec("l_quantity")).cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_qty"),
        )
    )


@register(
    "agg_revenue_by_order",
    """SELECT o.o_orderkey, strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
              CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2)))) AS VARCHAR) AS revenue
       FROM customer c
       JOIN orders o ON o.o_custkey = c.c_custkey
       JOIN lineitem l ON l.l_orderkey = o.o_orderkey
       WHERE c.c_mktsegment = 'BUILDING'
       GROUP BY o.o_orderkey, o.o_orderdate""",
)
def agg_revenue_by_order(spark, sf_dir):
    """TPC-H Q3 shape: selective dim filter → broadcast semi-ish join →
    grouped revenue."""
    cat = Catalog(spark, sf_dir)
    c = cat.df("customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = cat.df("orders")
    li = cat.df("lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.sum(_disc_price()).cast("string").alias("revenue"))
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "revenue",
        )
    )


@register(
    "grouped_array_agg",
    """SELECT o_custkey,
              to_json(list(o_orderkey ORDER BY o_orderkey)) AS orderkeys
       FROM orders GROUP BY o_custkey""",
)
def grouped_array_agg(spark, sf_dir):
    """The reference's JSON_AGG grouped by FK (ref:
    pgsync/querybuilder.py:936-961) as a standalone operator."""
    df = Catalog(spark, sf_dir).df("orders")
    return df.groupBy("o_custkey").agg(
        F.to_json(F.array_sort(F.collect_list("o_orderkey"))).alias("orderkeys")
    )


@register(
    "topk_per_group",
    """SELECT * FROM (
         SELECT o_custkey, o_orderkey, o_totalprice,
                ROW_NUMBER() OVER (PARTITION BY o_custkey
                                   ORDER BY o_totalprice DESC, o_orderkey) AS rn
         FROM orders) WHERE rn <= 3""",
)
def topk_per_group(spark, sf_dir):
    """Top-K per group via window row_number with a deterministic
    tiebreak (beyond-reference: the reference has no window functions)."""
    df = Catalog(spark, sf_dir).df("orders")
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return df.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 3).select(
        "o_custkey", "o_orderkey", "o_totalprice", "rn"
    )


@register(
    "events_hourly_rollup",
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
              event_type, COUNT(*) AS n,
              CAST(SUM(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS total
       FROM events GROUP BY 1, 2""",
)
def events_hourly_rollup(spark, sf_dir):
    """Tumbling-window aggregation over the event stream table — the
    batch shape of the streaming windowed agg (SURVEY §2.7)."""
    df = Catalog(spark, sf_dir).df("events")
    return (
        df.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "hour"
            ),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec("value")).cast("string").alias("total"),
        )
    )


# ---------------------------------------------------------------------------
# LLM-training-data pipeline operators (BASELINE.json north star):
# dedup / similarity / text analysis / multimodal — see functions/*.py
# ---------------------------------------------------------------------------

from .functions import dedup as _dd  # noqa: E402
from .functions import multimodal as _mm  # noqa: E402
from .functions import similarity as _sim  # noqa: E402
from .functions import text as _tx  # noqa: E402


def _doc_query(fn, oracle, name):
    def q(spark, sf_dir, _fn=fn):
        return _fn(Catalog(spark, sf_dir).df("documents"))

    q.__name__ = name
    REGISTRY[name] = QueryDef(fn=q, oracle=oracle)


def _emb_query(fn, oracle, name):
    def q(spark, sf_dir, _fn=fn):
        return _fn(Catalog(spark, sf_dir).df("embeddings"))

    q.__name__ = name
    REGISTRY[name] = QueryDef(fn=q, oracle=oracle)


_doc_query(_tx.text_stats, _tx.text_stats_sql(), "text_stats")
_doc_query(_tx.lang_id, _tx.lang_id_sql(), "text_lang_id")
_doc_query(_tx.fingerprint, _tx.fingerprint_sql(), "text_fingerprint")
_doc_query(_tx.quality_filter, _tx.quality_filter_sql(), "text_quality_filter")
_doc_query(
    _tx.quality_classifier,
    _tx.quality_classifier_sql(),
    "text_quality_classifier",
)
_doc_query(_tx.ngram_topk, _tx.ngram_topk_sql(), "text_ngram_topk")
_doc_query(_tx.pii_redact, _tx.pii_redact_sql(), "text_pii_redact")
_doc_query(_dd.dedup_exact, _dd.dedup_exact_sql(), "dedup_exact")
_doc_query(_dd.minhash_signatures, _dd.minhash_signatures_sql(), "dedup_minhash_signatures")
_doc_query(_dd.minhash_lsh_pairs, _dd.minhash_lsh_pairs_sql(), "dedup_minhash_lsh_pairs")
_doc_query(_dd.simhash, _dd.simhash_sql(), "dedup_simhash")
_doc_query(_dd.ngram_jaccard_pairs, _dd.ngram_jaccard_pairs_sql(), "dedup_ngram_jaccard_pairs")
_doc_query(_mm.multimodal_extract, _mm.multimodal_extract_sql(), "multimodal_extract")
_doc_query(
    _mm.multimodal_frame_sample,
    _mm.multimodal_frame_sample_sql(),
    "multimodal_frame_sample",
)
_emb_query(_sim.ann_bruteforce_topk, _sim.ann_bruteforce_topk_sql(), "ann_bruteforce_topk")
_emb_query(_sim.ann_lsh_topk, _sim.ann_lsh_topk_sql(), "ann_lsh_topk")
_emb_query(_sim.ann_ivf_topk, _sim.ann_ivf_topk_sql(), "ann_ivf_topk")
_emb_query(
    _sim.ann_ivf_trained_topk,
    _sim.ann_ivf_trained_topk_sql(),
    "ann_ivf_trained_topk",
)
_emb_query(_sim.embedding_neardup_pairs, _sim.embedding_neardup_pairs_sql(), "embedding_neardup_pairs")
_emb_query(
    _sim.semantic_dedup_canonical,
    _sim.semantic_dedup_canonical_sql(),
    "semantic_dedup_canonical",
)
_emb_query(
    _sim.ann_lsh_multiprobe_topk,
    _sim.ann_lsh_multiprobe_topk_sql(),
    "ann_lsh_multiprobe_topk",
)
_emb_query(_sim.pq_codes_json, _sim.pq_codes_json_sql(), "embedding_pq_codes")
_emb_query(_sim.ann_pq_adc_topk, _sim.ann_pq_adc_topk_sql(), "ann_pq_adc_topk")
_emb_query(
    _sim.ann_pq_adc_trained_topk,
    _sim.ann_pq_adc_trained_topk_sql(),
    "ann_pq_adc_trained_topk",
)
_emb_query(
    _sim.ann_ivfpq_trained_topk,
    _sim.ann_ivfpq_trained_topk_sql(),
    "ann_ivfpq_trained_topk",
)
_emb_query(
    _sim.ann_ivfpq_fully_trained_topk,
    _sim.ann_ivfpq_fully_trained_topk_sql(),
    "ann_ivfpq_fully_trained_topk",
)
_emb_query(
    _sim.pq_codes_trained_json,
    _sim.pq_codes_trained_json_sql(),
    "embedding_pq_codes_trained",
)
_emb_query(_sim.ann_ivfpq_topk, _sim.ann_ivfpq_topk_sql(), "ann_ivfpq_topk")
_emb_query(_sim.ann_recall_eval, _sim.ann_recall_eval_sql(), "ann_recall_eval")
_emb_query(
    _sim.clustered_corpus_proof,
    _sim.clustered_corpus_proof_sql(),
    "embedding_clustered_corpus",
)
_emb_query(
    _sim.ann_recall_eval_clustered,
    _sim.ann_recall_eval_clustered_sql(),
    "ann_recall_eval_clustered",
)
_emb_query(
    _sim.semantic_dedup_ivf_clustered,
    _sim.semantic_dedup_ivf_clustered_sql(),
    "semantic_dedup_ivf_clustered",
)
_emb_query(
    _sim.ann_probe_cost_frontier,
    _sim.ann_probe_cost_frontier_sql(),
    "ann_probe_cost_frontier",
)
_emb_query(
    _sim.ann_probe_frontier_clustered,
    _sim.ann_probe_frontier_clustered_sql(),
    "ann_probe_frontier_clustered",
)
_emb_query(
    _sim.cluster_balanced_sample,
    _sim.cluster_balanced_sample_sql(),
    "cluster_balanced_sample",
)
_emb_query(
    _sim.cluster_balanced_sample_trained,
    _sim.cluster_balanced_sample_trained_sql(),
    "cluster_balanced_sample_trained",
)


# ---------------------------------------------------------------------------
# Incremental engine + plugin chain, hash-verified (SURVEY §2.7/§2.8):
# the oracle recomputes docs from MUTATED table views (CTEs), proving the
# event-driven path converges to the batch answer.
# ---------------------------------------------------------------------------

NEW_ORDER_KEY = 10_000_000

_INCR_ORACLE_CTES = """
WITH orders_mut AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
         CASE WHEN o_orderkey % 101 = 0 THEN '9-INC' ELSE o_orderpriority END AS o_orderpriority
  FROM orders WHERE o_orderkey % 97 <> 0
  UNION ALL
  SELECT 10000000, 1, 'N', 123.45, TIMESTAMP '2025-01-01 00:00:00', '1-URGENT'
),
customer_mut AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 50 = 0 THEN 'INC_' || c_name ELSE c_name END AS c_name,
         c_nationkey, c_acctbal, c_mktsegment
  FROM customer
)
"""


def _incremental_events(spark, cat: Catalog, scale: int = 1) -> list[dict]:
    """Deterministic CDC batch derived from the snapshot itself (the
    driver-side collects here only BUILD test events; the engine itself
    never collects). ``scale`` shrinks the key moduli to grow the batch
    ~linearly (scale=4 → ~4× the events) — the batch-size axis of the
    scaling bench."""
    m_upd, m_del, m_cust = max(2, 101 // scale), max(3, 97 // scale), max(2, 50 // scale)
    orders = cat.df("orders")
    upd = (
        orders.filter((F.col("o_orderkey") % m_upd == 0) & (F.col("o_orderkey") % m_del != 0))
        .collect()
    )
    dele = orders.filter(F.col("o_orderkey") % m_del == 0).select("o_orderkey").collect()
    cust = cat.df("customer").filter(F.col("c_custkey") % m_cust == 0).collect()
    events: list[dict] = []
    for r in upd:
        d = r.asDict()
        new = dict(d, o_orderpriority="9-INC")
        events.append(
            {"op": "UPDATE", "table": "orders", "old": {"o_orderkey": d["o_orderkey"]},
             "new": new, "txid": 1}
        )
    for r in dele:
        events.append(
            {"op": "DELETE", "table": "orders", "old": {"o_orderkey": r["o_orderkey"]},
             "txid": 2}
        )
    events.append(
        {"op": "INSERT", "table": "orders",
         "new": {"o_orderkey": NEW_ORDER_KEY, "o_custkey": 1, "o_orderstatus": "N",
                 "o_totalprice": 123.45, "o_orderdate": "2025-01-01 00:00:00",
                 "o_orderpriority": "1-URGENT"}, "txid": 3}
    )
    for r in cust:
        d = r.asDict()
        events.append(
            {"op": "UPDATE", "table": "customer", "old": {"c_custkey": d["c_custkey"]},
             "new": dict(d, c_name="INC_" + d["c_name"]), "txid": 4}
        )
    return events


def incremental_orders_docs(spark, sf_dir):
    """Full sync + one mixed CDC batch (updates, deletes, insert, deep
    child rename) through the incremental engine; returns the maintained
    doc store. The oracle is the batch recompute over mutated views."""
    from .streaming import IncrementalEngine, payloads_from_rows

    cat = Catalog(spark, sf_dir)
    tree = schemas.tree("orders_full")
    eng = IncrementalEngine(spark, tree, cat)
    eng.full_sync()
    eng.process_batch(payloads_from_rows(spark, _incremental_events(spark, cat)))
    return eng.docs.select("_id", "doc")


REGISTRY["incremental_orders_docs"] = QueryDef(
    fn=incremental_orders_docs,
    oracle=_INCR_ORACLE_CTES
    + oracle_doc_sql(
        schemas.tree("orders_full"),
        TPCH_TABLES,
        schemas.columns_of,
        schemas.column_type_of,
        table_names={"orders": "orders_mut", "customer": "customer_mut"},
    ),
)


# plugin chain over the flagship docs (ref: pgsync/plugin.py) — adds a
# computed field and drops every 500th doc, reproduced in SQL by string
# splicing the denorm oracle's JSON
class _PriorityFlagPlugin:
    name = "priority_flag"

    def transform(self, doc, _id, _index):
        if int(_id) % 500 == 0:
            return None  # falsy → drop (ref plugin contract)
        doc["priority_flag"] = doc["o_orderpriority"].startswith("1")
        return doc


def plugin_chain_docs(spark, sf_dir):
    from .plugin import apply_plugins

    docs = REGISTRY["denorm_orders_full"].fn(spark, sf_dir)
    return apply_plugins(docs, [_PriorityFlagPlugin()], index="orders")


_plugin_oracle_inner = oracle_doc_sql(
    schemas.tree("orders_full"), TPCH_TABLES, schemas.columns_of, schemas.column_type_of
)
REGISTRY["plugin_chain_docs"] = QueryDef(
    fn=plugin_chain_docs,
    oracle=f"""
        SELECT _id,
               substring(doc, 1, length(doc) - 1) || ',"priority_flag":' ||
               CASE WHEN json_extract_string(doc, '$.o_orderpriority') LIKE '1%'
                    THEN 'true' ELSE 'false' END || '}}' AS doc
        FROM ({_plugin_oracle_inner})
        WHERE CAST(_id AS BIGINT) % 500 <> 0
    """,
)


# filtered denormalization: the reference's root-filter placement rule
# (filters only at the root subquery, ref: pgsync/querybuilder.py:469-471)
_DENORM_FILTERS = [
    {"o_orderstatus": "F", "o_orderpriority": "1-URGENT"},
    {"o_orderstatus": "P"},
]


def denorm_orders_filtered(spark, sf_dir):
    from .plans.sqlgen import compile_assembled

    cat = Catalog(spark, sf_dir)
    df, _meta = compile_assembled(
        cat, schemas.tree("orders_lineitems"), root_filters=_DENORM_FILTERS
    )
    return df


REGISTRY["denorm_orders_filtered"] = QueryDef(
    fn=denorm_orders_filtered,
    oracle=oracle_doc_sql(
        schemas.tree("orders_lineitems"),
        TPCH_TABLES,
        schemas.columns_of,
        schemas.column_type_of,
    )
    + " WHERE "
    + filters_to_sql(_DENORM_FILTERS),
)


@register(
    "events_sessionize",
    """WITH e AS (
         SELECT user_id, event_id,
                epoch_us(CAST(ts AS TIMESTAMP)) AS us
         FROM events
       ),
       gaps AS (
         SELECT user_id, event_id, us,
                CASE WHEN us - LAG(us) OVER w > 1800000000
                     OR LAG(us) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
         FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
       ),
       sess AS (
         SELECT user_id, event_id,
                CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
                                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
         FROM gaps
       )
       SELECT user_id, session_no, COUNT(*) AS n_events,
              MIN(event_id) AS first_event, MAX(event_id) AS last_event
       FROM sess GROUP BY user_id, session_no""",
)
def events_sessionize(spark, sf_dir):
    """Sessionization (30-min inactivity gap) via lag + running sum —
    the batch shape of streaming session_window; deterministic tiebreak
    on event_id. Beyond-reference operator for the event stream table.

    Gap compare is exact microseconds on both sides: ``time_micros``
    normalizes whatever the parquet encoding is (here TIMESTAMP_NTZ,
    instant-preserving NTZ→LTZ cast under the UTC session) and the
    oracle mirrors it with epoch_us(CAST(ts AS TIMESTAMP)), so a gap
    whose true value and whole-second value straddle 1800s cannot flip
    session assignment."""
    df = Catalog(spark, sf_dir).df("events")
    df = df.withColumn("us", time_micros(df, "ts"))
    w = W.partitionBy("user_id").orderBy("us", "event_id")
    lag_us = F.lag("us").over(w)
    gap = F.when(
        (F.col("us") - lag_us > 1_800_000_000) | lag_us.isNull(), 1
    ).otherwise(0)
    return (
        df.withColumn("is_new", gap)
        .withColumn(
            "session_no",
            F.sum("is_new").over(w.rowsBetween(W.unboundedPreceding, 0)),
        )
        .groupBy("user_id", "session_no")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("event_id").alias("first_event"),
            F.max("event_id").alias("last_event"),
        )
    )


@register(
    "text_token_bpe",
    r"""SELECT doc_id,
              len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpe_tokens,
              len(list_distinct(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS n_uniq_bpe
       FROM documents""",
)
def text_token_bpe(spark, sf_dir):
    """BPE-ish subword token counting: alpha runs, digit runs, and
    single punctuation as separate tokens (regex identical in both
    engines — plain character classes only)."""
    df = Catalog(spark, sf_dir).df("documents")
    toks = F.regexp_extract_all(
        F.lower(F.col("text")), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9 ]"), 0
    )
    return df.select(
        "doc_id",
        F.size(toks).alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).alias("n_uniq_bpe"),
    )


@register(
    "window_suite",
    """SELECT o_custkey, o_orderkey,
              ROW_NUMBER() OVER w AS rn,
              RANK() OVER (PARTITION BY o_custkey ORDER BY o_orderstatus) AS status_rank,
              CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
                PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                ROWS UNBOUNDED PRECEDING) AS VARCHAR) AS running_spend,
              LAG(o_orderkey) OVER w AS prev_order
       FROM orders
       WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""",
)
def window_suite(spark, sf_dir):
    """Analytic window functions (beyond-reference §2.5): row_number,
    rank, exact running decimal sum, lag — deterministic tiebreaks."""
    df = Catalog(spark, sf_dir).df("orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wr = W.partitionBy("o_custkey").orderBy("o_orderstatus")
    return df.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).alias("rn"),
        F.rank().over(wr).alias("status_rank"),
        F.sum(_dec("o_totalprice"))
        .over(w.rowsBetween(W.unboundedPreceding, 0))
        .cast("string")
        .alias("running_spend"),
        F.lag("o_orderkey").over(w).alias("prev_order"),
    )


@register(
    "agg_rollup",
    """SELECT coalesce(l_returnflag, '<all>') AS returnflag,
              coalesce(l_linestatus, '<all>') AS linestatus,
              COUNT(*) AS n,
              CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS qty
       FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""",
)
def agg_rollup(spark, sf_dir):
    """ROLLUP grouping sets (beyond-reference §2.4) with exact decimal
    totals; null grouping keys coalesced for a stable hash."""
    df = Catalog(spark, sf_dir).df("lineitem")
    return (
        df.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec("l_quantity")).cast("string").alias("qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("<all>")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("<all>")).alias("linestatus"),
            "n",
            "qty",
        )
    )


@register(
    "pivot_status_by_segment",
    """SELECT c_mktsegment,
              COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS status_F,
              COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS status_O,
              COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS status_P
       FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
       GROUP BY c_mktsegment""",
)
def pivot_status_by_segment(spark, sf_dir):
    """Pivot (beyond-reference): order-status counts per market segment.
    Explicit pivot values keep the output schema static — required both
    for the oracle and for plan stability at scale."""
    cat = Catalog(spark, sf_dir)
    o, c = cat.df("orders"), cat.df("customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "c_mktsegment",
            F.coalesce("F", F.lit(0)).alias("status_F"),
            F.coalesce("O", F.lit(0)).alias("status_O"),
            F.coalesce("P", F.lit(0)).alias("status_P"),
        )
    )


@register(
    "salted_skew_join",
    """SELECT l.l_orderkey, o.o_orderstatus,
              CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS price_sum
       FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
       GROUP BY l.l_orderkey, o.o_orderstatus""",
)
def salted_skew_join(spark, sf_dir):
    """Skew-mitigation pattern: the fact side salts its join key
    deterministically (pmod of a row hash), the dim side explodes into
    all salt buckets; join on (key, salt) splits any hot key across
    N_SALT reducers. Result is provably identical to the plain join (the
    oracle IS the plain join). At 100 TB this is the manual fallback
    when AQE skew handling isn't enough (e.g. one giant order)."""
    N_SALT = 8
    cat = Catalog(spark, sf_dir)
    li = cat.df("lineitem").withColumn(
        "__salt", F.pmod(F.hash("l_linenumber", "l_partkey"), F.lit(N_SALT))
    )
    o = (
        cat.df("orders")
        .withColumn("__salt", F.explode(F.array(*[F.lit(i) for i in range(N_SALT)])))
        .select("o_orderkey", "o_orderstatus", "__salt")
    )
    return (
        li.join(o, (li.l_orderkey == o.o_orderkey) & (li["__salt"] == o["__salt"]))
        .groupBy("l_orderkey", "o_orderstatus")
        .agg(F.sum(_dec("l_extendedprice")).cast("string").alias("price_sum"))
    )


_doc_query(_dd.dedup_clusters, _dd.dedup_clusters_sql(), "dedup_clusters")
_doc_query(_dd.dedup_canonical, _dd.dedup_canonical_sql(), "dedup_canonical")
_doc_query(
    _dd.dedup_spans_global, _dd.dedup_spans_global_sql(), "dedup_spans_global"
)


@register(
    "median_price_by_segment",
    """WITH ranked AS (
         SELECT c_mktsegment, o_totalprice,
                ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                   ORDER BY o_totalprice, o_orderkey) AS rn,
                COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
         FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
       )
       SELECT c_mktsegment, o_totalprice AS median_price
       FROM ranked WHERE rn = (n + 1) // 2""",
)
def median_price_by_segment(spark, sf_dir):
    """Exact DISCRETE median per group (lower median): the element at
    position (n+1)//2 in sorted order with a deterministic tiebreak.
    Interpolated percentiles are engine-specific; the discrete form is a
    pure pick — reproducible everywhere."""
    cat = Catalog(spark, sf_dir)
    o, c = cat.df("orders"), cat.df("customer")
    j = o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
    w = W.partitionBy("c_mktsegment").orderBy("o_totalprice", "o_orderkey")
    wn = W.partitionBy("c_mktsegment")
    return (
        j.withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(wn))
        .filter(F.col("rn") == ((F.col("n") + 1) / 2).cast("int"))
        .select("c_mktsegment", F.col("o_totalprice").alias("median_price"))
    )


@register(
    "set_ops_buyers",
    """SELECT c_custkey, 'both' AS bucket FROM (
         SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'F'
         INTERSECT
         SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
       UNION ALL
       SELECT c_custkey, 'f_only' AS bucket FROM (
         SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'F'
         EXCEPT
         SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')""",
)
def set_ops_buyers(spark, sf_dir):
    """Set operations (beyond-reference §2.5): customers with both F and
    O orders vs F-only, via INTERSECT / EXCEPT / UNION ALL."""
    o = Catalog(spark, sf_dir).df("orders")
    f = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("c_custkey")
    )
    op = o.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("c_custkey")
    )
    both = f.intersect(op).withColumn("bucket", F.lit("both"))
    # subtract = SQL EXCEPT (set semantics); exceptAll would leave
    # per-occurrence leftovers for keys present on both sides
    f_only = f.subtract(op).withColumn("bucket", F.lit("f_only"))
    return both.unionByName(f_only)


@register(
    "approx_distinct_parts",
    """SELECT l_returnflag,
              COUNT(DISTINCT l_partkey) AS exact_parts,
              TRUE AS within_10pct
       FROM lineitem GROUP BY l_returnflag""",
)
def approx_distinct_parts(spark, sf_dir):
    """approx_count_distinct (HyperLogLog++): the cardinality-sketch
    path for 100 TB counts where exact distinct is a full shuffle.

    Raw sketch estimates are engine-specific, so the oracle-checkable
    CONTRACT is the error bound instead: the HLL estimate (rsd 0.02)
    must land within 10% of the exact count — Spark's sketch merge is
    order-insensitive, so the boolean is deterministic under any
    partitioning, and DuckDB asserts the same rows with the bound as a
    constant TRUE. The sketch still runs; only its advertised accuracy
    is what crosses engines."""
    df = Catalog(spark, sf_dir).df("lineitem")
    agg = df.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts"),
        F.count_distinct("l_partkey").alias("exact_parts"),
    )
    return agg.select(
        "l_returnflag",
        "exact_parts",
        (
            F.abs(F.col("approx_parts") - F.col("exact_parts"))
            <= 0.1 * F.col("exact_parts")
        ).alias("within_10pct"),
    )


KMV_K = 64
_KMV_SCALE = 4294967296.0  # 2^32 — h32 normalization to (0, 1)


@register(
    "kmv_distinct_parts",
    f"""WITH hashes AS (
          SELECT DISTINCT {h32_sql("CAST(l_partkey AS VARCHAR)")} AS h
          FROM lineitem
        ),
        k_smallest AS (SELECT h FROM hashes ORDER BY h LIMIT {KMV_K}),
        s AS (SELECT COUNT(*) AS k_found, MAX(h) AS h_k FROM k_smallest),
        exact AS (SELECT COUNT(DISTINCT l_partkey) AS n_exact FROM lineitem)
        SELECT n_exact,
               {round6_sql(f"CASE WHEN k_found < {KMV_K} THEN CAST(k_found AS DOUBLE) "
                           f"ELSE ({KMV_K} - 1) / (CAST(h_k AS DOUBLE) / {_KMV_SCALE}) END")}
                 AS kmv_estimate
        FROM s CROSS JOIN exact""",
)
def kmv_distinct_parts(spark, sf_dir):
    """KMV (k-minimum-values) distinct-count sketch — unlike HLL, the
    estimator is a pure function of the k smallest md5-derived hashes,
    so both engines compute the IDENTICAL estimate and the oracle is a
    full hash check, not rows-only (Bar-Yossef et al. 2002, public).
    Scale shape: one distinct-shuffle of 8-byte hashes + a k-row
    top-k — the 100 TB form keeps only k values per partition before
    the merge."""
    df = Catalog(spark, sf_dir).df("lineitem")
    hashes = df.select(
        hashing.h32("CAST(l_partkey AS STRING)").alias("h")
    ).dropDuplicates()
    s = (
        hashes.orderBy("h")
        .limit(KMV_K)
        .agg(F.count(F.lit(1)).alias("k_found"), F.max("h").alias("h_k"))
    )
    exact = df.agg(F.count_distinct("l_partkey").alias("n_exact"))
    est = F.when(
        F.col("k_found") < KMV_K, F.col("k_found").cast("double")
    ).otherwise(
        F.lit(float(KMV_K - 1)) / (F.col("h_k").cast("double") / F.lit(_KMV_SCALE))
    )
    return s.crossJoin(exact).select(
        "n_exact", hashing.round6(est).alias("kmv_estimate")
    )


# ---------------------------------------------------------------------------
# Training-pipeline operators: chunking, as-of join, dataset split
# ---------------------------------------------------------------------------

CHUNK_SIZE = 200
CHUNK_STRIDE = 150


@register(
    "doc_chunks",
    f"""SELECT doc_id, chunk_id,
               substring(text, chunk_id * {CHUNK_STRIDE} + 1, {CHUNK_SIZE})
                 AS chunk_text,
               length(substring(text, chunk_id * {CHUNK_STRIDE} + 1, {CHUNK_SIZE}))
                 AS chunk_len
        FROM (
          SELECT doc_id, text,
                 unnest(generate_series(0,
                   CAST(greatest(0, ceil((length(text) - {CHUNK_SIZE})
                        / CAST({CHUNK_STRIDE} AS DOUBLE))) AS BIGINT))) AS chunk_id
          FROM documents
        )""",
)
def doc_chunks(spark, sf_dir):
    """Overlapping fixed-window chunking (size {CHUNK_SIZE}, stride
    {CHUNK_STRIDE}) — the standard pre-tokenization split for long
    documents in a training pipeline. Pure generator + substring
    expressions: the explode pipelines inside the scan stage with NO
    shuffle at any scale; chunk boundaries are arithmetic, so the
    operation is embarrassingly parallel and deterministic."""
    df = Catalog(spark, sf_dir).df("documents")
    n_last = F.greatest(
        F.lit(0),
        F.ceil((F.length("text") - CHUNK_SIZE) / F.lit(float(CHUNK_STRIDE))),
    ).cast("long")
    chunks = df.select(
        "doc_id",
        "text",
        F.explode(F.sequence(F.lit(0).cast("long"), n_last)).alias("chunk_id"),
    )
    chunk_text = F.col("text").substr(
        (F.col("chunk_id") * CHUNK_STRIDE + 1).cast("int"), F.lit(CHUNK_SIZE)
    )
    return chunks.select(
        "doc_id",
        "chunk_id",
        chunk_text.alias("chunk_text"),
        F.length(chunk_text).alias("chunk_len"),
    )


CHUNK_EMB_DIMS = 8


def _hash_dim_sparksql(text_sql: str, i: int) -> str:
    """One dimension of the deterministic hash embedding (JVM-side md5
    → fixed-point micro-units) as Spark-SQL text — bit-identical to
    plugin_examples.hash_embedding / hash_embedding_sql. D-suffixed
    literals keep the arithmetic in doubles; one parse replaces ~15
    py4j round-trips per dimension (guide §7.3)."""
    h = (
        f"CAST(conv(substring(md5(concat({text_sql}, '|{i}')), 1, 8), "
        f"16, 10) AS BIGINT)"
    )
    x = f"2.0D * (({h}) / 4294967296.0D) - 1.0D"
    return f"CAST(floor(({x}) * 1e6 + 0.5D) AS BIGINT)"


from .plugin_examples import hash_embedding_sql as _hash_emb_sql


@register(
    "chunk_embeddings",
    f"""SELECT doc_id, chunk_id,
               to_json({_hash_emb_sql('chunk_text', CHUNK_EMB_DIMS)}) AS embedding
        FROM (
          SELECT doc_id, chunk_id,
                 substring(text, chunk_id * {CHUNK_STRIDE} + 1, {CHUNK_SIZE})
                   AS chunk_text
          FROM (
            SELECT doc_id, text,
                   unnest(generate_series(0,
                     CAST(greatest(0, ceil((length(text) - {CHUNK_SIZE})
                          / CAST({CHUNK_STRIDE} AS DOUBLE))) AS BIGINT))) AS chunk_id
            FROM documents
          )
        )""",
)
def chunk_embeddings(spark, sf_dir):
    """RAG-prep in one pass: overlapping chunking composed with a
    per-chunk embedding — and the embedding is PURE COLUMN EXPRESSIONS
    (md5 → fixed-point per dimension), so the whole operator runs
    inside whole-stage codegen with ZERO shuffles and no Python in the
    hot path. A real encoder swaps in via the plugin chain
    (plugin_examples.EmbeddingEnrichmentPlugin, Arrow-batched,
    model-per-executor); this deterministic form is the plumbing proof
    and the oracle-checkable contract for it."""
    df = Catalog(spark, sf_dir).df("documents")
    n_last = F.greatest(
        F.lit(0),
        F.ceil((F.length("text") - CHUNK_SIZE) / F.lit(float(CHUNK_STRIDE))),
    ).cast("long")
    chunks = df.select(
        "doc_id",
        "text",
        F.explode(F.sequence(F.lit(0).cast("long"), n_last)).alias("chunk_id"),
    )
    chunk_text = F.col("text").substr(
        (F.col("chunk_id") * CHUNK_STRIDE + 1).cast("int"), F.lit(CHUNK_SIZE)
    )
    dims = ", ".join(
        _hash_dim_sparksql("chunk_text", i) for i in range(CHUNK_EMB_DIMS)
    )
    return chunks.select(
        "doc_id", "chunk_id", chunk_text.alias("chunk_text")
    ).select(
        "doc_id",
        "chunk_id",
        # to_json at the registry boundary: the driver's pandas
        # canonicalizer cannot hash list-valued cells (the
        # minhash_signatures precedent, dedup.py:196).
        F.expr(f"to_json(array({dims}))").alias("embedding"),
    )


@register(
    "asof_user_orders",
    """WITH u AS (
          SELECT o_custkey AS user_id, CAST(o_orderdate AS TIMESTAMP) AS t,
                 0 AS is_ev, o_orderkey AS okey, CAST(NULL AS BIGINT) AS event_id
          FROM orders
          UNION ALL
          SELECT user_id, CAST(ts AS TIMESTAMP), 1, CAST(NULL AS BIGINT), event_id
          FROM events
        ),
        f AS (
          SELECT event_id, user_id, is_ev,
                 LAST_VALUE(okey IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY t, is_ev, okey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_orderkey
          FROM u
        )
        SELECT event_id, user_id, asof_orderkey FROM f WHERE is_ev = 1""",
)
def asof_user_orders(spark, sf_dir):
    """As-of join: each event picks the user's most recent order with
    o_orderdate <= ts (an operator Spark lacks natively; Flink/kdb
    temporal join semantics). Spark-first decomposition: tag and UNION
    the two streams, one window per user ordered by (time, tag, key)
    with a forward-fill of the last non-null order key — exactly ONE
    shuffle + sort, no range-join candidate explosion, and partition-
    pruned scans on both inputs. Scales linearly: the window state is
    one value per user partition. Ties: an order dated exactly at the
    event time sorts before the event (tag 0 < 1) so it IS visible;
    same-date orders resolve to the max o_orderkey deterministically."""
    cat = Catalog(spark, sf_dir)
    orders = cat.df("orders").select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").cast("timestamp").alias("t"),
        F.lit(0).alias("is_ev"),
        F.col("o_orderkey").alias("okey"),
        F.lit(None).cast("long").alias("event_id"),
    )
    events = cat.df("events").select(
        "user_id",
        F.col("ts").alias("t"),
        F.lit(1).alias("is_ev"),
        F.lit(None).cast("long").alias("okey"),
        "event_id",
    )
    u = orders.unionByName(events)
    w = (
        W.partitionBy("user_id")
        .orderBy("t", "is_ev", "okey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    filled = u.withColumn("asof_orderkey", F.last("okey", ignorenulls=True).over(w))
    return filled.filter(F.col("is_ev") == 1).select(
        "event_id", "user_id", "asof_orderkey"
    )


@register(
    "dataset_split",
    f"""SELECT doc_id,
               CASE WHEN {h32_sql("CAST(doc_id AS VARCHAR)")} % 100 < 80 THEN 'train'
                    WHEN {h32_sql("CAST(doc_id AS VARCHAR)")} % 100 < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents""",
)
def dataset_split(spark, sf_dir):
    """Deterministic 80/10/10 train/val/test assignment by hashing the
    stable doc_id (NOT random() — reproducible across runs, engines,
    and re-partitioning; adding documents never reassigns existing
    ones). Pure projection: no shuffle, fully scan-parallel at any
    scale."""
    df = Catalog(spark, sf_dir).df("documents")
    bucket = hashing.h32("CAST(doc_id AS STRING)") % 100
    return df.select(
        "doc_id",
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


@register(
    "text_tfidf_topk",
    f"""WITH toks AS (
          SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
          FROM documents
        ),
        tf AS (
          SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
        ),
        dfreq AS (
          SELECT term, COUNT(DISTINCT doc_id) AS doc_freq FROM toks GROUP BY term
        ),
        n AS (SELECT COUNT(*) AS n_docs FROM documents),
        scored AS (
          SELECT tf.doc_id, tf.term, tf.tf, dfreq.doc_freq,
                 {round6_sql("CAST(tf.tf * (n.n_docs + 1) AS DOUBLE) / (dfreq.doc_freq + 1)")} AS score
          FROM tf JOIN dfreq USING (term) CROSS JOIN n
        )
        SELECT doc_id, term, tf, doc_freq, score,
               CAST(rn AS INT) AS rn
        FROM (
          SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY doc_id ORDER BY score DESC, term) AS rn
          FROM scored
        ) WHERE rn <= 5""",
)
def text_tfidf_topk(spark, sf_dir):
    """Top-5 TF-IDF terms per document (training-data relevance /
    keyword extraction). The idf is the RATIONAL surrogate
    (n_docs+1)/(doc_freq+1) — no log: ln() is a transcendental whose
    last-ulp differs across engines, while int64 products + one IEEE
    double division are bit-identical everywhere (and the ranking it
    induces is the same — log is monotone).

    Scale shape: tokens explode inside the scan stage; tf is one
    hash-shuffle on (doc_id, term) with map-side partial counts;
    doc_freq is a second aggregation whose OUTPUT is vocabulary-sized
    (bounded by natural language, ~10^6 rows at any corpus size) so the
    score join broadcasts it; n_docs is a 1-row broadcast cross join.
    The final top-5 is row_number over doc_id — Spark's
    WindowGroupLimit pushes a partial per-partition top-5 below the
    exchange, so the window shuffle carries ≤5·docs rows, not the full
    tf table."""
    df = Catalog(spark, sf_dir).df("documents")
    toks = df.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"[a-z]+"), 0)
        ).alias("term"),
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = toks.groupBy("term").agg(
        F.countDistinct("doc_id").alias("doc_freq")
    )
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            hashing.round6(
                (F.col("tf") * (F.col("n_docs") + F.lit(1))).cast("double")
                / (F.col("doc_freq") + F.lit(1))
            ),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.col("score").desc(), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("doc_id", "term", "tf", "doc_freq", "score", "rn")
    )


@register(
    "stratified_sample",
    """SELECT doc_id, lang, source, CAST(sample_rank AS INT) AS sample_rank
       FROM (
         SELECT doc_id, lang, source,
                ROW_NUMBER() OVER (
                  PARTITION BY lang, source
                  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS sample_rank
         FROM documents
       ) WHERE sample_rank <= 20""",
)
def stratified_sample(spark, sf_dir):
    """Deterministic stratified sample: 20 docs per (lang, source)
    stratum, selected by md5(doc_id) order — a reproducible
    uniform-within-stratum draw (same engine-portable trick as
    dataset_split: the hash IS the random number, so re-runs,
    re-partitioning, and engine choice cannot change the sample).

    Scale shape: one shuffle on the stratum key; WindowGroupLimit
    keeps a per-partition top-20 heap below the exchange, so the
    shuffle moves ≤20·strata·partitions rows — effectively nothing at
    100 TB. A skewed stratum never materializes its full sort."""
    df = Catalog(spark, sf_dir).df("documents")
    w = W.partitionBy("lang", "source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        df.select(
            "doc_id", "lang", "source", F.row_number().over(w).alias("sample_rank")
        )
        .filter(F.col("sample_rank") <= 20)
    )


@register(
    "range_join_orders",
    """SELECT a.o_orderkey AS okey_a, b.o_orderkey AS okey_b,
              CAST(date_diff('day', CAST(a.o_orderdate AS DATE),
                             CAST(b.o_orderdate AS DATE)) AS BIGINT) AS day_gap
       FROM orders a JOIN orders b
         ON a.o_custkey = b.o_custkey
        AND abs(date_diff('day', CAST(a.o_orderdate AS DATE),
                          CAST(b.o_orderdate AS DATE))) <= 30
        AND a.o_orderkey <> b.o_orderkey""",
)
def range_join_orders(spark, sf_dir):
    """Range (interval) join: pairs of orders by the same customer
    within ±30 days — the window-context primitive behind burst
    detection and near-duplicate-order analysis. Spark has no native
    range-join optimization (the naive plan is an equi-join on custkey
    with a residual date filter, which degenerates to a per-customer
    cross product), so this uses the BINNED range join: bucket dates
    into bins of width == the range radius (30 d); the left side
    replicates each row to its 3 adjacent bins (explode), the right
    keeps its single home bin, and the join is a pure equi-join on
    (custkey, bin) + residual |gap| <= 30. Each qualifying pair meets
    in exactly one bin (the right row's home bin), so no dedup pass is
    needed. Cost: 3x left-side shuffle volume buys an equi-join whose
    per-key fan-out is bounded by one bin's population — the standard
    trick Databricks ships as the RANGE_JOIN hint, expressed in open
    Spark."""
    o = (
        Catalog(spark, sf_dir)
        .df("orders")
        .select(
            "o_orderkey",
            "o_custkey",
            F.unix_date(F.col("o_orderdate").cast("date")).alias("d"),
        )
    )
    a = o.select(
        F.col("o_orderkey").alias("okey_a"),
        "o_custkey",
        F.col("d").alias("da"),
        F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))).alias("off"),
    ).withColumn("bin", F.floor(F.col("da") / 30) + F.col("off"))
    b = o.select(
        F.col("o_orderkey").alias("okey_b"),
        "o_custkey",
        F.col("d").alias("db"),
        F.floor(F.col("d") / 30).alias("bin"),
    )
    return (
        a.join(b, ["o_custkey", "bin"])
        .filter(
            (F.abs(F.col("db") - F.col("da")) <= 30)
            & (F.col("okey_a") != F.col("okey_b"))
        )
        .select(
            "okey_a",
            "okey_b",
            (F.col("db") - F.col("da")).cast("bigint").alias("day_gap"),
        )
    )


@register(
    "contamination_check",
    f"""WITH split AS (
          SELECT doc_id, lower(text) AS txt,
                 CASE WHEN {h32_sql("CAST(doc_id AS VARCHAR)")} % 100 < 80 THEN 'train'
                      WHEN {h32_sql("CAST(doc_id AS VARCHAR)")} % 100 < 90 THEN 'val'
                      ELSE 'test' END AS split
          FROM documents),
        toks AS (
          SELECT doc_id, split, regexp_extract_all(txt, '[a-z0-9]+') AS t
          FROM split),
        sh AS (
          SELECT DISTINCT doc_id, split, md5(shingle) AS sh_key
          FROM (
            SELECT doc_id, split,
                   unnest([array_to_string(t[i:i+7], ' ')
                           FOR i IN generate_series(1, len(t) - 7)]) AS shingle
            FROM toks WHERE len(t) >= 8)),
        train_keys AS (
          SELECT sh_key FROM sh WHERE split = 'train'
          GROUP BY sh_key HAVING COUNT(DISTINCT doc_id) <= 256),
        train_pairs AS (
          SELECT s.sh_key, s.doc_id AS train_doc
          FROM sh s JOIN train_keys USING (sh_key) WHERE s.split = 'train')
        SELECT e.doc_id, e.split,
               CAST(COUNT(DISTINCT e.sh_key) AS BIGINT) AS n_shingles,
               CAST(COUNT(DISTINCT t.train_doc) AS BIGINT) AS n_train_docs
        FROM sh e JOIN train_pairs t USING (sh_key)
        WHERE e.split <> 'train'
        GROUP BY e.doc_id, e.split""",
)
def contamination_check(spark, sf_dir):
    """Benchmark decontamination: eval (val/test) documents sharing any
    8-token shingle with a train document, with overlap counts — the
    step every serious training-data pipeline runs before publishing a
    split (the n-gram method GPT-3/PaLM-style reports describe).

    Spark-first shape: tokenization and shingling are pure column
    expressions (regexp_extract_all + explode(sequence) + slice —
    prefiltered to docs with >= 8 tokens so the sequence is unguarded
    and stays in codegen); shingles join on their md5 (fixed 32-char
    key keeps shuffle width independent of shingle length, collision
    odds ~0 at any corpus size). The one scale hazard — boilerplate
    shingles present in thousands of train docs fanning out the join —
    is capped exactly like the LSH hot-bucket rule: shingles with train
    doc-frequency > 256 are dropped as uninformative (HAVING twin in
    the oracle). Cost: one shuffle to dedup shingles, one for the
    train-frequency cap, one broadcast-or-shuffle join, one final
    aggregate; all partial-aggregated map-side."""
    docs = Catalog(spark, sf_dir).df("documents")
    bucket = hashing.h32("CAST(doc_id AS STRING)") % 100
    base = docs.select(
        "doc_id",
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
        F.regexp_extract_all(
            F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0
        ).alias("t"),
    ).filter(F.size("t") >= 8)
    sh = (
        base.select(
            "doc_id",
            "split",
            "t",
            F.explode(F.sequence(F.lit(1), F.size("t") - 7)).alias("i"),
        )
        .select(
            "doc_id",
            "split",
            F.md5(F.concat_ws(" ", F.slice(F.col("t"), F.col("i"), 8))).alias(
                "sh_key"
            ),
        )
        .distinct()
    )
    train = sh.filter(F.col("split") == "train").select("sh_key", "doc_id")
    train_keys = (
        train.groupBy("sh_key")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") <= 256)
        .select("sh_key")
    )
    train_pairs = train.join(train_keys, "sh_key").withColumnRenamed(
        "doc_id", "train_doc"
    )
    hits = sh.filter(F.col("split") != "train").join(train_pairs, "sh_key")
    return hits.groupBy("doc_id", "split").agg(
        F.countDistinct("sh_key").cast("bigint").alias("n_shingles"),
        F.countDistinct("train_doc").cast("bigint").alias("n_train_docs"),
    )


# ---------------------------------------------------------------------------
# Training-pipeline operators round 3: corpus statistics, mixture
# sampling, sequence packing, repetition signals, embedding quantization
# ---------------------------------------------------------------------------

_QUANTILES = (0.5, 0.9, 0.99)


@register(
    "token_length_quantiles",
    f"""SELECT lang,
               COUNT(*) AS n_docs,
               {round6_sql('quantile_cont(n_tok, 0.5)')} AS p50_tokens,
               {round6_sql('quantile_cont(n_tok, 0.9)')} AS p90_tokens,
               {round6_sql('quantile_cont(n_tok, 0.99)')} AS p99_tokens
        FROM (
          SELECT lang,
                 CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
                                      x -> x <> '')) AS BIGINT) AS n_tok
          FROM documents
        )
        GROUP BY lang""",
)
def token_length_quantiles(spark, sf_dir):
    """Per-language EXACT token-length quantiles (p50/p90/p99) — the
    length-distribution audit every pretraining mix needs before
    choosing packing budgets. Uses exact interpolated percentile (both
    engines implement the continuous-distribution model) rather than
    approx_percentile, whose sketch would not oracle-match; at 100 TB
    swap in approx_percentile(_, _, accuracy) and drop the oracle to
    rows-only — the plan shape (one partial-agg shuffle per lang) is
    identical."""
    df = Catalog(spark, sf_dir).df("documents")
    n_tok = F.size(hashing.tokens("text")).cast("bigint")
    base = df.select("lang", n_tok.alias("n_tok"))
    pct = F.percentile(F.col("n_tok"), F.lit(list(_QUANTILES)))
    return base.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        hashing.round6(F.get(pct, 0)).alias("p50_tokens"),
        hashing.round6(F.get(pct, 1)).alias("p90_tokens"),
        hashing.round6(F.get(pct, 2)).alias("p99_tokens"),
    )


# language → sampling rate (mixture weighting, e.g. downsample the
# dominant language); unknown languages keep the default rate
_MIXTURE_RATES = {"en": 1.0, "de": 0.6, "fr": 0.6}
_MIXTURE_DEFAULT = 0.3
_MIXTURE_MOD = 1_000_000


def _mixture_rate_sql() -> str:
    whens = " ".join(
        f"WHEN lang = '{k}' THEN {v}" for k, v in _MIXTURE_RATES.items()
    )
    return f"(CASE {whens} ELSE {_MIXTURE_DEFAULT} END)"


@register(
    "corpus_mixture_sample",
    f"""SELECT doc_id, lang
        FROM documents
        WHERE ({h32_sql('CAST(doc_id AS VARCHAR)')} % {_MIXTURE_MOD})
              < {_mixture_rate_sql()} * {_MIXTURE_MOD}""",
)
def corpus_mixture_sample(spark, sf_dir):
    """Deterministic mixture sampling: per-language keep rates applied
    via hash-thresholding (the hash IS the RNG — partition-invariant,
    reproducible, no seed state), the standard way to re-weight a
    pretraining mix. One scan, zero shuffle; the filter is a pure
    column predicate at any scale."""
    df = Catalog(spark, sf_dir).df("documents")
    rate = F.lit(_MIXTURE_DEFAULT)
    for k, v in reversed(_MIXTURE_RATES.items()):
        rate = F.when(F.col("lang") == k, F.lit(v)).otherwise(rate)
    keep = (
        hashing.h32("CAST(doc_id AS STRING)") % _MIXTURE_MOD
    ) < rate * _MIXTURE_MOD
    return df.filter(keep).select("doc_id", "lang")


PACK_BUDGET = 512  # tokens per packed training sequence
PACK_SHARDS = 8


@register(
    "pack_sequences",
    f"""WITH d AS (
          SELECT doc_id, doc_id % {PACK_SHARDS} AS shard,
                 CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
                                      x -> x <> '')) AS BIGINT) AS n_tok
          FROM documents
        ),
        c AS (
          SELECT doc_id, shard, n_tok,
                 COALESCE(SUM(n_tok) OVER (
                   PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS prior_tok
          FROM d
        )
        SELECT doc_id, n_tok,
               shard * 1000000 + CAST(floor(prior_tok / {PACK_BUDGET}) AS BIGINT)
                 AS seq_id,
               prior_tok % {PACK_BUDGET} AS seq_offset
        FROM c""",
)
def pack_sequences(spark, sf_dir):
    """Sequence packing: concatenate documents in deterministic order
    and cut at a fixed token budget — every doc gets the training
    sequence id and offset where its tokens begin (docs straddling a
    boundary continue into the next sequence, the standard pretraining
    concat-and-chunk). A GLOBAL running sum would serialize on one
    partition, so docs are sharded by doc_id % {PACK_SHARDS} and packed
    per shard: {PACK_SHARDS}-way parallel prefix sums, deterministic
    output, and at 1000 executors you raise PACK_SHARDS — the shape
    stays one window shuffle keyed by shard."""
    df = Catalog(spark, sf_dir).df("documents")
    n_tok = F.size(hashing.tokens("text")).cast("bigint")
    d = df.select(
        "doc_id",
        (F.col("doc_id") % PACK_SHARDS).alias("shard"),
        n_tok.alias("n_tok"),
    )
    w = (
        W.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    prior = F.coalesce(F.sum("n_tok").over(w), F.lit(0))
    return d.select(
        "doc_id",
        "n_tok",
        (
            F.col("shard") * 1_000_000
            + F.floor(prior / PACK_BUDGET).cast("bigint")
        ).alias("seq_id"),
        (prior % PACK_BUDGET).alias("seq_offset"),
    )


QPF_CUT = 0.10  # drop the bottom decile per source

# type-token ratio (distinct/total tokens) — the deterministic quality
# score shared by the percentile filter and the budget selector
def _tt_score():
    tok = hashing.tokens("text")
    return F.size(F.array_distinct(tok)).cast("double") / F.nullif(
        F.size(tok), F.lit(0)
    )


_TT_SCORE_SQL = (
    "CAST(len(list_distinct(toks)) AS DOUBLE) / nullif(len(toks), 0)"
)

@register(
    "quality_percentile_filter",
    f"""WITH s AS (
          SELECT doc_id, source,
                 {_TT_SCORE_SQL} AS score
          FROM (SELECT doc_id, source, {hashing.tokens_sql('text')} AS toks
                FROM documents)
        )
        SELECT doc_id, source, {hashing.round6_sql('score')} AS score,
               {hashing.round6_sql(
                   'PERCENT_RANK() OVER '
                   '(PARTITION BY source ORDER BY score, doc_id)'
               )} AS pr,
               PERCENT_RANK() OVER (PARTITION BY source
                                    ORDER BY score, doc_id) >= {QPF_CUT}
                 AS keep
        FROM s""",
)
def quality_percentile_filter(spark, sf_dir):
    """RELATIVE quality filtering (the FineWeb-style cut): instead of a
    global threshold, each doc ranks against its OWN source and the
    bottom decile per source drops — sources with different baseline
    quality each lose their worst tail. Score = type-token ratio
    (distinct/total tokens), rank = percent_rank with doc_id tiebreak
    (deterministic, no ties). One shuffle keyed by source; percent_rank
    needs each source sorted, so at extreme per-source skew the
    sketch-based cutoff (token_length_quantiles' percentile machinery)
    is the fallback — for typical source cardinality this exact form
    scales fine."""
    df = Catalog(spark, sf_dir).df("documents")
    s = df.select("doc_id", "source", _tt_score().alias("score"))
    w = W.partitionBy("source").orderBy("score", "doc_id")
    pr = F.percent_rank().over(w)
    return s.select(
        "doc_id",
        "source",
        hashing.round6(F.col("score")).alias("score"),
        hashing.round6(pr).alias("pr"),
        (pr >= QPF_CUT).alias("keep"),
    )


BUDGET_SHARDS = 4
BUDGET_PER_SHARD = 150  # tokens per (source, shard)


@register(
    "token_budget_select",
    f"""WITH d AS (
          SELECT doc_id, source, doc_id % {BUDGET_SHARDS} AS shard,
                 CAST(len(toks) AS BIGINT) AS n_tok,
                 {_TT_SCORE_SQL} AS score
          FROM (SELECT doc_id, source, {hashing.tokens_sql('text')} AS toks
                FROM documents)
        )
        SELECT doc_id, source, shard, n_tok,
               SUM(n_tok) OVER (PARTITION BY source, shard
                                ORDER BY score DESC, doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cum_tok,
               SUM(n_tok) OVER (PARTITION BY source, shard
                                ORDER BY score DESC, doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) <= {BUDGET_PER_SHARD}
                 AS keep
        FROM d""",
)
def token_budget_select(spark, sf_dir):
    """Token-budget subsetting (data mixing under a budget): take each
    source's best documents, by quality score, until the source's token
    budget is spent. The budget splits across {BUDGET_SHARDS} hash
    shards — the same sharded-prefix-sum shape as pack_sequences, so no
    source ever serializes on one reducer; at 1000 executors raise
    BUDGET_SHARDS and the plan stays one window shuffle keyed by
    (source, shard). Greedy-by-score within each shard is a stratified
    approximation of the global greedy cut, deterministic end-to-end
    (score ties broken by doc_id, the hash IS the shard assignment)."""
    df = Catalog(spark, sf_dir).df("documents")
    d = df.select(
        "doc_id",
        "source",
        (F.col("doc_id") % BUDGET_SHARDS).alias("shard"),
        F.size(hashing.tokens("text")).cast("bigint").alias("n_tok"),
        _tt_score().alias("score"),
    )
    w = (
        W.partitionBy("source", "shard")
        .orderBy(F.col("score").desc(), "doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = F.sum("n_tok").over(w)
    return d.select(
        "doc_id",
        "source",
        "shard",
        "n_tok",
        cum.alias("cum_tok"),
        (cum <= BUDGET_PER_SHARD).alias("keep"),
    )


_REP_TOP_WINDOW = 512  # unigram-mode scan bounded to the doc head


@register(
    "text_repetition_stats",
    f"""WITH t AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(text), '\\s+'),
                             x -> x <> '') AS toks
          FROM documents
        ),
        s AS (
          SELECT doc_id, toks,
                 toks[1:{_REP_TOP_WINDOW}] AS head,
                 CAST(len(toks) AS BIGINT) AS n_tok,
                 CAST(len(list_distinct(toks)) AS BIGINT) AS n_uniq
          FROM t WHERE len(toks) > 0
        )
        SELECT doc_id, n_tok, n_uniq,
               {round6_sql('1.0 - CAST(n_uniq AS DOUBLE) / CAST(n_tok AS DOUBLE)')}
                 AS dup_token_ratio,
               {round6_sql('CAST(list_max(list_transform(list_distinct(head), '
                           'x -> len(list_filter(head, y -> y = x)))) AS DOUBLE)'
                           ' / CAST(len(head) AS DOUBLE)')}
                 AS top_token_frac
        FROM s""",
)
def text_repetition_stats(spark, sf_dir):
    """Repetition signals (Gopher-style): duplicate-token ratio over the
    whole doc and the most-frequent-unigram fraction over the first
    {_REP_TOP_WINDOW} tokens. Pure array expressions — zero shuffle,
    embarrassingly parallel. The top-unigram scan is O(n·distinct) per
    doc, so it is bounded to the doc head; at 100 TB the unbounded
    variant is the explode + per-doc groupBy form (one shuffle) —
    chosen here because the bounded array form keeps the whole operator
    inside whole-stage codegen.

    Single-parse construction (guide §7.3; trees unchanged, oracle
    pins the values)."""
    df = Catalog(spark, sf_dir).df("documents")
    base = df.selectExpr(
        "doc_id", f"{hashing.tokens_sparksql('text')} AS toks"
    ).filter(F.size("toks") > 0)
    head = f"slice(toks, 1, {_REP_TOP_WINDOW})"
    top_cnt = (
        f"array_max(transform(array_distinct({head}), "
        f"x -> size(filter({head}, y -> y = x))))"
    )
    return base.selectExpr(
        "doc_id",
        "CAST(size(toks) AS BIGINT) AS n_tok",
        "CAST(size(array_distinct(toks)) AS BIGINT) AS n_uniq",
        "(floor((1.0D - CAST(CAST(size(array_distinct(toks)) AS BIGINT) "
        "AS DOUBLE) / CAST(CAST(size(toks) AS BIGINT) AS DOUBLE)) "
        "* 1e6 + 0.5D) / 1e6) AS dup_token_ratio",
        f"(floor((CAST({top_cnt} AS DOUBLE) / "
        f"CAST(size({head}) AS DOUBLE)) * 1e6 + 0.5D) / 1e6) "
        f"AS top_token_frac",
    )


@register(
    "embedding_quantize_int8",
    f"""WITH s AS (
          SELECT vec_id, embedding,
                 list_max(list_transform(embedding,
                                         x -> abs(CAST(x AS DOUBLE)))) / 127.0
                   AS scale
          FROM embeddings
        )
        SELECT vec_id,
               {round6_sql('scale')} AS scale,
               to_json(CASE WHEN scale = 0
                    THEN list_transform(embedding, x -> 0)
                    ELSE list_transform(embedding,
                           x -> CAST(floor(CAST(x AS DOUBLE) / scale + 0.5)
                                     AS INTEGER))
               END) AS q
        FROM s""",
)
def embedding_quantize_int8(spark, sf_dir):
    """Symmetric int8 quantization per vector (scale = max|x|/127,
    q = round(x/scale)) — the storage/serving form for embedding
    corpora; 4x smaller than float32 before ANN indexing. Pure array
    expressions over the scan: zero shuffle at any scale. Rounding is
    floor(v + 0.5) so both engines agree bit-for-bit (engine-native
    round() differs on halfway cases)."""
    df = Catalog(spark, sf_dir).df("embeddings")
    scale = (
        F.array_max(F.transform("embedding", lambda x: F.abs(x.cast("double"))))
        / F.lit(127.0)
    )
    # NOTE the internal column must not share the output alias "scale":
    # lateral column alias resolution would bind the quantizer's scale
    # reference to the ROUNDED output in the same select, flipping
    # halfway elements by one
    s = df.select("vec_id", "embedding", scale.alias("_scale"))
    q = F.when(
        F.col("_scale") == 0,
        F.transform("embedding", lambda x: F.lit(0)),
    ).otherwise(
        F.transform(
            "embedding",
            lambda x: F.floor(
                x.cast("double") / F.col("_scale") + F.lit(0.5)
            ).cast("int"),
        )
    )
    return s.select(
        "vec_id",
        hashing.round6(F.col("_scale")).alias("scale"),
        # to_json at the registry boundary (canonicalizer contract —
        # the minhash_signatures precedent, dedup.py:196).
        F.to_json(q).alias("q"),
    )


_GROUP_SAMPLE_K = 20


@register(
    "group_sample_topk",
    f"""SELECT doc_id, lang
        FROM (
          SELECT doc_id, lang,
                 ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY {h32_sql('CAST(doc_id AS VARCHAR)')}, doc_id) AS rn
          FROM documents
        )
        WHERE rn <= {_GROUP_SAMPLE_K}""",
)
def group_sample_topk(spark, sf_dir):
    """Deterministic per-group sample: exactly {_GROUP_SAMPLE_K} docs
    per language, chosen by hash rank (the hash is the RNG) — balanced
    eval subsets that are reproducible across runs, partitionings, and
    engines, unlike rand()-based sampling. One window shuffle keyed by
    the group; at 100 TB the heavy text column is joined back AFTER
    ranking (only ids ride the shuffle here)."""
    df = Catalog(spark, sf_dir).df("documents")
    w = W.partitionBy("lang").orderBy(
        hashing.h32("CAST(doc_id AS STRING)"), "doc_id"
    )
    return (
        df.select("doc_id", "lang")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _GROUP_SAMPLE_K)
        .select("doc_id", "lang")
    )


@register(
    "source_corpus_stats",
    f"""SELECT source,
               COUNT(*) AS n_docs,
               CAST(SUM(CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
                                             x -> x <> '')) AS BIGINT)) AS BIGINT)
                 AS total_tokens,
               {round6_sql('AVG(CAST(n_chars AS DOUBLE))')} AS avg_chars,
               COUNT(DISTINCT lang) AS n_langs
        FROM documents
        GROUP BY source""",
)
def source_corpus_stats(spark, sf_dir):
    """Per-source corpus accounting (docs, token volume, mean length,
    language spread) — the mixture table a data curator reads before
    weighting sources. One partial-agg shuffle keyed by source; token
    counting stays in codegen on the scan side."""
    df = Catalog(spark, sf_dir).df("documents")
    n_tok = F.size(hashing.tokens("text")).cast("bigint")
    return df.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_tok).cast("bigint").alias("total_tokens"),
        hashing.round6(F.avg(F.col("n_chars").cast("double"))).alias("avg_chars"),
        F.count_distinct("lang").alias("n_langs"),
    )


_FUNNEL_STAGES = ("view", "click", "purchase")


@register(
    "events_funnel",
    """WITH enc AS (
         SELECT user_id,
                lpad(CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS VARCHAR), 20, '0')
                  || '|' || lpad(CAST(event_id AS VARCHAR), 10, '0')
                  || '|' || event_type AS e
         FROM events
       ),
       g AS (SELECT user_id, list_sort(list(e)) AS a FROM enc GROUP BY user_id),
       s AS (
         SELECT user_id, a,
                a[list_position(list_transform(a, x -> ends_with(x, '|view')), true)] AS v
         FROM g
       ),
       s2 AS (
         SELECT user_id, a, v,
                list_filter(a, x -> ends_with(x, '|click') AND x > v)[1] AS c
         FROM s
       ),
       s3 AS (
         SELECT user_id, v, c,
                list_filter(a, x -> ends_with(x, '|purchase') AND x > c)[1] AS p
         FROM s2
       )
       SELECT user_id,
              CAST(CASE WHEN p IS NOT NULL THEN 3
                        WHEN c IS NOT NULL THEN 2
                        WHEN v IS NOT NULL THEN 1
                        ELSE 0 END AS BIGINT) AS stage,
              CAST(CASE WHEN v IS NULL THEN NULL ELSE CAST(v[1:20] AS BIGINT) END AS BIGINT) AS view_us,
              CAST(CASE WHEN c IS NULL THEN NULL ELSE CAST(c[1:20] AS BIGINT) END AS BIGINT) AS click_us,
              CAST(CASE WHEN p IS NULL THEN NULL ELSE CAST(p[1:20] AS BIGINT) END AS BIGINT) AS purchase_us
       FROM s3""",
)
def events_funnel(spark, sf_dir):
    """Funnel analysis: per user, the earliest strictly-ordered
    view → click → purchase chain (each stage's first event after the
    previous stage), plus the furthest stage reached — the classic
    product-analytics sequence-match operator.

    Engine-portable encoding: each event becomes a
    zero-padded "micros|event_id|type" string, so ONE lexicographic
    sort per user gives deterministic event order (event_id breaks ts
    ties identically in both engines) and stage matching is pure array
    filtering — one collect_list shuffle keyed by user, all matching in
    whole-stage codegen, no joins, no UDFs. At 100 TB this is the
    at-scale funnel shape: shuffle O(events) once, per-user state is
    one sorted array."""
    df = Catalog(spark, sf_dir).df("events")
    enc = F.concat_ws(
        "|",
        F.lpad(time_micros(df, "ts").cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 10, "0"),
        F.col("event_type"),
    )
    g = df.select("user_id", enc.alias("e")).groupBy("user_id").agg(
        F.sort_array(F.collect_list("e")).alias("a")
    )

    def first_after(arr, stage, prev):
        cond = lambda x: x.endswith(F.lit(f"|{stage}"))  # noqa: E731
        if prev is not None:
            base = cond
            cond = lambda x: base(x) & (x > prev)  # noqa: E731
        return F.element_at(F.filter(arr, cond), 1)

    s = g.withColumn("v", first_after(F.col("a"), "view", None))
    s = s.withColumn("c", first_after(F.col("a"), "click", F.col("v")))
    s = s.withColumn("p", first_after(F.col("a"), "purchase", F.col("c")))
    us = lambda col: F.substring(col, 1, 20).cast("bigint")  # noqa: E731
    return s.select(
        "user_id",
        F.when(F.col("p").isNotNull(), 3)
        .when(F.col("c").isNotNull(), 2)
        .when(F.col("v").isNotNull(), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("stage"),
        us(F.col("v")).alias("view_us"),
        us(F.col("c")).alias("click_us"),
        us(F.col("p")).alias("purchase_us"),
    )


def dedup_crosscorpus_fuzzy(spark, sf_dir):
    """Fuzzy join between two corpora (held corpus = even doc_ids,
    fresh candidates = odd doc_ids): near-duplicate (a_id, b_id) pairs
    with exact Jaccard verification over banded minhash candidates —
    dedup-against-existing-corpus, the cross-corpus sibling of
    dedup_minhash_lsh_pairs."""
    df = Catalog(spark, sf_dir).df("documents")
    return _dd.minhash_crosscorpus_pairs(
        df.filter(F.col("doc_id") % 2 == 0),
        df.filter(F.col("doc_id") % 2 == 1),
    )


REGISTRY["dedup_crosscorpus_fuzzy"] = QueryDef(
    fn=dedup_crosscorpus_fuzzy,
    oracle=_dd.minhash_crosscorpus_pairs_sql(
        "doc_id % 2 = 0", "doc_id % 2 = 1"
    ),
)


def plugin_embedding_enrich_docs(spark, sf_dir):
    """Embedding-enrichment plugin chain over the documents corpus —
    the reference's vector-enrichment use-case
    (ref: plugins/sentence_transformer_plugin.py:1-69) run through the
    engine's mapInPandas chain: drop short docs (falsy-return
    contract), then attach a per-doc embedding computed IN the
    executor (deterministic hash encoder standing in for the model —
    same lazy-load seam a sentence-transformers model uses)."""
    from .plugin import apply_plugins
    from .plugin_examples import EmbeddingEnrichmentPlugin, ShortDocDropPlugin

    d = Catalog(spark, sf_dir).df("documents")
    docs = d.select(
        F.col("doc_id").cast("string").alias("_id"),
        F.to_json(F.struct("doc_id", "lang", "source", "text")).alias("doc"),
    )
    return apply_plugins(
        docs,
        [
            ShortDocDropPlugin(text_field="text", min_chars=100),
            EmbeddingEnrichmentPlugin(text_field="text", dims=16),
        ],
        index="documents",
    )


def plugin_masking_docs(spark, sf_dir):
    """PII-masking plugin chain over customer docs — the reference's
    MaskingPlugin semantics (ref: plugins/masking_plugin.py:10-96)
    through the engine's mapInPandas chain, with its DEFAULT field
    lists: ``secret`` is redacted wholesale, ``email`` keeps first
    char + domain, ``phone`` and ``credit_card`` keep their last 4
    digits, and ``customer_id`` is one-way sha256-hashed for
    join-safe anonymization. The testdata has no PII columns, so the
    doc synthesizes them deterministically from c_custkey/c_name
    (same approach as text_pii_redact); every masking rule is a pure
    string function, so the DuckDB oracle reproduces the masked docs
    byte-for-byte."""
    from .plugin import apply_plugins
    from .plugin_examples import MaskingPlugin

    c = Catalog(spark, sf_dir).df("customer")
    k = F.col("c_custkey")
    docs = c.select(
        k.cast("string").alias("_id"),
        F.to_json(
            F.struct(
                k.alias("customer_id"),
                "c_name",
                F.concat(
                    F.lower(F.regexp_replace("c_name", "#", ".")),
                    F.lit("@example.com"),
                ).alias("email"),
                F.format_string(
                    "%03d-%03d-%04d", k % 1000, (k * 7) % 1000, (k * 13) % 10000
                ).alias("phone"),
                F.format_string(
                    "%04d-%04d-%04d-%04d",
                    (k * 3) % 10000, (k * 5) % 10000, (k * 11) % 10000, k % 10000,
                ).alias("credit_card"),
                F.col("c_mktsegment").alias("secret"),
            )
        ).alias("doc"),
    )
    return apply_plugins(docs, [MaskingPlugin()], index="customer")


REGISTRY["plugin_masking_docs"] = QueryDef(
    fn=plugin_masking_docs,
    oracle="""
        SELECT CAST(c_custkey AS VARCHAR) AS _id,
               json_object(
                 -- reference parity: `if field in doc and doc[field]`
                 -- skips falsy values, so customer_id 0 stays unhashed
                 'customer_id', CASE WHEN c_custkey <> 0
                     THEN to_json(substring(sha256(CAST(c_custkey AS VARCHAR)), 1, 16))
                     ELSE to_json(c_custkey) END,
                 'c_name', c_name,
                 'email', substring(lower(replace(c_name, '#', '.')), 1, 1)
                          || '***@example.com',
                 'phone', '***-***-' || printf('%04d', (c_custkey * 13) % 10000),
                 'credit_card', '****-****-****-'
                                || printf('%04d', c_custkey % 10000),
                 'secret', '[REDACTED]'
               )::VARCHAR AS doc
        FROM customer
    """,
)


def plugin_slug_infinity_docs(spark, sf_dir):
    """Slug + infinity-date plugin chain over part docs — the two
    remaining reference plugin shapes (ref: plugins/slug_plugin.py,
    plugins/infinity.py) composed in one chain: p_name becomes a
    URL-friendly slug, and a synthesized publish_date column cycling
    'infinity' / '-infinity' / a real date maps to the extreme ISO
    timestamps (PG infinity semantics). The testdata is ASCII, so the
    slug rule is pure lower/regexp in both engines (unicode NFKD
    handling is covered by the plugin's pytest fixtures)."""
    from .plugin import apply_plugins
    from .plugin_examples import InfinityDatePlugin, SlugPlugin

    p = Catalog(spark, sf_dir).df("part")
    k = F.col("p_partkey")
    docs = p.select(
        k.cast("string").alias("_id"),
        F.to_json(
            F.struct(
                "p_partkey",
                "p_name",
                F.when(k % 3 == 0, F.lit("infinity"))
                .when(k % 3 == 1, F.lit("-infinity"))
                .otherwise(F.lit("2020-01-15"))
                .alias("publish_date"),
            )
        ).alias("doc"),
    )
    return apply_plugins(
        docs,
        [InfinityDatePlugin(), SlugPlugin(source_field="p_name")],
        index="part",
    )


REGISTRY["plugin_slug_infinity_docs"] = QueryDef(
    fn=plugin_slug_infinity_docs,
    oracle="""
        SELECT CAST(p_partkey AS VARCHAR) AS _id,
               json_object(
                 'p_partkey', p_partkey,
                 'p_name', p_name,
                 'publish_date', CASE p_partkey % 3
                     WHEN 0 THEN '9999-12-31T23:59:59.999999'
                     WHEN 1 THEN '0001-01-01T00:00:00'
                     ELSE '2020-01-15' END,
                 'slug', trim(
                     regexp_replace(
                       regexp_replace(
                         regexp_replace(lower(p_name), '[\\s_]+', '-', 'g'),
                         '[^a-z0-9-]', '', 'g'),
                       '-{2,}', '-', 'g'),
                     '-')
               )::VARCHAR AS doc
        FROM part
    """,
)


from .plugin_examples import hash_embedding_sql as _hash_emb_sql  # noqa: E402

REGISTRY["plugin_embedding_enrich_docs"] = QueryDef(
    fn=plugin_embedding_enrich_docs,
    oracle=f"""
        SELECT CAST(doc_id AS VARCHAR) AS _id,
               substring(base, 1, length(base) - 1) || ',"embedding":' ||
               to_json({_hash_emb_sql('text', 16)}) || '}}' AS doc
        FROM (
          SELECT doc_id, text,
                 json_object('doc_id', doc_id, 'lang', lang,
                             'source', source, 'text', text)::VARCHAR AS base
          FROM documents
          WHERE length(text) >= 100
        )
    """,
)


# ---------------------------------------------------------------------------
# Retrieval + data-selection operators: BM25, hybrid RRF search, DSIR
# (round-6 continuation — lexical retrieval and importance resampling
# for the training-data pipeline; Xie et al. 2023 for DSIR, Robertson &
# Zaragoza 2009 for BM25, Cormack et al. 2009 for RRF)
# ---------------------------------------------------------------------------

BM25_QUERY_TERMS = ("spark", "vector", "query")
BM25_K1 = "1.2"
BM25_K1_PLUS_1 = "2.2"
BM25_B = "0.75"
BM25_ONE_MINUS_B = "0.25"


def bm25_term_micro(tf, dfq, n_docs, dl, avgdl):
    """ONE query term's fixed-point BM25 contribution — floor-snapped
    idf micro-nats × tf normalization, floored to bigint BEFORE the
    cross-term sum (see _bm25_scored_sparksql for why). This is the single
    expression tree both the one-shot scorer and BM25Index.topk build
    from: the bit-parity contract between them (the additivity oracle)
    must not rest on two hand-synchronized copies.

    Takes/returns Spark-SQL TEXT fragments (single-parse form — the
    former per-term Column chain was ~70 py4j round-trips per term,
    guide §7.3; callers F.expr the summed text once). The tree is
    unchanged: D-suffixed double literals mirror the former F.lit
    doubles (bare 0.5 would parse as DECIMAL — see cosine6), ln is
    F.log's natural log, parenthesization preserves the exact IEEE
    fold order the oracle's fixed-point floors depend on."""
    idf_micro = (
        f"CAST(floor(ln(1.0D + (({n_docs}) - ({dfq}) + 0.5D) / "
        f"(({dfq}) + 0.5D)) * 1e6 + 0.5D) AS BIGINT)"
    )
    tfn = (
        f"(({tf}) * {float(BM25_K1_PLUS_1)}D) / (({tf}) + {float(BM25_K1)}D "
        f"* ({float(BM25_ONE_MINUS_B)}D + {float(BM25_B)}D "
        f"* (({dl}) / ({avgdl}))))"
    )
    return f"CAST(floor({idf_micro} * ({tfn}) + 0.5D) AS BIGINT)"


def _bm25_scored_sparksql(D: str) -> str:
    """Per-doc BM25 micro-score (doc_id, lang, source, score_micro)
    for the fixed query BM25_QUERY_TERMS, as Spark-SQL text over a
    documents view ``D``.

    Engine-portability design: the only transcendental (ln in the idf)
    is snapped to FIXED-POINT micro-nats per term — floor(ln(..)*1e6
    + 0.5) as bigint — and each term's contribution is floored to a
    bigint micro-score BEFORE the cross-term sum, so the final score is
    exact integer arithmetic: associative, order-independent, and
    bit-identical in Spark and DuckDB. Every double that feeds the
    floor is derived from integers (tf, dl, df, N) through an
    identical, fully-parenthesized IEEE expression in both engines.

    Scale shape: tf per query term is computed IN THE SCAN as
    size(filter(tokens, = term)) — no explode, no (doc, term) shuffle.
    Corpus stats (N, avgdl, per-term df) are ONE 1-row aggregate
    broadcast back by a cross join. The corpus side has zero
    exchanges; the whole scorer is scan + broadcast + project, so it
    survives any corpus size (the classic explode→groupBy tf
    materializes |tokens| rows and shuffles them — this form never
    does). Terms ride through the _spark_sql_str escaper."""
    from .operators.filters import _spark_sql_str as _sq

    ts = hashing.tokens_sparksql("text")
    tf_cols = ", ".join(
        f"size(filter({ts}, x -> x = {_sq(t)})) AS tf{i}"
        for i, t in enumerate(BM25_QUERY_TERMS)
    )
    df_cols = ", ".join(
        f"sum(CAST((tf{i} > 0) AS BIGINT)) AS df{i}"
        for i in range(len(BM25_QUERY_TERMS))
    )
    score = " + ".join(
        bm25_term_micro(f"tf{i}", f"df{i}", "n_docs", "dl", "avgdl")
        for i in range(len(BM25_QUERY_TERMS))
    )
    per_doc = (
        f"(SELECT doc_id, lang, source, size({ts}) AS dl, {tf_cols} "
        f"FROM {D})"
    )
    stats = (
        f"(SELECT count(1) AS n_docs, sum(dl) AS sum_dl, {df_cols} "
        f"FROM {per_doc})"
    )
    scored = f"""(SELECT /*+ BROADCAST(s) */ p.*, s.*,
  CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE) AS avgdl
  FROM {per_doc} p CROSS JOIN {stats} s)"""
    return (
        f"SELECT doc_id, lang, source, ({score}) AS score_micro "
        f"FROM {scored}"
    )


def _bm25_scored_sql(
    terms: tuple[str, ...] = BM25_QUERY_TERMS,
    analyzer: str = "whitespace",
) -> str:
    """The DuckDB mirror of _bm25_scored_sparksql — identical
    expression tree. ``analyzer`` must match the BM25Index (or
    _bm25_scored_sparksql tokenizer) being oracled."""
    toks = hashing.analyze_sql("text", analyzer)
    tf_cols = ", ".join(
        f"len(list_filter(toks, x -> x = '{t}')) AS tf{i}"
        for i, t in enumerate(terms)
    )
    df_cols = ", ".join(
        f"sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
        for i in range(len(terms))
    )

    def term_micro(i: int) -> str:
        idf = (
            f"CAST(floor(ln(1.0 + ((CAST(n_docs AS DOUBLE) - df{i} + 0.5)"
            f" / (df{i} + 0.5))) * 1e6 + 0.5) AS BIGINT)"
        )
        tfn = (
            f"((tf{i} * {BM25_K1_PLUS_1}) / (tf{i} + ({BM25_K1} * "
            f"({BM25_ONE_MINUS_B} + ({BM25_B} * (dl / avgdl))))))"
        )
        return f"CAST(floor({idf} * {tfn} + 0.5) AS BIGINT)"

    score = " + ".join(term_micro(i) for i in range(len(terms)))
    return f"""
        WITH per_doc AS (
          SELECT doc_id, lang, source, len(toks) AS dl, {tf_cols}
          FROM (SELECT doc_id, lang, source, {toks} AS toks FROM documents)
        ),
        stats AS (
          SELECT count(*) AS n_docs, sum(dl) AS sum_dl, {df_cols}
          FROM per_doc
        ),
        scored AS (
          SELECT per_doc.*, stats.*,
                 (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)) AS avgdl
          FROM per_doc, stats
        )
        SELECT doc_id, lang, source, ({score}) AS score_micro FROM scored
    """


@register(
    "text_bm25_topk",
    f"""SELECT doc_id, lang, source, score_micro,
               CAST(ROW_NUMBER() OVER (
                 ORDER BY score_micro DESC, doc_id) AS INT) AS rank
        FROM ({_bm25_scored_sql()})
        WHERE score_micro > 0
        ORDER BY score_micro DESC, doc_id LIMIT 10""",
)
def text_bm25_topk(spark, sf_dir):
    """BM25 top-10 retrieval for a fixed query (Robertson-Zaragoza
    k1=1.2 b=0.75) — the lexical-retrieval primitive of a RAG /
    eval-search pipeline, and the lexical leg of hybrid_search_rrf.

    Scale shape (see _bm25_scored_sparksql): zero corpus shuffles —
    tf in-scan, one 1-row stats broadcast, and the global top-10 is
    TakeOrdered (per-partition heaps merged on the driver), not a
    global sort. The rank window runs on the 10 surviving rows.

    Construction is one spark.sql over a documents view (guide
    §7.3)."""
    with default_scope(spark).lease() as view:
        docs = view(Catalog(spark, sf_dir).df("documents"), "docs")
        return spark.sql(
            f"""SELECT doc_id, lang, source, score_micro,
  CAST(ROW_NUMBER() OVER (ORDER BY score_micro DESC, doc_id) AS INT) AS rank
FROM (SELECT doc_id, lang, source, score_micro
      FROM ({_bm25_scored_sparksql(docs)})
      WHERE score_micro > 0
      ORDER BY score_micro DESC, doc_id LIMIT 10)"""
        )


@register(
    "bm25_incremental_topk",
    # BM25 state is additive (N, sum_dl, df, tf are per-doc sums), so
    # the incrementally-built index must score bit-identically to the
    # ONE-SHOT scorer over the same docs — the oracle is literally
    # text_bm25_topk's SQL
    f"""SELECT doc_id, lang, source, score_micro,
               CAST(ROW_NUMBER() OVER (
                 ORDER BY score_micro DESC, doc_id) AS INT) AS rank
        FROM ({_bm25_scored_sql()})
        WHERE score_micro > 0
        ORDER BY score_micro DESC, doc_id LIMIT 10""",
)
def bm25_incremental_topk(spark, sf_dir):
    """The streaming-maintained form of text_bm25_topk: documents
    arrive in 3 batches (doc_id % 3 as arrival order) into a
    BM25Index — an append-only inverted index (postings partitioned
    by term band on disk, per-doc stats alongside) riding the same
    exactly-once epoch machinery as the dedup indexes — then the
    fixed query runs against the HELD state. Must hash-match the
    one-shot scorer's oracle: BM25's sufficient statistics are all
    additive, and the index's fixed-point scoring mirrors
    _bm25_scored_sparksql expression-for-expression.

    Scale shape (functions/bm25_index.py): ingest pays one O(batch)
    explode→(doc,term) shuffle per batch so queries never rescan the
    corpus; query time is a band-pruned postings slice, two 1-row
    stat aggregates broadcast back, and a TakeOrdered top-k."""
    from .functions.bm25_index import BM25Index

    df = Catalog(spark, sf_dir).df("documents")
    idx = BM25Index(spark)
    for k in range(3):
        idx.ingest(df.filter(F.col("doc_id") % 3 == k))
    # materialize the 10-row answer, then close(): the index parts are
    # eager localCheckpoints that plain unpersist/release() cannot free
    # (caching.py's documented block-leak class) — close() routes them
    # through release_local_checkpoint; the tiny result block is the
    # ContextCleaner's (the dedup_clusters convention)
    out = idx.topk(BM25_QUERY_TERMS, k=10).localCheckpoint(eager=True)
    idx.close()
    return out


# deterministic CDC mutation for bm25_cdc_topk: docs with
# doc_id % 7 == 3 get query terms appended (an UPDATE that must move
# them up the ranking), docs with doc_id % 7 == 5 are DELETED
_CDC_UPD_SUFFIX = " spark vector query engine"


@register(
    "bm25_cdc_topk",
    # oracle = the ONE-SHOT scorer over the post-CDC corpus: a CTE
    # named `documents` shadows the base view with the mutation applied
    # (the denorm-oracle discipline — prove the incremental path by
    # recomputing from mutated tables)
    f"""WITH documents AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 7 = 3
                      THEN text || '{_CDC_UPD_SUFFIX}' ELSE text END AS text,
                 lang, source
          FROM main.documents WHERE doc_id % 7 <> 5
        )
        SELECT doc_id, lang, source, score_micro,
               CAST(ROW_NUMBER() OVER (
                 ORDER BY score_micro DESC, doc_id) AS INT) AS rank
        FROM ({_bm25_scored_sql()})
        WHERE score_micro > 0
        ORDER BY score_micro DESC, doc_id LIMIT 10""",
)
def bm25_cdc_topk(spark, sf_dir):
    """bm25_incremental_topk taken through the CDC lifecycle the
    reference exists for (keeping a search index in sync under
    UPDATE/DELETE — ref: pgsync/sync.py:1254-1343 delete paths,
    search_client.py:100-212 bulk delete actions): bulk-ingest the
    corpus in 2 batches, then apply one CDC epoch that UPDATES every
    doc_id % 7 == 3 (query terms appended — they must move up the
    ranking) and DELETES every doc_id % 7 == 5, then query the held
    state. Must hash-match the one-shot scorer over the post-CDC
    corpus — updated-away and deleted docs excluded, new versions
    scored, N/avgdl/df all reflecting the current corpus.

    Scale shape (functions/bm25_index.py): the CDC epoch is O(batch)
    appended versions + tombstones; the query folds a broadcast
    overlay sized by CDC traffic since the last compact (one left
    join over the term-pruned slice — zero added shuffle)."""
    from .functions.bm25_index import BM25Index

    df = Catalog(spark, sf_dir).df("documents")
    idx = BM25Index(spark)
    for k in range(2):
        idx.ingest(df.filter(F.col("doc_id") % 2 == k))
    ups = df.filter(F.col("doc_id") % 7 == 3).select(
        "doc_id",
        F.concat(F.col("text"), F.lit(_CDC_UPD_SUFFIX)).alias("text"),
        "lang",
        "source",
        F.lit("u").alias("op"),
    )
    dels = df.filter(F.col("doc_id") % 7 == 5).select(
        "doc_id",
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("lang"),
        F.lit(None).cast("string").alias("source"),
        F.lit("d").alias("op"),
    )
    idx.apply_cdc(ups.unionByName(dels))
    out = idx.topk(BM25_QUERY_TERMS, k=10).localCheckpoint(eager=True)
    idx.close()
    return out


# the engine-owned search index, end to end on the oracle surface: the
# same mixed CDC batch as incremental_orders_docs, with a
# SearchIndexMaintainer keeping a BM25Index in sync off the engine's
# doc_consumers hook; '9-inc' only exists on CDC-updated docs, so the
# query directly proves update visibility (and the deleted/inserted
# orders move N/avgdl/df for the common term)
_ENGINE_BM25_TERMS = ("1-urgent", "9-inc")


def engine_sync_bm25_topk(spark, sf_dir):
    """The reference's ACTUAL topology as one oracle-gated query (r8
    verdict item 2 evidence at the registry surface): full sync →
    seed an engine-owned BM25Index from docs_for_sink() → ONE mixed
    CDC batch (updates/deletes/insert/child rename) flows through
    IncrementalEngine AND, via the doc_consumers delta hook, into the
    index — then query the maintained index. Must hash-match one-shot
    BM25 scoring over the post-CDC denormalized corpus (the
    incremental_orders_docs mutated-views oracle composed with the
    text_bm25_topk scorer).

    Scale shape: the maintenance delta is O(batch) (projections over
    checkpoints the engine batch already materialized + one apply_cdc
    epoch); the query is the band-pruned overlay-folded topk."""
    from .functions.bm25_index import BM25Index
    from .streaming import (
        IncrementalEngine,
        SearchIndexMaintainer,
        payloads_from_rows,
    )

    cat = Catalog(spark, sf_dir)
    tree = schemas.tree("orders_full")
    eng = IncrementalEngine(spark, tree, cat)
    eng.full_sync()
    idx = BM25Index(spark)
    m = SearchIndexMaintainer(
        idx, text_expr="get_json_object(doc, '$.o_orderpriority')"
    )
    m.seed(eng.docs_for_sink())
    eng.doc_consumers.append(m)
    eng.process_batch(
        payloads_from_rows(spark, _incremental_events(spark, cat))
    )
    out = idx.topk(_ENGINE_BM25_TERMS, k=10).localCheckpoint(eager=True)
    idx.close()
    eng._teardown_stores()
    return out


REGISTRY["engine_sync_bm25_topk"] = QueryDef(
    fn=engine_sync_bm25_topk,
    oracle=_INCR_ORACLE_CTES.rstrip()
    + ",\ndocs AS ("
    + oracle_doc_sql(
        schemas.tree("orders_full"),
        TPCH_TABLES,
        schemas.columns_of,
        schemas.column_type_of,
        table_names={"orders": "orders_mut", "customer": "customer_mut"},
    )
    + """),
documents AS (
  SELECT CAST(_id AS BIGINT) AS doc_id,
         json_extract_string(doc, '$.o_orderpriority') AS text,
         CAST(NULL AS VARCHAR) AS lang,
         CAST(NULL AS VARCHAR) AS source
  FROM docs
)
SELECT doc_id, lang, source, score_micro,
       CAST(ROW_NUMBER() OVER (
         ORDER BY score_micro DESC, doc_id) AS INT) AS rank
FROM ("""
    + _bm25_scored_sql(_ENGINE_BM25_TERMS)
    + """)
WHERE score_micro > 0
ORDER BY score_micro DESC, doc_id LIMIT 10""",
)


# the analyzer variant: same lifecycle, "standard" tokenizer
# (lowercase + ASCII-alnum runs), text spanning TWO CDC-mutated
# fields — 'urgent' only tokenizes out of '1-URGENT' under the
# standard analyzer (whitespace keeps the glued '1-urgent'), and
# 'inc' hits BOTH the updated orders ('9-INC' priority) and the
# renamed customers ('INC_…' names), so the topk moves with both
# mutation paths
_ENGINE_BM25_STD_TERMS = ("urgent", "inc")
_ENGINE_BM25_STD_TEXT = (
    "concat_ws(' ', get_json_object(doc, '$.o_orderpriority'), "
    "get_json_object(doc, '$.customer.c_name'))"
)


def engine_sync_bm25_std_topk(spark, sf_dir):
    """engine_sync_bm25_topk with a REAL tokenizer (r9 verdict item
    2): the maintained BM25Index runs the "standard" analyzer
    (functions/hashing.py ANALYZERS — the engine's analogue of the
    reference sink's analyzer settings, ref:
    pgsync/search_client.py:261-303, constants.py:132-162), indexing
    a two-field text (order priority + customer name) through full
    sync → seed → one mixed CDC batch. Must hash-match one-shot BM25
    scoring with the same analyzer over the post-CDC denormalized
    corpus. Scale shape identical to engine_sync_bm25_topk."""
    from .functions.bm25_index import BM25Index
    from .streaming import (
        IncrementalEngine,
        SearchIndexMaintainer,
        payloads_from_rows,
    )

    cat = Catalog(spark, sf_dir)
    tree = schemas.tree("orders_full")
    eng = IncrementalEngine(spark, tree, cat)
    eng.full_sync()
    idx = BM25Index(spark, analyzer="standard")
    m = SearchIndexMaintainer(idx, text_expr=_ENGINE_BM25_STD_TEXT)
    m.seed(eng.docs_for_sink())
    eng.doc_consumers.append(m)
    eng.process_batch(
        payloads_from_rows(spark, _incremental_events(spark, cat))
    )
    out = idx.topk(_ENGINE_BM25_STD_TERMS, k=10).localCheckpoint(eager=True)
    idx.close()
    eng._teardown_stores()
    return out


REGISTRY["engine_sync_bm25_std_topk"] = QueryDef(
    fn=engine_sync_bm25_std_topk,
    oracle=_INCR_ORACLE_CTES.rstrip()
    + ",\ndocs AS ("
    + oracle_doc_sql(
        schemas.tree("orders_full"),
        TPCH_TABLES,
        schemas.columns_of,
        schemas.column_type_of,
        table_names={"orders": "orders_mut", "customer": "customer_mut"},
    )
    + """),
documents AS (
  SELECT CAST(_id AS BIGINT) AS doc_id,
         concat_ws(' ', json_extract_string(doc, '$.o_orderpriority'),
                   json_extract_string(doc, '$.customer.c_name')) AS text,
         CAST(NULL AS VARCHAR) AS lang,
         CAST(NULL AS VARCHAR) AS source
  FROM docs
)
SELECT doc_id, lang, source, score_micro,
       CAST(ROW_NUMBER() OVER (
         ORDER BY score_micro DESC, doc_id) AS INT) AS rank
FROM ("""
    + _bm25_scored_sql(_ENGINE_BM25_STD_TERMS, analyzer="standard")
    + """)
WHERE score_micro > 0
ORDER BY score_micro DESC, doc_id LIMIT 10""",
)


# the stop-filter variant (r10 verdict item 5): the reference sink's
# analysis chain always includes a stop filter (ref:
# pgsync/constants.py:132-162), and BM25 over stopword-heavy text
# differs materially without one. The text expr deliberately LACES
# every doc with 'The'/'of' so the filter has something to drop on
# every row (priorities and customer names carry no natural
# stopwords); the query keeps 'the' in its term list to prove a
# stopword contributes NOTHING (it never entered the postings), while
# 'urgent'/'inc' rank under stopword-free dl/avgdl statistics.
_ENGINE_BM25_STOP_TERMS = ("the", "urgent", "inc")
_ENGINE_BM25_STOP_TEXT = (
    "concat_ws(' ', 'The', get_json_object(doc, '$.o_orderpriority'), "
    "'of', get_json_object(doc, '$.customer.c_name'))"
)


def engine_sync_bm25_stop_topk(spark, sf_dir):
    """engine_sync_bm25_std_topk under the "standard_stop" analyzer
    (standard + the classic English stop list, mirrored in all three
    analyzer forms and manifest-persisted like any analyzer): full
    sync → seed → one mixed CDC batch → query the maintained index
    with a term list that INCLUDES a stopword. Must hash-match
    one-shot BM25 scoring with the same analyzer over the post-CDC
    corpus — the stopwords the text expr plants on every doc are
    dropped identically on both sides (they never reach postings,
    doc length, or avgdl), and the 'the' query term scores nothing.
    Scale shape identical to engine_sync_bm25_topk."""
    from .functions.bm25_index import BM25Index
    from .streaming import (
        IncrementalEngine,
        SearchIndexMaintainer,
        payloads_from_rows,
    )

    cat = Catalog(spark, sf_dir)
    tree = schemas.tree("orders_full")
    eng = IncrementalEngine(spark, tree, cat)
    eng.full_sync()
    idx = BM25Index(spark, analyzer="standard_stop")
    m = SearchIndexMaintainer(idx, text_expr=_ENGINE_BM25_STOP_TEXT)
    m.seed(eng.docs_for_sink())
    eng.doc_consumers.append(m)
    eng.process_batch(
        payloads_from_rows(spark, _incremental_events(spark, cat))
    )
    out = idx.topk(_ENGINE_BM25_STOP_TERMS, k=10).localCheckpoint(
        eager=True
    )
    idx.close()
    eng._teardown_stores()
    return out


REGISTRY["engine_sync_bm25_stop_topk"] = QueryDef(
    fn=engine_sync_bm25_stop_topk,
    oracle=_INCR_ORACLE_CTES.rstrip()
    + ",\ndocs AS ("
    + oracle_doc_sql(
        schemas.tree("orders_full"),
        TPCH_TABLES,
        schemas.columns_of,
        schemas.column_type_of,
        table_names={"orders": "orders_mut", "customer": "customer_mut"},
    )
    + """),
documents AS (
  SELECT CAST(_id AS BIGINT) AS doc_id,
         concat_ws(' ', 'The',
                   json_extract_string(doc, '$.o_orderpriority'),
                   'of',
                   json_extract_string(doc, '$.customer.c_name')) AS text,
         CAST(NULL AS VARCHAR) AS lang,
         CAST(NULL AS VARCHAR) AS source
  FROM docs
)
SELECT doc_id, lang, source, score_micro,
       CAST(ROW_NUMBER() OVER (
         ORDER BY score_micro DESC, doc_id) AS INT) AS rank
FROM ("""
    + _bm25_scored_sql(_ENGINE_BM25_STOP_TERMS, analyzer="standard_stop")
    + """)
WHERE score_micro > 0
ORDER BY score_micro DESC, doc_id LIMIT 10""",
)


# the stemming variant (r11 verdict item 5): the reference sink's
# analysis vocabulary includes stemming among its configurable
# mapping parameters (ref: pgsync/constants.py:132-162), and
# 'priorities' vs 'priority' changes BM25 rankings materially. The
# analyzer is standard_stop + the Harman S-removal stemmer (the
# plural-only stemmer that IS mirrorable across Java-regex/RE2/
# Python, unlike full Porter — hashing._STEM_RULES). The text expr
# plants the SINGULAR token 'Priority' on every doc; the query asks
# for the PLURAL 'priorities', which only scores because both sides
# stem it to the singular postings form — the done-criterion match.
# the QUERY TEXT is plural; both sides run it through the analyzer
# (engine: BM25Index.analyze_terms — the CLI path; oracle: the same
# mirrored analyze_py at plan-build time), so the postings lookup is
# for the stemmed singular
_ENGINE_BM25_STEM_QUERY = "Priorities urgent inc"
_ENGINE_BM25_STEM_TERMS = tuple(
    hashing.analyze_py(_ENGINE_BM25_STEM_QUERY, "standard_stem")
)
assert _ENGINE_BM25_STEM_TERMS == ("priority", "urgent", "inc")
_ENGINE_BM25_STEM_TEXT = (
    "concat_ws(' ', 'Priority', get_json_object(doc, "
    "'$.o_orderpriority'), get_json_object(doc, '$.customer.c_name'))"
)


def engine_sync_bm25_stem_topk(spark, sf_dir):
    """engine_sync_bm25_std_topk under the "standard_stem" analyzer
    (standard_stop + the mirrored S-removal stemmer,
    manifest-persisted like any analyzer): full sync → seed → one
    mixed CDC batch → query the maintained index with a PLURAL term
    whose corpus form is singular. Must hash-match one-shot BM25
    scoring with the same analyzer over the post-CDC corpus — both
    sides stem query terms and corpus tokens identically, so
    'priorities' hits the 'priority' postings. Scale shape identical
    to engine_sync_bm25_topk."""
    from .functions.bm25_index import BM25Index
    from .streaming import (
        IncrementalEngine,
        SearchIndexMaintainer,
        payloads_from_rows,
    )

    cat = Catalog(spark, sf_dir)
    tree = schemas.tree("orders_full")
    eng = IncrementalEngine(spark, tree, cat)
    eng.full_sync()
    idx = BM25Index(spark, analyzer="standard_stem")
    m = SearchIndexMaintainer(idx, text_expr=_ENGINE_BM25_STEM_TEXT)
    m.seed(eng.docs_for_sink())
    eng.doc_consumers.append(m)
    eng.process_batch(
        payloads_from_rows(spark, _incremental_events(spark, cat))
    )
    out = idx.topk(
        idx.analyze_terms(_ENGINE_BM25_STEM_QUERY), k=10
    ).localCheckpoint(eager=True)
    idx.close()
    eng._teardown_stores()
    return out


REGISTRY["engine_sync_bm25_stem_topk"] = QueryDef(
    fn=engine_sync_bm25_stem_topk,
    oracle=_INCR_ORACLE_CTES.rstrip()
    + ",\ndocs AS ("
    + oracle_doc_sql(
        schemas.tree("orders_full"),
        TPCH_TABLES,
        schemas.columns_of,
        schemas.column_type_of,
        table_names={"orders": "orders_mut", "customer": "customer_mut"},
    )
    + """),
documents AS (
  SELECT CAST(_id AS BIGINT) AS doc_id,
         concat_ws(' ', 'Priority',
                   json_extract_string(doc, '$.o_orderpriority'),
                   json_extract_string(doc, '$.customer.c_name')) AS text,
         CAST(NULL AS VARCHAR) AS lang,
         CAST(NULL AS VARCHAR) AS source
  FROM docs
)
SELECT doc_id, lang, source, score_micro,
       CAST(ROW_NUMBER() OVER (
         ORDER BY score_micro DESC, doc_id) AS INT) AS rank
FROM ("""
    + _bm25_scored_sql(_ENGINE_BM25_STEM_TERMS, analyzer="standard_stem")
    + """)
WHERE score_micro > 0
ORDER BY score_micro DESC, doc_id LIMIT 10""",
)


# the VECTOR side of the engine-owned index story (r9 verdict item 1):
# doc vectors derive deterministically from doc CONTENT (the hash
# featurizer), so query 0 — the featurization of '9-INC', a priority
# that exists ONLY on CDC-updated docs — can rank cosine-1.0 hits
# exactly iff the update moved those docs' vectors (and their LSH
# buckets) in the maintained index; query 1 ('1-URGENT') covers the
# steady corpus, whose membership the deletes/insert reshaped
_ENGINE_ANN_VEC_TEXT = "get_json_object(doc, '$.o_orderpriority')"
_ENGINE_ANN_QUERY_TEXTS = ("9-INC", "1-URGENT")


def engine_sync_ann_topk(spark, sf_dir):
    """The engine_sync_bm25_topk precedent applied to the Embedding
    side (the reference's vector topology: embedding plugin →
    dense_vector/knn_vector kNN, ref:
    plugins/sentence_transformer_plugin.py, pgsync/constants.py:91,117):
    full sync → seed an engine-owned VectorIndex with vectors derived
    from docs_for_sink() content → ONE mixed CDC batch flows through
    IncrementalEngine AND, via doc_consumers, into the index (updated
    docs' vectors MOVE — new buckets, new ranking; deleted docs
    tombstone) → ANN topk over the maintained index. Must hash-match
    the same banded-LSH probe + exact-cosine re-rank computed one-shot
    over the post-CDC denormalized corpus.

    Scale shape: maintenance delta is O(batch); the query is a
    broadcast probe join over the banded keys + id-join exact re-rank
    (functions/vector_index.py)."""
    from .functions.hashing import hash_embed_py, hash_embed_sparksql
    from .functions.vector_index import VectorIndex
    from .streaming import (
        IncrementalEngine,
        VectorIndexMaintainer,
        payloads_from_rows,
    )

    cat = Catalog(spark, sf_dir)
    tree = schemas.tree("orders_full")
    eng = IncrementalEngine(spark, tree, cat)
    eng.full_sync()
    idx = VectorIndex(spark)
    m = VectorIndexMaintainer(
        idx, vec_expr=hash_embed_sparksql(_ENGINE_ANN_VEC_TEXT)
    )
    m.seed(eng.docs_for_sink())
    eng.doc_consumers.append(m)
    eng.process_batch(
        payloads_from_rows(spark, _incremental_events(spark, cat))
    )
    queries = spark.createDataFrame(
        [
            (i, hash_embed_py(t))
            for i, t in enumerate(_ENGINE_ANN_QUERY_TEXTS)
        ],
        "query_id bigint, embedding array<double>",
    )
    out = idx.topk(queries, k=10).localCheckpoint(eager=True)
    idx.close()
    eng._teardown_stores()
    return out


def _engine_ann_oracle() -> str:
    from .functions.hashing import hash_embed_sql
    from .functions.vector_index import vector_topk_sql

    vq = " UNION ALL ".join(
        f"SELECT {i} AS query_id, {hash_embed_sql(repr(t))} AS embedding"
        for i, t in enumerate(_ENGINE_ANN_QUERY_TEXTS)
    )
    return (
        _INCR_ORACLE_CTES.rstrip()
        + ",\ndocs AS ("
        + oracle_doc_sql(
            schemas.tree("orders_full"),
            TPCH_TABLES,
            schemas.columns_of,
            schemas.column_type_of,
            table_names={"orders": "orders_mut", "customer": "customer_mut"},
        )
        + f"""),
vcorpus AS (
  SELECT CAST(_id AS BIGINT) AS vec_id,
         {hash_embed_sql("json_extract_string(doc, '$.o_orderpriority')")}
           AS embedding
  FROM docs
),
vqueries AS ({vq}),
"""
        + vector_topk_sql("vcorpus", "vqueries", k=10)
    )


REGISTRY["engine_sync_ann_topk"] = QueryDef(
    fn=engine_sync_ann_topk, oracle=_engine_ann_oracle()
)


def engine_sync_ivf_rebuild_topk(spark, sf_dir):
    """The r11 capstone — the TRAINED maintained index wired into the
    ENGINE end to end, including the retrain: full sync → seed an
    engine-owned IVFVectorIndex from docs_for_sink() content (the
    seed ingest trains + freezes the coarse codebook over the doc
    vectors — hash-init, so arbitrary doc-id spaces train) → ONE
    mixed CDC batch flows through IncrementalEngine and, via
    doc_consumers, into the index (updated docs re-assign under the
    FROZEN codebook; deletes tombstone) → ``rebuild()`` retrains the
    codebook over the post-CDC live doc vectors and reassigns — then
    ANN topk for featurized query TEXTS (query 0 = '9-INC', a
    CDC-only priority: it can rank cosine-1.0 hits exactly iff the
    update moved those docs' vectors AND the rebuilt geometry serves
    them). Must hash-match a DuckDB oracle that recomputes the
    post-CDC denormalized corpus, re-derives every doc vector,
    replays the REBUILD's hash-init Lloyd training over exactly that
    corpus, assigns it, probes each query's nprobe cells, and
    exact-cosine re-ranks (ivf_topk_sql) — the oracle never sees the
    seed codebook, proving serving runs under the retrained
    geometry.

    Scale shape: engine maintenance is O(batch); the rebuild is the
    one deliberate O(corpus) op (bounded-sample training + one Arrow
    reassignment + one segment rewrite, atomically flipped); the
    query probes nprobe cells only."""
    from .functions.hashing import hash_embed_py, hash_embed_sparksql
    from .functions.vector_index import IVFVectorIndex
    from .streaming import (
        IncrementalEngine,
        VectorIndexMaintainer,
        payloads_from_rows,
    )

    cat = Catalog(spark, sf_dir)
    tree = schemas.tree("orders_full")
    eng = IncrementalEngine(spark, tree, cat)
    eng.full_sync()
    idx = IVFVectorIndex(spark)
    m = VectorIndexMaintainer(
        idx, vec_expr=hash_embed_sparksql(_ENGINE_ANN_VEC_TEXT)
    )
    m.seed(eng.docs_for_sink())  # trains + freezes on the seed docs
    eng.doc_consumers.append(m)
    eng.process_batch(
        payloads_from_rows(spark, _incremental_events(spark, cat))
    )
    idx.rebuild()  # retrain over the post-CDC live doc vectors
    queries = spark.createDataFrame(
        [
            (i, hash_embed_py(t))
            for i, t in enumerate(_ENGINE_ANN_QUERY_TEXTS)
        ],
        "query_id bigint, embedding array<double>",
    )
    out = idx.topk(queries, k=10).localCheckpoint(eager=True)
    idx.close()
    eng._teardown_stores()
    return out


def _engine_ivf_rebuild_oracle() -> str:
    from .functions.hashing import HASH_EMBED_DIM, hash_embed_sql
    from .functions.vector_index import ivf_topk_sql

    vq = " UNION ALL ".join(
        f"SELECT {i} AS query_id, {hash_embed_sql(repr(t))} AS embedding"
        for i, t in enumerate(_ENGINE_ANN_QUERY_TEXTS)
    )
    return (
        _INCR_ORACLE_CTES.rstrip()
        + ",\ndocs AS ("
        + oracle_doc_sql(
            schemas.tree("orders_full"),
            TPCH_TABLES,
            schemas.columns_of,
            schemas.column_type_of,
            table_names={"orders": "orders_mut", "customer": "customer_mut"},
        )
        + f"""),
vcorpus AS (
  SELECT CAST(_id AS BIGINT) AS vec_id,
         {hash_embed_sql("json_extract_string(doc, '$.o_orderpriority')")}
           AS embedding
  FROM docs
),
vqueries AS ({vq}),
"""
        + ivf_topk_sql("vcorpus", "vqueries", k=10, dim=HASH_EMBED_DIM)
    )


REGISTRY["engine_sync_ivf_rebuild_topk"] = QueryDef(
    fn=engine_sync_ivf_rebuild_topk, oracle=_engine_ivf_rebuild_oracle()
)


# the capstone of the engine-owned index story: ONE engine, TWO
# doc_consumers — the lexical index (standard analyzer over priority +
# customer name) and the vector index (hash featurizer over priority)
# — maintained through the SAME full sync + mixed CDC batch, then
# fused with reciprocal-rank fusion. The semantic query vector is the
# featurization of '9-INC' (a CDC-only priority), so the fused top
# moves with the update path on BOTH legs.
_ENGINE_HYB_CAND_K = 50


def engine_sync_hybrid_topk(spark, sf_dir):
    """Hybrid retrieval over TWO engine-owned indexes maintained by
    one IncrementalEngine (the reference topology where one sync
    feeds both a text mapping and a dense_vector/knn_vector mapping
    in the same index — ref: pgsync/constants.py:83-129 lets a single
    document declare both, plugins/sentence_transformer_plugin.py
    adds the vector field alongside the text fields): full sync →
    seed a standard-analyzer BM25Index AND a VectorIndex from ONE
    docs_for_sink() frame → the same mixed CDC batch flows through
    the engine and, via two doc_consumers registrations, into both
    indexes as one epoch each → BM25 top-50 (lexical leg) ⋈ ANN
    top-50 (semantic leg) fused by rrf = sum(1/(60+rank)) in exact
    fixed-point nano-units (the hybrid_search_rrf arithmetic). Must
    hash-match the same two-leg fusion computed one-shot over the
    post-CDC denormalized corpus.

    Scale shape: maintenance is O(batch) per index (projections over
    checkpoints the engine batch already materialized); the lexical
    read is term-pruned + overlay-folded, the semantic read is a
    broadcast probe join + id-join re-rank; the fusion join runs on
    50+50 rows."""
    from .functions.bm25_index import BM25Index
    from .functions.hashing import hash_embed_py, hash_embed_sparksql
    from .functions.vector_index import VectorIndex
    from .streaming import (
        IncrementalEngine,
        SearchIndexMaintainer,
        VectorIndexMaintainer,
        payloads_from_rows,
    )

    cat = Catalog(spark, sf_dir)
    tree = schemas.tree("orders_full")
    eng = IncrementalEngine(spark, tree, cat)
    eng.full_sync()
    bidx = BM25Index(spark, analyzer="standard")
    vidx = VectorIndex(spark)
    bm = SearchIndexMaintainer(bidx, text_expr=_ENGINE_BM25_STD_TEXT)
    vm = VectorIndexMaintainer(
        vidx, vec_expr=hash_embed_sparksql(_ENGINE_ANN_VEC_TEXT)
    )
    docs = eng.docs_for_sink()  # ONE frame seeds both indexes
    bm.seed(docs)
    vm.seed(docs)
    eng.doc_consumers.extend([bm, vm])
    eng.process_batch(
        payloads_from_rows(spark, _incremental_events(spark, cat))
    )
    lex = bidx.topk(_ENGINE_BM25_STD_TERMS, k=_ENGINE_HYB_CAND_K).select(
        "doc_id", F.col("rank").alias("lex_rank")
    )
    qdf = spark.createDataFrame(
        [(0, hash_embed_py(_ENGINE_ANN_QUERY_TEXTS[0]))],
        "query_id bigint, embedding array<double>",
    )
    sem = vidx.topk(qdf, k=_ENGINE_HYB_CAND_K).select(
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").alias("sem_rank"),
    )
    rrf_k = float(HYBRID_RRF_K)

    def leg(rank_col):
        return F.coalesce(
            F.floor(F.lit(1e9) / (F.lit(rrf_k) + rank_col) + F.lit(0.5))
            .cast("bigint"),
            F.lit(0).cast("bigint"),
        )

    fused = (
        lex.join(sem, "doc_id", "full_outer")
        .select(
            "doc_id",
            "lex_rank",
            "sem_rank",
            (leg(F.col("lex_rank")) + leg(F.col("sem_rank"))).alias(
                "rrf_micro"
            ),
        )
        .orderBy(F.col("rrf_micro").desc(), "doc_id")
        .limit(HYBRID_TOP_N)
        .withColumn(
            "fused_rank",
            F.row_number()
            .over(bounded_rank_window(F.col("rrf_micro").desc(), "doc_id"))
            .cast("int"),
        )
    )
    out = fused.localCheckpoint(eager=True)
    bidx.close()
    vidx.close()
    eng._teardown_stores()
    return out


def _engine_hybrid_oracle() -> str:
    from .functions.hashing import hash_embed_sql
    from .functions.vector_index import vector_topk_sql

    return (
        _INCR_ORACLE_CTES.rstrip()
        + ",\ndocs AS ("
        + oracle_doc_sql(
            schemas.tree("orders_full"),
            TPCH_TABLES,
            schemas.columns_of,
            schemas.column_type_of,
            table_names={"orders": "orders_mut", "customer": "customer_mut"},
        )
        + f"""),
documents AS (
  SELECT CAST(_id AS BIGINT) AS doc_id,
         concat_ws(' ', json_extract_string(doc, '$.o_orderpriority'),
                   json_extract_string(doc, '$.customer.c_name')) AS text,
         CAST(NULL AS VARCHAR) AS lang,
         CAST(NULL AS VARCHAR) AS source
  FROM docs
),
lex AS (
  SELECT doc_id,
         CAST(ROW_NUMBER() OVER (
           ORDER BY score_micro DESC, doc_id) AS INT) AS lex_rank
  FROM ({_bm25_scored_sql(_ENGINE_BM25_STD_TERMS, analyzer="standard")})
  WHERE score_micro > 0
  ORDER BY score_micro DESC, doc_id LIMIT {_ENGINE_HYB_CAND_K}
),
vcorpus AS (
  SELECT CAST(_id AS BIGINT) AS vec_id,
         {hash_embed_sql("json_extract_string(doc, '$.o_orderpriority')")}
           AS embedding
  FROM docs
),
vqueries AS (
  SELECT 0 AS query_id,
         {hash_embed_sql(repr(_ENGINE_ANN_QUERY_TEXTS[0]))} AS embedding
),
sem AS (
  WITH {vector_topk_sql("vcorpus", "vqueries", k=_ENGINE_HYB_CAND_K)}
)
SELECT doc_id, lex_rank, sem_rank, rrf_micro,
       CAST(ROW_NUMBER() OVER (
         ORDER BY rrf_micro DESC, doc_id) AS INT) AS fused_rank
FROM (
  SELECT COALESCE(lex.doc_id, sem.neighbor_id) AS doc_id,
         lex.lex_rank AS lex_rank,
         sem.rank AS sem_rank,
         (COALESCE(CAST(floor(1e9 / ({HYBRID_RRF_K} + lex.lex_rank)
                              + 0.5) AS BIGINT), 0)
          + COALESCE(CAST(floor(1e9 / ({HYBRID_RRF_K} + sem.rank)
                                + 0.5) AS BIGINT), 0)) AS rrf_micro
  FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.neighbor_id
)
ORDER BY rrf_micro DESC, doc_id LIMIT {HYBRID_TOP_N}"""
    )


# oracle filled below the hybrid_search_rrf section — the fusion
# constants (HYBRID_RRF_K / HYBRID_TOP_N) live there
REGISTRY["engine_sync_hybrid_topk"] = QueryDef(
    fn=engine_sync_hybrid_topk, oracle=None
)


def _vector_index_oracle(corpus_ctes: str, corpus: str) -> str:
    """Shared oracle assembly for the VectorIndex registry queries:
    the 5 demo query vectors (always the ORIGINAL embeddings — CDC
    mutations below exclude vec_id < N_QUERIES) probing ``corpus``."""
    from .functions.similarity import N_QUERIES
    from .functions.vector_index import vector_topk_sql

    return (
        f"WITH {corpus_ctes}"
        f"vq AS (SELECT vec_id AS query_id, embedding FROM embeddings "
        f"WHERE vec_id < {N_QUERIES}),\n"
        + vector_topk_sql(corpus, "vq", exclude_self=True)
    )


def ann_index_topk(spark, sf_dir):
    """VectorIndex additivity (the bm25_incremental_topk analog):
    ingest the embeddings corpus in 3 batches, then ANN topk for the
    demo query vectors over the held state — an index built from ANY
    batch split must answer bit-identically to the one-shot banded
    probe over the whole table (keys, multi-probe expansion, exact
    re-rank are all per-vector, so the split can't show).

    Scale shape (functions/vector_index.py): build pays one O(batch)
    band explode per batch; the query is a broadcast probe join +
    id-join re-rank — the held corpus is never rescanned beyond the
    banded keys slice."""
    from .functions.similarity import N_QUERIES
    from .functions.vector_index import VectorIndex

    emb = Catalog(spark, sf_dir).df("embeddings")
    idx = VectorIndex(spark)
    for m in range(3):
        idx.ingest(emb.filter(F.col("vec_id") % 3 == m))
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = idx.topk(q, exclude_self=True).localCheckpoint(eager=True)
    idx.close()
    return out


REGISTRY["ann_index_topk"] = QueryDef(
    fn=ann_index_topk,
    oracle=_vector_index_oracle("", "embeddings"),
)


def _vec_cdc_batch(emb: DataFrame):
    """The ONE vector-CDC mutation used by every vector-index CDC
    query (engine side): UPDATE every vec_id % 7 == 3 to its
    successor's embedding (the vector MOVES), DELETE every
    vec_id % 7 == 5; query vectors (vec_id < N_QUERIES) excluded from
    both. The DuckDB side is _VEC_MUT_CTE — one definition per side,
    never hand-synchronized copies."""
    from .functions.similarity import N_QUERIES

    emb_t = emb.schema["embedding"].dataType
    nxt = emb.select(
        (F.col("vec_id") - 1).alias("vec_id"),
        F.col("embedding").alias("nemb"),
    )
    ups = (
        emb.filter(
            (F.col("vec_id") % 7 == 3) & (F.col("vec_id") >= N_QUERIES)
        )
        .join(nxt, "vec_id")  # inner: no successor -> no CDC row
        .select(
            "vec_id",
            F.col("nemb").alias("embedding"),
            F.lit("u").alias("op"),
        )
    )
    dels = emb.filter(
        (F.col("vec_id") % 7 == 5) & (F.col("vec_id") >= N_QUERIES)
    ).select(
        "vec_id",
        F.lit(None).cast(emb_t).alias("embedding"),
        F.lit("d").alias("op"),
    )
    return ups.unionByName(dels)


_VEC_MUT_CTE = f"""vec_mut AS (
  SELECT e.vec_id,
         CASE WHEN e.vec_id % 7 = 3 AND e.vec_id >= {_sim.N_QUERIES}
                   AND e2.vec_id IS NOT NULL
              THEN e2.embedding ELSE e.embedding END AS embedding
  FROM embeddings e
  LEFT JOIN embeddings e2 ON e2.vec_id = e.vec_id + 1
  WHERE NOT (e.vec_id % 7 = 5 AND e.vec_id >= {_sim.N_QUERIES})
),
"""


def ann_index_cdc_topk(spark, sf_dir):
    """ann_index_topk taken through the CDC lifecycle: bulk-ingest in
    2 batches, then one CDC epoch (_vec_cdc_batch: updates move
    vectors to their successor's embedding — so their buckets and
    every affected ranking move with them — deletes tombstone), then
    query the held state. Must hash-match the one-shot probe over the
    post-CDC corpus (updated-away versions never serve, tombstoned
    vectors rank nowhere).

    Scale shape: the CDC epoch is O(batch) appended versions +
    tombstones; the query folds the broadcast overlay over the keys
    slice (shared _AppendOnlyIndex machinery)."""
    from .functions.similarity import N_QUERIES
    from .functions.vector_index import VectorIndex

    emb = Catalog(spark, sf_dir).df("embeddings")
    idx = VectorIndex(spark)
    for m in range(2):
        idx.ingest(emb.filter(F.col("vec_id") % 2 == m))
    idx.apply_cdc(_vec_cdc_batch(emb))
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = idx.topk(q, exclude_self=True).localCheckpoint(eager=True)
    idx.close()
    return out


REGISTRY["ann_index_cdc_topk"] = QueryDef(
    fn=ann_index_cdc_topk,
    oracle=_vector_index_oracle(_VEC_MUT_CTE, "vec_mut"),
)


def ann_ivf_index_cdc_topk(spark, sf_dir):
    """The TRAINED maintained index through the CDC lifecycle
    (IVFVectorIndex — the FAISS-style discipline: the coarse codebook
    trains ONCE at seed over the initial corpus and FREEZES; every
    later batch assigns under the stored centroids): seed-ingest the
    whole embeddings corpus (trains IVF_CELLS integer-exact Lloyd
    centroids), apply one CDC epoch (_vec_cdc_batch — an updated
    vector is re-assigned under the frozen codebook, so it can cross
    CELLS), then ANN topk for the demo queries. Must hash-match a
    DuckDB oracle that REPLAYS the training bit-for-bit over the seed
    corpus, assigns the post-CDC corpus under the resulting
    centroids, probes each query's IVF_NPROBE nearest cells, and
    exact-cosine re-ranks.

    Scale shape: training is driver-side over a bounded hash-sample
    (raises over budget); seed assignment is ONE Arrow pass with the
    centroids broadcast in the closure; the CDC epoch re-assigns only
    the batch; the query probes nprobe cells and re-ranks candidates
    only — the same broadcast-probe + id-join plan as the LSH form,
    cell-pruned instead of band-pruned."""
    from .functions.similarity import N_QUERIES
    from .functions.vector_index import IVFVectorIndex

    emb = Catalog(spark, sf_dir).df("embeddings")
    idx = IVFVectorIndex(spark)
    idx.ingest(emb)  # seed = build: trains + freezes the codebook
    idx.apply_cdc(_vec_cdc_batch(emb))
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = idx.topk(q, exclude_self=True).localCheckpoint(eager=True)
    idx.close()
    return out


def _ivf_index_cdc_oracle() -> str:
    from .functions.hashing import round6_sql
    from .functions.similarity import (
        EMB_DIM,
        IVF_NPROBE,
        IVFT_ITERS,
        N_QUERIES,
        TOP_K,
        _dot_sql,
        _ivf_trained_sql_ctes,
        _norm_sql,
        _normalized_sql,
    )

    cos = round6_sql(
        _dot_sql("e1.embedding", "e2.embedding")
        + " / ("
        + _norm_sql("e1.embedding")
        + " * "
        + _norm_sql("e2.embedding")
        + ")"
    )
    return f"""WITH {_ivf_trained_sql_ctes(init="hash")},
{_VEC_MUT_CTE}
mnorm AS (
  SELECT vec_id, {_normalized_sql("embedding")} AS nv FROM vec_mut
),
mpts AS (
  SELECT vec_id, d, CAST(floor(nv[d + 1] * 1e6 + 0.5) AS BIGINT) AS q
  FROM mnorm, (SELECT unnest(range({EMB_DIM})) AS d)
),
mdist AS (
  SELECT p.vec_id, c.c, sum((p.q - c.q) * (p.q - c.q)) AS dd
  FROM mpts p JOIN icent{IVFT_ITERS} c ON c.d = p.d
  GROUP BY p.vec_id, c.c
),
massign AS (
  SELECT vec_id AS neighbor_id, c AS cell_id FROM (
    SELECT vec_id, c,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY dd, c) AS rn
    FROM mdist
  ) WHERE rn = 1
),
iqprobe AS (
  SELECT vec_id AS query_id, cell_id FROM itrk
  WHERE rn <= {IVF_NPROBE} AND vec_id < {N_QUERIES}
),
icand AS (
  SELECT q.query_id, a.neighbor_id
  FROM iqprobe q JOIN massign a ON a.cell_id = q.cell_id
  WHERE a.neighbor_id <> q.query_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT c.query_id, c.neighbor_id, {cos} AS cosine,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY c.query_id
           ORDER BY {cos} DESC, c.neighbor_id) AS INT) AS rank
  FROM icand c
  JOIN embeddings e1 ON e1.vec_id = c.query_id
  JOIN vec_mut e2 ON e2.vec_id = c.neighbor_id
) WHERE rank <= {TOP_K}"""


REGISTRY["ann_ivf_index_cdc_topk"] = QueryDef(
    fn=ann_ivf_index_cdc_topk, oracle=_ivf_index_cdc_oracle()
)


def ann_ivf_index_rebuild_topk(spark, sf_dir):
    """The full trained-index LIFECYCLE including retrain: seed
    (trains + freezes the codebook), one CDC epoch of drift
    (_vec_cdc_batch — vectors move, vectors die), then ``rebuild()``
    — retrain the codebook over the post-CDC LIVE corpus and reassign
    every live vector under it as one committed epoch — then ANN topk
    for the demo queries. Must hash-match a DuckDB oracle that
    replays the REBUILD's training bit-for-bit over the post-CDC
    corpus (hash-init + integer-exact Lloyd), assigns that corpus
    under the retrained centroids, probes each query's IVF_NPROBE
    nearest retrained cells, and exact-cosine re-ranks — i.e. the
    oracle knows nothing of the seed codebook, proving serving runs
    entirely under the NEW geometry.

    Scale shape: the rebuild is the one deliberately O(corpus) op
    (driver-side training over a bounded hash-sample + one Arrow
    reassignment pass + one segment rewrite, atomically flipped);
    seed/CDC/query keep their O(batch)/probe-pruned shapes
    (functions/vector_index.py rebuild docstring)."""
    from .functions.similarity import N_QUERIES
    from .functions.vector_index import IVFVectorIndex

    emb = Catalog(spark, sf_dir).df("embeddings")
    idx = IVFVectorIndex(spark)
    idx.ingest(emb)  # seed = build: trains + freezes the codebook
    idx.apply_cdc(_vec_cdc_batch(emb))  # drift the corpus
    idx.rebuild()  # retrain over the live corpus, one committed epoch
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = idx.topk(q, exclude_self=True).localCheckpoint(eager=True)
    idx.close()
    return out


def _ivf_index_rebuild_oracle() -> str:
    from .functions.hashing import round6_sql
    from .functions.similarity import (
        TOP_K,
        _dot_sql,
        _ivf_trained_cand_sql_ctes,
        _ivf_trained_sql_ctes,
        _norm_sql,
    )

    cos = round6_sql(
        _dot_sql("e1.embedding", "e2.embedding")
        + " / ("
        + _norm_sql("e1.embedding")
        + " * "
        + _norm_sql("e2.embedding")
        + ")"
    )
    # vec_mut FIRST (training reads FROM it): the oracle trains over
    # the post-CDC live corpus — the rebuild's corpus — with the same
    # hash init; queries (vec_id < N_QUERIES) are mutation-exempt, so
    # probing them out of itrk is exact
    return f"""WITH {_VEC_MUT_CTE}
{_ivf_trained_sql_ctes(corpus="vec_mut", init="hash")},
{_ivf_trained_cand_sql_ctes()}
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT c.query_id, c.neighbor_id, {cos} AS cosine,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY c.query_id
           ORDER BY {cos} DESC, c.neighbor_id) AS INT) AS rank
  FROM cand c
  JOIN vec_mut e1 ON e1.vec_id = c.query_id
  JOIN vec_mut e2 ON e2.vec_id = c.neighbor_id
) WHERE rank <= {TOP_K}"""


REGISTRY["ann_ivf_index_rebuild_topk"] = QueryDef(
    fn=ann_ivf_index_rebuild_topk, oracle=_ivf_index_rebuild_oracle()
)


SKEW_TOP_N = 20


@register(
    "key_skew_profile",
    f"""WITH counts AS (
          SELECT o_custkey AS key, count(*) AS cnt
          FROM orders GROUP BY o_custkey
        ),
        stats AS (
          SELECT count(*) AS distinct_keys, sum(cnt) AS total_rows,
                 max(cnt) AS max_cnt
          FROM counts
        ),
        topn AS (
          SELECT key, cnt,
                 ROW_NUMBER() OVER (ORDER BY cnt DESC, key) AS rank
          FROM counts ORDER BY cnt DESC, key LIMIT {SKEW_TOP_N}
        )
        SELECT t.key, t.cnt, CAST(t.rank AS INT) AS rank,
               CAST((t.cnt * 1000000) // s.total_rows AS BIGINT)
                 AS share_micro,
               s.distinct_keys, s.total_rows,
               CAST((s.max_cnt * s.distinct_keys * 1000000)
                    // s.total_rows AS BIGINT) AS skew_micro
        FROM topn t, stats s""",
)
def key_skew_profile(spark, sf_dir):
    """Join/shuffle planning diagnostic: the heavy-hitter profile of a
    join key (orders.o_custkey here — the FK the flagship denorm
    shuffles on). Top-{SKEW_TOP_N} keys with counts and corpus share,
    plus the skew summary every salting/AQE decision needs riding each
    row: distinct_keys, total_rows, and skew_micro = max key frequency
    over the mean (1e6 = perfectly uniform). This is the measurement
    you run BEFORE sizing spark.sql.shuffle.partitions or deciding a
    key needs salting — the engine's own docs (README "Skew") assume
    it exists.

    Scale shape: ONE map-side-combined groupBy on the key (the only
    corpus shuffle — identical to the shuffle being diagnosed, so if
    this runs, the join will); the summary is a partial-aggregated
    1-row reduction over the counts frame, the top-N is TakeOrdered
    (per-partition heaps), and both re-enter via a 1-row crossJoin
    broadcast. Integer micro-ratios (BIGINT div) keep the oracle
    bit-exact."""
    df = Catalog(spark, sf_dir).df("orders")
    counts = df.groupBy(F.col("o_custkey").alias("key")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    stats = counts.agg(
        F.count(F.lit(1)).alias("distinct_keys"),
        F.sum("cnt").alias("total_rows"),
        F.max("cnt").alias("max_cnt"),
    )
    topn = counts.orderBy(F.col("cnt").desc(), "key").limit(SKEW_TOP_N)
    w = bounded_rank_window(F.col("cnt").desc(), "key")
    return (
        topn.crossJoin(F.broadcast(stats))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .select(
            "key",
            "cnt",
            "rank",
            F.expr(
                "CAST((cnt * 1000000) div total_rows AS BIGINT)"
            ).alias("share_micro"),
            "distinct_keys",
            "total_rows",
            F.expr(
                "CAST((max_cnt * distinct_keys * 1000000) "
                "div total_rows AS BIGINT)"
            ).alias("skew_micro"),
        )
    )


DSIR_BUCKETS = 64
DSIR_TARGET_LANG = "en"
DSIR_SELECT_N = 100


@register(
    "dsir_select",
    f"""WITH toks AS (
          SELECT doc_id, lang, unnest(toks) AS term
          FROM (SELECT doc_id, lang, {hashing.tokens_sql('text')} AS toks
                FROM documents)
        ),
        b AS (
          SELECT doc_id, lang,
                 ({h32_sql('term')} % {DSIR_BUCKETS}) AS bucket
          FROM toks
        ),
        bc AS (
          SELECT bucket, count(*) AS r_b,
                 sum(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END)
                   AS t_b
          FROM b GROUP BY bucket
        ),
        tot AS (SELECT sum(r_b) AS rt, sum(t_b) AS tt FROM bc),
        lr AS (
          SELECT bucket,
                 CAST(floor(ln(((t_b + 1.0) * (rt + {DSIR_BUCKETS}.0)) /
                               ((r_b + 1.0) * (tt + {DSIR_BUCKETS}.0)))
                            * 1e6 + 0.5) AS BIGINT) AS lr_micro
          FROM bc, tot
        ),
        w AS (
          SELECT doc_id, CAST(sum(lr_micro) AS BIGINT) AS weight_micro
          FROM b JOIN lr USING (bucket) GROUP BY doc_id
        )
        SELECT d.doc_id, d.lang, d.source, w.weight_micro,
               CAST(ROW_NUMBER() OVER (
                 ORDER BY w.weight_micro DESC, d.doc_id) AS INT) AS rank
        FROM w JOIN documents d USING (doc_id)
        ORDER BY w.weight_micro DESC, d.doc_id LIMIT {DSIR_SELECT_N}""",
)
def dsir_select(spark, sf_dir):
    """DSIR-style data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): hashed-unigram bucket
    features, importance weight = sum over a doc's tokens of the
    log-ratio ln(p_target(bucket)/p_raw(bucket)) with Laplace
    smoothing, target = the 'en' slice of the corpus; the top-N docs
    by weight are the selected training subset (the deterministic
    rank-by-weight analog of the paper's Gumbel resampling — same
    estimator, reproducible draw).

    Engine portability: the per-bucket log-ratio is snapped to
    fixed-point micro-nats (floor(ln(..)*1e6+0.5) as bigint) so each
    doc's weight is an exact INTEGER sum — associative across
    partitions and bit-identical in Spark and DuckDB; the only
    transcendental is evaluated once per bucket (64 rows), not per
    token.

    Scale shape: tokens explode in-scan; the bucket histogram is one
    map-side-combined groupBy whose OUTPUT is 64 rows (broadcast back
    along with the 1-row totals); per-doc weights are one groupBy on
    doc_id (uniform key, map-side partial sums); the final top-N is
    TakeOrdered, not a global sort. At 100 TB the only corpus-sized
    shuffle is the doc_id weight aggregation — unavoidable and
    perfectly uniform; lang/source ride through the explode (columnar,
    dictionary-encoded) so no second corpus-sized join is needed to
    re-attach them.

    Construction is one spark.sql over a documents view (guide §7.3
    — the bucketed subtree is expanded textually twice, once for the
    histogram and once for the weight side)."""
    from .operators.filters import _spark_sql_str as _sq

    with default_scope(spark).lease() as view:
        docs = view(Catalog(spark, sf_dir).df("documents"), "docs")
        ts = hashing.tokens_sparksql("text")
        b = (
            f"(SELECT doc_id, lang, source, "
            f"({hashing.h32_sparksql('term')} % {DSIR_BUCKETS}) AS bucket FROM "
            f"(SELECT doc_id, lang, source, explode({ts}) AS term "
            f"FROM {docs}))"
        )
        bc = (
            f"(SELECT bucket, count(1) AS r_b, "
            f"sum(CAST((lang = {_sq(DSIR_TARGET_LANG)}) AS BIGINT)) AS t_b "
            f"FROM {b} GROUP BY bucket)"
        )
        # corpus totals ride a window over the <= DSIR_BUCKETS-row
        # histogram itself (single tiny partition) instead of a separate
        # aggregate branch, which would re-run the whole tokenize+explode
        # corpus scan inside the broadcast build
        lr = (
            f"(SELECT bucket, CAST(floor(ln("
            f"((t_b + 1.0D) * (sum(r_b) OVER () + {float(DSIR_BUCKETS)!r}D)) / "
            f"((r_b + 1.0D) * (sum(t_b) OVER () + {float(DSIR_BUCKETS)!r}D))"
            f") * 1e6 + 0.5D) AS BIGINT) AS lr_micro FROM {bc})"
        )
        w = (
            f"(SELECT /*+ BROADCAST(l) */ doc_id, lang, source, "
            f"sum(lr_micro) AS weight_micro "
            f"FROM {b} bb JOIN {lr} l USING (bucket) "
            f"GROUP BY doc_id, lang, source)"
        )
        return spark.sql(
            f"""SELECT doc_id, lang, source, weight_micro,
  CAST(ROW_NUMBER() OVER (ORDER BY weight_micro DESC, doc_id) AS INT) AS rank
FROM (SELECT doc_id, lang, source, weight_micro FROM {w}
      ORDER BY weight_micro DESC, doc_id LIMIT {DSIR_SELECT_N})"""
        )


PPL_BUCKETS = 256
PPL_REF_LANG = "en"


# the shared scored-frame CTE chain (through `ce`): both CCNet bucket
# assigners' oracles extend it with their own assignment tail
_CCNET_CE_SQL = f"""WITH docs AS (
          SELECT doc_id, lang, {hashing.tokens_sql('text')} AS t
          FROM documents
        ),
        big AS (
          SELECT doc_id, lang,
                 unnest(list_transform(
                   range(1, len(t)),
                   i -> t[i] || ' ' || t[i + 1])) AS bg
          FROM docs WHERE len(t) >= 2
        ),
        b AS (
          SELECT doc_id, lang,
                 ({h32_sql('bg')} % {PPL_BUCKETS}) AS bucket
          FROM big
        ),
        rc AS (
          SELECT bucket, count(*) AS c_b
          FROM b WHERE lang = '{PPL_REF_LANG}' GROUP BY bucket
        ),
        tot AS (SELECT sum(c_b) AS c_tot FROM rc),
        cost AS (
          SELECT b.doc_id, b.lang,
                 CAST(floor(
                   ln(CAST(c_tot + {PPL_BUCKETS} AS DOUBLE)
                      / (COALESCE(c_b, 0) + 1.0)) * 1e6 + 0.5
                 ) AS BIGINT) AS cost_micro
          FROM b LEFT JOIN rc USING (bucket), tot
        ),
        ce AS (
          SELECT doc_id, lang,
                 CAST(sum(cost_micro) // count(*) AS BIGINT) AS ce_micro
          FROM cost GROUP BY doc_id, lang
        )"""


def _ccnet_scored_sparksql(D: str) -> str:
    """The shared CCNet scored subquery (doc_id, lang, ce_micro) over a
    documents view ``D``: hashed-bigram cross-entropy in exact
    fixed-point micro-nats. Both bucket assigners (exact ntile
    terciles; sampled thresholds) consume this unchanged — see
    ccnet_perplexity_buckets for the full story. Text, not Columns:
    one spark.sql parse per query (guide §7.3)."""
    from .operators.filters import _spark_sql_str as _sq

    ts = hashing.tokens_sparksql("text")
    docs = (
        f"(SELECT doc_id, lang, t FROM "
        f"(SELECT doc_id, lang, {ts} AS t FROM {D}) WHERE size(t) >= 2)"
    )
    b = (
        f"(SELECT doc_id, lang, "
        f"({hashing.h32_sparksql('bg')} % {PPL_BUCKETS}) AS bucket FROM "
        f"(SELECT doc_id, lang, explode(zip_with("
        f"slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1), "
        f"(a, b) -> concat_ws(' ', a, b))) AS bg FROM {docs}))"
    )
    rc = (
        f"(SELECT bucket, count(1) AS c_b FROM {b} "
        f"WHERE lang = {_sq(PPL_REF_LANG)} GROUP BY bucket)"
    )
    dom = f"(SELECT CAST(id AS BIGINT) AS bucket FROM range({PPL_BUCKETS}))"
    # the model total rides a window over the <= PPL_BUCKETS-row cost
    # frame itself (single tiny partition) instead of a separate
    # aggregate branch, which would recompute the reference histogram
    # from the corpus scan
    cost = (
        f"(SELECT bucket, CAST(floor(ln("
        f"CAST((sum(COALESCE(c_b, 0)) OVER () + {PPL_BUCKETS}) AS DOUBLE) "
        f"/ (COALESCE(c_b, 0) + 1.0D)) * 1e6 + 0.5D) AS BIGINT) "
        f"AS cost_micro FROM {dom} d LEFT JOIN {rc} r USING (bucket))"
    )
    return (
        f"(SELECT doc_id, lang, CAST(tm div nb AS BIGINT) AS ce_micro FROM "
        f"(SELECT /*+ BROADCAST(c) */ doc_id, lang, "
        f"sum(cost_micro) AS tm, count(1) AS nb "
        f"FROM {b} bb JOIN {cost} c USING (bucket) GROUP BY doc_id, lang))"
    )


@register(
    "ccnet_perplexity_buckets",
    _CCNET_CE_SQL + """
        SELECT doc_id, lang, ce_micro,
               CASE NTILE(3) OVER (
                 PARTITION BY lang ORDER BY ce_micro, doc_id)
                 WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
               END AS ppl_bucket
        FROM ce""",
)
def ccnet_perplexity_buckets(spark, sf_dir):
    """CCNet-style perplexity bucketing (Wenzek et al. 2019, "CCNet:
    Extracting High Quality Monolingual Datasets from Web Crawl
    Data"): score every doc by its cross-entropy under a reference
    language model, then split each language into head/middle/tail
    terciles — the classic LM-quality partition a web-crawl curation
    pipeline applies before mixing. The deterministic stand-in for
    KenLM: a hashed-bigram model (h32 % {PPL_BUCKETS} buckets, Laplace
    smoothing) trained on the corpus's own '{PPL_REF_LANG}' slice —
    the same target-slice convention as dsir_select; a real KenLM
    scorer swaps in via the plugin chain.

    Engine portability (the dsir_select discipline): per-bucket cost
    -ln p(bucket) is snapped to fixed-point micro-nats ONCE per bucket
    (<= {PPL_BUCKETS} ln() evaluations total), each doc's total cost is
    an exact BIGINT sum, and the per-token normalization is integer
    division (both operands non-negative, so Spark `div` and DuckDB
    `//` agree exactly) — tercile ordering cannot diverge between
    engines on float sum order.

    Scale shape: bigrams are built by zip_with over the in-scan token
    array (no self-join); the reference histogram is one map-side-
    combined groupBy with <= {PPL_BUCKETS} output rows, broadcast back
    (with the 1-row total) onto the exploded corpus; per-doc totals are
    one uniform doc_id groupBy — the one corpus-sized shuffle, same as
    dsir_select. This EXACT form's per-language ntile window is the
    deliberate trade for positionally-exact terciles at test SF; the
    100 TB default is ccnet_perplexity_buckets_sampled below (CCNet's
    own method: fit thresholds on a sample, assign by comparison),
    which shares the scored frame and drops the corpus window.

    Construction is one spark.sql over a documents view (guide
    §7.3)."""
    with default_scope(spark).lease() as view:
        docs = view(Catalog(spark, sf_dir).df("documents"), "docs")
        nt = "ntile(3) OVER (PARTITION BY lang ORDER BY ce_micro, doc_id)"
        return spark.sql(
            f"""SELECT doc_id, lang, ce_micro,
  CASE WHEN {nt} = 1 THEN 'head' WHEN {nt} = 2 THEN 'middle'
       ELSE 'tail' END AS ppl_bucket
FROM {_ccnet_scored_sparksql(docs)}"""
        )


# deterministic threshold-fitting sample: docs whose h32(doc_id) falls
# in one of PPL_SAMPLE_MOD residue classes (1/MOD of the corpus). 2 at
# test SF (the smallest language has ~60 docs and the agreement test
# needs a real sample, not the corpus); at 100 TB this dial goes to
# ~10^3 — a 0.1% sample of a web crawl is still millions of docs per
# language, far past tercile-threshold convergence.
PPL_SAMPLE_MOD = 2


@register(
    "ccnet_perplexity_buckets_sampled",
    _CCNET_CE_SQL + f""",
        s AS (
          SELECT lang, ce_micro, doc_id FROM ce
          WHERE ({hashing.h32_sql('CAST(doc_id AS VARCHAR)')}
                 % {PPL_SAMPLE_MOD}) = 0
        ),
        r AS (
          SELECT lang, ce_micro,
                 row_number() OVER (
                   PARTITION BY lang ORDER BY ce_micro, doc_id) AS rn,
                 count(*) OVER (PARTITION BY lang) AS n
          FROM s
        ),
        th AS (
          SELECT lang,
                 max(CASE WHEN rn <= (n + 2) // 3
                     THEN ce_micro END) AS t1,
                 max(CASE WHEN rn <= (2 * n + 2) // 3
                     THEN ce_micro END) AS t2
          FROM r GROUP BY lang
        )
        SELECT ce.doc_id, ce.lang, ce.ce_micro,
               CASE WHEN ce.ce_micro <= th.t1 THEN 'head'
                    WHEN ce.ce_micro <= th.t2 THEN 'middle'
                    ELSE 'tail' END AS ppl_bucket
        FROM ce LEFT JOIN th ON ce.lang = th.lang""",
)
def ccnet_perplexity_buckets_sampled(spark, sf_dir):
    """The 100 TB form of CCNet bucketing — CCNet's own method (Wenzek
    et al. 2019 fit their perplexity cutoffs on a sample of each
    language, then assign every doc by comparison): per-language
    tercile THRESHOLDS are fitted on a deterministic 1/{PPL_SAMPLE_MOD}
    hash-sample of the scored frame, and the corpus is bucketed by two
    comparisons against the broadcast thresholds.

    Why this is the at-scale default while the exact form is the
    test-SF oracle trade: the exact form's ntile window hash-partitions
    the WHOLE scored corpus by language and sorts each language in one
    partition's sort — at web-crawl scale "partition = one language"
    means the English slice (half the corpus) lands on one task. Here
    the only window runs over the sample (1/{PPL_SAMPLE_MOD} at test
    SF, ~10^-3 at scale); the corpus-side assignment is a broadcast
    join + two comparisons, zero added exchanges over the scored frame
    itself. Everything stays engine-exact (the sample membership is a
    deterministic doc_id hash, thresholds are rank positions in BIGINT
    micro-nats, ceil(n/3) = (n+2) div 3 in both engines), so this path
    keeps a full value-matching oracle rather than an agreement bound.

    Determinism corner: a language with NO sampled docs gets NULL
    thresholds and lands whole in 'tail' (both engines: NULL comparison
    falls through CASE) — conservative, and unreachable once the
    sample holds >= 1 doc per language (test-asserted at sf0.01).
    Assignment agreement vs the exact terciles is >= 95% at sf0.01
    (test-asserted); the residual is boundary docs whose sampled
    threshold sits a few ranks off the exact tercile edge.

    Construction is one spark.sql over a documents view (the scored
    subtree is expanded textually twice, once for the sample and once
    for the corpus side)."""
    with default_scope(spark).lease() as view:
        docs = view(Catalog(spark, sf_dir).df("documents"), "docs")
        ce = _ccnet_scored_sparksql(docs)
        h = hashing.h32_sparksql("CAST(doc_id AS STRING)")
        s = (
            f"(SELECT lang, ce_micro, doc_id FROM {ce} "
            f"WHERE ({h} % {PPL_SAMPLE_MOD}) = 0)"
        )
        r = (
            f"(SELECT lang, ce_micro, ROW_NUMBER() OVER ("
            f"PARTITION BY lang ORDER BY ce_micro, doc_id) AS rn, "
            f"count(1) OVER (PARTITION BY lang) AS n FROM {s})"
        )
        th = (
            f"(SELECT lang, "
            f"max(CASE WHEN rn <= CAST((n + 2) div 3 AS BIGINT) "
            f"THEN ce_micro END) AS t1, "
            f"max(CASE WHEN rn <= CAST((2 * n + 2) div 3 AS BIGINT) "
            f"THEN ce_micro END) AS t2 FROM {r} GROUP BY lang)"
        )
        return spark.sql(
            f"""SELECT /*+ BROADCAST(t) */ doc_id, lang, ce_micro,
  CASE WHEN ce_micro <= t1 THEN 'head'
       WHEN ce_micro <= t2 THEN 'middle'
       ELSE 'tail' END AS ppl_bucket
FROM {ce} LEFT JOIN {th} t USING (lang)"""
        )


HYBRID_QUERY_TEXT = " ".join(BM25_QUERY_TERMS)
HYBRID_EMB_DIMS = 8
HYBRID_CAND_K = 50
HYBRID_RRF_K = "60.0"
HYBRID_TOP_N = 10


def _hybrid_query_vec() -> list[int]:
    from .plugin_examples import hash_embedding

    return hash_embedding(HYBRID_QUERY_TEXT, HYBRID_EMB_DIMS)


def _cosine_sql() -> str:
    """DuckDB per-doc cosine against the fixed query vector, mirroring
    the Spark expression op-for-op (see hybrid_search_rrf for why this
    is deterministic)."""
    q = _hybrid_query_vec()
    dims = []
    for i in range(HYBRID_EMB_DIMS):
        h = f"(('0x' || substring(md5(text || '|{i}'), 1, 8))::BIGINT)"
        x = f"(2.0 * ({h} / 4294967296.0) - 1.0)"
        dims.append(f"CAST(floor(({x}) * 1e6 + 0.5) AS BIGINT) AS e{i}")
    dot = " + ".join(f"(e{i} * CAST({q[i]} AS BIGINT))"
                     for i in range(HYBRID_EMB_DIMS))
    nd = " + ".join(f"(e{i} * e{i})" for i in range(HYBRID_EMB_DIMS))
    nq = float(sum(v * v for v in q))
    return f"""
        SELECT doc_id,
               (CAST(dot AS DOUBLE) /
                (sqrt(CAST(nd AS DOUBLE)) * sqrt({nq!r}))) AS cos_sim
        FROM (
          SELECT doc_id, ({dot}) AS dot, ({nd}) AS nd
          FROM (SELECT doc_id, {', '.join(dims)} FROM documents)
        )
    """


@register(
    "hybrid_search_rrf",
    f"""WITH lex AS (
          SELECT doc_id,
                 CAST(ROW_NUMBER() OVER (
                   ORDER BY score_micro DESC, doc_id) AS INT) AS lex_rank
          FROM ({_bm25_scored_sql()})
          WHERE score_micro > 0
          ORDER BY score_micro DESC, doc_id LIMIT {HYBRID_CAND_K}
        ),
        sem AS (
          SELECT doc_id,
                 CAST(ROW_NUMBER() OVER (
                   ORDER BY cos_sim DESC, doc_id) AS INT) AS sem_rank
          FROM ({_cosine_sql()})
          ORDER BY cos_sim DESC, doc_id LIMIT {HYBRID_CAND_K}
        )
        SELECT doc_id, lex_rank, sem_rank, rrf_micro,
               CAST(ROW_NUMBER() OVER (
                 ORDER BY rrf_micro DESC, doc_id) AS INT) AS fused_rank
        FROM (
          SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
                 lex_rank, sem_rank,
                 (COALESCE(CAST(floor(1e9 / ({HYBRID_RRF_K} + lex_rank)
                                      + 0.5) AS BIGINT), 0)
                  + COALESCE(CAST(floor(1e9 / ({HYBRID_RRF_K} + sem_rank)
                                        + 0.5) AS BIGINT), 0)) AS rrf_micro
          FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
        )
        ORDER BY rrf_micro DESC, doc_id LIMIT {HYBRID_TOP_N}""",
)
def hybrid_search_rrf(spark, sf_dir):
    """Hybrid retrieval with reciprocal-rank fusion (Cormack et al.
    2009): the BM25 lexical top-50 and the embedding-cosine semantic
    top-50 for the same fixed query, fused by
    rrf = sum(1/(60+rank)) over the lists a doc appears in, snapped to
    fixed-point nano-units so the fusion sum is exact integer
    arithmetic. The doc embedding is the deterministic md5 fixed-point
    encoder (chunk_embeddings' _hash_dim_sparksql); a real encoder
    swaps in via the plugin chain.

    Determinism of the cosine leg: every input is integer-valued
    (micro-unit embedding components), |dot| <= 8e12 < 2^53 so the
    double casts are exact, and the only float ops are one division,
    two sqrts and one multiply — all IEEE correctly-rounded (unlike ln)
    — evaluated in the same parenthesized order in both engines, so
    ranks cannot diverge.

    Scale shape: BOTH candidate lists are TakeOrdered top-50 (per-
    partition heaps, no global sort, no global window over the corpus
    — the classic rank-the-whole-corpus window would serialize on one
    partition); the fusion join runs on 50+50 rows. The semantic leg
    here is brute-force cosine in-scan (zero shuffles); at index scale
    the ann_ivf_topk / ann_lsh_topk operators supply the same
    (doc_id, cos) contract from a pruned candidate set.

    Construction is one spark.sql over a documents view (guide §7.3
    — a Column-API construction was ~1,800 py4j round-trips)."""
    with default_scope(spark).lease() as view:
        docs = view(Catalog(spark, sf_dir).df("documents"), "docs")
        q = _hybrid_query_vec()
        nq = float(sum(v * v for v in q))
        rrf_k = f"{float(HYBRID_RRF_K)!r}D"
        lex = f"""(SELECT doc_id,
  CAST(ROW_NUMBER() OVER (ORDER BY score_micro DESC, doc_id) AS INT) AS lex_rank
  FROM (SELECT doc_id, score_micro
        FROM ({_bm25_scored_sparksql(docs)})
        WHERE score_micro > 0
        ORDER BY score_micro DESC, doc_id LIMIT {HYBRID_CAND_K}))"""
        emb = (
            "(SELECT doc_id, "
            + ", ".join(
                f"{_hash_dim_sparksql('text', i)} AS e{i}"
                for i in range(HYBRID_EMB_DIMS)
            )
            + f" FROM {docs})"
        )
        dot = "CAST(0 AS BIGINT)" + "".join(
            f" + (e{i} * CAST({q[i]} AS BIGINT))" for i in range(HYBRID_EMB_DIMS)
        )
        nd = "CAST(0 AS BIGINT)" + "".join(
            f" + (e{i} * e{i})" for i in range(HYBRID_EMB_DIMS)
        )
        sem = f"""(SELECT doc_id,
  CAST(ROW_NUMBER() OVER (ORDER BY cos_sim DESC, doc_id) AS INT) AS sem_rank
  FROM (SELECT doc_id, cos_sim
        FROM (SELECT doc_id,
              CAST(({dot}) AS DOUBLE) /
              (sqrt(CAST(({nd}) AS DOUBLE)) * sqrt({nq!r}D)) AS cos_sim
              FROM {emb})
        ORDER BY cos_sim DESC, doc_id LIMIT {HYBRID_CAND_K}))"""

        def leg(rank_col: str) -> str:
            return (
                f"COALESCE(CAST(floor(1e9 / ({rrf_k} + {rank_col}) + 0.5D) "
                f"AS BIGINT), CAST(0 AS BIGINT))"
            )

        return spark.sql(
            f"""SELECT doc_id, lex_rank, sem_rank, rrf_micro,
  CAST(ROW_NUMBER() OVER (ORDER BY rrf_micro DESC, doc_id) AS INT) AS fused_rank
FROM (SELECT doc_id, lex_rank, sem_rank,
             ({leg('lex_rank')} + {leg('sem_rank')}) AS rrf_micro
      FROM {lex} l FULL OUTER JOIN {sem} s USING (doc_id)
      ORDER BY rrf_micro DESC, doc_id LIMIT {HYBRID_TOP_N})"""
        )


# deferred from the engine_sync section: the oracle composes the
# incremental-engine mutated-views CTEs with both retrieval legs and
# the fusion constants defined just above
REGISTRY["engine_sync_hybrid_topk"].oracle = _engine_hybrid_oracle()


@register(
    "dedup_incremental_probe",
    None,  # filled below (generator lives in functions/dedup.py)
)
def dedup_incremental_probe(spark, sf_dir):
    """Incremental ingestion dedup: documents arrive in 3 batches
    (doc_id % 3 as the arrival order); each batch is probed against
    the MinHashIndex of everything accepted so far, rejected docs
    never enter the index (first-batch-wins recursion), survivors
    extend it. Output: the drop decisions (doc_id, batch, dup_of,
    jaccard).

    Scale shape (see functions/dedup_index.py): per batch the probe is
    ONE grouped shuffle on (band, bucket) with per-side hot-bucket
    caps; exact Jaccard verification touches only bucket collisions;
    the index is append-only state — held batches are never re-paired
    against themselves and never re-cached. The driver loop is bounded
    by batch COUNT, not data size — the same O(batch) discipline as
    the CDC engine."""
    from functools import reduce

    from .functions.dedup_index import MinHashIndex
    from .caching import owned as _owned

    df = Catalog(spark, sf_dir).df("documents")
    idx = MinHashIndex(spark)
    raw, decs = [], []
    for k in range(3):
        dec = idx.ingest(df.filter(F.col("doc_id") % 3 == k))
        raw.append(dec)
        decs.append(
            dec.select(
                "doc_id",
                F.lit(k).cast("int").alias("batch"),
                "dup_of",
                "jaccard",
            )
        )
    out = reduce(DataFrame.unionByName, decs)
    # decisions are persisted+materialized inside ingest, so the index
    # state can be dropped before the caller collects the union; the
    # persisted decision frames themselves transfer to the result's
    # cache scope
    idx.close()
    return _owned(out, raw)


from .functions.dedup import incremental_probe_sql as _inc_probe_sql  # noqa: E402

REGISTRY["dedup_incremental_probe"].oracle = _inc_probe_sql(3)


@register("dedup_cdc_probe", None)  # oracle attached below
def dedup_cdc_probe(spark, sf_dir):
    """dedup_incremental_probe taken through the CDC lifecycle — the
    r8 verdict's #1: the dedup index's UPDATE/DELETE semantics (own-
    version exclusion, delete-unblocks, update-into-dup tombstoning),
    previously pytest-only, put on the official oracle surface.
    Ingest doc_id % 3 ∈ {0, 1} in two batches, apply ONE CDC epoch
    (UPDATE %7==3 of those ids: query terms appended — old text stops
    blocking, new text probes the live set minus the batch's own ids;
    DELETE %7==5 — they stop blocking instantly; an update whose new
    text duplicates a live doc drops AND leaves the corpus), then
    ingest batch %3==2 against the post-CDC live set. Output: all
    drop/removal decisions (doc_id, stage, dup_of, jaccard) — must
    hash-match the unrolled versioned-recursion DuckDB oracle
    (functions/dedup.py cdc_probe_sql).

    Scale shape (functions/dedup_index.py): the CDC epoch is O(batch)
    appended versions + tombstones; its probe folds a broadcast
    overlay (bounded by overlay_cap — auto-compaction past it) over
    the banded candidate join — zero added corpus shuffle."""
    from functools import reduce

    from .functions.dedup import CDC_DEL_PRED, CDC_SUFFIX, CDC_UPD_PRED
    from .functions.dedup_index import MinHashIndex
    from .caching import owned as _owned

    df = Catalog(spark, sf_dir).df("documents")
    idx = MinHashIndex(spark)
    raw, outs = [], []

    def staged(dec, k):
        raw.append(dec)
        outs.append(
            dec.select(
                "doc_id",
                F.lit(k).cast("int").alias("stage"),
                "dup_of",
                "jaccard",
            )
        )

    idx.ingest(df.filter(F.col("doc_id") % 3 == 0))
    staged(idx.ingest(df.filter(F.col("doc_id") % 3 == 1)), 1)
    # the SAME predicate strings the oracle generator interpolates —
    # editing the mutation in one place moves both sides in lockstep
    ups = df.filter(F.expr(CDC_UPD_PRED)).select(
        "doc_id",
        F.concat(F.col("text"), F.lit(CDC_SUFFIX)).alias("text"),
        F.lit("u").alias("op"),
    )
    dels = df.filter(F.expr(CDC_DEL_PRED)).select(
        "doc_id",
        F.lit(None).cast("string").alias("text"),
        F.lit("d").alias("op"),
    )
    staged(idx.apply_cdc(ups.unionByName(dels)), 2)
    staged(idx.ingest(df.filter(F.col("doc_id") % 3 == 2)), 3)
    out = reduce(DataFrame.unionByName, outs)
    idx.close()
    return _owned(out, raw)


from .functions.dedup import cdc_probe_sql as _cdc_probe_sql  # noqa: E402

REGISTRY["dedup_cdc_probe"].oracle = _cdc_probe_sql()


@register("semantic_dedup_incremental", None)  # oracle attached below
def semantic_dedup_incremental(spark, sf_dir):
    """Incremental SemDeDup: embeddings arrive in 3 batches (vec_id %
    3 as arrival order); each batch probes the EmbeddingIndex of all
    accepted vectors (banded sign-LSH candidate cells, exact cosine
    verify >= NEARDUP_COS), rejected vectors never index. Output: the
    drop decisions (vec_id, batch, dup_of, cosine).

    Scale shape (functions/dedup_index.py EmbeddingIndex): per batch
    one (band, bucket)-keyed join of slim keys — held × batch only,
    never held × held — with AQE skew splits spreading the structural
    hot cells; embeddings join back per candidate id for the verify;
    state is append-only exactly like MinHashIndex."""
    from functools import reduce

    from .functions.dedup_index import EmbeddingIndex
    from .caching import owned as _owned

    df = Catalog(spark, sf_dir).df("embeddings")
    idx = EmbeddingIndex(spark)
    raw, decs = [], []
    for k in range(3):
        dec = idx.ingest(df.filter(F.col("vec_id") % 3 == k))
        raw.append(dec)
        decs.append(
            dec.select(
                "vec_id",
                F.lit(k).cast("int").alias("batch"),
                "dup_of",
                "cosine",
            )
        )
    out = reduce(DataFrame.unionByName, decs)
    idx.close()
    return _owned(out, raw)


from .functions.similarity import (  # noqa: E402
    incremental_semantic_probe_sql as _inc_sem_sql,
)

REGISTRY["semantic_dedup_incremental"].oracle = _inc_sem_sql(3)


@register("semantic_dedup_cdc", None)  # oracle attached below
def semantic_dedup_cdc(spark, sf_dir):
    """semantic_dedup_incremental through the CDC lifecycle (the r8
    verdict's #1, embedding side): ingest vec_id % 3 ∈ {0, 1}, apply
    ONE CDC epoch — UPDATE %7==3 of those ids to the NEXT id's
    embedding (an exact copy of a possibly-live vector, so the
    update-into-dup tombstone path actually fires; ids without a
    successor keep their own vector, exercising the own-version
    exclusion), DELETE %7==5 — then ingest batch %3==2 against the
    post-CDC live set. Output: all removal decisions (vec_id, stage,
    dup_of, cosine), hash-matching the unrolled versioned oracle
    (functions/similarity.py cdc_semantic_probe_sql).

    Scale shape: identical to semantic_dedup_incremental plus the
    CDC epoch's broadcast overlay fold (bounded by overlay_cap)."""
    from functools import reduce

    from .functions.dedup_index import EmbeddingIndex
    from .caching import owned as _owned

    df = Catalog(spark, sf_dir).df("embeddings")
    idx = EmbeddingIndex(spark)
    raw, outs = [], []

    def staged(dec, k):
        raw.append(dec)
        outs.append(
            dec.select(
                "vec_id",
                F.lit(k).cast("int").alias("stage"),
                "dup_of",
                "cosine",
            )
        )

    idx.ingest(df.filter(F.col("vec_id") % 3 == 0))
    staged(idx.ingest(df.filter(F.col("vec_id") % 3 == 1)), 1)
    emb_t = df.schema["embedding"].dataType
    nxt = df.select(
        (F.col("vec_id") - 1).alias("vec_id"),
        F.col("embedding").alias("next_emb"),
    )
    from .functions.similarity import SEM_CDC_DEL_PRED, SEM_CDC_UPD_PRED

    # predicate strings shared with the oracle generator (lockstep)
    ups = (
        df.filter(F.expr(SEM_CDC_UPD_PRED))
        .join(nxt, "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce("next_emb", "embedding").alias("embedding"),
            F.lit("u").alias("op"),
        )
    )
    dels = df.filter(F.expr(SEM_CDC_DEL_PRED)).select(
        "vec_id",
        F.lit(None).cast(emb_t).alias("embedding"),
        F.lit("d").alias("op"),
    )
    staged(idx.apply_cdc(ups.unionByName(dels)), 2)
    staged(idx.ingest(df.filter(F.col("vec_id") % 3 == 2)), 3)
    out = reduce(DataFrame.unionByName, outs)
    idx.close()
    return _owned(out, raw)


from .functions.similarity import (  # noqa: E402
    cdc_semantic_probe_sql as _cdc_sem_sql,
)

REGISTRY["semantic_dedup_cdc"].oracle = _cdc_sem_sql()


# ---------------------------------------------------------------------------
# Corpus drift monitor: KL(batch || corpus) over the source mix
# ---------------------------------------------------------------------------

DRIFT_BATCHES = 4

_DRIFT_TERM_SQL = (
    "(per.n / bt.bn) * ln((per.n / bt.bn) / (sq.sn / tot.t))"
)

# batch = h32(doc_id) % N, NOT doc_id % N: the synthetic corpus assigns
# source = src{{doc_id % 20}}, so a modulus batch key would alias with
# the source mix and pin KL at exactly ln(N) — the hash dissociates
# batch membership from every arithmetic id pattern.
_DRIFT_BATCH = f"{hashing.h32_sql('CAST(doc_id AS VARCHAR)')} % {DRIFT_BATCHES}"


@register(
    "corpus_drift_kl",
    f"""WITH per AS (
          SELECT {_DRIFT_BATCH} AS batch, source, COUNT(*) AS n
          FROM documents GROUP BY 1, 2
        ),
        bt AS (SELECT batch, SUM(n) AS bn FROM per GROUP BY batch),
        sq AS (SELECT source, SUM(n) AS sn FROM per GROUP BY source),
        tot AS (SELECT SUM(n) AS t FROM per)
        SELECT per.batch AS batch, MAX(bt.bn) AS n_docs,
               {hashing.round6_sql(
                   'list_reduce(list_prepend(0.0, list_sort('
                   f'list({_DRIFT_TERM_SQL}))), (x, y) -> x + y)'
               )} AS kl
        FROM per
        JOIN bt ON bt.batch = per.batch
        JOIN sq ON sq.source = per.source
        CROSS JOIN tot
        GROUP BY per.batch""",
)
def corpus_drift_kl(spark, sf_dir):
    """Ingestion-drift monitor: KL divergence of each ingest batch's
    source mix against the whole-corpus mix — the QC gauge a streaming
    training-data pipeline watches to catch a crawler or feed suddenly
    over-representing one source (batch here proxied by h32(doc_id) %
    {DRIFT_BATCHES} — hashed, not doc_id % N, which would alias with
    the synthetic source = src(doc_id % 20) assignment and pin every
    batch at exactly ln(N); in the streaming front-end the micro-batch
    epoch is the batch key). KL(P_batch || Q_corpus) = Σ_s p_s·ln(p_s/q_s)
    over sources present in the batch (p_s > 0; q_s > 0 always since
    every batch source is a corpus source).

    Engine portability: the per-batch term list is folded in sorted
    order on both engines (array_sort + left fold here, list_sort +
    list_reduce in the oracle) so the float sum is bit-identical — the
    similarity.py dot-product discipline, not round-and-hope.

    Scale shape: one map-side-combined groupBy to the (batch × source)
    aggregate — the only corpus-sized operation — then windows over
    that tiny-by-construction frame (|batches|·|sources| rows; the
    'no partition' global window runs on that aggregate, never the
    corpus). At 100 TB with per-epoch batches this is the same single
    uniform shuffle per epoch."""
    df = Catalog(spark, sf_dir).df("documents")
    batch = hashing.h32("CAST(doc_id AS STRING)") % DRIFT_BATCHES
    per = df.groupBy(batch.alias("batch"), "source").agg(
        F.count(F.lit(1)).alias("n")
    )
    bn = F.sum("n").over(W.partitionBy("batch"))
    sn = F.sum("n").over(W.partitionBy("source"))
    t = F.sum("n").over(W.partitionBy())
    p = F.col("n") / F.col("bn")
    term = p * F.log(p / (F.col("sn") / F.col("t")))
    return (
        per.select("batch", "n", bn.alias("bn"), sn.alias("sn"), t.alias("t"))
        .select("batch", "bn", term.alias("term"))
        .groupBy("batch")
        .agg(
            F.max("bn").alias("n_docs"),
            hashing.round6(
                F.aggregate(
                    F.array_sort(F.collect_list("term")),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ).alias("kl"),
        )
    )


# ---------------------------------------------------------------------------
# Training-shard export (sinks/shards.py): the assignment, oracle-gated
# ---------------------------------------------------------------------------

from .sinks import shards as _shards  # noqa: E402


@register(
    "export_shard_assign",
    f"""WITH d AS (
          SELECT doc_id, doc_id % {_shards.WRITER_LANES} AS lane,
                 CAST(len({hashing.tokens_sql('text')}) AS BIGINT) AS n_tok
          FROM documents
        )
        SELECT doc_id, n_tok,
               lane * {_shards.LANE_STRIDE} +
                 COALESCE(SUM(n_tok) OVER (PARTITION BY lane ORDER BY doc_id
                                           ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND 1 PRECEDING), 0)
                   // {_shards.SHARD_TOKEN_BUDGET}
                 AS shard_id
        FROM d""",
)
def export_shard_assign(spark, sf_dir):
    """The shard-binning half of the training-shard export sink
    (sinks/shards.py, which adds the partitioned parquet write and the
    atomic MANIFEST.json): whole-document token-budget binning via the
    pack_sequences lane-parallel prefix-sum shape, but at DOCUMENT
    grain — a doc belongs wholly to the shard its first token lands in
    (≤ one-doc overrun per shard; exact bin packing is inherently
    sequential), where pack_sequences cuts at TOKEN grain and lets
    docs straddle sequences. Integer `div`/`//` on both engines, no
    float floor."""
    return _shards.shard_assign(Catalog(spark, sf_dir).df("documents"))
