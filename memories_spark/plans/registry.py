"""Query registry: every operator exposed as (Spark plan, DuckDB oracle).

Each entry pairs an idiomatic-PySpark DataFrame plan with an ANSI-SQL
oracle that DuckDB runs over the same parquet tables. The driver
compares row counts, schemas and order-insensitive value hashes, so
every query obeys the determinism contract:

- integers out as BIGINT, floats out as DOUBLE rounded at a fixed
  scale, timestamps out as formatted strings;
- every double aggregation uses exact fixed-point integer sums
  (see functions/hashing.py) — order-independent across engines;
- every float fold (dot products) is left-associated in both engines;
- every top-k breaks ties by id ASC (SURVEY §4 'tie-break parity').
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from memories_spark.functions.decay import decay_sql, half_life_decay
from memories_spark.functions.hashing import fixed_point, unfix
from memories_spark.functions.topk import ranked_topk
from memories_spark.functions.vectors import cosine_expr, cosine_sql
from memories_spark.operators import bm25 as bm25_op
from memories_spark.operators import rrf as rrf_op
from memories_spark.operators import similarity as sim_op
from memories_spark.operators.partitioning import spread_for_compute
from memories_spark.sources.tables import load_tables


@dataclass
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None
    bench: bool = False
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


QUERIES: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None = None,
    bench: bool = False,
    doc: str = "",
    tags: tuple[str, ...] = (),
):
    def deco(fn):
        QUERIES[name] = QuerySpec(name=name, fn=fn, oracle=oracle, bench=bench, doc=doc, tags=tags)
        return fn

    return deco


def _cents_sum(col_expr) -> F.Column:
    """Exact order-independent money sum: round to cents, sum BIGINT."""
    return F.sum(F.round(col_expr * F.lit(100.0)).cast("long"))


# =====================================================================
# Relational analytics (scan → filter → agg → join → top-k)
# =====================================================================

_Q1_ORACLE = """
SELECT l_returnflag, l_linestatus,
       round(CAST(CAST(sum(CAST(round(l_quantity*100.0) AS BIGINT)) AS BIGINT) AS DOUBLE)/100.0, 2) AS sum_qty,
       round(CAST(CAST(sum(CAST(round(l_extendedprice*100.0) AS BIGINT)) AS BIGINT) AS DOUBLE)/100.0, 2) AS sum_base_price,
       round(CAST(CAST(sum(CAST(round((l_extendedprice*(1.0-l_discount))*100.0) AS BIGINT)) AS BIGINT) AS DOUBLE)/100.0, 2) AS sum_disc_price,
       round(CAST(CAST(sum(CAST(round(((l_extendedprice*(1.0-l_discount))*(1.0+l_tax))*100.0) AS BIGINT)) AS BIGINT) AS DOUBLE)/100.0, 2) AS sum_charge,
       round(CAST(CAST(sum(CAST(round(l_quantity*100.0) AS BIGINT)) AS BIGINT) AS DOUBLE)/100.0 / count(*), 6) AS avg_qty,
       round(CAST(CAST(sum(CAST(round(l_extendedprice*100.0) AS BIGINT)) AS BIGINT) AS DOUBLE)/100.0 / count(*), 6) AS avg_price,
       round(CAST(CAST(sum(CAST(round(l_discount*1000000.0) AS BIGINT)) AS BIGINT) AS DOUBLE)/1000000.0 / count(*), 6) AS avg_disc,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@register(
    "q1_pricing_summary",
    oracle=_Q1_ORACLE,
    bench=True,
    doc="TPC-H Q1-style pricing summary: full lineitem scan, hash agg. "
    "Maps reference analytics rollups (usage_tracker.py:536-600).",
    tags=("agg", "scan"),
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir)["lineitem"]
    filtered = li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    charge = disc_price * (F.lit(1.0) + F.col("l_tax"))
    grouped = filtered.groupBy("l_returnflag", "l_linestatus").agg(
        _cents_sum(F.col("l_quantity")).alias("_qty_c"),
        _cents_sum(F.col("l_extendedprice")).alias("_price_c"),
        _cents_sum(disc_price).alias("_disc_c"),
        _cents_sum(charge).alias("_charge_c"),
        F.sum(F.round(F.col("l_discount") * F.lit(1e6)).cast("long")).alias("_disc_micros"),
        F.count("*").alias("count_order"),
    )
    return grouped.select(
        "l_returnflag",
        "l_linestatus",
        F.round(F.col("_qty_c").cast("double") / 100.0, 2).alias("sum_qty"),
        F.round(F.col("_price_c").cast("double") / 100.0, 2).alias("sum_base_price"),
        F.round(F.col("_disc_c").cast("double") / 100.0, 2).alias("sum_disc_price"),
        F.round(F.col("_charge_c").cast("double") / 100.0, 2).alias("sum_charge"),
        F.round(F.col("_qty_c").cast("double") / 100.0 / F.col("count_order"), 6).alias("avg_qty"),
        F.round(F.col("_price_c").cast("double") / 100.0 / F.col("count_order"), 6).alias("avg_price"),
        F.round(F.col("_disc_micros").cast("double") / 1e6 / F.col("count_order"), 6).alias("avg_disc"),
        "count_order",
    ).orderBy("l_returnflag", "l_linestatus")


_Q3_ORACLE = """
SELECT l.l_orderkey,
       round(CAST(CAST(sum(CAST(round((l.l_extendedprice*(1.0-l.l_discount))*100.0) AS BIGINT)) AS BIGINT) AS DOUBLE)/100.0, 2) AS revenue,
       strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
       o.o_orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1997-03-15 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1997-03-15 00:00:00'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, l.l_orderkey ASC
LIMIT 10
"""


@register(
    "q3_shipping_priority",
    oracle=_Q3_ORACLE,
    bench=True,
    doc="TPC-H Q3-style: 3-way join, agg, top-10. Small dims broadcast.",
    tags=("join", "topk"),
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    cutoff = F.lit("1997-03-15 00:00:00").cast("timestamp")
    cust = t["customer"].filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    orders = t["orders"].filter(F.col("o_orderdate") < cutoff)
    li = t["lineitem"].filter(F.col("l_shipdate") > cutoff)
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_cents_sum(disc_price).alias("_rev_c"))
    )
    return (
        joined.select(
            "l_orderkey",
            F.round(F.col("_rev_c").cast("double") / 100.0, 2).alias("revenue"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


_Q5_ORACLE = """
SELECT n.n_name,
       round(CAST(CAST(sum(CAST(round((l.l_extendedprice*(1.0-l.l_discount))*100.0) AS BIGINT)) AS BIGINT) AS DOUBLE)/100.0, 2) AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n.n_name
ORDER BY revenue DESC, n.n_name ASC
"""


@register(
    "q5_region_revenue",
    oracle=_Q5_ORACLE,
    bench=True,
    doc="TPC-H Q5-style: 6-way star join with broadcast dims, "
    "co-located customer/supplier nation predicate.",
    tags=("join", "agg"),
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    orders = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    nations_in_region = (
        t["nation"]
        .join(
            F.broadcast(t["region"].filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    joined = (
        t["lineitem"]
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(t["supplier"]),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nations_in_region), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    return (
        joined.groupBy("n_name")
        .agg(_cents_sum(disc_price).alias("_rev_c"))
        .select("n_name", F.round(F.col("_rev_c").cast("double") / 100.0, 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


_TOP_CUSTOMERS_ORACLE = """
SELECT c.c_custkey, c.c_name,
       round(CAST(CAST(sum(CAST(round(o.o_totalprice*100.0) AS BIGINT)) AS BIGINT) AS DOUBLE)/100.0, 2) AS revenue,
       CAST(count(*) AS BIGINT) AS n_orders
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_custkey, c.c_name
ORDER BY revenue DESC, c.c_custkey ASC
LIMIT 10
"""


@register(
    "top_customers",
    oracle=_TOP_CUSTOMERS_ORACLE,
    bench=True,
    doc="Top-k aggregation + broadcast dim join (reference A9-style rollup).",
    tags=("agg", "topk"),
)
def top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    agg = t["orders"].groupBy("o_custkey").agg(
        _cents_sum(F.col("o_totalprice")).alias("_rev_c"), F.count("*").alias("n_orders")
    )
    return (
        agg.join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey",
            "c_name",
            F.round(F.col("_rev_c").cast("double") / 100.0, 2).alias("revenue"),
            "n_orders",
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(10)
    )


_NO_ORDERS_ORACLE = """
SELECT c_custkey, c_name FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
ORDER BY c_custkey
"""


@register(
    "customers_without_orders",
    oracle=_NO_ORDERS_ORACLE,
    doc="Anti-join (reference T6: unretrieved memories, "
    "usage_tracker.py:298-307). The build side is the DISTINCT "
    "order-key set — corpus-sized at scale, so no forced broadcast: "
    "the shuffled left_anti co-partitions both sides and AQE "
    "downgrades to broadcast at runtime when the key set is small. "
    "NOTE: vacuously empty on this generator's data (every customer "
    "has orders); `dormant_customers` below is the non-vacuous "
    "oracle for the same anti-join shape, and "
    "tests/test_joins.py has the constructed-fixture positive case.",
    tags=("antijoin",),
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    keys = t["orders"].select("o_custkey").distinct()
    return (
        t["customer"]
        .join(keys, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


_DORMANT_ORACLE = """
SELECT c_custkey, c_name FROM customer
WHERE c_custkey NOT IN (
  SELECT o_custkey FROM orders WHERE o_orderdate >= DATE '1999-01-01'
)
ORDER BY c_custkey
"""


@register(
    "dormant_customers",
    oracle=_DORMANT_ORACLE,
    doc="Non-vacuous T6 anti-join: customers with NO orders since "
    "1999-01-01 (the dormant/churn-candidate set — 6/29/305 rows at "
    "sf 0.001/0.01/0.1, so the oracle actually proves the anti-join "
    "returns the right ROWS, unlike `customers_without_orders` "
    "which is empty-by-construction on this generator). The date "
    "predicate pushes to the orders scan before the distinct, and "
    "the left_anti lets AQE pick broadcast only when the surviving "
    "key set is small.",
    tags=("antijoin",),
)
def dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    keys = (
        t["orders"]
        .filter(F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp"))
        .select("o_custkey")
        .distinct()
    )
    return (
        t["customer"]
        .join(keys, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


_FOLDER_ROLLUP_ORACLE = """
SELECT string_split(source, '/')[1] AS folder, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY 1 ORDER BY folder
"""


@register(
    "folder_rollup",
    oracle=_FOLDER_ROLLUP_ORACLE,
    doc="Group count by first source path segment (reference A3, "
    "app.py:2670-2682).",
    tags=("agg",),
)
def folder_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    return (
        docs.groupBy(F.split(F.col("source"), "/").getItem(0).alias("folder"))
        .agg(F.count("*").alias("n"), F.sum("n_chars").cast("long").alias("total_chars"))
        .orderBy("folder")
    )


_PREFIX_ORACLE = """
SELECT source, CAST(count(*) AS BIGINT) AS n, CAST(min(doc_id) AS BIGINT) AS first_doc
FROM documents WHERE source LIKE 'src1%' GROUP BY source ORDER BY source
"""


@register(
    "source_prefix_filter",
    oracle=_PREFIX_ORACLE,
    doc="Source-prefix pushdown filter (reference F1, "
    "memory_engine.py:1322-1362): startswith reaches the parquet scan.",
    tags=("filter",),
)
def source_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    return (
        docs.filter(F.col("source").startswith("src1"))
        .groupBy("source")
        .agg(F.count("*").alias("n"), F.min("doc_id").alias("first_doc"))
        .orderBy("source")
    )


_PAGINATE_ORACLE = """
SELECT doc_id, source, n_chars FROM (
  SELECT doc_id, source, n_chars, row_number() OVER (ORDER BY doc_id) AS rn
  FROM documents
) WHERE rn > 100 AND rn <= 120 ORDER BY doc_id
"""


@register(
    "paginate_documents",
    oracle=_PAGINATE_ORACLE,
    doc="Offset/limit pagination (reference T3, "
    "memory_engine.py:2371-2390). Page k of size m only needs the "
    "first offset+limit rows of the order, so the plan is "
    "TakeOrderedAndProject(offset+limit) — per-partition top-N, "
    "merged — then a rank window over those <=120 rows; the naive "
    "row_number over the whole corpus is a single-partition sort.",
    tags=("window",),
)
def paginate_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    return (
        ranked_topk(
            docs.select("doc_id", "source", "n_chars"),
            [F.asc("doc_id")],
            120,
            rank_col="rn",
        )
        .filter(F.col("rn") > 100)
        .drop("rn")
        .orderBy("doc_id")
    )


# =====================================================================
# Event analytics (reference usage_tracker.py SQL layer)
# =====================================================================

_EVENTS_QUALITY_ORACLE = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(DISTINCT user_id) AS BIGINT) AS users,
       round(CAST(CAST(sum(CAST(round(value*1000000.0) AS BIGINT)) AS BIGINT) AS DOUBLE)/1000000.0 / count(*), 6) AS avg_value,
       round(CAST(CAST(sum(CAST(round(value*100.0) AS BIGINT)) AS BIGINT) AS DOUBLE)/100.0, 2) AS total_value
FROM events
WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
GROUP BY event_type ORDER BY event_type
"""


@register(
    "events_quality_metrics",
    oracle=_EVENTS_QUALITY_ORACLE,
    bench=True,
    doc="Period-windowed conditional aggregation (reference A4 "
    "search-quality metrics, usage_tracker.py:364-445).",
    tags=("agg", "events"),
)
def events_quality_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir)["events"]
    filtered = ev.filter(F.col("ts") >= F.lit("2024-01-15 00:00:00").cast("timestamp"))
    return (
        filtered.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("user_id").alias("users"),
            F.sum(F.round(F.col("value") * F.lit(1e6)).cast("long")).alias("_v_micro"),
            _cents_sum(F.col("value")).alias("_v_cents"),
        )
        .select(
            "event_type",
            "n",
            "users",
            F.round(F.col("_v_micro").cast("double") / 1e6 / F.col("n"), 6).alias("avg_value"),
            F.round(F.col("_v_cents").cast("double") / 100.0, 2).alias("total_value"),
        )
        .orderBy("event_type")
    )


_PROBLEM_USERS_ORACLE = """
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
       round(CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS error_ratio
FROM events
GROUP BY user_id
HAVING count(*) >= 5
   AND CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS DOUBLE) / count(*) >= 0.25
ORDER BY n_errors DESC, user_id ASC
LIMIT 50
"""


@register(
    "problem_users",
    oracle=_PROBLEM_USERS_ORACLE,
    doc="GROUP BY ... HAVING ratio filter (reference A7 problem "
    "queries, usage_tracker.py:810-833).",
    tags=("agg", "events"),
)
def problem_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir)["events"]
    is_err = F.when(F.col("event_type") == "error", 1).otherwise(0)
    agg = ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"), F.sum(is_err).cast("long").alias("n_errors")
    )
    ratio = F.col("n_errors").cast("double") / F.col("n_events")
    return (
        agg.filter((F.col("n_events") >= 5) & (ratio >= 0.25))
        .select("user_id", "n_events", "n_errors", F.round(ratio, 6).alias("error_ratio"))
        .orderBy(F.desc("n_errors"), F.asc("user_id"))
        .limit(50)
    )


_USER_STATS_ORACLE = """
SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_seen
FROM events GROUP BY user_id ORDER BY user_id
"""


@register(
    "user_activity_stats",
    oracle=_USER_STATS_ORACLE,
    doc="Per-entity retrieval stats (reference A8, "
    "usage_tracker.py:279-307): count + max(ts) per id.",
    tags=("agg", "events"),
)
def user_activity_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir)["events"]
    return (
        ev.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("event_type").alias("n_types"),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("last_seen"),
        )
        .orderBy("user_id")
    )


_RECENCY_ORACLE = f"""
SELECT event_id,
       round({decay_sql("ts", "2024-01-31 00:00:00", 7.0)}, 6) AS recency_score
FROM events
ORDER BY recency_score DESC, event_id ASC
LIMIT 100
"""


@register(
    "recency_topk",
    oracle=_RECENCY_ORACLE,
    doc="Half-life recency decay ranking (reference R4, "
    "memory_engine.py:1442-1465): 0.5^(age_days/half_life).",
    tags=("decay", "topk"),
)
def recency_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir)["events"]
    anchor = F.lit("2024-01-31 00:00:00").cast("timestamp")
    score = F.round(half_life_decay(F.col("ts"), anchor, 7.0), 6)
    return (
        ev.select("event_id", score.alias("recency_score"))
        .orderBy(F.desc("recency_score"), F.asc("event_id"))
        .limit(100)
    )


# =====================================================================
# Retrieval core: BM25, vector kNN, hybrid RRF fusion
# =====================================================================

_BM25_QUERY = ["spark", "join", "filter", "window", "group"]


def _bm25_topk_plan(
    spark: SparkSession, sf_dir: str, stats: dict | None = None
) -> DataFrame:
    """BM25 top-20, shared by ``bm25_topk`` and its ``_indexed`` twin:
    ``stats`` None tokenizes the corpus inline, the lexical index's
    :func:`_lexical_stats` serves the same scores from pruned postings."""
    docs = load_tables(spark, sf_dir)["documents"]
    scored = bm25_op.bm25_scores(docs, "doc_id", "text", _BM25_QUERY, stats=stats)
    return (
        scored.select(F.col("id").alias("doc_id"), F.round("score", 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(20)
    )


@register(
    "bm25_topk",
    oracle=bm25_op.bm25_sql("documents", "doc_id", "text", _BM25_QUERY, k=20),
    bench=True,
    doc="Okapi BM25 top-k with rank_bm25 0.2.2 parity incl. epsilon "
    "IDF floor (reference R2, memory_engine.py:1765-1785).",
    tags=("retrieval", "bm25"),
)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _bm25_topk_plan(spark, sf_dir)


_KNN_QUERY_IDS = [0, 7, 42]


@register(
    "vector_knn",
    oracle=sim_op.knn_sql("embeddings", 64, 10, _KNN_QUERY_IDS),
    bench=True,
    doc="Exact cosine top-k per query vector: broadcast queries × "
    "corpus scan, codegen'd fold (reference R1/J2, "
    "memory_engine.py:1383-1440).",
    tags=("retrieval", "vector"),
)
def vector_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir)["embeddings"]
    queries = emb.filter(F.col("vec_id").isin(_KNN_QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = sim_op.topk_cosine(emb, queries, k=10)
    return out.select(
        "query_id", "vec_id", "sim", F.col("rank").cast("long").alias("rank")
    ).orderBy("query_id", "rank")


def _hybrid_oracle() -> str:
    bm25_full = bm25_op.bm25_sql("documents", "doc_id", "text", _BM25_QUERY, k=None)
    cos = cosine_sql("e.embedding", "q.embedding", 64)
    vec_c = rrf_op.rrf_contrib_sql("v_rank", 0.7)
    bm_c = rrf_op.rrf_contrib_sql("b_rank", 0.3)
    scale = rrf_op.SCORE_SCALE
    return f"""
WITH bm25_all AS ({bm25_full}),
bm25_ranked AS (
  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS b_rank
  FROM bm25_all
  QUALIFY b_rank <= 30
),
q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
vec_scored AS (
  SELECT e.vec_id AS doc_id, round({cos}, 6) AS sim
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id != 0
),
vec_ranked AS (
  SELECT doc_id, row_number() OVER (ORDER BY sim DESC, doc_id ASC) AS v_rank
  FROM vec_scored
  QUALIFY v_rank <= 30
),
fused AS (
  SELECT coalesce(v.doc_id, b.doc_id) AS doc_id,
         coalesce({vec_c}, 0) + coalesce({bm_c}, 0) AS c,
         v.v_rank AS vector_rank, b.b_rank AS bm25_rank
  FROM vec_ranked v FULL OUTER JOIN bm25_ranked b ON v.doc_id = b.doc_id
)
SELECT doc_id,
       round(CAST(c AS DOUBLE) / 1e{scale}, 6) AS rrf_score,
       CAST(vector_rank AS BIGINT) AS vector_rank,
       CAST(bm25_rank AS BIGINT) AS bm25_rank
FROM fused
ORDER BY rrf_score DESC, doc_id ASC
LIMIT 10
"""


def _hybrid_rrf_plan(
    spark: SparkSession, sf_dir: str, bm_stats: dict | None = None
) -> DataFrame:
    """The flagship hybrid plan, shared by ``hybrid_rrf_search`` and
    its ``_indexed`` twin. ``bm_stats`` is the ONLY difference between
    the two entries: None tokenizes the corpus inline; the lexical
    index's :func:`_lexical_stats` serves the BM25 branch from pruned
    postings reads. They share one oracle, so sharing the builder makes
    result-identity true by construction — a weights/oversample/
    tie-break tweak cannot drift one without the other."""
    t = load_tables(spark, sf_dir)
    docs, emb = t["documents"], t["embeddings"]

    query_vec = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("query_vec")
    )
    vec_scored = (
        spread_for_compute(emb).crossJoin(F.broadcast(query_vec))
        .filter(F.col("vec_id") != 0)
        .select(
            F.col("vec_id").alias("id"),
            F.round(cosine_expr("embedding", "query_vec"), 6).alias("sim"),
        )
    )
    vec_ranked = rrf_op.rank_signal(vec_scored, "id", "sim", limit=30)

    bm = bm25_op.bm25_scores(docs, "doc_id", "text", _BM25_QUERY, stats=bm_stats)
    bm_ranked = rrf_op.rank_signal(bm, "id", "score", limit=30)

    fused = rrf_op.rrf_fuse(
        {"vector": (vec_ranked, 0.7), "bm25": (bm_ranked, 0.3)}, k=10
    )
    return fused.select(
        F.col("id").alias("doc_id"),
        F.round("rrf_score", 6).alias("rrf_score"),
        F.col("vector_rank").cast("long").alias("vector_rank"),
        F.col("bm25_rank").cast("long").alias("bm25_rank"),
    ).orderBy(F.desc("rrf_score"), F.asc("doc_id"))


@register(
    "hybrid_rrf_search",
    oracle=_hybrid_oracle(),
    bench=True,
    doc="Hybrid retrieval: vector top-30 + BM25 top-30 fused with "
    "Reciprocal Rank Fusion, weights 0.7/0.3, rrf_k=60 (reference R3 "
    "hybrid_search, memory_engine.py:1787-1858; oversample 3k "
    ":1752-1753). The engine's flagship query.",
    tags=("retrieval", "rrf", "flagship"),
)
def hybrid_rrf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _hybrid_rrf_plan(spark, sf_dir)


def _lexical_stats(spark: SparkSession, sf_dir: str) -> dict:
    """BM25 stats for the query terms, read from the documents'
    persisted lexical index (``operators/lexical_index.py``, the
    engine's own format), built once per corpus fingerprint. One build
    serves both indexed entries."""
    from memories_spark.operators import lexical_index
    from memories_spark.plans.queries_ann import _ensure_index

    def build(tmp: str) -> None:
        docs = load_tables(spark, sf_dir)["documents"]
        lexical_index.build_lexical(spark, docs, "doc_id", "text", tmp)

    idx = _ensure_index("lexical", sf_dir, build, table="documents.parquet")
    meta = lexical_index.read_meta(idx)
    return lexical_index.query_stats(
        spark, lexical_index.table_root(idx, meta), meta, _BM25_QUERY
    )


@register(
    "bm25_topk_indexed",
    oracle=bm25_op.bm25_sql("documents", "doc_id", "text", _BM25_QUERY, k=20),
    bench=True,
    doc="BM25 top-k served from the PERSISTED lexical index "
    "(operators/lexical_index.py, the index hybrid_search(lexical=True) "
    "serves from) — the same hoist the ANN family got (queries_ann "
    "'Persisted ANN index builds'): tokenize/DF/IDF are "
    "query-independent, so they build once per corpus fingerprint and "
    "queries read back only the query terms' postings (written sorted "
    "by term, so an In(term) predicate prunes row groups via parquet "
    "min/max stats — at 100 TB a 5-term query touches a handful of row "
    "groups, not the corpus). The reference instead rebuilds BM25 on "
    "every write (memory_engine.py:224-232, the SURVEY §4 'incremental "
    "vs full rebuild' gap); this index's incremental maintenance path "
    "is lexical_index.refresh_lexical. Results are identical to "
    "bm25_topk by construction (same exact fixed-point math, same "
    "oracle).",
    tags=("retrieval", "bm25", "index"),
)
def bm25_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _bm25_topk_plan(spark, sf_dir, stats=_lexical_stats(spark, sf_dir))


@register(
    "hybrid_rrf_search_indexed",
    oracle=_hybrid_oracle(),
    bench=True,
    doc="The flagship hybrid query with its BM25 branch served from "
    "the PERSISTED lexical index (operators/lexical_index.py, the one "
    "hybrid_search(lexical=True) serves from; maintained by "
    "lexical_index.refresh_lexical): identical results to "
    "hybrid_rrf_search by construction — same fixed-point math, same "
    "oracle — but the lexical branch reads only the query terms' "
    "postings via In(term) row-group pruning instead of tokenizing "
    "the corpus per query. The reference keeps its BM25 index "
    "persistent between queries (memory_engine.py:224-232); this "
    "entry pins the hybrid stack's serve-time cost drop in the bench, "
    "drift-guarded like the ANN family.",
    tags=("retrieval", "rrf", "bm25", "index"),
)
def hybrid_rrf_search_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _hybrid_rrf_plan(spark, sf_dir, bm_stats=_lexical_stats(spark, sf_dir))
