"""Retrieval completeness: the full 5-signal hybrid pipeline and its
satellites — explain, batch search, graph merge with reserved slots,
novelty, conflict pairs, evidence packets.

Signal derivations over the synthetic corpus (scale-independent):
documents play "memories"; per-doc activity anchors come from the
events table joined on ``user_id = doc_id`` (docs without events are
simply absent from the time-based signals, like memories without a
``last_reinforced_at``); feedback net = clicks - errors per entity
(reference usage_tracker.py:324-341 conditional sum).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from memories_spark.functions.decay import decay_sql, half_life_decay
from memories_spark.functions.hashing import unfix
from memories_spark.functions.vectors import cosine_expr, cosine_sql
from memories_spark.operators import bm25 as bm25_op
from memories_spark.operators import graph as graph_op
from memories_spark.operators import rrf as rrf_op
from memories_spark.operators.partitioning import spread_for_compute
from memories_spark.plans.queries_graph import _doc_edges, _EDGES_CTE, _SEEDS_CTE
from memories_spark.functions.topk import ranked_topk
from memories_spark.plans.registry import register
from memories_spark.sources.tables import load_tables

_BM25_QUERY = ["spark", "join", "filter", "window", "group"]
_NOW = "2024-01-31 00:00:00"
_RECENCY_HL = 7.0
_CONFIDENCE_HL = 90.0

# Reference weight-normalization algebra (memory_engine.py:1795-1807):
# aux signals (feedback+confidence) are budgeted first, the remaining
# "core" is split vector/bm25 after carving out the recency share.
_VECTOR_W, _RECENCY_W, _FEEDBACK_W, _CONFIDENCE_W = 0.7, 0.2, 0.1, 0.1
_AUX = min(1.0, _FEEDBACK_W + _CONFIDENCE_W)
_CORE = 1.0 - _AUX
V_EFF = _VECTOR_W * _CORE * (1.0 - _RECENCY_W)          # 0.448
B_EFF = (1.0 - _VECTOR_W) * _CORE * (1.0 - _RECENCY_W)  # 0.192
R_EFF = _RECENCY_W * _CORE                              # 0.16
F_EFF = _FEEDBACK_W                                     # 0.1
C_EFF = _CONFIDENCE_W                                   # 0.1


# ---------------------------------------------------------------------
# Shared signal builders (Spark side)
# ---------------------------------------------------------------------

def _vec_ranked(emb: DataFrame, query_id: int = 0, limit: int = 30) -> DataFrame:
    """Vector signal: cosine vs one query embedding, (id, rank)."""
    qv = emb.filter(F.col("vec_id") == query_id).select(F.col("embedding").alias("qv"))
    scored = (
        spread_for_compute(emb).crossJoin(F.broadcast(qv))
        .filter(F.col("vec_id") != query_id)
        .select(
            F.col("vec_id").alias("id"),
            F.round(cosine_expr("embedding", "qv"), 6).alias("sim"),
        )
    )
    return rrf_op.rank_signal(scored, "id", "sim", limit=limit)


def _bm_ranked(docs: DataFrame, limit: int = 30) -> DataFrame:
    bm = bm25_op.bm25_scores(docs, "doc_id", "text", _BM25_QUERY)
    return rrf_op.rank_signal(bm, "id", "score", limit=limit)


def _net_expr() -> F.Column:
    """Feedback net: click +1, error −1 (reference R6 semantics over
    the events twin). ONE definition — _entity_stats and the
    standalone feedback_score_join must never drift apart."""
    return F.sum(
        F.when(F.col("event_type") == "click", 1)
        .when(F.col("event_type") == "error", -1)
        .otherwise(0)
    ).cast("long")


def _entity_stats(events: DataFrame) -> DataFrame:
    """Per-entity activity anchors AND feedback net in ONE events
    scan + ONE shuffle (user_id=doc_id): last/first ts feed the two
    time-decay signals, net feeds feedback. Previously two separate
    full-table groupBys — at 100 TB the events table is the big one
    in this query, so halving its scans halves the query's dominant
    cost."""
    return events.groupBy(F.col("user_id").alias("id")).agg(
        F.max("ts").alias("last_ts"),
        F.min("ts").alias("first_ts"),
        _net_expr().alias("net"),
    )


def _five_signals(spark: SparkSession, sf_dir: str) -> dict[str, tuple[DataFrame, float]]:
    """The reference's 5 RRF signals, aux signals ranked **within** the
    vector∪bm25 candidate set (memory_engine.py:1819-1858)."""
    t = load_tables(spark, sf_dir)
    # The ranked lists are <=30 rows but their subplans are corpus
    # scans, and each is referenced several times downstream
    # (contribution + candidate set + aux ranks). localCheckpoint
    # (not cache) truncates lineage at construction: with cache the
    # final fused plan embedded every corpus subtree once per
    # reference (~120 KB of plan, re-analyzed on every invocation —
    # the dominant cost of this query); with the checkpoint the fuse
    # stage plans over three <=60-row leaf relations. eager=False so
    # nothing runs at construction: the single final action computes
    # each marked RDD once (persisted on first computation, read back
    # by every other consumer), and the independent vector/BM25/events
    # subtrees run as concurrently-schedulable stages of ONE job
    # instead of three sequential eager jobs (guide §2.6).
    # Under AQE a "lazy" localCheckpoint still executes every stage
    # but the last at construction, so chaining the three signal
    # checkpoints on the main thread serializes their jobs (bm's
    # ~1.2 s BM25 pipeline gated vec's and the events scan's).
    # Submit them from a small thread pool instead: Spark's scheduler
    # runs jobs from separate threads concurrently, so the three
    # independent subtrees overlap and construction pays max() not
    # sum() (guide §2.6 / §7.3). Table readers are constructed on
    # the main thread first (LazyTables isn't meant for concurrent
    # first-touch).
    emb, docs, events = t["embeddings"], t["documents"], t["events"]
    with ThreadPoolExecutor(max_workers=3) as pool:
        f_vec = pool.submit(
            lambda: _vec_ranked(emb).localCheckpoint(eager=False)
        )
        f_bm = pool.submit(
            lambda: _bm_ranked(docs).localCheckpoint(eager=False)
        )
        # ONE events scan + groupBy serves all three aux signals
        # (anchors + feedback net fused); checkpointing it directly
        # (instead of after the candidate join) lets it overlap too —
        # the join below then reads two materialized leaves.
        f_ent = pool.submit(
            lambda: _entity_stats(events).localCheckpoint(eager=False)
        )
        vec, bm, ent = f_vec.result(), f_bm.result(), f_ent.result()
    cand = vec.select("id").union(bm.select("id")).distinct()
    now = F.lit(_NOW).cast("timestamp")

    # ca feeds three rank lists, so it is a marked checkpoint too
    ca = cand.join(ent, "id", "left").localCheckpoint(eager=False)
    rec_scored = ca.select("id", half_life_decay(F.col("last_ts"), now, _RECENCY_HL).alias("s"))
    conf_scored = ca.select("id", half_life_decay(F.col("first_ts"), now, _CONFIDENCE_HL).alias("s"))
    fb_scored = ca.filter(F.col("net") > 0).select("id", "net")
    return {
        "vector": (vec, V_EFF),
        "bm25": (bm, B_EFF),
        "recency": (rrf_op.rank_signal(rec_scored, "id", "s", limit=30), R_EFF),
        "feedback": (rrf_op.rank_signal(fb_scored, "id", "net", limit=30), F_EFF),
        "confidence": (rrf_op.rank_signal(conf_scored, "id", "s", limit=30), C_EFF),
    }


# ---------------------------------------------------------------------
# Shared oracle CTE chain for the 5 signals
# ---------------------------------------------------------------------

def _five_signal_ctes() -> str:
    bm25_full = bm25_op.bm25_sql("documents", "doc_id", "text", _BM25_QUERY, k=None)
    cos = cosine_sql("e.embedding", "q.embedding", 64)
    return f"""
bm25_all AS ({bm25_full}),
bm_ranked AS (
  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
  FROM bm25_all QUALIFY rank <= 30
),
q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
vec_scored AS (
  SELECT e.vec_id AS doc_id, round({cos}, 6) AS sim
  FROM embeddings e CROSS JOIN q WHERE e.vec_id != 0
),
vec_ranked AS (
  SELECT doc_id, row_number() OVER (ORDER BY sim DESC, doc_id ASC) AS rank
  FROM vec_scored QUALIFY rank <= 30
),
cand AS (SELECT doc_id FROM vec_ranked UNION SELECT doc_id FROM bm_ranked),
anchors AS (
  SELECT user_id AS doc_id, max(ts) AS last_ts, min(ts) AS first_ts
  FROM events GROUP BY user_id
),
cand_anchor AS (
  SELECT c.doc_id, a.last_ts, a.first_ts
  FROM cand c LEFT JOIN anchors a ON a.doc_id = c.doc_id
),
rec_ranked AS (
  SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id ASC) AS rank
  FROM (SELECT doc_id, {decay_sql('last_ts', _NOW, _RECENCY_HL)} AS s FROM cand_anchor)
  QUALIFY rank <= 30
),
conf_ranked AS (
  SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id ASC) AS rank
  FROM (SELECT doc_id, {decay_sql('first_ts', _NOW, _CONFIDENCE_HL)} AS s FROM cand_anchor)
  QUALIFY rank <= 30
),
fb AS (
  SELECT user_id AS doc_id,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1
                       WHEN event_type = 'error' THEN -1 ELSE 0 END) AS BIGINT) AS net
  FROM events GROUP BY user_id
),
fb_ranked AS (
  SELECT doc_id, row_number() OVER (ORDER BY net DESC, doc_id ASC) AS rank
  FROM (SELECT c.doc_id, f.net FROM cand c JOIN fb f ON f.doc_id = c.doc_id WHERE f.net > 0)
  QUALIFY rank <= 30
)"""


_SIGNAL_SQL = [
    ("vector", "vec_ranked", V_EFF),
    ("bm25", "bm_ranked", B_EFF),
    ("recency", "rec_ranked", R_EFF),
    ("feedback", "fb_ranked", F_EFF),
    ("confidence", "conf_ranked", C_EFF),
]


def _hybrid5_oracle() -> str:
    contribs = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {rrf_op.rrf_contrib_sql('rank', w)} AS c FROM {cte}"
        for _, cte, w in _SIGNAL_SQL
    )
    scale = rrf_op.SCORE_SCALE
    return f"""
WITH {_five_signal_ctes()},
contribs AS (
{contribs}
),
fused AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS c FROM contribs GROUP BY doc_id)
SELECT f.doc_id,
       round(CAST(f.c AS DOUBLE) / 1e{scale}, 6) AS rrf_score,
       CAST(v.rank AS BIGINT) AS vector_rank,
       CAST(b.rank AS BIGINT) AS bm25_rank,
       CAST(r.rank AS BIGINT) AS recency_rank,
       CAST(fb2.rank AS BIGINT) AS feedback_rank,
       CAST(cf.rank AS BIGINT) AS confidence_rank
FROM fused f
LEFT JOIN vec_ranked v ON v.doc_id = f.doc_id
LEFT JOIN bm_ranked b ON b.doc_id = f.doc_id
LEFT JOIN rec_ranked r ON r.doc_id = f.doc_id
LEFT JOIN fb_ranked fb2 ON fb2.doc_id = f.doc_id
LEFT JOIN conf_ranked cf ON cf.doc_id = f.doc_id
ORDER BY rrf_score DESC, f.doc_id ASC
LIMIT 15
"""


@register(
    "hybrid_rrf_5signal",
    oracle=_hybrid5_oracle(),
    bench=True,
    doc="Full 5-signal hybrid search: vector + BM25 + recency + "
    "feedback + confidence fused with RRF under the reference's "
    "weight-normalization algebra (reference R3 hybrid_search, "
    "memory_engine.py:1787-1858; signals :1819-1858). Aux signals "
    "are ranked within the vector∪bm25 candidate set, so their cost "
    "is O(candidates) not O(corpus).",
    tags=("retrieval", "rrf", "flagship"),
)
def hybrid_rrf_5signal(spark: SparkSession, sf_dir: str) -> DataFrame:
    fused = rrf_op.rrf_fuse(_five_signals(spark, sf_dir), k=15)
    return fused.select(
        F.col("id").alias("doc_id"),
        F.round("rrf_score", 6).alias("rrf_score"),
        *[
            F.col(f"{s}_rank").cast("long").alias(f"{s}_rank")
            for s in ("vector", "bm25", "recency", "feedback", "confidence")
        ],
    ).orderBy(F.desc("rrf_score"), F.asc("doc_id"))


def _explain_oracle() -> str:
    scale = rrf_op.SCORE_SCALE
    parts = "\n  UNION ALL\n".join(
        f"  SELECT '{name}' AS signal, doc_id, CAST(rank AS BIGINT) AS rank, "
        f"{rrf_op.rrf_contrib_sql('rank', w)} AS contrib_fp FROM {cte}"
        for name, cte, w in _SIGNAL_SQL
    )
    return f"""
WITH {_five_signal_ctes()}
{'SELECT signal, doc_id, rank, contrib_fp FROM ('}
{parts}
) ORDER BY signal, rank
-- contrib_fp is the exact fixed-point (1e{scale}) RRF contribution
"""


@register(
    "search_explain",
    oracle=_explain_oracle(),
    doc="Search explain: the per-signal candidate lists and exact "
    "fixed-point RRF contributions behind hybrid_rrf_5signal "
    "(reference R11 hybrid_search_explain, memory_engine.py:"
    "1938-2185) — the Spark version materializes each signal stage.",
    tags=("retrieval", "explain"),
)
def search_explain(spark: SparkSession, sf_dir: str) -> DataFrame:
    signals = _five_signals(spark, sf_dir)
    parts = []
    for name, (ranked, w) in signals.items():
        contrib_fp = (
            F.round(
                (F.lit(float(w)) / (F.col("rank") + F.lit(rrf_op.RRF_K)).cast("double"))
                * F.lit(float(10**rrf_op.SCORE_SCALE))
            ).cast("long")
        )
        parts.append(
            ranked.select(
                F.lit(name).alias("signal"),
                F.col("id").alias("doc_id"),
                F.col("rank").cast("long").alias("rank"),
                contrib_fp.alias("contrib_fp"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("signal", "rank")


# ---------------------------------------------------------------------
# Batch search (R12): one pass, many queries
# ---------------------------------------------------------------------

_BATCH_QUERY_IDS = [0, 7, 42]


def _batch_oracle() -> str:
    bm25_full = bm25_op.bm25_sql("documents", "doc_id", "text", _BM25_QUERY, k=None)
    cos = cosine_sql("e.embedding", "q.embedding", 64)
    ids = ", ".join(str(i) for i in _BATCH_QUERY_IDS)
    vec_c = rrf_op.rrf_contrib_sql("v.rank", 0.7)
    bm_c = rrf_op.rrf_contrib_sql("b.rank", 0.3)
    scale = rrf_op.SCORE_SCALE
    return f"""
WITH bm25_all AS ({bm25_full}),
bm_ranked AS (
  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
  FROM bm25_all QUALIFY rank <= 20
),
q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id IN ({ids})),
vec_ranked AS (
  SELECT query_id, doc_id, rank FROM (
    SELECT q.query_id, e.vec_id AS doc_id,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY round({cos}, 6) DESC, e.vec_id ASC) AS rank
    FROM embeddings e CROSS JOIN q WHERE e.vec_id != q.query_id
  ) WHERE rank <= 20
),
qb AS (SELECT query_id, doc_id, rank FROM (SELECT DISTINCT query_id FROM q), bm_ranked),
fused AS (
  SELECT coalesce(v.query_id, b.query_id) AS query_id,
         coalesce(v.doc_id, b.doc_id) AS doc_id,
         coalesce({vec_c}, 0) + coalesce({bm_c}, 0) AS c,
         v.rank AS vector_rank, b.rank AS bm25_rank
  FROM vec_ranked v
  FULL OUTER JOIN qb b ON b.query_id = v.query_id AND b.doc_id = v.doc_id
)
SELECT query_id, doc_id,
       round(CAST(c AS DOUBLE) / 1e{scale}, 6) AS rrf_score,
       CAST(vector_rank AS BIGINT) AS vector_rank,
       CAST(bm25_rank AS BIGINT) AS bm25_rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY c DESC, doc_id ASC) AS rn
  FROM fused
) WHERE rn <= 5
ORDER BY query_id, rrf_score DESC, doc_id ASC
"""


@register(
    "batch_hybrid_search",
    oracle=_batch_oracle(),
    bench=True,
    doc="Batch search: N query vectors fused with a shared BM25 list "
    "in ONE pass — per-query window top-k instead of a request loop "
    "(reference R12 batch search, app.py:2163-2209). The plan scans "
    "the corpus once regardless of the number of queries.",
    tags=("retrieval", "rrf", "batch"),
)
def batch_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    emb, docs = t["embeddings"], t["documents"]
    queries = emb.filter(F.col("vec_id").isin(_BATCH_QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    scored = (
        spread_for_compute(emb).crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("doc_id"),
            F.round(cosine_expr("embedding", "qv"), 6).alias("sim"),
        )
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("doc_id"))
    vec_ranked = (
        scored.withColumn("rank", F.row_number().over(wq))
        .filter(F.col("rank") <= 20)
        .select("query_id", "doc_id", "rank")
    )
    bm_ranked = _bm_ranked(docs, limit=20).select(F.col("id").alias("doc_id"), "rank")
    qb = queries.select("query_id").crossJoin(bm_ranked)

    v = vec_ranked.select(
        "query_id", "doc_id", rrf_op.rrf_contrib(F.col("rank"), 0.7).alias("c"),
        "rank", F.lit(0).alias("_sig"),
    )
    b = qb.select(
        "query_id", "doc_id", rrf_op.rrf_contrib(F.col("rank"), 0.3).alias("c"),
        "rank", F.lit(1).alias("_sig"),
    )
    # Fuse via union + ONE groupBy instead of a full-outer join (the
    # rrf_fuse equivalence: sum-of-present == coalesce chain, max over
    # a tagged rank == the join's rank column, absent side == NULL),
    # and establish hash(query_id) partitioning FIRST: it satisfies
    # the groupBy's (query_id, doc_id) clustering (subset rule) AND
    # the top-5 window's required distribution, so fusion + final
    # ranking run off a single exchange — the full-outer shape paid
    # two join exchanges plus a separate window exchange (guide §2.4).
    fused = (
        v.unionByName(b)
        .repartition("query_id")
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum("c").alias("c"),
            F.max(F.when(F.col("_sig") == 0, F.col("rank"))).alias("vector_rank"),
            F.max(F.when(F.col("_sig") == 1, F.col("rank"))).alias("bm25_rank"),
        )
    )
    wf = Window.partitionBy("query_id").orderBy(F.desc("c"), F.asc("doc_id"))
    return (
        fused.withColumn("rn", F.row_number().over(wf))
        .filter(F.col("rn") <= 5)
        .select(
            "query_id",
            "doc_id",
            F.round(unfix(F.col("c"), rrf_op.SCORE_SCALE), 6).alias("rrf_score"),
            F.col("vector_rank").cast("long").alias("vector_rank"),
            F.col("bm25_rank").cast("long").alias("bm25_rank"),
        )
        .orderBy("query_id", F.desc("rrf_score"), F.asc("doc_id"))
    )


# ---------------------------------------------------------------------
# Graph merge with reserved slots (R8)
# ---------------------------------------------------------------------

_MERGE_K, _RESERVED = 10, 2
_GRAPH_CAP = 0.33  # inject/support cap vs the top direct score


def _graph_merge_oracle() -> str:
    scale = graph_op.SCALE
    return graph_op.ppr_sql(_EDGES_CTE, _SEEDS_CTE) + f""",
direct AS (
  SELECT doc_id, rank, 1.0 / (rank + 60) AS dscore FROM (
    SELECT vec_id AS doc_id,
           row_number() OVER (ORDER BY sim DESC, vec_id ASC) AS rank
    FROM (
      SELECT e.vec_id, round({cosine_sql('e.embedding', 'q.embedding', 64)}, 6) AS sim
      FROM embeddings e
      CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
      WHERE e.vec_id != 0
    )
  ) WHERE rank <= 10
),
mx AS (SELECT CAST(max(r_fp) AS DOUBLE) AS max_ppr FROM ppr),
topd AS (SELECT max(dscore) AS top_direct FROM direct),
dmerged AS (
  SELECT doc_id, score, match_type,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rn
  FROM (
    SELECT d.doc_id,
           d.dscore + {_GRAPH_CAP} * (SELECT top_direct FROM topd)
             * (CAST(coalesce(p.r_fp, 0) AS DOUBLE) / (SELECT max_ppr FROM mx)) AS score,
           CASE WHEN coalesce(p.r_fp, 0) > 0 THEN 'direct+graph' ELSE 'direct' END AS match_type
    FROM direct d LEFT JOIN ppr p ON p.id = d.doc_id
  )
),
gonly AS (
  SELECT doc_id, score, match_type,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rn
  FROM (
    SELECT p.id AS doc_id,
           {_GRAPH_CAP} * (SELECT top_direct FROM topd)
             * (CAST(p.r_fp AS DOUBLE) / (SELECT max_ppr FROM mx)) AS score,
           'graph' AS match_type
    FROM ppr p
    WHERE p.r_fp > 0 AND p.id NOT IN (SELECT doc_id FROM direct)
  )
)
SELECT doc_id, round(score, 9) AS score, match_type FROM (
  SELECT * FROM dmerged WHERE rn <= {_MERGE_K - _RESERVED}
  UNION ALL
  SELECT * FROM gonly WHERE rn <= {_RESERVED}
)
ORDER BY score DESC, doc_id ASC
-- PPR mass is fixed-point at 1e{scale}; merge math is double on those exact ints
"""


@register(
    "graph_merge_reserved",
    oracle=_graph_merge_oracle(),
    bench=True,
    doc="Graph-merge with reserved slots: direct hits get additive "
    "graph support capped at 0.33×top score; graph-only hits are "
    "injected into r=2 reserved slots, HopRAG-style (reference R8 "
    "_merge_graph_results, memory_engine.py:1644-1723; cap :44-52). "
    "match_type ∈ {direct, direct+graph, graph}.",
    tags=("graph", "retrieval"),
)
def graph_merge_reserved(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    # The direct rank list feeds four consumers (seeds, merge join,
    # scalar aggregate, graph-only anti-join); it is 10 rows, so
    # materialize it once instead of re-running the cosine scan +
    # global rank per consumer.
    direct = (
        _vec_ranked(t["embeddings"], limit=10)
        .select(
            F.col("id").alias("doc_id"),
            "rank",
            (F.lit(1.0) / (F.col("rank") + 60).cast("double")).alias("dscore"),
        )
        # lazy: materialized by PPR's one seed-ball collect right
        # below — an eager job here would run back-to-back with it
        .localCheckpoint(eager=False)
    )
    seeds = direct.select(
        F.col("doc_id").alias("id"),
        F.round(F.col("dscore") * 1e12).cast("long").alias("sw_fp"),
    )
    ppr = graph_op.personalized_pagerank(_doc_edges(t["documents"]), seeds)

    scalars = ppr.agg(F.max("r_fp").cast("double").alias("max_ppr")).crossJoin(
        direct.agg(F.max("dscore").alias("top_direct"))
    )
    graph_term = (
        F.lit(_GRAPH_CAP)
        * F.col("top_direct")
        * (F.coalesce(F.col("r_fp"), F.lit(0)).cast("double") / F.col("max_ppr"))
    )

    dmerged = (
        direct.join(ppr.withColumnRenamed("id", "doc_id"), "doc_id", "left")
        .crossJoin(F.broadcast(scalars))
        .select(
            "doc_id",
            (F.col("dscore") + graph_term).alias("score"),
            F.when(F.coalesce(F.col("r_fp"), F.lit(0)) > 0, "direct+graph")
            .otherwise("direct")
            .alias("match_type"),
        )
    )
    merge_order = [F.desc("score"), F.asc("doc_id")]
    dtop = ranked_topk(dmerged, merge_order, _MERGE_K - _RESERVED, rank_col="rn")

    gonly = (
        ppr.filter(F.col("r_fp") > 0)
        .join(direct.select(F.col("doc_id").alias("id")), "id", "left_anti")
        .crossJoin(F.broadcast(scalars))
        .select(
            F.col("id").alias("doc_id"),
            graph_term.alias("score"),
            F.lit("graph").alias("match_type"),
        )
    )
    gtop = ranked_topk(gonly, merge_order, _RESERVED, rank_col="rn")

    return (
        dtop.unionByName(gtop)
        .select("doc_id", F.round("score", 9).alias("score"), "match_type")
        .orderBy(F.desc("score"), F.asc("doc_id"))
    )


# ---------------------------------------------------------------------
# Novelty check (R10)
# ---------------------------------------------------------------------

_NOVELTY_IDS = list(range(10))
_NOVELTY_T = 0.88


def _novelty_oracle() -> str:
    cos = cosine_sql("c.embedding", "q.embedding", 64)
    ids = ", ".join(str(i) for i in _NOVELTY_IDS)
    return f"""
WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id IN ({ids})),
best AS (
  SELECT q.query_id, max(round({cos}, 6)) AS top_sim
  FROM embeddings c CROSS JOIN q WHERE c.vec_id != q.query_id
  GROUP BY q.query_id
)
SELECT query_id, top_sim,
       CASE WHEN top_sim < {_NOVELTY_T} THEN true ELSE false END AS is_novel
FROM best ORDER BY query_id
"""


@register(
    "novelty_check",
    oracle=_novelty_oracle(),
    doc="Novelty check: top-1 similarity < 0.88 → novel (reference "
    "R10 is_novel, memory_engine.py:2187-2193). One corpus scan for "
    "the whole batch of incoming items.",
    tags=("retrieval", "dedup"),
)
def novelty_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir)["embeddings"]
    queries = emb.filter(F.col("vec_id").isin(_NOVELTY_IDS)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    best = (
        emb.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id")
        .agg(F.max(F.round(cosine_expr("embedding", "qv"), 6)).alias("top_sim"))
    )
    return best.select(
        "query_id", "top_sim", (F.col("top_sim") < _NOVELTY_T).alias("is_novel")
    ).orderBy("query_id")


# ---------------------------------------------------------------------
# Conflict pairs (J7) — derived conflicts_with edges
# ---------------------------------------------------------------------

_CONFLICT_ORACLE = """
SELECT a.doc_id, a.doc_id - 55 AS conflicts_with,
       a.source, b.source AS conflicting_source,
       CASE WHEN a.source != b.source THEN true ELSE false END AS cross_source
FROM documents a
JOIN documents b ON b.doc_id = a.doc_id - 55
WHERE a.doc_id % 11 = 0
ORDER BY a.doc_id
"""


@register(
    "conflict_pairs",
    oracle=_CONFLICT_ORACLE,
    doc="Conflict-pair join: rows with a conflicts_with pointer "
    "joined to their counterpart (reference J7, app.py:2273-2299). "
    "Synthetic pointer: doc_id%11==0 conflicts with doc_id-55.",
    tags=("join",),
)
def conflict_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    a = docs.filter(F.col("doc_id") % 11 == 0).select(
        "doc_id", (F.col("doc_id") - 55).alias("conflicts_with"), "source"
    )
    b = docs.select(F.col("doc_id").alias("_bid"), F.col("source").alias("conflicting_source"))
    return (
        a.join(b, F.col("conflicts_with") == F.col("_bid"))
        .select(
            "doc_id",
            "conflicts_with",
            "source",
            "conflicting_source",
            (F.col("source") != F.col("conflicting_source")).alias("cross_source"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------
# Evidence packet (R14) — full reference semantics
# ---------------------------------------------------------------------

# reference evidence_packet.py:53-56 — these query words flip the rank
# key from score-first to date-first
_EP_PREFER_RE = r"\b(?:latest|current|now|recent|changed|newest|today|yesterday)\b"
_EP_PANEL = [
    (0, "deployment history notes"),   # score-first rank key
    (1, "latest deployment status"),   # recency-preferred rank key
    (2, "pricing history notes"),      # score-first + undated current
]


def _evidence_oracle() -> str:
    cos = cosine_sql("e.embedding", "q.embedding", 64)
    panel = ", ".join(f"({i}, '{q}')" for i, q in _EP_PANEL)
    return f"""
WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id AS doc_id, round({cos}, 6) AS sim
  FROM embeddings e CROSS JOIN q WHERE e.vec_id != 0
),
top20 AS (
  SELECT doc_id, sim, srank FROM (
    SELECT doc_id, sim,
           row_number() OVER (ORDER BY sim DESC, doc_id ASC) AS srank
    FROM scored
  ) WHERE srank <= 20
),
anchors AS (SELECT user_id, max(ts) AS last_ts0 FROM events GROUP BY user_id),
panel AS (
  SELECT qid, query,
         CASE WHEN regexp_matches(lower(query), '{_EP_PREFER_RE}') THEN 1 ELSE 0 END AS prefer
  FROM (VALUES {panel}) AS p(qid, query)
),
c0 AS (
  SELECT p.qid, p.prefer, t.doc_id, t.srank,
         CASE WHEN p.qid = 2 AND t.srank = 1 THEN NULL
              WHEN t.doc_id % 5 = 4 THEN NULL
              ELSE a.last_ts0 END AS last_ts,
         CAST(round(t.sim * 1e6) AS BIGINT) AS score_fp,
         (t.doc_id % 13 = 0) AS archived,
         CASE WHEN t.doc_id % 7 != 0 THEN 1 ELSE 0 END AS latest_i
  FROM top20 t CROSS JOIN panel p
  LEFT JOIN anchors a ON a.user_id = t.doc_id % 15
),
keyed AS (
  SELECT *, CASE WHEN last_ts IS NULL THEN 0 ELSE 1 END AS dated,
         coalesce(epoch_us(last_ts), -1) AS date_us
  FROM c0
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY qid ORDER BY
      CASE WHEN prefer = 1 THEN dated ELSE score_fp END DESC,
      CASE WHEN prefer = 1 THEN date_us ELSE dated END DESC,
      CASE WHEN prefer = 1 THEN score_fp ELSE date_us END DESC,
      latest_i DESC, doc_id ASC) AS rank
  FROM keyed
),
cur AS (
  SELECT qid, dated AS cur_dated, date_us AS cur_date_us
  FROM ranked WHERE rank = 1
),
rel AS (
  SELECT r.qid, r.prefer, r.doc_id, CAST(r.rank AS BIGINT) AS rank,
         CASE WHEN r.rank = 1 THEN 'current'
              WHEN c.cur_dated = 1 AND r.dated = 1 AND r.date_us < c.cur_date_us THEN 'older'
              WHEN r.archived THEN 'archived'
              WHEN c.cur_dated = 0 AND r.dated = 1 THEN 'dated_unranked'
              ELSE 'supporting' END AS relation,
         c.cur_dated
  FROM ranked r JOIN cur c ON c.qid = r.qid
),
conf AS (
  SELECT qid,
         CASE WHEN max(cur_dated) = 0 THEN 'low'
              WHEN CAST(sum(CASE WHEN relation IN ('older', 'archived', 'dated_unranked') THEN 1 ELSE 0 END) AS BIGINT) > 0 THEN 'medium'
              ELSE 'high' END AS confidence_level
  FROM rel GROUP BY qid
)
SELECT r.qid, CAST(r.prefer AS BIGINT) AS prefer_recency, r.doc_id, r.rank,
       r.relation, c.confidence_level
FROM rel r JOIN conf c ON c.qid = r.qid
ORDER BY r.qid, r.rank
"""


@register(
    "evidence_packet",
    oracle=_evidence_oracle(),
    doc="Evidence packet at FULL reference semantics (reference R14, "
    "evidence_packet.py:53-161): a panel of queries is classified "
    "for recency preference (latest/current/now/recent/changed/"
    "newest/today/yesterday flips the rank key from score-first "
    "(score, dated, date, is_latest) to date-first (dated, date, "
    "score, is_latest) — :59-64); the top-ranked hit is the "
    "current answer and every other hit is classified against its "
    "date: older (dated before current), archived, dated_unranked "
    "(current answer undated but this hit dated — qid 2 "
    "deterministically exercises the class by blanking the top "
    "hit's anchor), else supporting (:116-127); packet confidence "
    "is low when the current answer is undated, medium when the "
    "older-evidence LIST is non-empty (the reference appends "
    "archived and dated_unranked entries to the same list, so any "
    "of the three relations triggers medium — :116-127,139-144), "
    "else high. One shared top-20 "
    "candidate set, per-query window rank — the whole panel "
    "classifies in one plan, no per-query loop.",
    tags=("retrieval", "temporal"),
)
def evidence_packet(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    emb = t["embeddings"]
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    scored = (
        emb.crossJoin(F.broadcast(qv))
        .filter(F.col("vec_id") != 0)
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(cosine_expr("embedding", "qv"), 6).alias("sim"),
        )
    )
    top20 = ranked_topk(
        scored, [F.desc("sim"), F.asc("doc_id")], 20, rank_col="srank"
    )
    anchors = t["events"].groupBy("user_id").agg(F.max("ts").alias("last_ts0"))
    panel = spark.createDataFrame(_EP_PANEL, "qid long, query string").select(
        "qid",
        F.when(F.lower("query").rlike(_EP_PREFER_RE), 1).otherwise(0).alias("prefer"),
    )
    c0 = (
        top20.crossJoin(F.broadcast(panel))
        .join(anchors, F.col("doc_id") % 15 == F.col("user_id"), "left")
        .select(
            "qid", "prefer", "doc_id", "srank",
            F.when(
                (F.col("qid") == 2) & (F.col("srank") == 1), F.lit(None)
            )
            .when(F.col("doc_id") % 5 == 4, F.lit(None))
            .otherwise(F.col("last_ts0"))
            .alias("last_ts"),
            F.round(F.col("sim") * 1e6).cast("long").alias("score_fp"),
            (F.col("doc_id") % 13 == 0).alias("archived"),
            F.when(F.col("doc_id") % 7 != 0, 1).otherwise(0).alias("latest_i"),
        )
    )
    keyed = c0.withColumn(
        "dated", F.when(F.col("last_ts").isNull(), 0).otherwise(1)
    ).withColumn("date_us", F.coalesce(F.unix_micros("last_ts"), F.lit(-1)))
    prefer = F.col("prefer") == 1
    wr = Window.partitionBy("qid").orderBy(
        F.when(prefer, F.col("dated")).otherwise(F.col("score_fp")).desc(),
        F.when(prefer, F.col("date_us")).otherwise(F.col("dated")).desc(),
        F.when(prefer, F.col("score_fp")).otherwise(F.col("date_us")).desc(),
        F.col("latest_i").desc(),
        F.col("doc_id").asc(),
    )
    ranked = keyed.withColumn("rank", F.row_number().over(wr))
    cur = ranked.filter(F.col("rank") == 1).select(
        "qid",
        F.col("dated").alias("cur_dated"),
        F.col("date_us").alias("cur_date_us"),
    )
    rel = ranked.join(F.broadcast(cur), "qid").select(
        "qid",
        "prefer",
        "doc_id",
        F.col("rank").cast("long").alias("rank"),
        F.when(F.col("rank") == 1, "current")
        .when(
            (F.col("cur_dated") == 1)
            & (F.col("dated") == 1)
            & (F.col("date_us") < F.col("cur_date_us")),
            "older",
        )
        .when(F.col("archived"), "archived")
        .when((F.col("cur_dated") == 0) & (F.col("dated") == 1), "dated_unranked")
        .otherwise("supporting")
        .alias("relation"),
        "cur_dated",
    )
    conf = rel.groupBy("qid").agg(
        F.when(F.max("cur_dated") == 0, "low")
        .when(
            F.sum(
                F.col("relation")
                .isin("older", "archived", "dated_unranked")
                .cast("long")
            )
            > 0,
            "medium",
        )
        .otherwise("high")
        .alias("confidence_level")
    )
    return (
        rel.join(F.broadcast(conf), "qid")
        .select(
            "qid",
            F.col("prefer").cast("long").alias("prefer_recency"),
            "doc_id",
            "rank",
            "relation",
            "confidence_level",
        )
        .orderBy("qid", "rank")
    )


# ---------------------------------------------------------------------
# Evidence follow-up suggestions (R14, evidence_packet.py:67-88)
# ---------------------------------------------------------------------

_FOLLOWUP_PANEL = [
    (0, "postgres connection settings"),
    (1, "latest pricing"),
    (2, "current roadmap"),
    (3, "what changed in the api"),
    (4, "  Spaced   Out   Query  "),
]


def _followup_oracle() -> str:
    panel = ", ".join(f"({i}, '{q}')" for i, q in _FOLLOWUP_PANEL)
    return f"""
WITH raw AS (
  SELECT qid, trim(regexp_replace(query, '\\s+', ' ', 'g')) AS clean
  FROM (VALUES {panel}) AS p(qid, query)
),
nonempty AS (SELECT qid, clean, lower(clean) AS lowered FROM raw WHERE clean != ''),
cands AS (
  SELECT qid, CAST(0 AS BIGINT) AS ord, clean AS followup FROM nonempty
  UNION ALL
  SELECT qid, 1, 'latest ' || clean FROM nonempty WHERE lowered NOT LIKE 'latest %'
  UNION ALL
  SELECT qid, 2, 'current ' || clean FROM nonempty WHERE lowered NOT LIKE 'current %'
  UNION ALL
  SELECT qid, 3, 'what changed about ' || clean FROM nonempty
  WHERE lowered NOT LIKE 'what changed%'
)
SELECT qid, CAST(min(ord) AS BIGINT) AS ord, followup
FROM cands GROUP BY qid, followup
ORDER BY qid, ord
"""


@register(
    "evidence_followups",
    oracle=_followup_oracle(),
    doc="Evidence-packet follow-up query suggestions (reference R14, "
    "evidence_packet.py:67-88): whitespace-collapse the query, then "
    "emit the query itself plus 'latest …', 'current …', and 'what "
    "changed about …' variants — each skipped when the query "
    "already starts with that prefix (case-insensitive) — deduped "
    "keeping first position; empty queries produce no suggestions. "
    "Pure string projection + explode: a billion logged queries "
    "get their follow-ups in one scan.",
    tags=("retrieval", "text"),
)
def evidence_followups(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = spark.createDataFrame(_FOLLOWUP_PANEL, "qid long, query string")
    clean = F.trim(F.regexp_replace("query", r"\s+", " "))
    base = raw.select("qid", clean.alias("clean")).filter(F.col("clean") != "")
    lowered = F.lower("clean")
    cands = base.select(
        "qid",
        F.explode(
            F.filter(
                F.array(
                    F.struct(
                        F.lit(0).alias("ord"),
                        F.col("clean").alias("followup"),
                        F.lit(True).alias("keep"),
                    ),
                    F.struct(
                        F.lit(1).alias("ord"),
                        F.concat(F.lit("latest "), F.col("clean")).alias("followup"),
                        (~lowered.startswith("latest ")).alias("keep"),
                    ),
                    F.struct(
                        F.lit(2).alias("ord"),
                        F.concat(F.lit("current "), F.col("clean")).alias("followup"),
                        (~lowered.startswith("current ")).alias("keep"),
                    ),
                    F.struct(
                        F.lit(3).alias("ord"),
                        F.concat(F.lit("what changed about "), F.col("clean")).alias(
                            "followup"
                        ),
                        (~lowered.startswith("what changed")).alias("keep"),
                    ),
                ),
                lambda s: s["keep"],
            )
        ).alias("c"),
    )
    return (
        cands.groupBy("qid", F.col("c.followup").alias("followup"))
        .agg(F.min("c.ord").cast("long").alias("ord"))
        .select("qid", "ord", "followup")
        .orderBy("qid", "ord")
    )


# ---------------------------------------------------------------------
# Feedback-score join (J8)
# ---------------------------------------------------------------------

_FEEDBACK_JOIN_ORACLE = """
SELECT d.doc_id, d.source,
       CAST(f.net AS BIGINT) AS feedback_net
FROM documents d
JOIN (
  SELECT user_id,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1
                       WHEN event_type = 'error' THEN -1 ELSE 0 END) AS BIGINT) AS net
  FROM events GROUP BY user_id
) f ON f.user_id = d.doc_id
WHERE f.net > 0
ORDER BY feedback_net DESC, d.doc_id ASC
LIMIT 50
"""


@register(
    "feedback_score_join",
    oracle=_FEEDBACK_JOIN_ORACLE,
    doc="Feedback net-score join: useful−not_useful conditional sum "
    "per entity, positive nets only, joined into the entity table "
    "(reference J8/R6, usage_tracker.py:324-341, app.py:1976-1980).",
    tags=("join", "events"),
)
def feedback_score_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    fb = (
        t["events"]
        .groupBy(F.col("user_id").alias("id"))
        .agg(_net_expr().alias("net"))
        .filter(F.col("net") > 0)
    )
    return (
        t["documents"]
        .join(fb, F.col("doc_id") == F.col("id"))
        .select("doc_id", "source", F.col("net").alias("feedback_net"))
        .orderBy(F.desc("feedback_net"), F.asc("doc_id"))
        .limit(50)
    )


# ---------------------------------------------------------------------
# memory_timeline twin (reference mcp-server/index.js:262-330)
# ---------------------------------------------------------------------

#: the timeline's two variant term-bags over the synthetic corpus: the
#: "original query" terms, and the dated-event-biased variant's extras
#: (reference timelineQueryVariants appends bias terms to the query,
#: index.js:177-182)
_TL_BASE_TERMS = ["spark", "join", "filter"]
_TL_BIAS_TERMS = ["window", "group"]
_TL_UNKNOWN_US = -(1 << 62)  # chronologicalValue's -Infinity (index.js:163-167)


def _tl_hits_sql(variant_col: str) -> str:
    base = " + ".join(
        f"(CASE WHEN text LIKE '%{t}%' THEN 1 ELSE 0 END)" for t in _TL_BASE_TERMS
    )
    bias = " + ".join(
        f"(CASE WHEN text LIKE '%{t}%' THEN 1 ELSE 0 END)" for t in _TL_BIAS_TERMS
    )
    return f"({base}) + (CASE WHEN {variant_col} = 1 THEN {bias} ELSE 0 END)"


_TIMELINE_ORACLE = f"""
WITH anchors AS (
  SELECT user_id, max(ts) AS last_ts FROM events GROUP BY user_id
),
base AS (
  SELECT d.doc_id, d.source, d.text,
         CASE WHEN d.doc_id % 11 = 3 THEN 'assistant: ' || d.text
              WHEN d.doc_id % 11 = 5 THEN 'user: ' || d.text
              ELSE d.text END AS role_text,
         CASE WHEN d.doc_id % 5 = 4 THEN NULL ELSE a.last_ts END AS anchor_ts
  FROM documents d LEFT JOIN anchors a ON d.doc_id % 15 = a.user_id
),
scored AS (
  SELECT b.*, v.variant, {_tl_hits_sql('v.variant')} AS hits
  FROM base b CROSS JOIN (VALUES (0), (1)) v(variant)
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY variant ORDER BY hits DESC, doc_id ASC) AS vrank
  FROM scored WHERE hits > 0
),
kept AS (SELECT * FROM ranked WHERE vrank <= 20),
facts AS (
  SELECT * FROM kept
  WHERE CASE
    WHEN trim(role_text) = '' THEN FALSE
    WHEN regexp_matches(role_text, '(?im)^\\s*user\\s*:') THEN TRUE
    WHEN regexp_matches(role_text, '(?im)^\\s*assistant\\s*:') THEN FALSE
    ELSE TRUE END
),
merged AS (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id, source, anchor_ts ORDER BY variant, vrank) AS dd
  FROM facts
)
SELECT
  row_number() OVER (ORDER BY
    coalesce(epoch_us(anchor_ts), {_TL_UNKNOWN_US}) ASC,
    variant ASC, vrank ASC, doc_id ASC) AS ord,
  doc_id, source,
  strftime(anchor_ts, '%Y-%m-%d %H:%M:%S') AS anchor_date,
  variant, vrank
FROM merged WHERE dd = 1
ORDER BY ord
"""


@register(
    "timeline_evidence",
    oracle=_TIMELINE_ORACLE,
    doc="memory_timeline twin (reference mcp-server/index.js:262-330, "
    "the 5.4 chronological-evidence operator): two query VARIANTS "
    "(original terms; dated-event-biased terms, timelineQueryVariants "
    ":177-188) each rank the corpus and keep top-20; the union is "
    "filtered by the hasUserFact transcript rule (:169-175 — blank "
    "never, a 'user:' line anywhere yes, a leading 'assistant:' line "
    "no, plain prose yes; roles derived deterministically from "
    "doc_id), deduped on (id, source, anchor date) keeping the FIRST "
    "variant's hit (the reference's insertion-order Set, :305-309), "
    "and sorted chronologically with unknown-date rows FIRST "
    "(chronologicalValue maps unparseable dates to -Infinity, "
    ":163-167). Anchor dates reuse the evidence-packet convention "
    "(events max-ts per user_id = doc_id % 15; every 5th doc "
    "undated). ONE plan: both variants rank in one window pass over "
    "a shared scan — no per-variant corpus re-read.",
    tags=("retrieval", "temporal"),
)
def timeline_evidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    docs, events = t["documents"], t["events"]
    anchors = events.groupBy("user_id").agg(F.max("ts").alias("last_ts"))
    base = (
        docs.join(anchors, docs.doc_id % 15 == anchors.user_id, "left")
        .select(
            "doc_id", "source", "text",
            F.when(F.col("doc_id") % 11 == 3,
                   F.concat(F.lit("assistant: "), F.col("text")))
            .when(F.col("doc_id") % 11 == 5,
                  F.concat(F.lit("user: "), F.col("text")))
            .otherwise(F.col("text"))
            .alias("role_text"),
            F.when(F.col("doc_id") % 5 == 4, F.lit(None).cast("timestamp"))
            .otherwise(F.col("last_ts"))
            .alias("anchor_ts"),
        )
    )
    # both variants fan out of ONE scan: cross join with the 2-row
    # variant table, per-variant window rank (the reference runs the
    # variant searches concurrently against one live index)
    variants = spark.createDataFrame([(0,), (1,)], "variant int")
    hits = sum(
        (F.when(F.col("text").contains(term), 1).otherwise(0)
         for term in _TL_BASE_TERMS),
        F.lit(0),
    ) + F.when(
        F.col("variant") == 1,
        sum((F.when(F.col("text").contains(term), 1).otherwise(0)
             for term in _TL_BIAS_TERMS), F.lit(0)),
    ).otherwise(0)
    wv = Window.partitionBy("variant").orderBy(
        F.desc("hits"), F.asc("doc_id")
    )
    kept = (
        base.crossJoin(F.broadcast(variants))
        .withColumn("hits", hits)
        .filter(F.col("hits") > 0)
        .withColumn("vrank", F.row_number().over(wv))
        .filter(F.col("vrank") <= 20)
    )
    # hasUserFact transcript filter, then first-seen dedup
    from memories_spark.search import user_fact_expr

    facts = kept.filter(user_fact_expr(F.col("role_text")))
    wd = Window.partitionBy("doc_id", "source", "anchor_ts").orderBy(
        "variant", "vrank"
    )
    merged = (
        facts.withColumn("dd", F.row_number().over(wd))
        .filter(F.col("dd") == 1)
    )
    chrono = F.coalesce(F.unix_micros("anchor_ts"), F.lit(_TL_UNKNOWN_US))
    wo = Window.orderBy(chrono.asc(), F.asc("variant"), F.asc("vrank"),
                        F.asc("doc_id"))
    return merged.select(
        F.row_number().over(wo).cast("long").alias("ord"),
        "doc_id", "source",
        F.date_format("anchor_ts", "yyyy-MM-dd HH:mm:ss").alias("anchor_date"),
        F.col("variant").cast("int").alias("variant"),
        F.col("vrank").cast("long").alias("vrank"),
    ).orderBy("ord")
