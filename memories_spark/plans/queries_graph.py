"""Graph queries: PPR expansion and bounded-label-propagation
clustering over a derived document-link graph.

The synthetic corpus has no explicit edge table, so edges are derived
deterministically: doc d links to d+20 when both exist (same source —
sources are assigned round-robin doc_id % 20), giving 20 chains of
length N/20. This plays the role of the reference's ``related_to``
edge set (reference memory_engine.py:770-797).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from memories_spark.functions.vectors import cosine_expr, cosine_sql
from memories_spark.operators import graph as graph_op
from memories_spark.functions.topk import ranked_topk
from memories_spark.plans.registry import register
from memories_spark.sources.tables import load_tables

_PPR_SCALE = graph_op.SCALE


def _doc_edges(docs: DataFrame) -> DataFrame:
    a = docs.select(F.col("doc_id").alias("from_id"))
    b = docs.select(F.col("doc_id").alias("_b"))
    return a.withColumn("to_id", F.col("from_id") + 20).join(
        b, F.col("to_id") == F.col("_b")
    ).select("from_id", "to_id")


_EDGES_CTE = (
    "SELECT a.doc_id AS from_id, a.doc_id + 20 AS to_id "
    "FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 20"
)

_SEEDS_CTE = f"""
SELECT doc_id AS id, CAST(round((1.0 / (rank + 60)) * 1e12) AS BIGINT) AS sw_fp
FROM (
  SELECT vec_id AS doc_id,
         row_number() OVER (ORDER BY sim DESC, vec_id ASC) AS rank
  FROM (
    SELECT e.vec_id, round({cosine_sql('e.embedding', 'q.embedding', 64)}, 6) AS sim
    FROM embeddings e
    CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
    WHERE e.vec_id != 0
  )
)
WHERE rank <= 10
"""

_PPR_ORACLE = graph_op.ppr_sql(_EDGES_CTE, _SEEDS_CTE) + f"""
SELECT id AS doc_id, round(CAST(r_fp AS DOUBLE) / 1e{_PPR_SCALE}, 9) AS ppr
FROM ppr
ORDER BY ppr DESC, doc_id ASC
LIMIT 25
"""


@register(
    "ppr_graph_expand",
    oracle=_PPR_ORACLE,
    bench=True,
    doc="Truncated Personalized PageRank: vector top-10 seeds "
    "(1/(rank+60) weights), alpha=0.85, 3 iterations, dangling mass "
    "to personalization (reference R7 _graph_expand, "
    "memory_engine.py:1541-1642). Fixed-point mass arithmetic.",
    tags=("graph", "retrieval"),
)
def ppr_graph_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    emb = t["embeddings"]
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    scored = (
        emb.crossJoin(F.broadcast(qv))
        .filter(F.col("vec_id") != 0)
        .select(
            F.col("vec_id").alias("id"),
            F.round(cosine_expr("embedding", "qv"), 6).alias("sim"),
        )
    )
    seeds = (
        ranked_topk(scored, [F.desc("sim"), F.asc("id")], 10)
        .select(
            "id",
            F.round((F.lit(1.0) / (F.col("rank") + 60)) * 1e12).cast("long").alias("sw_fp"),
        )
    )
    ppr = graph_op.personalized_pagerank(_doc_edges(t["documents"]), seeds)
    return (
        ppr.select(
            F.col("id").alias("doc_id"),
            F.round(F.col("r_fp").cast("double") / F.lit(10.0**_PPR_SCALE), 9).alias("ppr"),
        )
        .orderBy(F.desc("ppr"), F.asc("doc_id"))
        .limit(25)
    )


_LP_ORACLE = graph_op.label_propagation_sql(
    _EDGES_CTE, "SELECT doc_id AS id FROM documents", rounds=4
) + """
SELECT label, CAST(count(*) AS BIGINT) AS cluster_size
FROM labels GROUP BY label ORDER BY label
"""


@register(
    "label_propagation_clusters",
    oracle=_LP_ORACLE,
    doc="Bounded min-label propagation (4 rounds) as the similarity-"
    "cluster builder (reference C2 union-find clusters, "
    "memory_engine.py:2274-2342; exact CC when rounds >= diameter).",
    tags=("graph", "clustering"),
)
def label_propagation_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    docs = t["documents"]
    labels = graph_op.min_label_propagation(
        _doc_edges(docs), docs.select("doc_id"), rounds=4, id_col="doc_id"
    )
    return (
        labels.groupBy("label")
        .agg(F.count("*").alias("cluster_size"))
        .orderBy("label")
    )


# The +20 chain edges partition documents into exactly the residue
# classes mod 20 (every doc has a +-20 neighbor once n > 20), so the
# oracle can state the component of every node in closed form —
# ground truth by construction, independent of any iterative
# algorithm. The chains are ~n/20 nodes long: 4-round label
# propagation CANNOT converge on them (that is the point of the
# log-round algorithm); components must still come out exact.
_CC_ORACLE = """
SELECT doc_id % 20 AS component, CAST(count(*) AS BIGINT) AS n_members,
       CAST(max(doc_id) AS BIGINT) AS max_member
FROM documents GROUP BY 1 ORDER BY component
"""


@register(
    "connected_components",
    oracle=_CC_ORACLE,
    doc="Exact connected components in O(log n) rounds: min-label "
    "propagation with a path-halving shortcut per round (the "
    "pointer-doubling idea of the big-star/small-star MapReduce CC "
    "algorithm). The testdata chain graph has diameter ~n/20 — "
    "diameter-bounded propagation cannot finish there, log-round "
    "contraction must. Scale path for union-find clustering "
    "(reference C2, memory_engine.py:2274-2342) on graphs whose "
    "diameter is unknown.",
    tags=("graph", "clustering"),
)
def connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    comp = graph_op.connected_components(
        _doc_edges(docs), docs.select("doc_id"), id_col="doc_id"
    )
    return (
        comp.groupBy("component")
        .agg(
            F.count("*").alias("n_members"),
            F.max("id").cast("long").alias("max_member"),
        )
        .orderBy("component")
    )


# ---------------------------------------------------------------------
# Triangle counting over the ordered edge set
# ---------------------------------------------------------------------

_TRI_EDGES_CTE = """
  SELECT a.doc_id AS ea, a.doc_id + 20 AS eb
  FROM documents a JOIN documents x ON x.doc_id = a.doc_id + 20
  UNION ALL
  SELECT a.doc_id AS ea, a.doc_id + 40 AS eb
  FROM documents a JOIN documents y ON y.doc_id = a.doc_id + 40
"""

def _shifted_edges(ids: DataFrame, k: int, src: str = "ea", dst: str = "eb") -> DataFrame:
    other = ids.select(F.col("doc_id").alias("_b"))
    return (
        ids.withColumn(dst, F.col("doc_id") + k)
        .join(other, F.col(dst) == F.col("_b"))
        .select(F.col("doc_id").alias(src), dst)
    )


_TRIANGLE_ORACLE = f"""
WITH edges AS ({_TRI_EDGES_CTE})
SELECT CAST(e1.ea % 20 AS BIGINT) AS chain,
       CAST(count(*) AS BIGINT) AS n_triangles
FROM edges e1
JOIN edges e2 ON e1.eb = e2.ea
JOIN edges e3 ON e3.ea = e1.ea AND e3.eb = e2.eb
GROUP BY e1.ea % 20
ORDER BY chain
"""


@register(
    "triangle_count",
    oracle=_TRIANGLE_ORACLE,
    doc="Per-chain triangle counting via the ordered-edge two-join "
    "(node ids orient every edge low->high, so each triangle is "
    "counted exactly once with no permutation blowup — the "
    "standard distributed formulation; at scale the orientation "
    "is by degree so high-degree hubs never fan out). Edge set is "
    "the chain graph densified with doc->doc+40 shortcuts, giving "
    "one triangle per (d, d+20, d+40) run. Two shuffle joins on "
    "edge endpoints; the grouped count is tiny.",
    tags=("graph", "join"),
)
def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    ids = docs.select("doc_id")
    edges = _shifted_edges(ids, 20).unionByName(_shifted_edges(ids, 40))
    e1 = edges
    e2 = edges.select(F.col("ea").alias("e2a"), F.col("eb").alias("e2b"))
    e3 = edges.select(F.col("ea").alias("e3a"), F.col("eb").alias("e3b"))
    tri = (
        e1.join(e2, F.col("eb") == F.col("e2a"))
        .join(e3, (F.col("e3a") == F.col("ea")) & (F.col("e3b") == F.col("e2b")))
    )
    return (
        tri.groupBy((F.col("ea") % 20).cast("long").alias("chain"))
        .agg(F.count("*").alias("n_triangles"))
        .orderBy("chain")
    )


# ---------------------------------------------------------------------
# Multi-source BFS shortest-path distances
# ---------------------------------------------------------------------

_BFS_SEEDS_CTE = "SELECT doc_id AS id FROM documents WHERE doc_id < 20"

_BFS_ORACLE = graph_op.bfs_sql(_TRI_EDGES_CTE.replace("ea", "from_id").replace("eb", "to_id"),
                               _BFS_SEEDS_CTE, max_hops=6) + """
SELECT dist, CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(min(id) AS BIGINT) AS min_id, CAST(max(id) AS BIGINT) AS max_id
FROM bfs GROUP BY dist ORDER BY dist
"""


@register(
    "bfs_distance_histogram",
    oracle=_BFS_ORACLE,
    doc="Multi-source BFS over the chain+shortcut graph: minimum hop "
    "distance from the 20 chain heads, bounded at 6 hops, rolled up "
    "as a per-distance histogram. The Pregel-style frontier loop is "
    "one join+min-aggregate per round with the adjacency cached and "
    "lineage truncated; unreached nodes never materialize (no "
    "infinity sentinels shuffled). The oracle mirrors the fixed "
    "rounds as chained CTEs — a recursive CTE would enumerate "
    "exponentially many paths on the (cyclic) bidirectional graph. "
    "The multi-hop reachability primitive behind the reference's "
    "graph_via provenance traces (memory_engine.py:55-82).",
    tags=("graph", "bfs"),
)
def bfs_distance_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    ids = docs.select("doc_id")
    edges = _shifted_edges(ids, 20, "from_id", "to_id").unionByName(
        _shifted_edges(ids, 40, "from_id", "to_id")
    )
    seeds = ids.filter(F.col("doc_id") < 20).select(F.col("doc_id").alias("id"))
    dist = graph_op.bfs_distances(edges, seeds, max_hops=6)
    return (
        dist.groupBy("dist")
        .agg(
            F.count("*").alias("n_nodes"),
            F.min("id").cast("long").alias("min_id"),
            F.max("id").cast("long").alias("max_id"),
        )
        .orderBy("dist")
    )


# ---------------------------------------------------------------------
# Global PageRank (uniform personalization)
# ---------------------------------------------------------------------

_GPR_SEEDS_CTE = "SELECT doc_id AS id, CAST(1000000 AS BIGINT) AS sw_fp FROM documents"

_GPR_ORACLE = graph_op.ppr_sql(
    _TRI_EDGES_CTE.replace("ea", "from_id").replace("eb", "to_id"), _GPR_SEEDS_CTE
) + f"""
SELECT id AS doc_id, round(CAST(r_fp AS DOUBLE) / 1e{_PPR_SCALE}, 9) AS pagerank
FROM ppr
ORDER BY pagerank DESC, doc_id ASC
LIMIT 25
"""


@register(
    "global_pagerank",
    oracle=_GPR_ORACLE,
    doc="Global PageRank as the uniform-personalization special case "
    "of the PPR operator (alpha=0.85, 3 fixed iterations, dangling "
    "mass back to the uniform vector): every node seeds with equal "
    "weight, so the result ranks structural importance rather than "
    "query affinity — the corpus-wide 'hub documents' diagnostic. "
    "Same fixed-point BIGINT mass arithmetic and plan shape (one "
    "collect of the seeds' 2-hop edge ball — here the whole "
    "adjacency, since every node seeds — then the iterations on the "
    "driver) as ppr_graph_expand; one operator serves both queries.",
    tags=("graph", "pagerank"),
)
def global_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    ids = docs.select("doc_id")
    edges = _shifted_edges(ids, 20, "from_id", "to_id").unionByName(
        _shifted_edges(ids, 40, "from_id", "to_id")
    )
    seeds = ids.select(
        F.col("doc_id").alias("id"), F.lit(1000000).cast("long").alias("sw_fp")
    )
    pr = graph_op.personalized_pagerank(edges, seeds)
    return (
        pr.select(
            F.col("id").alias("doc_id"),
            F.round(F.col("r_fp").cast("double") / F.lit(10.0**_PPR_SCALE), 9).alias(
                "pagerank"
            ),
        )
        .orderBy(F.desc("pagerank"), F.asc("doc_id"))
        .limit(25)
    )
