"""Graph expansion: personalized PageRank + bounded label propagation.

Reference semantics (reference memory_engine.py:1541-1642): truncated
Personalized PageRank over the memory-link graph — seeds are the RRF
candidates max-normalized, alpha=0.85, exactly 3 iterations, dangling
mass redistributed to the personalization vector. Adjacency is the
``related_to`` edge set made bidirectional with dangling targets
dropped (memory_engine.py:1490-1508).

Spark shape: PPR is seed-bounded. After ``t`` iterations mass sits
only within ``t`` hops of a seed, so ONE Spark action collects the
seed rows together with the adjacency "ball" — every edge leaving a
node within ``iterations - 1`` hops of a seed — and the fixed-point
iterations run on the driver over that ball, in the same double
operand order and Spark ``round`` semantics as the oracle, with exact
integer sums. The result is bit-identical to the distributed
formulation regardless of partitioning or engine (see
functions/hashing.py) and enters the plan as one LocalRelation.

Clustering (reference find_similar_clusters union-find,
memory_engine.py:2274-2342) is re-expressed as *bounded* min-label
propagation: k rounds of "adopt the smallest neighbor label". With k
>= graph diameter this is exact connected components; bounded k keeps
it deterministic and oracle-expressible.
"""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from memories_spark.functions.hashing import round_half_up
from memories_spark.session import local_frame

ALPHA = 0.85
ITERATIONS = 3
SCALE = 12
_UNIT = float(10**SCALE)


def bidirectional(edges: DataFrame, src: str = "from_id", dst: str = "to_id") -> DataFrame:
    """Undirected adjacency: union of both directions, deduped."""
    fwd = edges.select(F.col(src).alias("from_id"), F.col(dst).alias("to_id"))
    rev = edges.select(F.col(dst).alias("from_id"), F.col(src).alias("to_id"))
    return fwd.union(rev).distinct()


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    alpha: float = ALPHA,
    iterations: int = ITERATIONS,
) -> DataFrame:
    """Fixed-point PPR. ``seeds`` is (id, sw_fp: BIGINT seed weight).

    Returns (id, r_fp: BIGINT) — divide by 1e12 for the score.
    The personalization p(v) = sw_fp(v) / sum(sw_fp) as a double;
    each iteration term is rounded half-up back to fixed point before
    the exact integer sum, so engines/partitionings agree bit-for-bit.
    A NULL seed weight carries no mass (in :func:`ppr_sql` it drops
    out of every sum), so that row is not a seed at all. Empty or
    all-zero seeds return an empty rank vector.

    Caller contract: this operator is EAGER. Building its result runs
    :func:`collect_ppr`'s ONE Spark action at call time; the returned
    frame is a driver-local LocalRelation, so referencing it many
    times re-runs nothing, and a plan built over it (for example by
    ``tools/explain_all.py``) shows a ``LocalTableScan`` where the PPR
    computation was. Nothing is cached."""
    ranks, _ = collect_ppr(edges, seeds, alpha, iterations)
    return local_frame(seeds.sparkSession, sorted(ranks), "id long, r_fp long")


def collect_ppr(
    edges: DataFrame,
    seeds: DataFrame,
    alpha: float = ALPHA,
    iterations: int = ITERATIONS,
) -> tuple[list[tuple[int, int]], dict[int, list[int]]]:
    """The driver half of :func:`personalized_pagerank`: returns the
    rank vector ``[(id, r_fp)]`` and the edge ball it was computed
    from, ``{from_id: [to_id, ...]}`` over ``bidirectional(edges)``.

    Why the ball is enough: ``r_t`` is non-zero only within ``t`` hops
    of a seed, and the iterations read ``r_0 … r_{iterations-1}``. The
    edges leaving nodes within ``iterations - 1`` hops therefore hold
    the complete out-degree of every node that can carry mass and every
    destination mass can reach; a mass-carrying node with no ball edge
    is dangling. Each hop level is a left-semi join of the adjacency
    against the previous level's nodes, the small side broadcast.
    The same argument makes the ball an exact adjacency test for every
    node with ``r_fp > 0``: it has an edge iff it is an endpoint of a
    ball edge.

    Runs ONE Spark action (the seed rows and the ball, as one tagged
    union); an empty ball means no seed touched an edge, so no mass
    moved off the seeds.

    Scale envelope: the driver holds the seeds' ``iterations - 1``-hop
    edge ball next to the rank vector. For a seed set the size of a
    search's candidate sheet that is a small neighbourhood whatever
    the corpus size. When every node is a seed (``global_pagerank``)
    the ball is the whole adjacency, the same order as the rank vector
    the operator keeps on the driver in any case."""
    adj = bidirectional(edges)
    weighted = seeds.select("id", "sw_fp").filter(F.col("sw_fp").isNotNull())

    def leaving(nodes: DataFrame) -> DataFrame:
        return adj.join(F.broadcast(nodes), F.col("from_id") == F.col("id"), "left_semi")

    nodes = weighted.select("id")
    for _ in range(iterations - 1):
        nodes = nodes.unionByName(leaving(nodes).select(F.col("to_id").alias("id")))
    # ONE action: seed rows (edge=False, id, weight) and ball edges
    # (edge=True, from, to) as one tagged union
    tagged = weighted.select(
        F.lit(False).alias("edge"), F.col("id").alias("a"), F.col("sw_fp").alias("b")
    ).unionByName(
        leaving(nodes).select(
            F.lit(True).alias("edge"), F.col("from_id").alias("a"), F.col("to_id").alias("b")
        )
    )
    seed_rows, ball = [], defaultdict(list)
    for edge, a, b in tagged.collect():
        if edge:
            ball[a].append(b)
        else:
            seed_rows.append((a, b))
    return _ppr_iterate(seed_rows, ball, alpha, iterations), dict(ball)


def _ppr_iterate(
    seed_rows: list[tuple[int, int]],
    out: dict[int, list[int]],
    alpha: float,
    iterations: int,
) -> list[tuple[int, int]]:
    """The fixed-point iterations over the collected ball, term by
    term the expressions of :func:`ppr_sql` (same double operand
    order, Spark ``round`` half-up, exact integer sums). One entry per
    seed row, so a duplicated seed contributes twice, as in SQL."""
    s_total = sum(w for _, w in seed_rows)
    if not s_total:
        return []
    p = [(i, w / float(s_total)) for i, w in seed_rows]
    base = [(i, round_half_up((1.0 - alpha) * pv * _UNIT)) for i, pv in p]
    r = [(i, round_half_up(pv * _UNIT)) for i, pv in p]
    for _ in range(iterations):
        acc: dict[int, int] = defaultdict(int)
        for i, term in base:
            acc[i] += term
        dang_fp = 0
        for u, r_fp in r:
            nbrs = out.get(u)
            if not nbrs:
                dang_fp += r_fp
                continue
            term = round_half_up(alpha * (r_fp / _UNIT) / len(nbrs) * _UNIT)
            for v in nbrs:
                acc[v] += term
        for i, pv in p:
            acc[i] += round_half_up(alpha * (dang_fp / _UNIT) * pv * _UNIT)
        r = list(acc.items())
    return r


def ppr_sql(
    edges_cte: str,
    seeds_cte: str,
    alpha: float = ALPHA,
    iterations: int = ITERATIONS,
) -> str:
    """DuckDB oracle mirroring :func:`personalized_pagerank`.

    ``edges_cte`` must yield (from_id, to_id) directed;
    ``seeds_cte`` must yield (id, sw_fp BIGINT). Returns CTE chain
    ending in ``ppr(id, r_fp)``.
    """
    unit = f"1e{SCALE}"
    it_ctes = []
    prev = "r0"
    for i in range(1, iterations + 1):
        it_ctes.append(
            f"""d{i} AS (
  SELECT CAST(coalesce(sum(r.r_fp), 0) AS BIGINT) AS m FROM {prev} r
  LEFT JOIN deg ON deg.from_id = r.id WHERE deg.deg IS NULL
),
r{i} AS (
  SELECT id, CAST(sum(term) AS BIGINT) AS r_fp FROM (
    SELECT id, CAST(round({1.0 - alpha} * p * {unit}) AS BIGINT) AS term FROM p
    UNION ALL
    SELECT adj.to_id AS id,
           CAST(round({alpha} * (CAST(r.r_fp AS DOUBLE) / {unit}) / deg.deg * {unit}) AS BIGINT) AS term
    FROM {prev} r JOIN deg ON deg.from_id = r.id JOIN adj ON adj.from_id = r.id
    UNION ALL
    SELECT p.id, CAST(round({alpha} * (CAST((SELECT m FROM d{i}) AS DOUBLE) / {unit}) * p.p * {unit}) AS BIGINT) AS term
    FROM p
  ) GROUP BY id
)"""
        )
        prev = f"r{i}"
    its = ",\n".join(it_ctes)
    return f"""
WITH edges AS ({edges_cte}),
adj AS (
  SELECT DISTINCT from_id, to_id FROM (
    SELECT from_id, to_id FROM edges UNION ALL SELECT to_id AS from_id, from_id AS to_id FROM edges
  )
),
deg AS (SELECT from_id, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY from_id),
seeds AS ({seeds_cte}),
p AS (
  SELECT id, CAST(sw_fp AS DOUBLE) / CAST((SELECT sum(sw_fp) FROM seeds) AS DOUBLE) AS p
  FROM seeds
),
r0 AS (SELECT id, CAST(round(p * {unit}) AS BIGINT) AS r_fp FROM p),
{its},
ppr AS (SELECT id, r_fp FROM {prev})
"""


def min_label_propagation(
    edges: DataFrame, nodes: DataFrame, rounds: int, id_col: str = "id"
) -> DataFrame:
    """Bounded connected-components: k rounds of min-label adoption.

    Exact CC when k >= component diameter; always deterministic.
    Returns (id, label) where label = min reachable-in-k-hops id.
    """
    adj = bidirectional(edges).cache()
    labels = nodes.select(F.col(id_col).alias("id"), F.col(id_col).alias("label"))
    for i in range(rounds):
        if i > 0:
            # labels appears twice per round (self-join via neighbor
            # min), so the logical plan doubles each round; truncate
            # lineage to keep plan size linear in `rounds`.
            labels = labels.localCheckpoint(eager=True)
        neighbor_min = (
            labels.alias("l")
            .join(adj.alias("a"), F.col("l.id") == F.col("a.from_id"))
            .groupBy(F.col("a.to_id").alias("id"))
            .agg(F.min(F.col("l.label")).alias("nmin"))
        )
        labels = (
            labels.alias("lb")
            .join(neighbor_min.alias("nm"), F.col("lb.id") == F.col("nm.id"), "left")
            .select(
                F.col("lb.id").alias("id"),
                F.least(
                    F.col("lb.label"), F.coalesce(F.col("nm.nmin"), F.col("lb.label"))
                ).alias("label"),
            )
        )
    out = labels.localCheckpoint(eager=True)
    adj.unpersist()
    return out


def connected_components(
    edges: DataFrame, nodes: DataFrame, max_rounds: int = 25, id_col: str = "id"
) -> DataFrame:
    """Exact connected components in O(log n) rounds: min-label
    propagation with a path-halving shortcut each round.

    Bounded label propagation (:func:`min_label_propagation`) needs
    rounds >= component diameter — on a million-node chain that is a
    million shuffles. Adding the pointer-doubling step
    ``label(v) <- label(label(v))`` after each propagation halves
    label-tree depth per round (the same trick as the alternating
    big-star/small-star MapReduce CC algorithm), so convergence is
    logarithmic in the longest path. Rounds run until a fixpoint
    (checked with a cheap count action); result is
    ``(id, component)`` with component = min id of the component —
    deterministic for any graph, any partitioning.
    """
    adj = bidirectional(edges).cache()
    labels = nodes.select(F.col(id_col).alias("id"), F.col(id_col).alias("label"))
    for _ in range(max_rounds):
        labels = labels.localCheckpoint(eager=True)
        neighbor_min = (
            labels.alias("l")
            .join(adj.alias("a"), F.col("l.id") == F.col("a.from_id"))
            .groupBy(F.col("a.to_id").alias("id"))
            .agg(F.min(F.col("l.label")).alias("nmin"))
        )
        propagated = (
            labels.alias("lb")
            .join(neighbor_min.alias("nm"), F.col("lb.id") == F.col("nm.id"), "left")
            .select(
                F.col("lb.id").alias("id"),
                F.least(
                    F.col("lb.label"), F.coalesce(F.col("nm.nmin"), F.col("lb.label"))
                ).alias("label"),
            )
        )
        # path halving: follow the label's own label one hop
        shortcut = (
            propagated.alias("p")
            .join(
                propagated.select(
                    F.col("id").alias("pid"), F.col("label").alias("plabel")
                ).alias("pp"),
                F.col("p.label") == F.col("pp.pid"),
                "left",
            )
            .select(
                F.col("p.id").alias("id"),
                F.coalesce(F.col("pp.plabel"), F.col("p.label")).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            shortcut.alias("s")
            .join(labels.alias("o"), F.col("s.id") == F.col("o.id"))
            .filter(F.col("s.label") != F.col("o.label"))
            .count()
        )
        labels = shortcut
        if changed == 0:
            break
    adj.unpersist()
    return labels.select("id", F.col("label").alias("component"))


def bfs_distances(
    edges: DataFrame, seeds: DataFrame, max_hops: int
) -> DataFrame:
    """Multi-source BFS: minimum hop distance from any seed, bounded
    by ``max_hops``. ``seeds`` is (id); returns (id, dist).

    The classic Pregel frontier loop as DataFrames: each round joins
    the current distance vector to the adjacency and keeps the min.
    Unreached nodes are absent (no infinity sentinel to shuffle).
    Rounds are fixed, so the oracle mirrors them as chained CTEs —
    no recursive CTE, whose path enumeration blows up on cyclic
    graphs (bidirectional edges always cycle).
    """
    adj = bidirectional(edges).cache()
    dist = seeds.select(F.col("id"), F.lit(0).cast("long").alias("dist"))
    for i in range(max_hops):
        if i > 0:
            dist = dist.localCheckpoint(eager=True)
        stepped = (
            dist.alias("d")
            .join(adj.alias("a"), F.col("d.id") == F.col("a.from_id"))
            .select(F.col("a.to_id").alias("id"), (F.col("d.dist") + 1).alias("dist"))
        )
        dist = (
            dist.unionByName(stepped).groupBy("id").agg(F.min("dist").alias("dist"))
        )
    out = dist.localCheckpoint(eager=True)
    adj.unpersist()
    return out


def bfs_sql(edges_cte: str, seeds_cte: str, max_hops: int) -> str:
    """DuckDB oracle for :func:`bfs_distances`; ends in
    ``bfs(id, dist)``."""
    ctes = []
    prev = "b0"
    for i in range(1, max_hops + 1):
        ctes.append(
            f"""b{i} AS MATERIALIZED (
  SELECT id, CAST(min(dist) AS BIGINT) AS dist FROM (
    SELECT id, dist FROM {prev}
    UNION ALL
    SELECT adj.to_id AS id, d.dist + 1 AS dist
    FROM {prev} d JOIN adj ON adj.from_id = d.id
  ) GROUP BY id
)"""
        )
        prev = f"b{i}"
    its = ",\n".join(ctes)
    return f"""
WITH edges AS MATERIALIZED ({edges_cte}),
adj AS MATERIALIZED (
  SELECT DISTINCT from_id, to_id FROM (
    SELECT from_id, to_id FROM edges UNION ALL SELECT to_id AS from_id, from_id AS to_id FROM edges
  )
),
b0 AS (SELECT id, CAST(0 AS BIGINT) AS dist FROM ({seeds_cte})),
{its},
bfs AS (SELECT id, dist FROM {prev})
"""


def label_propagation_sql(edges_cte: str, nodes_cte: str, rounds: int) -> str:
    """DuckDB oracle for :func:`min_label_propagation`; ends in
    ``labels(id, label)``."""
    ctes = []
    prev = "l0"
    for i in range(1, rounds + 1):
        ctes.append(
            f"""l{i} AS MATERIALIZED (
  SELECT l.id, least(l.label, coalesce(min(n.label), l.label)) AS label
  FROM {prev} l
  LEFT JOIN adj ON adj.to_id = l.id
  LEFT JOIN {prev} n ON n.id = adj.from_id
  GROUP BY l.id, l.label
)"""
        )
        prev = f"l{i}"
    its = ",\n".join(ctes)
    # MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and each
    # round references the previous one twice — without it the (often
    # expensive) edges CTE is re-evaluated ~2^rounds times.
    return f"""
WITH edges AS MATERIALIZED ({edges_cte}),
adj AS MATERIALIZED (
  SELECT DISTINCT from_id, to_id FROM (
    SELECT from_id, to_id FROM edges UNION ALL SELECT to_id AS from_id, from_id AS to_id FROM edges
  )
),
nodes AS ({nodes_cte}),
l0 AS (SELECT id, id AS label FROM nodes),
{its},
labels AS MATERIALIZED (SELECT id, label FROM {prev})
"""
