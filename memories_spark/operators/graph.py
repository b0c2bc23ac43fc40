"""Graph expansion: personalized PageRank + bounded label propagation.

Reference semantics (reference memory_engine.py:1541-1642): truncated
Personalized PageRank over the memory-link graph — seeds are the RRF
candidates max-normalized, alpha=0.85, exactly 3 iterations, dangling
mass redistributed to the personalization vector. Adjacency is the
``related_to`` edge set made bidirectional with dangling targets
dropped (memory_engine.py:1490-1508).

Spark shape: a fixed-iteration loop of exactly ONE Spark job per
iteration — the (cached) degree-annotated adjacency joins a broadcast
of the current rank vector and the contributions aggregate by
destination. The rank vector itself lives on the driver between
iterations: it was ALWAYS driver-sized (every previous shape
broadcast it into the edge join, and a broadcast collects to the
driver first), so keeping it there removes the per-iteration
checkpoint/aggregate jobs whose ~50 ms driver gaps dominated the
query at bench scale (~27 sequential jobs → 5). All mass arithmetic
stays in Catalyst expressions — the per-seed constants are evaluated
by the optimizer over LocalRelations (ConvertToLocalRelation), the
per-edge terms inside the one distributed job — so the result is
bit-identical to the previous all-DataFrame shape regardless of
partitioning or engine (see functions/hashing.py).

Clustering (reference find_similar_clusters union-find,
memory_engine.py:2274-2342) is re-expressed as *bounded* min-label
propagation: k rounds of "adopt the smallest neighbor label". With k
>= graph diameter this is exact connected components; bounded k keeps
it deterministic and oracle-expressible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

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
    s_total: int | None = None,
) -> DataFrame:
    """Fixed-point PPR. ``seeds`` is (id, sw_fp: BIGINT seed weight).

    Returns (id, ppr_fp: BIGINT) — divide by 1e12 for the score.
    The personalization p(v) = sw_fp(v) / sum(sw_fp) as a double;
    each iteration term is rounded back to fixed-point before the
    exact integer sum, so engines/partitionings agree bit-for-bit.

    ``s_total`` (the seed-mass sum) may be passed in when the caller
    already computed it — the serving path folds it into its single
    sizing job — otherwise it is the exact integer sum of the (one)
    seed-collect job's rows. Empty or all-zero seeds return an empty
    rank vector without running a single iteration (no mass to spread
    — and no driver crash on a NULL sum).

    Scale envelope (unchanged from the all-DataFrame shape): the rank
    vector — seeds plus the expanding frontier — must fit on the
    driver. Every prior version already required this (the vector was
    broadcast into the edge join each iteration, and a broadcast
    relation is collected to the driver before shipping); this
    version just keeps it there between iterations instead of paying
    checkpoint + re-collect jobs. The ADJACENCY is never collected —
    it stays distributed and is the only thing that scales with the
    corpus.

    Caller contract: this operator is EAGER. Building its result runs
    the seed collect plus one Spark action per iteration at call
    time, and the returned frame is a driver-local LocalRelation. A
    caller that only builds or explains a plan over it (for example
    ``tools/explain_all.py``) therefore executes every iteration's
    distributed job, and the plan it captures shows a post-execution
    ``LocalTableScan`` in place of the PPR iterations — not the
    distributed adjacency joins that produced it."""
    spark = seeds.sparkSession

    # ONE job materializes the seed pipeline (it is tiny but its plan
    # may be a deep retrieval pipeline) and yields both the rows and —
    # as an exact integer sum, identical to F.sum over any
    # partitioning — the seed mass. A NULL seed weight carries no
    # mass (in ppr_sql it drops out of every sum), so its row is not a
    # seed at all.
    seed_rows = [
        row for row in seeds.select("id", "sw_fp").collect() if row.sw_fp is not None
    ]
    if s_total is None:
        s_total = sum(row.sw_fp for row in seed_rows)
    if not s_total:
        return local_frame(spark, [], "id long, r_fp long")

    adj = bidirectional(edges).cache()
    deg = adj.groupBy("from_id").agg(F.count("*").alias("deg")).cache()

    # p / r0 / base are lazy projections over the seed LocalRelation —
    # ConvertToLocalRelation folds them driver-side at optimization
    # time, so they cost no job and no collect; the expressions are
    # the previous in-plan ones verbatim (same F.round half-up, same
    # double division), so every constant is bit-identical.
    seeds_local = local_frame(
        spark, [(int(row.id), int(row.sw_fp)) for row in seed_rows], "id long, sw_fp long"
    )
    p = seeds_local.select(
        "id",
        (F.col("sw_fp").cast("double") / F.lit(float(s_total))).alias("p"),
    )
    base = p.select(
        "id", F.round(F.lit(1.0 - alpha) * F.col("p") * _UNIT).cast("long").alias("term")
    )
    # r0 = p, in fixed point
    r = p.select("id", F.round(F.col("p") * _UNIT).cast("long").alias("r_fp"))

    for i in range(iterations):
        # ONE action per iteration, with the exact plan algebra of the
        # previous shape — (rank ⋈ deg) feeding contrib + the dangling
        # scalar, base ∪ contrib ∪ dangling → groupBy(id) → exact
        # integer sum — except the rank vector enters as a driver-local
        # LocalRelation instead of a lazy checkpoint, whose
        # construction-time stage materialization under AQE was the
        # per-iteration job cascade (~27 sequential jobs with ~50 ms
        # driver gaps). Term expressions unchanged: same operand
        # order, same F.round, bit-identical longs. with_deg is
        # referenced twice (contrib + dangling aggregate); both
        # re-derive it from the local rank vector and the CACHED
        # degree table, which replaces the old checkpoint.
        with_deg = (
            r.alias("r")
            .join(deg.alias("d"), F.col("r.id") == F.col("d.from_id"), "left")
            .select(
                F.col("r.id").alias("id"),
                F.col("r.r_fp").alias("r_fp"),
                F.coalesce(F.col("d.deg"), F.lit(0)).alias("deg"),
            )
        )
        contrib = (
            adj.alias("a")
            .join(
                F.broadcast(with_deg.filter(F.col("deg") > 0)).alias("wd"),
                F.col("wd.id") == F.col("a.from_id"),
            )
            .select(
                F.col("a.to_id").alias("id"),
                F.round(
                    F.lit(alpha)
                    * (F.col("wd.r_fp").cast("double") / _UNIT)
                    / F.col("wd.deg")
                    * _UNIT
                )
                .cast("long")
                .alias("term"),
            )
        )
        dang = with_deg.filter(F.col("deg") == 0).agg(
            F.coalesce(F.sum("r_fp"), F.lit(0)).cast("long").alias("dang_fp")
        )
        dangling = p.crossJoin(F.broadcast(dang)).select(
            "id",
            F.round(
                F.lit(alpha)
                * (F.col("dang_fp").cast("double") / _UNIT)
                * F.col("p")
                * _UNIT
            )
            .cast("long")
            .alias("term"),
        )
        rows = (
            base.unionByName(contrib)
            .unionByName(dangling)
            .groupBy("id")
            .agg(F.sum("term").alias("r_fp"))
            .collect()
        )
        r = local_frame(
            spark, sorted((row.id, row.r_fp) for row in rows), "id long, r_fp long"
        )
    # The final rank vector is a small driver-local leaf — like the
    # eager checkpoint it replaces, callers can reference it many
    # times (merge, scalars, graph-only branch) without re-running
    # anything, and joins against it broadcast. Release the
    # adjacency/degree caches — a long-lived session must not
    # accumulate cached edge tables across searches.
    adj.unpersist()
    deg.unpersist()
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
