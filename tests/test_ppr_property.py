"""Property-based PPR parity: the seed-bounded fixed-point personalized
PageRank vs an independent pure-Python model and vs the distributed
Spark formulation it replaced, on random tiny graphs.

The Spark operator (operators/graph.personalized_pagerank) promises
bit-identical results regardless of partitioning because every
iteration term is rounded HALF_UP to fixed-point (scale 12) before an
exact BIGINT sum. The model below replays the same arithmetic — same
IEEE-754 operation order, same rounding — so equality is exact, not
tolerance-based. This covers arbitrary graph shapes (dangling seeds,
disconnected nodes, stars, chains) that the DuckDB-oracle query only
exercises on the fixed testdata graph.
"""

from __future__ import annotations

import math
import random
from collections import defaultdict

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from memories_spark.functions.hashing import round_half_up
from memories_spark.operators import graph as graph_op
from memories_spark.session import local_frame

N_NODES = 6

edge_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=N_NODES - 1),
        st.integers(min_value=0, max_value=N_NODES - 1),
    ).filter(lambda e: e[0] != e[1]),
    min_size=0,
    max_size=10,
)

seed_strategy = st.dictionaries(
    st.integers(min_value=0, max_value=N_NODES - 1),
    st.integers(min_value=1, max_value=1000),
    min_size=1,
    max_size=4,
)


def model_ppr(
    edges: list[tuple[int, int]],
    seeds: dict[int, int],
    alpha: float = graph_op.ALPHA,
    iterations: int = graph_op.ITERATIONS,
) -> dict[int, int]:
    """Pure-Python replay of the operator's exact arithmetic."""
    unit = float(10**graph_op.SCALE)
    adj = set()
    for a, b in edges:
        adj.add((a, b))
        adj.add((b, a))
    neighbors = defaultdict(list)
    for a, b in adj:
        neighbors[a].append(b)
    deg = {n: len(v) for n, v in neighbors.items()}

    s_total = float(sum(seeds.values()))
    p = {i: sw / s_total for i, sw in seeds.items()}
    r = {i: round_half_up(p[i] * unit) for i in p}
    base = {i: round_half_up((1.0 - alpha) * p[i] * unit) for i in p}

    for _ in range(iterations):
        terms: dict[int, int] = defaultdict(int)
        for i, t in base.items():
            terms[i] += t
        dangling_fp = 0
        for u, r_fp in r.items():
            d = deg.get(u, 0)
            if d == 0:
                dangling_fp += r_fp
                continue
            contrib = round_half_up(alpha * (r_fp / unit) / d * unit)
            for v in neighbors[u]:
                terms[v] += contrib
        for i in p:
            terms[i] += round_half_up(
                alpha * (float(dangling_fp) / unit) * p[i] * unit
            )
        r = dict(terms)
    return r


def _edges_df(spark, edges):
    return local_frame(spark, edges, "from_id long, to_id long")


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(edges=edge_strategy, seeds=seed_strategy)
def test_ppr_matches_pure_python_model(spark, edges, seeds):
    seeds_df = local_frame(spark, sorted(seeds.items()), "id long, sw_fp long")
    got = {
        int(row.id): int(row.r_fp)
        for row in graph_op.personalized_pagerank(_edges_df(spark, edges), seeds_df).collect()
    }
    want = model_ppr(edges, seeds)
    # drop zero-mass rows on both sides: a node reachable only via a
    # rounded-to-zero contribution is representational, not semantic
    got = {k: v for k, v in got.items() if v != 0}
    want = {k: v for k, v in want.items() if v != 0}
    assert got == want


def test_round_half_up_matches_spark_round(spark):
    """The driver-side rounding agrees with ``F.round`` on the values
    where a naive ``floor(x + 0.5)`` goes wrong: exact ties ``k + 0.5``
    and both binary neighbours of each tie, for small and random
    ``k < 1e12``, plus random magnitudes up to 1e12."""
    rng = random.Random(11)
    ks = list(range(16)) + [rng.randrange(10**12) for _ in range(300)]
    grid = [0.49999999999999994]
    for k in ks:
        tie = k + 0.5
        grid += [tie, math.nextafter(tie, -math.inf), math.nextafter(tie, math.inf)]
    grid += [rng.uniform(0, 10.0 ** rng.randint(0, 12)) for _ in range(600)]
    df = local_frame(spark, [(i, x) for i, x in enumerate(grid)], "i long, x double")
    spark_round = {
        row.i: int(row.r)
        for row in df.select("i", F.round("x").cast("long").alias("r")).collect()
    }
    want = [spark_round[i] for i in range(len(grid))]
    assert [round_half_up(x) for x in grid] == want
    # the grid tells the naive form apart from Spark's
    assert [math.floor(x + 0.5) for x in grid] != want


def test_ppr_null_seed_weight_carries_no_mass(spark):
    """A seed row with a NULL weight is not a seed (in ppr_sql it
    drops out of every sum): the vector equals the one computed
    without that row."""
    edges_df = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (5, 1)], "from_id long, to_id long"
    )
    seeds = [(1, 700_000_000_000), (3, 300_000_000_000)]
    with_null = spark.createDataFrame(seeds + [(4, None)], "id long, sw_fp long")
    without = spark.createDataFrame(seeds, "id long, sw_fp long")

    def vec(df):
        return sorted(
            (int(r.id), int(r.r_fp))
            for r in graph_op.personalized_pagerank(edges_df, df).collect()
        )

    want = vec(without)
    assert want
    assert vec(with_null) == want


# --- parity with the distributed formulation -------------------------


def distributed_ppr(edges, seeds, alpha=graph_op.ALPHA, iterations=graph_op.ITERATIONS):
    """The distributed PPR loop the seed-bounded operator replaced,
    kept as its reference: whole-adjacency joins with one collect per
    iteration, every term the same Catalyst expression as ppr_sql."""
    spark = seeds.sparkSession
    unit = float(10**graph_op.SCALE)
    seed_rows = [
        row for row in seeds.select("id", "sw_fp").collect() if row.sw_fp is not None
    ]
    s_total = sum(row.sw_fp for row in seed_rows)
    if not s_total:
        return []
    adj = graph_op.bidirectional(edges)
    deg = adj.groupBy("from_id").agg(F.count("*").alias("deg"))
    seeds_local = local_frame(
        spark, [(int(row.id), int(row.sw_fp)) for row in seed_rows], "id long, sw_fp long"
    )
    p = seeds_local.select(
        "id", (F.col("sw_fp").cast("double") / F.lit(float(s_total))).alias("p")
    )
    base = p.select(
        "id", F.round(F.lit(1.0 - alpha) * F.col("p") * unit).cast("long").alias("term")
    )
    r = p.select("id", F.round(F.col("p") * unit).cast("long").alias("r_fp"))
    for _ in range(iterations):
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
                    F.lit(alpha) * (F.col("wd.r_fp").cast("double") / unit)
                    / F.col("wd.deg") * unit
                ).cast("long").alias("term"),
            )
        )
        dang = with_deg.filter(F.col("deg") == 0).agg(
            F.coalesce(F.sum("r_fp"), F.lit(0)).cast("long").alias("dang_fp")
        )
        dangling = p.crossJoin(F.broadcast(dang)).select(
            "id",
            F.round(
                F.lit(alpha) * (F.col("dang_fp").cast("double") / unit) * F.col("p") * unit
            ).cast("long").alias("term"),
        )
        rows = (
            base.unionByName(contrib).unionByName(dangling)
            .groupBy("id").agg(F.sum("term").alias("r_fp")).collect()
        )
        r = local_frame(spark, sorted((row.id, row.r_fp) for row in rows), "id long, r_fp long")
    return sorted((int(row.id), int(row.r_fp)) for row in r.collect())


PARITY_NODES = 10

weight_strategy = st.one_of(st.none(), st.just(0), st.integers(min_value=1, max_value=10**6))


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    # duplicates and reciprocal pairs are allowed on purpose
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=PARITY_NODES - 1),
            st.integers(min_value=0, max_value=PARITY_NODES - 1),
        ).filter(lambda e: e[0] != e[1]),
        max_size=14,
    ),
    seeds=st.dictionaries(
        st.integers(min_value=0, max_value=PARITY_NODES - 1), weight_strategy,
        min_size=1, max_size=4,
    ),
)
# a chain: nodes 4..7 hops from the only seed
@example(edges=[(i, i + 1) for i in range(8)], seeds={0: 5})
# a dangling seed beside a linked one, and a zero- and a NULL-weight seed
@example(edges=[(0, 1), (1, 2), (2, 3)], seeds={9: 10, 0: 3, 2: 0, 3: None})
# duplicate and reciprocal edges
@example(edges=[(0, 1), (0, 1), (1, 0), (1, 2), (2, 1)], seeds={1: 7, 0: 2})
# no edge anywhere near a seed
@example(edges=[(5, 6), (6, 7), (7, 5)], seeds={0: 4, 1: 2})
# no seed mass at all
@example(edges=[(0, 1)], seeds={0: 0, 1: None})
def test_seed_bounded_ppr_matches_distributed(spark, edges, seeds):
    """Bit-identical (id, r_fp), zero-mass rows included, with the
    whole-adjacency distributed loop."""
    edges_df = _edges_df(spark, edges)
    seeds_df = local_frame(spark, sorted(seeds.items()), "id long, sw_fp long")
    ranks, ball = graph_op.collect_ppr(edges_df, seeds_df)
    assert sorted(ranks) == distributed_ppr(edges_df, seeds_df)
    # the ball is empty exactly when no weighted seed has an edge
    linked = {a for e in edges for a in e}
    touched = any(i in linked for i, w in seeds.items() if w is not None)
    assert bool(ball) == touched
    # every node with mass has an edge iff it is a ball endpoint
    ends = set(ball).union(*ball.values())
    assert {i for i, f in ranks if f > 0 and i in linked} == {
        i for i, f in ranks if f > 0 and i in ends
    }
