"""Property-based PPR parity: the Spark fixed-point personalized
PageRank vs an independent pure-Python model on random tiny graphs.

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
from collections import defaultdict

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from memories_spark.operators import graph as graph_op

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


def _round_half_up(x: float) -> int:
    return int(math.floor(x + 0.5))


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
    r = {i: _round_half_up(p[i] * unit) for i in p}
    base = {i: _round_half_up((1.0 - alpha) * p[i] * unit) for i in p}

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
            contrib = _round_half_up(alpha * (r_fp / unit) / d * unit)
            for v in neighbors[u]:
                terms[v] += contrib
        for i in p:
            terms[i] += _round_half_up(
                alpha * (float(dangling_fp) / unit) * p[i] * unit
            )
        r = dict(terms)
    return r


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(edges=edge_strategy, seeds=seed_strategy)
def test_ppr_matches_pure_python_model(spark, edges, seeds):
    edges_df = spark.createDataFrame(
        edges or [(98, 99)],  # empty relation needs a schema anchor
        "from_id long, to_id long",
    )
    if not edges:
        edges_df = edges_df.filter("from_id < 0")
    seeds_df = spark.createDataFrame(
        sorted(seeds.items()), "id long, sw_fp long"
    )
    got = {
        int(row.id): int(row.r_fp)
        for row in graph_op.personalized_pagerank(edges_df, seeds_df).collect()
    }
    want = model_ppr(edges, seeds)
    # drop zero-mass rows on both sides: a node reachable only via a
    # rounded-to-zero contribution is representational, not semantic
    got = {k: v for k, v in got.items() if v != 0}
    want = {k: v for k, v in want.items() if v != 0}
    assert got == want


def test_ppr_null_seed_weight_carries_no_mass(spark):
    """A seed row with a NULL weight is not a seed (in ppr_sql it
    drops out of every sum): the vector equals the one computed
    without that row, with or without a caller-supplied s_total."""
    edges_df = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (5, 1)], "from_id long, to_id long"
    )
    seeds = [(1, 700_000_000_000), (3, 300_000_000_000)]
    with_null = spark.createDataFrame(seeds + [(4, None)], "id long, sw_fp long")
    without = spark.createDataFrame(seeds, "id long, sw_fp long")

    def vec(df, **kw):
        return sorted(
            (int(r.id), int(r.r_fp))
            for r in graph_op.personalized_pagerank(edges_df, df, **kw).collect()
        )

    want = vec(without)
    assert want
    assert vec(with_null) == want
    assert vec(with_null, s_total=1_000_000_000_000) == want
