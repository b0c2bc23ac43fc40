"""Reciprocal Rank Fusion of ranked signal DataFrames.

Reference semantics (reference memory_engine.py:1787-1858): each
signal contributes ``weight * 1 / (rank + rrf_k)`` with rrf_k=60;
candidates missing from a signal contribute 0; the fused score is the
sum over signals, and the reference's weight-normalization algebra
(memory_engine.py:1795-1807) rescales vector/bm25/recency weights so
auxiliary signals (feedback, confidence) never exceed their budget.

Spark shapes: when the signals are independent top-N lists, each is
a ``(id, rank)`` DataFrame (ranks already deterministic via ``ORDER BY
score DESC, id ASC``) and :func:`rrf_fuse` is a union → groupBy(id) →
sum — one shuffle on id regardless of how many signals participate.
When every signal is already a rank column of one shared candidate
frame (the serving search's candidate sheet), :func:`rrf_score_expr`
fuses them in a single projection. Both sum :func:`rrf_contrib`. At
scale each signal list is already top-N truncated (the reference
oversamples 3k, memory_engine.py:1752-1753), so the fused relation is
tiny compared to the corpus.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from memories_spark.functions.hashing import fixed_point, unfix

RRF_K = 60
SCORE_SCALE = 12  # 1/(rank+60) needs more fixed-point digits


def rrf_contrib(rank: Column, weight: float, rrf_k: int = RRF_K) -> Column:
    """One signal's RRF contribution ``weight / (rank + rrf_k)`` as a
    fixed-point BIGINT at ``SCORE_SCALE`` (NULL where ``rank`` is
    NULL) — the one definition every fusion shape sums, so they agree
    bit for bit."""
    return fixed_point(
        F.lit(float(weight)) / (rank + F.lit(rrf_k)).cast("double"), SCORE_SCALE
    )


def rrf_score_expr(
    weighted_ranks: list[tuple[Column, float]], rrf_k: int = RRF_K
) -> Column:
    """Fused score of a row that carries every signal's rank as a
    column: the exact integer sum of the present signals'
    :func:`rrf_contrib` (an absent, NULL rank contributes 0). Equal to
    :func:`rrf_fuse`'s grouped sum for the same ranks — integer
    addition is order-free — but costs one projection instead of a
    union and a shuffle, for callers whose signals already share one
    candidate frame."""
    total = reduce(
        operator.add,
        [F.coalesce(rrf_contrib(rank, w, rrf_k), F.lit(0)) for rank, w in weighted_ranks],
    )
    return unfix(total, SCORE_SCALE)


def rank_signal(df: DataFrame, id_col: str, score_col: str, limit: int | None = None) -> DataFrame:
    """Turn a scored DataFrame into (id, rank) with deterministic ties.

    With a ``limit``, the top-N is taken FIRST via ``orderBy().limit()``
    — Catalyst plans that as TakeOrderedAndProject, a per-partition
    top-N merge — and only the surviving ≤limit rows go through the
    row_number window. Ranking the full scored set in the window and
    filtering afterwards would funnel the corpus-sized score table
    through ONE task (an unpartitioned window is a single-partition
    sort) — the exact shuffle that dies at 100 TB. Same rows, same
    ranks: the truncated total order (score desc, id asc) is identical
    either way."""
    order = [F.desc(score_col), F.asc(id_col)]
    if limit is not None:
        df = df.orderBy(*order).limit(limit)
    w = Window.orderBy(*order)
    return df.select(
        F.col(id_col).alias("id"), F.row_number().over(w).alias("rank")
    )


def rrf_fuse(
    signals: dict[str, tuple[DataFrame, float]],
    rrf_k: int = RRF_K,
    k: int | None = None,
) -> DataFrame:
    """Fuse ``{name: ((id, rank) DataFrame, weight)}`` into rrf scores.

    Returns ``(id, rrf_score, <name>_rank ...)``. Contributions are
    summed in exact fixed-point so the result is order-independent.

    Plan shape: one ``union all`` of the (pre-truncated) signal lists
    tagged with a signal ordinal, then ONE groupBy(id) — a single
    shuffle regardless of signal count, and each signal's subplan
    appears exactly once in the logical plan. The previous chain of
    N-1 full-outer joins shuffled N times and re-embedded every
    earlier signal's subtree per join, which at 5 signals multiplied
    the logical plan (and its per-invocation analysis cost) ~4x.
    Same rows, same values: sum-of-present == coalesce-chain, and
    ``max(rank) filtered per signal`` == the join's rank column
    (signal lists are unique per id).
    """
    names = list(signals)
    parts = []
    for ordinal, name in enumerate(names):
        ranked, weight = signals[name]
        parts.append(
            ranked.select(
                "id",
                rrf_contrib(F.col("rank"), weight, rrf_k).alias("c"),
                F.col("rank").alias("rank"),
                F.lit(ordinal).alias("_sig"),
            )
        )
    unioned = reduce(DataFrame.unionByName, parts)
    fused = unioned.groupBy("id").agg(
        F.sum("c").alias("c"),
        *[
            F.max(F.when(F.col("_sig") == i, F.col("rank"))).alias(f"{name}_rank")
            for i, name in enumerate(names)
        ],
    )
    rank_cols = [f"{name}_rank" for name in names]
    out = fused.select(
        "id", unfix(F.col("c"), SCORE_SCALE).alias("rrf_score"), *rank_cols
    )
    if k is not None:
        order = [F.desc("rrf_score"), F.asc("id")]
        out = out.orderBy(*order).limit(k)
    return out


def rrf_contrib_sql(rank_expr: str, weight: float, rrf_k: int = RRF_K) -> str:
    """Oracle mirror of one signal's fixed-point RRF contribution."""
    return (
        f"CAST(round(({weight!r} / CAST(({rank_expr}) + {rrf_k} AS DOUBLE))"
        f" * 1e{SCORE_SCALE}) AS BIGINT)"
    )
