"""Cross-engine deterministic hashing primitives.

Dedup/LSH operators need hash functions that (a) run JVM-side in
Spark and (b) can be replicated exactly by the DuckDB oracle. Spark's
``hash()``/``xxhash64()`` have no DuckDB twin, so everything here is
built on ``md5()`` hex strings, which both engines produce
identically. Hex strings compare lexicographically the same way in
both engines, so "min over hashes" (MinHash) works on the strings
directly — no integer conversion needed.

Also provides the **fixed-point integer summation** helpers that make
double aggregations order-independent: round each deterministic
scalar term to an integer at a fixed scale, sum as BIGINT (exact,
associative), divide at the end. This is how every oracle-checked
aggregate in this repo dodges float-summation nondeterminism.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F


def md5_seeded(value: Column, seed: int) -> Column:
    """Seeded md5 hex digest: md5('<seed>:' || value)."""
    return F.md5(F.concat(F.lit(f"{seed}:"), value))


def md5_seeded_sql(value_sql: str, seed: int) -> str:
    return f"md5('{seed}:' || {value_sql})"


def minhash_signature(shingles: Column, num_hashes: int) -> Column:
    """MinHash signature: array of per-seed min md5-hex over shingles.

    ``array_min`` over the hex digests == min-hash under a family of
    string-valued hash functions; band-compare works on the strings.
    """
    def _hasher(i: int):
        return lambda s: md5_seeded(s, i)

    sigs = [
        F.array_min(F.transform(shingles, _hasher(i))) for i in range(num_hashes)
    ]
    return F.array(*sigs)


def hex_prefix_int_sql(hex_expr: str, ndigits: int) -> str:
    """Engine-portable SQL turning the first ``ndigits`` hex chars of
    ``hex_expr`` into an exact BIGINT (positional base-16 fold).

    Spark has ``conv()`` but DuckDB does not; both have ``instr`` and
    ``substring`` with identical semantics, so the digit fold below
    evaluates bit-identically in both engines. Keep ``ndigits <= 13``
    so the value (< 16^13 = 2^52) is also exact as a double.
    """
    assert 1 <= ndigits <= 13
    # CAST each term to BIGINT: Spark 4 runs ANSI mode, where an INT
    # digit times a 16^k weight overflows at k >= 8.
    terms = [
        f"CAST(instr('0123456789abcdef', substring({hex_expr}, {i + 1}, 1)) - 1 AS BIGINT)"
        + (f" * {16 ** (ndigits - 1 - i)}" if i < ndigits - 1 else "")
        for i in range(ndigits)
    ]
    return "(" + " + ".join(terms) + ")"


def hex_frac_sql(hex_expr: str, ndigits: int = 13) -> str:
    """Engine-portable SQL mapping a hex digest prefix to a uniform
    fraction in [0, 1): the KMV / sampling primitive."""
    return f"(CAST({hex_prefix_int_sql(hex_expr, ndigits)} AS DOUBLE) / {float(16 ** ndigits)!r})"


def fixed_point(col: Column, scale: int) -> Column:
    """Deterministic-scalar double -> BIGINT at 10^scale (for exact sums)."""
    return F.round(col * F.lit(float(10**scale))).cast("long")


def round_half_up(d: float) -> int:
    """Driver-side twin of Spark's ``F.round(double)`` at scale 0 for
    ``d >= 0`` (the fixed-point masses): HALF_UP on the exact binary
    value. (Spark rounds a negative tie away from zero; this does not.)

    ``floor(d + 0.5)`` is not the same function: the addition itself
    rounds, so 0.49999999999999994 becomes 1 where Spark gives 0.
    ``d - floor(d)`` is exact for every finite double, so comparing
    it with 0.5 decides the tie on the value Spark sees."""
    k = math.floor(d)
    return k + (d - k >= 0.5)


def fixed_point_sql(expr: str, scale: int) -> str:
    return f"CAST(round(({expr}) * {float(10 ** scale)!r}) AS BIGINT)"


def unfix_sql(expr: str, scale: int) -> str:
    return f"(CAST({expr} AS DOUBLE) / {float(10 ** scale)!r})"


def unfix(col: Column, scale: int) -> Column:
    return col.cast("double") / F.lit(float(10**scale))
