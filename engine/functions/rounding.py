"""Cross-engine deterministic rounding.

``round(x, n)`` disagrees between Spark and DuckDB when ``x``'s binary
expansion lands on a decimal half-way boundary (e.g. 1702.33/40 =
42.55825 → 42.5583 vs 42.5582), because each engine reaches the double
through a different summation order and then applies a different
rounding rule.  The fix used by q2 (commit 5cf4de9) is to round via the
*identical IEEE double operations* on both sides:

    floor(x * 10^n + 0.5) / 10^n

Both engines then execute the same multiply/add/floor/divide on the
same double and must agree bit-for-bit.  Use these helpers for every
rounded *output* column that feeds the driver's value hash; keep
internal math unrounded.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def round_he(col: Column | str, ndigits: int) -> Column:
    """Half-up rounding via identical IEEE ops (Spark side)."""
    c = F.col(col) if isinstance(col, str) else col
    scale = float(10**ndigits)
    return F.floor(c * F.lit(scale) + F.lit(0.5)) / F.lit(scale)


VALUE_Q = 10000.0  # 1e-4 integer grid for money-ish double aggregation


def qsum(col: Column | str, q: float = VALUE_Q) -> Column:
    """Order-independent sum of a double column: quantize each row to
    an integer grid (round-half-up), sum as BIGINT. Double sums combine
    in task-completion order, so ``sum(double)`` can differ by an ulp
    between runs — and a rounded output at a decimal boundary then
    flips between runs and between engines (the hypertable_rollup
    flake). Integer sums are exact in any order. Headroom: ~1e14
    rows/group at |value|≤1e4 before BIGINT overflow (use DECIMAL(38,0)
    past that)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(F.floor(c * F.lit(q) + F.lit(0.5)).cast("bigint")).cast("bigint")


def qsum_rounded(col: Column | str, ndigits: int, q: float = VALUE_Q) -> Column:
    """``round_he(qsum(col)/q, ndigits)`` — the drop-in replacement for
    ``round(sum(col), ndigits)`` output columns."""
    return round_he(qsum(col, q).cast("double") / F.lit(q), ndigits)


def duck_qsum(expr: str, q: float = VALUE_Q) -> str:
    """DuckDB text twin of :func:`qsum` (CAST: duck sum(BIGINT) is
    HUGEINT)."""
    return (
        f"CAST(sum(CAST(floor(({expr}) * CAST({q!r} AS DOUBLE) + 0.5)"
        f" AS BIGINT)) AS BIGINT)"
    )


def duck_qsum_rounded(expr: str, ndigits: int, q: float = VALUE_Q) -> str:
    """DuckDB text twin of :func:`qsum_rounded`."""
    return duck_round_he(
        f"CAST({duck_qsum(expr, q)} AS DOUBLE) / CAST({q!r} AS DOUBLE)", ndigits
    )


def qavg_rounded(
    col: Column | str, ndigits: int, q: float = VALUE_Q
) -> Column:
    """``round_he(avg(col), ndigits)`` with the sum on the integer
    grid — the drop-in replacement for ``round(avg(col), ndigits)``
    output columns (NULLs excluded from numerator and denominator,
    matching avg())."""
    c = F.col(col) if isinstance(col, str) else col
    return round_he(
        qsum(c, q).cast("double") / F.lit(q) / F.count(c), ndigits
    )


def duck_qavg_rounded(expr: str, ndigits: int, q: float = VALUE_Q) -> str:
    """DuckDB text twin of :func:`qavg_rounded`."""
    return duck_round_he(
        f"CAST({duck_qsum(expr, q)} AS DOUBLE) / CAST({q!r} AS DOUBLE)"
        f" / count({expr})",
        ndigits,
    )


def duck_round_he(expr: str, ndigits: int) -> str:
    """The same rounding as :func:`round_he`, as DuckDB SQL text.

    The CAST keeps DuckDB from planning the literal as DECIMAL (DuckDB
    parses ``10000.0`` as DECIMAL(6,1), which would change the math).
    """
    scale = float(10**ndigits)
    return (
        f"floor(({expr}) * CAST({scale!r} AS DOUBLE) + 0.5)"
        f" / CAST({scale!r} AS DOUBLE)"
    )


# -- Spark-SQL text twins ----------------------------------------------------
#
# Same IEEE ops as the Column helpers above, as Spark SQL TEXT for use
# inside F.expr()/selectExpr() strings. Why text: building a rounded
# aggregate through the Column API costs ~15 Python<->JVM round trips
# per output column (each operator call crosses py4j at ~1-3 ms on the
# bench sandbox — measured round 11; tools/query_profile.py counts
# them), while one F.expr ships the whole expression in a single parse.
# The `D` suffix on literals is load-bearing: a bare `10000.0` parses as
# DECIMAL(6,1) in Spark SQL (the Column path's F.lit(10000.0) is
# DOUBLE), which would change the arithmetic. floor(DOUBLE) is BIGINT on
# both paths, so the resolved expression trees — and therefore the
# values — are identical to the Column versions.


def sql_round_he(expr: str, ndigits: int) -> str:
    """Spark-SQL text twin of :func:`round_he`."""
    scale = float(10**ndigits)
    return f"floor(({expr}) * {scale!r}D + 0.5D) / {scale!r}D"


def sql_qsum(expr: str, q: float = VALUE_Q) -> str:
    """Spark-SQL text twin of :func:`qsum`."""
    return (
        f"CAST(sum(CAST(floor(({expr}) * {q!r}D + 0.5D)"
        f" AS BIGINT)) AS BIGINT)"
    )


def sql_qsum_rounded(expr: str, ndigits: int, q: float = VALUE_Q) -> str:
    """Spark-SQL text twin of :func:`qsum_rounded`."""
    return sql_round_he(f"CAST({sql_qsum(expr, q)} AS DOUBLE) / {q!r}D", ndigits)


def sql_qavg_rounded(expr: str, ndigits: int, q: float = VALUE_Q) -> str:
    """Spark-SQL text twin of :func:`qavg_rounded`."""
    return sql_round_he(
        f"CAST({sql_qsum(expr, q)} AS DOUBLE) / {q!r}D / count({expr})",
        ndigits,
    )
