"""Numerically-stable aggregate helpers.

Floating-point SUM is order-dependent; Spark's partial aggregation
order differs run-to-run and engine-to-engine, so a raw
``sum(double)`` can never hash-match an oracle bit-for-bit. The fix
is exact decimal accumulation: cast each row to a fixed-scale
DECIMAL, sum exactly, cast the total back to DOUBLE. Both Spark and
DuckDB then produce the *identical* double, independent of partition
count or visit order — which also means results are stable across a
1000-executor cluster re-shuffle.

AVG is derived as exact-sum / count so the division happens once on
identical inputs (IEEE-deterministic), instead of engine-internal
running means.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# scale 6 keeps money-like doubles (2-decimal origin, products of a
# few of them) exact (charge = price×disc×tax is exactly 6 dp) while leaving 32 digits of headroom for
# the sum at 100 TB row counts.
DECIMAL_T = "decimal(38,6)"


def stable_sum(col: Column | str, alias: str | None = None) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    out = F.sum(c.cast(DECIMAL_T)).cast("double")
    return out.alias(alias) if alias else out


def stable_avg(col: Column | str, alias: str | None = None) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    out = F.round(F.sum(c.cast(DECIMAL_T)).cast("double") / F.count(c), 6)
    return out.alias(alias) if alias else out


def stable_sum_expr(sql_expr: str) -> str:
    """DuckDB-side rendering of :func:`stable_sum` for oracle strings."""
    return f"CAST(SUM(CAST(({sql_expr}) AS DECIMAL(38,6))) AS DOUBLE)"


def stable_avg_expr(sql_expr: str) -> str:
    return (
        f"ROUND(CAST(SUM(CAST(({sql_expr}) AS DECIMAL(38,6))) AS DOUBLE)"
        f" / COUNT({sql_expr}), 6)"
    )
