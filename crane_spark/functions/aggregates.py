"""Exact (order-independent) float aggregation.

Summing IEEE doubles is order-dependent, and Spark's shuffle order is
nondeterministic — two runs (or two engines) can disagree in the last
ulp. Every money/measure aggregate in the engine therefore routes
through a fixed-scale DECIMAL: cast each addend to DECIMAL(28, s)
(exact for the 2-6 decimal data in the schema), sum exactly, and cast
the final value back to DOUBLE. The result is bit-identical regardless
of partitioning, parallelism, or engine — which is what makes the
DuckDB value-hash oracle viable — and it costs one codegen'd cast per
row, nothing at 100 TB scale.

The ``sql_*`` twins emit the identical computation as ANSI SQL for the
oracle side, so Spark and DuckDB always run the same arithmetic.

Reference lineage: the reference's aggregating bolts sum Python ints/
floats in a dict and merge at the master (word_count_topology.py:29-38,
crane_master.py:95-98); partial/final split here is Catalyst's
automatic partial_sum over the decimal column.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# 28 integral+fractional digits: sums of 1e12 rows of 1e9-sized values
# still fit, while staying under Spark's 38-digit cap after the +10
# precision bump sum() applies.
PRECISION = 28


def dsum(col: Column | str, scale: int = 2) -> Column:
    """Exact sum of a double column, returned as double."""
    col = F.col(col) if isinstance(col, str) else col
    return F.sum(col.cast(T.DecimalType(PRECISION, scale))).cast("double")


def sql_dsum(expr: str, scale: int = 2) -> str:
    """DuckDB-side twin of :func:`dsum` (same arithmetic, same result)."""
    return f"CAST(SUM(CAST({expr} AS DECIMAL({PRECISION},{scale}))) AS DOUBLE)"


# --------------------------------------------------------------------
# Fixed-point-units arithmetic for MONEY PRODUCTS.
#
# dsum's per-term double->decimal cast is exact for single nominally-
# fixed-point columns (the double sits within ~1e-11 of its 2dp grid
# point, never near a rounding boundary). PRODUCTS of such doubles
# land anywhere relative to the finer target grid — including within
# half-an-ulp of a .5 boundary, where Spark (shortest-repr HALF_UP)
# and DuckDB (binary-expansion) round DIFFERENTLY. Measured: TPC-H
# Q1's 3-factor sum_charge diverged by adjacent-double at the sf1
# rung while passing at sf0.1 (final double rounding masked the
# decimal-sum gap one decade down).
#
# The robust formulation snaps each FACTOR to exact integer units
# (round(x*100) — unambiguous in both engines because the data is
# nominally 2dp), multiplies in exact integer arithmetic, sums the
# integer units through DECIMAL(28,0), and divides ONCE at the end:
# the sum is the same integer in both engines, so the final
# cast-to-double and division are identical IEEE operations. This is
# also the semantically honest arithmetic — TPC-H money IS
# fixed-point.


def units(col: Column | str) -> Column:
    """Exact integer cents of a nominally-2-decimal money column."""
    col = F.col(col) if isinstance(col, str) else col
    return F.round(col * F.lit(100)).cast("long")


def sql_units(expr: str) -> str:
    return f"CAST(round(({expr}) * 100) AS BIGINT)"


def usum(unit_expr: Column, tens: int) -> Column:
    """Exact sum of integer fixed-point units, returned as double
    scaled down by 10^tens (one cast + one division, identical IEEE
    in any engine)."""
    return F.sum(unit_expr.cast(T.DecimalType(PRECISION, 0))).cast("double") / F.lit(
        float(10**tens)
    )


def sql_usum(unit_expr: str, tens: int) -> str:
    return (
        f"(CAST(SUM(CAST({unit_expr} AS DECIMAL({PRECISION},0))) AS DOUBLE)"
        f" / {10 ** tens}.0)"
    )


def revenue_units() -> Column:
    """l_extendedprice * (1 - l_discount) as exact integer units of
    1e-4: cents * (100 - discount_cents)."""
    return units("l_extendedprice") * (F.lit(100) - units("l_discount"))


SQL_REVENUE_UNITS = (
    f"({sql_units('l_extendedprice')} * (100 - {sql_units('l_discount')}))"
)


def revenue_usum() -> Column:
    """Exact sum of l_extendedprice*(1-l_discount), as double."""
    return usum(revenue_units(), 4)


SQL_REVENUE_USUM = sql_usum(SQL_REVENUE_UNITS, 4)
