"""Vector math over ArrayType(FloatType) embedding columns.

All expressions use F.zip_with / F.aggregate (JVM higher-order
functions) over fixed-order arrays, so dot products accumulate
left-to-right deterministically — the same order DuckDB's list
functions use, which keeps the oracle hash-stable. Elements are cast
to double before any arithmetic (float32 upcast is exact).

For 100 TB-scale ANN, brute force is the correctness baseline and the
IVF path (crane_spark.llm.similarity) prunes candidates by centroid
assignment before the exact re-rank.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F


# Plain-identifier gate for the parsed fast paths below: when an
# argument is a bare column NAME, the whole HOF is assembled as ONE
# server-side-parsed expression instead of ~30-40 py4j round-trips of
# Column-DSL lambda construction (r10, guide §1.2 — these helpers sit
# under every embedding query, and gateway chatter was a measurable
# slice of per-query build time). The parsed trees are identical:
# `x -> cast(x as double)` IS the DSL lambda, `0.0D` IS F.lit(0.0).
_NAME_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _sql_name(col) -> str | None:
    return col if isinstance(col, str) and _NAME_RE.match(col) else None


def to_double_vec(col: Column | str) -> Column:
    n = _sql_name(col)
    if n is not None:
        return F.expr(f"transform({n}, x -> cast(x as double))")
    col = F.col(col) if isinstance(col, str) else col
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column | str, b: Column | str) -> Column:
    """Left-to-right dot product of two array<double> columns."""
    na, nb = _sql_name(a), _sql_name(b)
    if na is not None and nb is not None:
        return F.expr(
            f"aggregate(zip_with({na}, {nb}, (x, y) -> x * y), 0.0D, "
            "(acc, v) -> acc + v)"
        )
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def vec_norm(a: Column | str) -> Column:
    n = _sql_name(a)
    if n is not None:
        return F.expr(f"sqrt(aggregate({n}, 0.0D, (acc, v) -> acc + v * v))")
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))
