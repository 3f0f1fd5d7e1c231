"""Z-order layout: the Morton key in operators/layout (the one the
zorder_locality oracle query is built on) against a pure-Python
bit-twiddled reference, and its BIGINT bit-budget guard."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crane_spark.operators.layout import morton_expr


def _py_morton(vals: list[int], bits: int) -> int:
    k = len(vals)
    z = 0
    for i in range(bits):
        for j, v in enumerate(vals):
            z |= ((v >> i) & 1) << (i * k + (k - 1 - j))
    return z


def test_morton_key_matches_python_reference(spark):
    """The generated interleave polynomial must equal the bit-twiddled
    Python Morton code for every (a, b) pair on a 4-bit grid, and keep
    dimension 0 most significant for k=3."""
    bits = 4
    rows = spark.range(256).select(
        (F.col("id") % 16).alias("a"), (F.col("id") / 16).cast("long").alias("b")
    )
    out = rows.withColumn("_z", F.expr(morton_expr(["a", "b"], bits))).collect()
    assert len(out) == 256
    for r in out:
        assert r["_z"] == _py_morton([r["a"], r["b"]], bits), (r["a"], r["b"])

    triples = spark.createDataFrame(
        [(3, 1, 0), (3, 1, 3), (0, 2, 2)], "a long, b long, c long"
    )
    for r in triples.withColumn(
        "_z", F.expr(morton_expr(["a", "b", "c"], 2))
    ).collect():
        assert r["_z"] == _py_morton([r["a"], r["b"], r["c"]], 2), r


def test_morton_bit_budget_guard():
    """ADVICE r6: bit weights must never exceed BIGINT — bits*k > 62
    raises up front instead of wrapping."""
    with pytest.raises(ValueError, match="62"):
        morton_expr([f"c{i}" for i in range(8)], bits=8)
    # 62 exactly is fine
    morton_expr(["a", "b"], bits=31)
