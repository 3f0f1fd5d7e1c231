"""Z-order (Morton-curve) data layout for multi-dimensional scan
pruning.

At 100 TB, which rows share a file decides how much of the table a
filtered scan reads: parquet readers prune row groups by min/max
statistics (and file-level footers prune whole files), and statistics
are only selective when the rows inside each file/row group are CLOSE
in the filtered dimension. Sorting the table by one column makes that
column's stats perfectly selective and every other column's useless;
interleaving the bits of several columns' bucket ranks — the Morton /
Z-order curve (Morton 1966; the layout behind lakehouse
``OPTIMIZE ZORDER`` implementations) — gives every participating
dimension ~k-th-root selectivity at once: with ``files`` output
splits over k dimensions, each split covers roughly a
``files**(-1/k)`` fraction of each dimension's range instead of one
dimension at ``1/files`` and the rest at ``1``.

This module holds the one Morton key in the package: flat div/mod
arithmetic over uniform bucket ranks, no bit intrinsics, so the same
formula is expressible in ANSI SQL and the layout math is
differentially verifiable against DuckDB bit for bit
(queries/layout.zorder_locality). Callers bucket each dimension with
:func:`uniform_bucket_expr` and interleave the ranks with
:func:`morton_expr`.

Beyond-reference extension: the reference engine has no layout
optimizer; this is part of the 100 TB data-pipeline surface.
"""

from __future__ import annotations


def morton_expr(bucket_cols: list[str], bits: int, div: str = "div") -> str:
    """SQL fragment interleaving the low ``bits`` bits of each bucket
    column (all non-negative integers < 2**bits) into one Z-value.
    Dimension 0 takes the most significant bit of each interleaved
    group. Pure div/mod/multiply arithmetic — evaluates identically in
    Spark SQL (``div``) and DuckDB (``//``), which is what lets the
    locality query hash-match its oracle bit for bit.

    ``bits * len(bucket_cols)`` must fit a signed BIGINT: the largest
    bit weight is ``2**(bits*k - 1)``, so anything past 62 interleaved
    bits would silently wrap (ADVICE r6) — raises ``ValueError``
    instead. 62 bits is plenty: 8 dimensions x 7 bits (128 buckets
    each) or 4 x 15."""
    k = len(bucket_cols)
    if bits * k > 62:
        raise ValueError(
            f"morton key needs {bits * k} bits ({k} cols x {bits}) but a "
            "BIGINT holds 62 usable — lower bits or drop dimensions "
            "(k-th-root selectivity decays fast past ~4 dims anyway)"
        )
    terms = []
    for i in range(bits):
        for j, c in enumerate(bucket_cols):
            weight = 1 << (i * k + (k - 1 - j))
            terms.append(f"((({c} {div} {1 << i}) % 2) * {weight})")
    return "(" + " + ".join(terms) + ")"


def uniform_bucket_expr(
    col: str, mn: str, mx: str, buckets: int, div: str = "div"
) -> str:
    """SQL fragment for the uniform bucket rank of integral ``col``
    within [mn, mx]: ``(col - mn) * buckets div (mx - mn + 1)`` — in
    0..buckets-1 by construction (the +1 keeps col == mx below the
    cap), degenerate single-value ranges land in bucket 0. Operands
    must already be BIGINT to keep the multiply exact."""
    return f"((({col} - {mn}) * {buckets}) {div} ({mx} - {mn} + 1))"
