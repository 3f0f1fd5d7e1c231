"""Count-min sketch: mergeable frequency estimation in fixed space.

Completes the mergeable-sketch family (bitmap = exact distinct, HLL =
approx distinct, CMS = approx FREQUENCY): the sketch is a depth x width
counter matrix whose size is independent of both row count and key
cardinality, partials merge by cell-wise addition (a plain SUM
group-by), and any key's count is estimated after the fact as the MIN
over its depth cells. Guarantees: estimate >= true count always (counts
only ever collide upward), and estimate <= true + (2/width) * N with
probability 1 - (1/2)^depth (Cormode & Muthukrishnan 2005).

The 100 TB use: per-segment sketches persist as depth*width longs
(64 KB at the defaults) and re-aggregate without rescanning the corpus
— "how often does this n-gram / URL / token appear, per shard, per
day" from sketch merges alone. Long-tail keys inflate; heavy hitters
(the keys one actually asks about) are tight.

Representation: a (row, bucket, cnt) long table — at most depth*width
rows after aggregation, mergeable by union + re-sum.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CMS_DEPTH = 4
CMS_WIDTH = 2048


def _cells(col: str, depth: int, width: int) -> F.Column:
    """Array of (row, bucket) structs for a key: one independently
    seeded xxhash64 per sketch row."""
    return F.array(
        *[
            F.struct(
                F.lit(j).alias("row"),
                F.pmod(F.xxhash64(F.col(col), F.lit(j)), F.lit(width))
                .cast("int")
                .alias("bucket"),
            )
            for j in range(depth)
        ]
    )


def cms_build(
    items: DataFrame, col: str, depth: int = CMS_DEPTH, width: int = CMS_WIDTH
) -> DataFrame:
    """Aggregate an item stream into the (row, bucket, cnt) sketch.

    explode -> hash-aggregate: the depth-fold fan-out collapses in the
    map-side combine (each task emits <= depth*width cells no matter
    how many items it saw), so the shuffle is sketch-sized, not
    data-sized.
    """
    return (
        items.select(F.explode(_cells(col, depth, width)).alias("c"))
        .groupBy(F.col("c.row").alias("row"), F.col("c.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_estimate(
    candidates: DataFrame,
    sketch: DataFrame,
    col: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Estimated count per candidate key: probe the candidate's depth
    cells and take the min. The sketch is at most depth*width rows —
    always broadcast — so probing N candidates is a broadcast join,
    never a shuffle."""
    probes = candidates.select(
        F.col(col), F.explode(_cells(col, depth, width)).alias("c")
    ).select(col, F.col("c.row").alias("row"), F.col("c.bucket").alias("bucket"))
    return (
        probes.join(F.broadcast(sketch), ["row", "bucket"], "left")
        .groupBy(col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est_count"))
    )
