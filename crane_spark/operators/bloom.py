"""Broadcast Bloom filter: set-membership pruning without a join.

The pattern this enables at 100 TB: a reference key set (eval-benchmark
n-grams, a blocklist, yesterday's keys) is folded into a few-KB bit
array ONCE, shipped to every task as a literal, and the fact scan
filters rows with pure JVM bit arithmetic — no shuffle, no hash table
build, inside WholeStageCodegen. False positives are possible (bits
collide), false negatives are not, so the filter is always followed by
an exact verify join over the (tiny) surviving fraction; the pair is
lossless.

This is the same idea Spark's own runtime row-level filtering uses for
join pruning; building it explicitly makes it available to any
operator (semi-join contamination checks, blocklist filters) and
keeps the filter reusable across queries.

Representation: ``m_words`` 64-bit longs = ``64 * m_words`` bits;
``k`` probe positions per key from ``xxhash64(key, seed)``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _positions(col: Column, m_bits: int, k: int) -> list[Column]:
    """k bit positions for a key: independent xxhash64 seeds, pmod'd
    into the bit range (xxhash64 is signed; pmod keeps positions >=0)."""
    return [F.pmod(F.xxhash64(col, F.lit(j)), F.lit(m_bits)) for j in range(k)]


def build_bloom(keys: DataFrame, col: str, m_words: int = 4096, k: int = 3) -> list[int]:
    """Fold a key DataFrame into a bit array (list of m_words longs).

    Distributed build: explode each key into k (word, bit) pairs and
    BIT_OR-aggregate the masks per word — map-side combine collapses
    every partition to <= m_words rows, so the driver collects a
    bounded, key-count-independent result (32 KB at the default size).
    """
    m_bits = 64 * m_words
    c = F.col(col)
    words = (
        keys.select(F.explode(F.array(*_positions(c, m_bits, k))).alias("p"))
        .select(
            (F.col("p") / 64).cast("int").alias("w"),
            F.pmod(F.col("p"), F.lit(64)).cast("int").alias("b"),
        )
        .select("w", F.expr("shiftleft(CAST(1 AS BIGINT), b)").alias("m"))
        .groupBy("w")
        .agg(F.bit_or("m").alias("word"))
    )
    arr = [0] * m_words
    for row in words.collect():
        arr[row["w"]] = row["word"]
    return arr


def filter_might_contain(
    df: DataFrame, col: str, words: list[int], k: int = 3
) -> DataFrame:
    """Keep rows whose ``col`` MIGHT be in the filter (definite misses
    are dropped). Pure-JVM evaluation: the bit array rides along as an
    array literal; probes are element_at + shiftright — no shuffle, no
    Python. Follow with an exact join on the survivors for exactness.
    """
    m_bits = 64 * len(words)
    # One server-side expression for the whole bit array: F.lit(list)
    # would issue one py4j call per element (~seconds of driver time
    # for a 4096-word filter, per query build); a single array(...) SQL
    # literal parses JVM-side and constant-folds identically.
    arr_sql = "array(" + ",".join(f"{w}L" for w in words) + ")"
    probed = df.withColumn("__bloom", F.expr(arr_sql))
    preds = []
    for j, p in enumerate(_positions(F.col(col), m_bits, k)):
        probed = probed.withColumn(f"__bp{j}", p)
        preds.append(
            f"(shiftright(element_at(__bloom, CAST(__bp{j} DIV 64 AS INT) + 1), "
            f"CAST(pmod(__bp{j}, 64) AS INT)) & CAST(1 AS BIGINT)) = CAST(1 AS BIGINT)"
        )
    kept = probed.filter(F.expr(" AND ".join(preds)))
    return kept.drop("__bloom", *[f"__bp{j}" for j in range(k)])
