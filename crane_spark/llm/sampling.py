"""Deterministic sampling and dataset splitting for training-data
pipelines.

`df.sample()` draws from a per-partition RNG — results change with
partitioning, retries, and engine, which is unacceptable for a
reproducible 100 TB corpus build. Everything here derives the sampling
decision from a cryptographic hash of a stable key instead:

* content-addressed and repartition-proof (the same row always lands
  on the same side, on any cluster layout, on any engine),
* oracle-checkable (md5 is md5 everywhere),
* streaming-safe (a pure per-row predicate — no state, no coordination),
* extensible to stratified rates (per-class thresholds on the same
  hash) and k-way splits (hash bucket modulo k).

The hash bucket is the first 4 hex chars of md5(salt || key) read as
an integer in [0, 65536) — plenty of resolution for per-mille rates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

HASH_SPACE = 65536  # 16 bits of md5 prefix


def hash_bucket(key: Column | str, salt: str = "") -> Column:
    """Uniform [0, 65536) bucket from md5(salt || key). The key is
    cast to string so numeric and string ids hash identically."""
    key = F.col(key) if isinstance(key, str) else key
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), key.cast("string"))), 1, 4), 16, 10
    ).cast("long")


def sql_hash_bucket(key: str, salt: str = "") -> str:
    """DuckDB twin of :func:`hash_bucket`."""
    return (
        f"CAST('0x' || substring(md5('{salt}' || CAST({key} AS VARCHAR)), 1, 4) "
        f"AS BIGINT)"
    )


def deterministic_sample(
    df: DataFrame, key: Column | str, fraction: float, salt: str = ""
) -> DataFrame:
    """Keep ~`fraction` of rows, chosen by content hash of `key`."""
    return df.filter(hash_bucket(key, salt) < int(fraction * HASH_SPACE))


def train_test_split(
    df: DataFrame, key: Column | str, test_fraction: float = 0.1
) -> DataFrame:
    """Tag each row 'train' or 'test' — same row, same side, forever.
    Adds a `split` column; filter on it for either side."""
    is_test = hash_bucket(key, "split") < int(test_fraction * HASH_SPACE)
    return df.withColumn("split", F.when(is_test, "test").otherwise("train"))


def stratified_sample(
    df: DataFrame,
    key: Column | str,
    strata_col: str,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
    salt: str = "",
) -> DataFrame:
    """Per-stratum hash sampling: each value of `strata_col` keeps its
    own fraction (e.g. downsample boilerplate-heavy sources, keep all
    of rare high-quality ones). Unlisted strata keep `default_fraction`."""
    threshold = F.lit(int(default_fraction * HASH_SPACE))
    for value, frac in sorted(fractions.items()):
        threshold = F.when(
            F.col(strata_col) == value, F.lit(int(frac * HASH_SPACE))
        ).otherwise(threshold)
    return df.filter(hash_bucket(key, salt) < threshold)


def equal_mixture_sample(
    df: DataFrame, key: Column | str, source_col: str = "source", salt: str = "mix"
) -> DataFrame:
    """Rebalance a corpus to EQUAL per-source shares by downsampling
    (the data-mixing step of a training run, with uniform target
    weights). The keep-rate for source s is n_min / n_s — the largest
    rates that equalize shares without upsampling — applied as a
    deterministic hash threshold, so the mix is reproducible under any
    partitioning and incrementally stable as sources grow.

    One aggregate computes the per-source counts (broadcast back as a
    tiny join), then the sample is a pure per-row predicate on the
    scan: no shuffle of the corpus itself.
    """
    counts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("__n"))
    n_min = counts.agg(F.min("__n").alias("m"))
    rates = counts.crossJoin(F.broadcast(n_min)).select(
        source_col,
        "__n",
        F.floor(F.lit(HASH_SPACE) * F.col("m") / F.col("__n")).alias("__thr"),
    )
    return (
        df.join(F.broadcast(rates), source_col)
        .filter(hash_bucket(key, salt) < F.col("__thr"))
        .drop("__n", "__thr")
    )
