"""Loaders for the test star schema (TESTDATA.md).

One parquet file per table under ``{sf_dir}/{name}.parquet``. At the
100 TB design point each of these becomes a partitioned (and for the
fact tables, bucketed-by-join-key) parquet/iceberg dataset; the loader
API stays the same, so queries are written against `table()` and never
against literal paths.
"""

from __future__ import annotations

import os
from urllib.parse import urlsplit
from weakref import WeakKeyDictionary

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables that should always be broadcast when joined against
# a fact table (small at every realistic SF).
BROADCAST_DIMS: frozenset[str] = frozenset(
    {"region", "nation", "supplier", "part", "customer"}
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# DataFrame HANDLE cache, per session: every `spark.read.parquet(...)`
# call pays ~0.1 s of driver-side file listing + footer schema read
# before any query logic runs, and builders call table() for each input
# — measured 0.6 s of q5's 0.8 s construction time (r10, guide §1.2).
# The static star-schema inputs list the same way every time within a
# session, so the reader handle is built once per (session, dir, name).
# The cached object is an UNEXECUTED lazy scan plan — every action
# still reads the parquet files; no rows, results, or intermediates are
# stored (same discipline as _FAN_OUT_CACHE below). Keyed weakly by the
# session so a stopped session's handles are collectable.
_TABLE_CACHE: "WeakKeyDictionary[SparkSession, dict]" = WeakKeyDictionary()


def table(
    spark: SparkSession, sf_dir: str, name: str, refresh: bool = False
) -> DataFrame:
    """Reader handle for one star-schema table.

    IMMUTABLE-INPUT CONTRACT (r11, hardening the r10 handle cache):
    the handle caches the file listing + schema taken at first read,
    so the parquet files under ``{sf_dir}/{name}.parquet`` must not be
    rewritten within a session — a writer that does (e.g. a fixture
    regenerator) must pass ``refresh=True`` (or call
    :func:`invalidate_table_handles`) to force a re-list, or stale
    file lists surface as silent stale reads / FileNotFound at
    execution. Engine write paths never touch these dirs: the
    versioned snapshot store (sources/versioned.py) writes NEW
    immutable version directories and additionally calls
    :func:`invalidate_table_handles` defensively on its root.
    """
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    per_session = _TABLE_CACHE.setdefault(spark, {})
    key = (_dir_key(sf_dir), name)
    if refresh:
        per_session.pop(key, None)
    df = per_session.get(key)
    if df is None:
        if name == "events":
            df = _read_events(spark, sf_dir)
        else:
            df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        per_session[key] = df
    return df


def _dir_key(path: str) -> str:
    """Handle-cache key of a table directory. Local paths, bare or
    ``file:``, are made absolute; any other URI (hdfs://, s3a://, ...)
    is kept as written, because os.path.abspath would prefix it with
    the working directory and collapse its ``//``."""
    parts = urlsplit(path)
    if not parts.scheme:
        return os.path.abspath(path)
    if parts.scheme == "file":
        return os.path.abspath(parts.path)
    return path.rstrip("/")


def invalidate_table_handles(path: str) -> None:
    """Drop every cached reader handle (any session) whose table dir
    lies under ``path`` — the invalidation hook for code that writes
    into a directory tree previously read through :func:`table`.

    Iterates a snapshot of the sessions: another thread's
    :func:`table` may add one mid-loop."""
    root = _dir_key(path)
    under = root.rstrip("/") + "/"
    for per_session in list(_TABLE_CACHE.values()):
        stale = [k for k in per_session if k[0] == root or k[0].startswith(under)]
        for k in stale:
            per_session.pop(k, None)


def scan_input_bytes(df: DataFrame) -> int:
    """Total bytes feeding ``df``'s scan, for size-based plan gates
    (e.g. copurchase_pairs' basket-exchange width).

    Local `file:` paths are sized exactly with os.path.getsize. When
    NONE resolve locally — hdfs://, s3a://, abfs:// — fall back to
    the optimizer's relation statistics (`sizeInBytes`, derived from
    the same file lengths via the Hadoop FS listing Spark already
    performed), so gates still ENGAGE off local disk instead of
    silently reading 0 and reverting to an ungated plan (ADVICE r9).
    The statistics path can over-count by the plan's column-pruning
    ratio; gates calibrated in MB-per-task terms tolerate that — the
    failure mode being fixed is 0-vs-real, not a 2x estimate. Returns
    0 only when both paths are unavailable."""
    sizes = [
        os.path.getsize(p)
        for f in df.inputFiles()
        if os.path.isfile(p := f.removeprefix("file:"))
    ]
    if sizes:
        return sum(sizes)
    try:
        return int(
            str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
    except Exception:
        return 0


def _read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.ts may be TIMESTAMP(NANOS) parquet, which Spark's reader
    rejects. Read nanos as long and truncate to microseconds with
    exact integer arithmetic (`div`, not double division — ns epochs
    exceed 2^53). Matches DuckDB's own ns -> us truncation, so the
    oracle agrees on every timestamp. Data generated with plain µs
    timestamps may instead resolve as TIMESTAMP_NTZ; normalize to
    TimestampType so time functions (`unix_micros`, `window`) apply —
    the session timezone is pinned UTC, so values are unchanged.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(ts_type, TimestampNTZType):
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# fan_out decisions keyed by the scan's input-file set: computing the
# partition count of a plan (`df.rdd`) forces full physical planning
# plus a Python<->JVM RDD roundtrip, which costs ~0.5s of pure
# per-build overhead. The same files always split the same way within
# a session, so the answer is cached.
_FAN_OUT_CACHE: dict[tuple[str, ...], int] = {}

# Fallback trusted byte-range splits per parquet file when the footer
# is unreadable from the driver (remote filesystem): splits finer than
# the row-group layout read zero rows — see fan_out's docstring.
_SPLITS_PER_FILE_CAP = 8

# Footer metadata reads per distinct file set: one ~8 KB read per file,
# once per session (cached). Beyond the sample, extrapolate — a dataset
# with >64 files has enough file-level splits that the exact row-group
# total no longer changes the repartition decision.
_RG_SAMPLE_CAP = 64


def _file_chunks(path: str) -> int:
    """Independently-readable chunks in one columnar file: parquet row
    groups or ORC stripes (both are the realignment unit for byte-range
    splits of their format)."""
    if path.endswith(".orc"):
        from pyarrow import orc

        return orc.ORCFile(path).nstripes
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_row_groups


def _trusted_columnar_splits(files: tuple[str, ...], n_parts: int) -> int:
    """Trusted parallelism of a parquet/ORC scan: min(planner splits,
    total row groups / stripes). Byte-range splits of a columnar file
    realign on row-group (stripe) boundaries at read time, and those
    are invisible to the planner — a file written by one task can carry
    one giant row group, making the planner report N splits of which
    N-1 read zero rows while the whole scan serializes into one task
    (observed round 6: a 226 MB single-row-group documents file read
    137 s through a "19-split" scan). Footers are read with pyarrow
    (driver-side, ~8 KB each, sampled up to ``_RG_SAMPLE_CAP`` and
    extrapolated), so the answer is exact for local few-file inputs —
    the only regime where the decision is close. Files whose footer
    can't be reached (remote scheme, unreadable) fall back to
    ``_SPLITS_PER_FILE_CAP`` per file.
    """
    local: list[str] = []
    for f in files:
        p = f[len("file:") :] if f.startswith("file:") else f
        if not os.path.isfile(p):
            return min(n_parts, len(files) * _SPLITS_PER_FILE_CAP)
        local.append(p)
    try:
        sample = local[:_RG_SAMPLE_CAP]
        rgs = sum(_file_chunks(p) for p in sample)
        if len(local) > len(sample):
            rgs = rgs * len(local) // len(sample)
        return min(n_parts, max(1, rgs))
    except Exception:
        return min(n_parts, len(files) * _SPLITS_PER_FILE_CAP)


def fan_out(df: DataFrame) -> DataFrame:
    """Ensure a DataFrame has enough partitions to use the cluster.

    Single (or few-file, single-row-group) parquet inputs scan as one
    task, which serializes any compute-heavy downstream operator on one
    core. If the TRUSTED partition count is below half of
    defaultParallelism, round-robin repartition to defaultParallelism;
    otherwise return the frame untouched (at production scale file
    splits already provide parallelism and the extra shuffle would be
    pure cost).

    The planner's split count is trusted as-is for line-splittable
    formats (text/CSV/JSON realign byte ranges on record boundaries at
    read time). For parquet/ORC inputs it is reconciled against the
    actual row-group/stripe layout via ``_trusted_columnar_splits`` —
    the planner over-reports splits of single-row-group files, and
    acting on that over-report serializes heavy scans into one task.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    files = tuple(sorted(df.inputFiles()))
    if files in _FAN_OUT_CACHE:
        n_parts = _FAN_OUT_CACHE[files]
    else:
        n_parts = df.rdd.getNumPartitions()
        if files:
            if any(f.endswith((".parquet", ".orc")) for f in files):
                n_parts = _trusted_columnar_splits(files, n_parts)
            _FAN_OUT_CACHE[files] = n_parts
    if n_parts < max(1, target // 2):
        return df.repartition(target)
    return df
