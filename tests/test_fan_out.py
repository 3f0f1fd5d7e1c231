"""fan_out's trusted-parallelism reconciliation (crane_spark.tables).

The planner's byte-range split count over-reports the real read
parallelism of parquet: splits realign on row-group boundaries, so a
single-row-group file scans as ONE task no matter how many splits the
planner announces. fan_out must see through that (via footer metadata)
and repartition; conversely it must NOT pay a repartition for files
whose row-group layout genuinely backs the planner's splits.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from crane_spark.tables import _FAN_OUT_CACHE, fan_out

# ~1 MiB of payload so tiny maxPartitionBytes yields many planner splits.
_N_ROWS = 4096
_PAYLOAD = 256


def _write_rows(spark, path: str, block_size: int | None) -> None:
    # High-entropy payload: constant strings dictionary-encode away and
    # the file would undershoot every split threshold.
    pad = F.concat(*[F.sha2(F.concat(F.col("id").cast("string"), F.lit(i)), 256) for i in range(_PAYLOAD // 64)])
    df = spark.range(_N_ROWS).repartition(1).select("id", pad.alias("pad"))
    w = df.write.mode("overwrite")
    if block_size is not None:
        w = w.option("parquet.block.size", str(block_size))
    w.parquet(path)


@pytest.fixture()
def tiny_splits(spark):
    """Force the planner to announce many byte-range splits per file."""
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    old_open = spark.conf.get("spark.sql.files.openCostInBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(64 * 1024))
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    yield
    spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    spark.conf.set("spark.sql.files.openCostInBytes", old_open)


def test_single_row_group_file_is_repartitioned(spark, tmp_path, tiny_splits):
    # One task writes one file with one giant row group: the planner
    # announces ~16 splits of which 15 read zero rows. fan_out must not
    # trust them.
    path = str(tmp_path / "one_rg.parquet")
    _write_rows(spark, path, block_size=None)
    df = spark.read.parquet(path)
    assert df.rdd.getNumPartitions() >= 4, "planner should over-report splits"
    out = fan_out(df)
    assert out is not df, "single-row-group scan must be repartitioned"
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_multi_row_group_file_is_trusted(spark, tmp_path, tiny_splits):
    # Same bytes, small row groups: the planner's splits are real and
    # the frame must come back untouched (no shuffle inserted).
    path = str(tmp_path / "many_rg.parquet")
    _write_rows(spark, path, block_size=32 * 1024)
    import pyarrow.parquet as pq

    part = [f for f in os.listdir(path) if f.endswith(".parquet")][0]
    n_rgs = pq.ParquetFile(os.path.join(path, part)).metadata.num_row_groups
    assert n_rgs >= 4, f"fixture must have many row groups, got {n_rgs}"
    df = spark.read.parquet(path)
    assert df.rdd.getNumPartitions() >= 4
    out = fan_out(df)
    assert out is df, "well-laid-out parquet must not pay a repartition"


def test_text_splits_are_trusted(spark, tmp_path, tiny_splits):
    # Line formats realign byte ranges on record boundaries at read
    # time — the planner's splits are real parallelism, no footer veto.
    path = str(tmp_path / "lines.txt")
    spark.range(_N_ROWS).repartition(1).select(
        F.concat(F.lit("x" * _PAYLOAD), F.col("id").cast("string")).alias("value")
    ).write.mode("overwrite").text(path)
    df = spark.read.text(path)
    assert df.rdd.getNumPartitions() >= 4
    out = fan_out(df)
    assert out is df


def test_decision_is_cached_per_file_set(spark, tmp_path, tiny_splits):
    path = str(tmp_path / "cached.parquet")
    _write_rows(spark, path, block_size=None)
    df = spark.read.parquet(path)
    fan_out(df)
    key = tuple(sorted(df.inputFiles()))
    assert key in _FAN_OUT_CACHE
    assert _FAN_OUT_CACHE[key] == 1  # one row group -> one trusted split


def test_orc_stripes_are_probed_not_capped(spark, tmp_path, tiny_splits):
    """ORC files must be probed for their actual stripe layout (stripes
    are ORC's split-realignment unit, like parquet row groups) —
    regression: routing .orc through the parquet footer reader threw,
    landing every ORC input in the conservative per-file cap and paying
    spurious repartitions on well-striped files."""
    from pyarrow import orc as pa_orc

    from crane_spark.tables import _file_chunks

    path = str(tmp_path / "data.orc")
    pad = F.concat(
        *[
            F.sha2(F.concat(F.col("id").cast("string"), F.lit(i)), 256)
            for i in range(_PAYLOAD // 64)
        ]
    )
    spark.range(_N_ROWS).repartition(1).select("id", pad.alias("pad")).write.mode(
        "overwrite"
    ).orc(path)
    part = os.path.join(
        path, [f for f in os.listdir(path) if f.endswith(".orc")][0]
    )
    nstripes = pa_orc.ORCFile(part).nstripes
    assert _file_chunks(part) == nstripes
    df = spark.read.orc(path)
    n_planner = df.rdd.getNumPartitions()
    fan_out(df)
    key = tuple(sorted(df.inputFiles()))
    assert _FAN_OUT_CACHE[key] == min(n_planner, nstripes)


def test_table_handle_cache_reuses_lazy_scan(spark, sf_dir):
    """table() returns one reader handle per (session, dir, name):
    spark.read.parquet pays ~0.1 s of listing + footer schema read per
    call, so builders that load the same input repeatedly must not
    re-pay it (r10). The cached object is a LAZY scan — actions still
    read the files — and distinct dirs/tables get distinct handles."""
    from crane_spark.tables import table

    a = table(spark, sf_dir, "lineitem")
    assert table(spark, sf_dir, "lineitem") is a
    assert table(spark, sf_dir, "orders") is not a
    # events keeps its ts normalization through the cache
    ev = table(spark, sf_dir, "events")
    assert table(spark, sf_dir, "events") is ev
    assert ev.schema["ts"].dataType.typeName() == "timestamp"
    # the handle is a plan, not a result: a fresh action still scans
    assert a.count() == table(spark, sf_dir, "lineitem").count()


def test_table_handle_refresh_and_invalidation(spark, sf_dir):
    """r11 hardening of the handle cache's immutable-input contract:
    refresh=True hands out a fresh listing, invalidate_table_handles
    drops every handle under a path (the versioned-store put() hook),
    and unrelated dirs are untouched."""
    from crane_spark.tables import invalidate_table_handles, table

    a = table(spark, sf_dir, "lineitem")
    assert table(spark, sf_dir, "lineitem") is a
    b = table(spark, sf_dir, "lineitem", refresh=True)
    assert b is not a
    assert table(spark, sf_dir, "lineitem") is b
    # path-scoped invalidation: under sf_dir drops, elsewhere keeps
    c = table(spark, sf_dir, "orders")
    invalidate_table_handles("/nonexistent/other")
    assert table(spark, sf_dir, "orders") is c
    invalidate_table_handles(sf_dir)
    assert table(spark, sf_dir, "orders") is not c
    # rows are served from disk either way
    assert b.count() == table(spark, sf_dir, "lineitem").count()


class _Session:
    """Weak-referenceable stand-in for a SparkSession cache key."""


def test_invalidation_survives_a_session_added_mid_loop(monkeypatch):
    """invalidate_table_handles walks a snapshot of the sessions: a
    table() call that adds a session while it runs (another thread)
    must not abort the invalidation with 'dictionary changed size
    during iteration'."""
    from weakref import WeakKeyDictionary

    import crane_spark.tables as T

    cache = WeakKeyDictionary()
    late = _Session()

    class _AddsSessionOnIter(dict):
        def __iter__(self):
            cache.setdefault(late, {})
            return super().__iter__()

    first = _Session()
    cache[first] = _AddsSessionOnIter({("/data/sf", "orders"): "handle"})
    monkeypatch.setattr(T, "_TABLE_CACHE", cache)
    T.invalidate_table_handles("/data")
    assert cache[first] == {} and late in cache


def test_invalidation_keeps_remote_uris_whole(monkeypatch, tmp_path):
    """hdfs:// and s3a:// roots match handles under the same URI, from
    any working directory and with or without a trailing slash, and
    leave sibling prefixes and other buckets alone."""
    from weakref import WeakKeyDictionary

    import crane_spark.tables as T

    keys = [
        ("s3a://bucket/wh/sf", "lineitem"),
        ("s3a://bucket/wh2/sf", "lineitem"),
        ("s3a://other/wh/sf", "lineitem"),
        ("hdfs://nn:8020/wh/sf", "orders"),
    ]
    session = _Session()
    cache = WeakKeyDictionary({session: dict.fromkeys(keys, "handle")})
    monkeypatch.setattr(T, "_TABLE_CACHE", cache)
    monkeypatch.chdir(tmp_path)
    T.invalidate_table_handles("s3a://bucket/wh")
    T.invalidate_table_handles("hdfs://nn:8020/wh/")
    assert sorted(cache[session]) == [keys[1], keys[2]]
