"""SparkSession factory.

Defaults are written for the real design point — a multi-hundred-
executor cluster scanning ~100 TB — while remaining correct on the
local[N] test harness:

* AQE on (runtime coalescing, skew-join splitting, dynamic join
  strategy switch) so plans re-optimize with real statistics.
* Broadcast threshold raised to 64 MiB: every dimension table in the
  star schema (region/nation/supplier/part/customer at typical SFs)
  should broadcast; only fact-fact joins may shuffle.
* UTC session timezone: timestamp semantics must be engine-independent
  (the correctness oracle runs in DuckDB).
* Arrow enabled for the pandas interchange used by the vectorized UDF
  extension points (LLM ops); never row-at-a-time Python.
* Two partition counts, because AQE reads one and streaming the other.
  Batch exchanges start at
  `spark.sql.adaptive.coalescePartitions.initialPartitionNum`
  (SPARK_GRAFT_SHUFFLE, else 32) and AQE coalesces them down; on a
  real cluster set it ~2-3x total cores. Structured Streaming turns
  AQE off, so a stateful stream sizes its state store from
  `spark.sql.shuffle.partitions`, set to the session's core count
  (SPARK_GRAFT_CPUS, the N of `local[N]`): one state partition per
  core, because each micro-batch pays a task and a state-store commit
  per partition. The stream takes that count when it first starts and
  its checkpoint's offset log freezes it: resuming an existing
  checkpoint keeps its old count, and changing the count needs a new
  checkpoint. Under SPARK_GRAFT_MASTER without SPARK_GRAFT_CPUS the
  count stays 32.
* Streaming checkpoints (offset, commit and file-source logs, state
  store deltas and their checksum files) are written through Spark's
  `FileSystemBasedCheckpointFileManager`, not the FileContext one
  Spark picks by default. On a local `file:` path, every FileContext
  rename asks `RawLocalFileSystem.getFileLinkStatus`, which forks a
  `readlink` process; a state commit of a few thousand keys then
  spends ~100 ms per partition in process starts. `FileSystem.rename`
  is one `rename(2)`. The no-overwrite contract that concurrent-writer
  detection relies on stays: locally both managers check the target
  and then rename, and on HDFS `DistributedFileSystem.rename` refuses
  to overwrite atomically and the manager raises
  `FileAlreadyExistsException` on its `false`. Spark's best-effort
  `overwriteIfPossible` (state deltas and snapshots) differs: that
  same refusal, also made by the Hive `ProxyLocalFileSystem` that
  serves `file:` in pyspark, keeps the existing file, so a replayed
  batch keeps the delta its first attempt wrote for the same offsets.
  The files on disk are the same under both. Pass `extra_conf` with
  `FileContextBasedCheckpointFileManager` for a filesystem whose
  `FileSystem.rename` is not atomic.

Reference lineage: the reference hard-codes a 10-node cluster and a
500-tuple micro-batch (/root/reference/util.py:59-61, dfs/env.py:4-14);
here cluster topology is the cluster manager's job and batch sizing is
the trigger/file-split config below.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _cpus() -> str:
    return os.environ.get("SPARK_GRAFT_CPUS", "32")


DEFAULT_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    # events.parquet carries TIMESTAMP(NANOS); setting this up front
    # (rather than at first events read) avoids a mid-session conf flip
    # that invalidates cached relations.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum": os.environ.get(
        "SPARK_GRAFT_SHUFFLE", "32"
    ),
    "spark.sql.shuffle.partitions": _cpus(),
    # The streaming surface checkpoints for exactly-once. Default is
    # the JVM-heap HDFSBacked provider (right for local runs and small
    # state); set SPARK_GRAFT_STATESTORE=rocksdb for the cluster
    # choice when state outgrows executor heaps — BOTH providers are
    # exercised by tests/test_rocksdb_statestore.py (kill/resume and
    # checkpoint-loss replay produce identical results under each, via
    # the bundled rocksdbjni).
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state."
        + (
            "RocksDBStateStoreProvider"
            if os.environ.get("SPARK_GRAFT_STATESTORE", "").lower() == "rocksdb"
            else "HDFSBackedStateStoreProvider"
        )
    ),
    # One rename(2) per checkpoint file instead of a forked readlink
    # (see the module docstring).
    "spark.sql.streaming.checkpointFileManagerClass": (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    ),
    "spark.ui.enabled": "false",
    # Local-mode driver IS the executor: long many-query sessions
    # accumulate checkpoint/broadcast blocks, and an undersized heap
    # turns the tail of every benchmark pass into GC (8g -> 16g
    # measured 22% off the 189-query total, 28% off the heaviest
    # query). On a real cluster this knob is executor memory instead.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
}


def default_master() -> str:
    return os.environ.get("SPARK_GRAFT_MASTER", f"local[{_cpus()}]")


def get_spark(
    app_name: str = "crane_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession."""
    builder = SparkSession.builder.appName(app_name).master(master or default_master())
    conf = dict(DEFAULT_CONF)
    if extra_conf:
        conf.update(extra_conf)
    for key, value in conf.items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
