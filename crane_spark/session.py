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
* `file:` is served by `crane_spark.jvm.LocalFileSystem`
  (jvm/LocalFileSystem.java). Hadoop 3.4.2 as bundled with pyspark
  has no native library, so `RawLocalFileSystem.setPermission` forks
  a `chmod` process, and every `create` calls it for the file and
  again for its `.crc`: each checkpoint, state delta and local
  parquet file cost two process starts (TUNING.md has the numbers). The
  class sets the same mode bits through java.nio (the sticky bit
  still takes `chmod`) and keeps the one change Hive's
  `ProxyLocalFileSystem`, which serves `file:` otherwise, makes:
  `rename` refuses an existing file. `get_spark` compiles it with the
  JDK's `javac` once per checkout, into `jvm/build/`, a jar named by
  the hash of the source and the pyspark version. Two cases keep the
  Hadoop default: no `javac` next to the `java` Spark launches (a
  JRE-only host), and a non-`local` master, whose executors would not
  have the jar and whose checkpoints live on HDFS or S3, where Hadoop
  forks nothing.

Reference lineage: the reference hard-codes a 10-node cluster and a
500-tuple micro-batch (/root/reference/util.py:59-61, dfs/env.py:4-14);
here cluster topology is the cluster manager's job and batch sizing is
the trigger/file-split config below.
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil
import subprocess
import tempfile
import zipfile

import pyspark
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

_JVM_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm")
_FS_SOURCE = os.path.join(_JVM_DIR, "LocalFileSystem.java")
_FS_CLASS = "crane_spark.jvm.LocalFileSystem"


def _cpus() -> str:
    return os.environ.get("SPARK_GRAFT_CPUS", "32")


def _javac() -> str | None:
    """The javac next to the java Spark launches ($JAVA_HOME/bin/java,
    else java on PATH), or None on a JRE-only host."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not java:
        return None
    javac = os.path.join(os.path.dirname(os.path.realpath(java)), "javac")
    return javac if os.access(javac, os.X_OK) else None


def fs_jar_path(build_dir: str = os.path.join(_JVM_DIR, "build")) -> str:
    """Where the compiled `file:` filesystem lives: named by the hash of
    its source and the pyspark version, so an edit or an upgrade builds
    a new jar and a stale one is never loaded."""
    with open(_FS_SOURCE, "rb") as fh:
        digest = hashlib.sha256(fh.read() + pyspark.__version__.encode()).hexdigest()
    return os.path.join(build_dir, f"LocalFileSystem-{digest[:16]}.jar")


def build_fs_jar(jar: str, javac: str) -> None:
    """Compile LocalFileSystem.java into ``jar`` unless it exists. The
    jar is written under a temporary name in the same directory and
    renamed into place, so a concurrent session or build sees either
    no jar or a whole one."""
    if os.path.exists(jar):
        return
    build_dir = os.path.dirname(jar)
    os.makedirs(build_dir, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=build_dir, prefix=".build-") as tmp:
        classes = os.path.join(tmp, "classes")
        spark_jars = os.path.join(_find_spark_home(), "jars", "*")
        done = subprocess.run(
            [javac, "--release", "17", "-nowarn", "-cp", spark_jars, "-d", classes, _FS_SOURCE],
            capture_output=True,
            text=True,
        )
        if done.returncode:
            raise RuntimeError(f"javac failed on {_FS_SOURCE}:\n{done.stderr}")
        staged = os.path.join(tmp, "staged.jar")
        with zipfile.ZipFile(staged, "w") as zf:
            for top, _, files in os.walk(classes):
                for f in sorted(files):
                    path = os.path.join(top, f)
                    zf.write(path, os.path.relpath(path, classes))
        os.replace(staged, jar)


_JAVAC = _javac()
_FS_CONF = (
    {"spark.driver.extraClassPath": fs_jar_path(), "spark.hadoop.fs.file.impl": _FS_CLASS}
    if _JAVAC
    else {}
)


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
    # `file:` without a forked chmod per created file (see the module
    # docstring); get_spark builds the jar, or drops both entries for
    # a non-local master.
    **_FS_CONF,
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
    master = master or default_master()
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(DEFAULT_CONF)
    if _FS_CONF:
        if re.fullmatch(r"local(\[.*\])?", master):
            build_fs_jar(_FS_CONF["spark.driver.extraClassPath"], _JAVAC)
        else:
            for key in _FS_CONF:
                del conf[key]
    if extra_conf:
        conf.update(extra_conf)
    for key, value in conf.items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
