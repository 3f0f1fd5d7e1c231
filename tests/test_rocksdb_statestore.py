"""RocksDB state store (round 6, verdict item 5): session.py calls
RocksDBStateStoreProvider the cluster choice — these tests actually
RUN the stateful streaming surface under it and pin result equality
with the default HDFSBackedStateStoreProvider, including the
kill/resume (two runs, one checkpoint) and checkpoint-loss replay
paths. Capability-gated: skips if the rocksdbjni native library can't
load in this environment.
"""

from __future__ import annotations

import pytest

from crane_spark.streaming import stream_to_parquet, windowed_event_stats

EVENT_SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"

_PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"
ROCKSDB = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
HDFS = "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
FILE_CONTEXT = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileContextBasedCheckpointFileManager"
)


def _write_events(spark, path, rows):
    from datetime import datetime

    rows = [
        (eid, datetime.fromisoformat(ts), uid, etype, val)
        for eid, ts, uid, etype, val in rows
    ]
    spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.mode("append").parquet(
        path
    )


class _scoped_conf:
    """Set a SQL conf for queries started in the block, restoring the
    session value afterwards (the state-store provider and the
    checkpoint file manager are read per streaming query at start, so
    this is safely scoped)."""

    def __init__(self, spark, key, value):
        self.spark, self.key, self.value = spark, key, value

    def __enter__(self):
        self.prev = self.spark.conf.get(self.key)
        self.spark.conf.set(self.key, self.value)

    def __exit__(self, *exc):
        self.spark.conf.set(self.key, self.prev)


def _provider(spark, cls):
    return _scoped_conf(spark, _PROVIDER_KEY, cls)


def _rocksdb_available(spark, tmp_path) -> bool:
    src = str(tmp_path / "probe_src")
    _write_events(spark, src, [(1, "2024-01-01 01:10:00", 1, "click", 1.0)])
    try:
        with _provider(spark, ROCKSDB):
            stream = spark.readStream.schema(EVENT_SCHEMA).parquet(src)
            q = stream_to_parquet(
                windowed_event_stats(stream, window="1 hour", watermark="1 hour"),
                str(tmp_path / "probe_sink"),
                str(tmp_path / "probe_ckpt"),
            )
            q.awaitTermination(120)
        return True
    except Exception:  # noqa: BLE001 — native lib load failures vary
        return False


def _run_windowed(spark, src, sink, ckpt):
    stream = spark.readStream.schema(EVENT_SCHEMA).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    q = stream_to_parquet(
        windowed_event_stats(stream, window="1 hour", watermark="1 hour"),
        sink,
        ckpt,
    )
    q.awaitTermination(120)


_BATCH1 = [
    (1, "2024-01-01 01:10:00", 1, "click", 1.0),
    (2, "2024-01-01 01:40:00", 1, "click", 2.0),
]
_BATCH2 = [(3, "2024-01-01 06:30:00", 2, "view", 5.0)]
_BATCH3 = [
    (4, "2024-01-01 07:30:00", 2, "view", 1.0),  # on time
    (5, "2024-01-01 01:15:00", 1, "click", 9.0),  # LATE: below watermark
]


def _drive(spark, base):
    """The full kill/resume scenario from test_streaming under the
    CURRENT provider: two availableNow runs over one checkpoint, with
    a late row arriving after the watermark persisted."""
    src, sink, ckpt = str(base / "events"), str(base / "sink"), str(base / "ckpt")
    _write_events(spark, src, _BATCH1)
    _write_events(spark, src, _BATCH2)
    _run_windowed(spark, src, sink, ckpt)
    _write_events(spark, src, _BATCH3)
    _run_windowed(spark, src, sink, ckpt)
    return sorted(
        (str(r["window_start"]), r["event_type"], r["n_events"], r["total_value"])
        for r in spark.read.parquet(sink).collect()
    )


def test_rocksdb_and_hdfs_providers_agree_on_kill_resume(spark, tmp_path):
    if not _rocksdb_available(spark, tmp_path / "probe"):
        pytest.skip("RocksDB state store native library unavailable")
    with _provider(spark, HDFS):
        hdfs_rows = _drive(spark, tmp_path / "hdfs")
    with _provider(spark, ROCKSDB):
        rocks_rows = _drive(spark, tmp_path / "rocks")
    assert hdfs_rows == rocks_rows and len(hdfs_rows) > 0
    # the exactly-once / late-drop invariants hold under RocksDB
    clicks = [r for r in rocks_rows if r[0] == "2024-01-01 01:00:00" and r[1] == "click"]
    assert len(clicks) == 1 and clicks[0][2] == 2


def test_rocksdb_neardup_ingest_replay_idempotent(spark, tmp_path):
    if not _rocksdb_available(spark, tmp_path / "probe"):
        pytest.skip("RocksDB state store native library unavailable")
    import shutil

    from crane_spark.streaming.pipelines import stream_neardup_ingest

    src = str(tmp_path / "docs")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, text string"
    rows = [
        (1, " ".join(f"w{i}" for i in range(30))),
        (2, " ".join(f"n{i}" for i in range(30))),
    ]
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)

    def run():
        q = stream_neardup_ingest(
            spark.readStream.schema(schema).parquet(src), store, ckpt
        )
        q.awaitTermination(120)

    with _provider(spark, ROCKSDB):
        run()
        first = sorted(
            (r["doc_id"], r["text"])
            for r in spark.read.parquet(store + "/docs").collect()
        )
        shutil.rmtree(ckpt)  # total checkpoint loss -> full replay
        run()
        again = sorted(
            (r["doc_id"], r["text"])
            for r in spark.read.parquet(store + "/docs").collect()
        )
    assert first == again == [(r[0], r[1]) for r in rows]


@pytest.mark.parametrize("provider", [HDFS, ROCKSDB], ids=["hdfs", "rocksdb"])
def test_resumed_checkpoint_keeps_its_state_partition_count(spark, tmp_path, provider):
    """The offset log freezes a stream's state partition count: a
    wordcount checkpointed at 32 partitions, resumed with new input
    under a core-sized spark.sql.shuffle.partitions, still runs 32
    state partitions and its counts match a recount of all input."""
    from collections import Counter

    from crane_spark.sources import read_text_lines
    from crane_spark.streaming import stream_wordcount

    if provider == ROCKSDB and not _rocksdb_available(spark, tmp_path / "probe"):
        pytest.skip("RocksDB state store native library unavailable")
    src, ckpt = tmp_path / "txt", str(tmp_path / "ckpt")
    src.mkdir()
    inputs = ["x y x\nz\n", "z w x\ny y\n"]

    def drain(partitions):
        spark.conf.set("spark.sql.shuffle.partitions", partitions)
        q = (
            stream_wordcount(read_text_lines(spark, str(src), streaming=True))
            .writeStream.format("memory")
            .queryName("resume_sink")
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        got = {r["token"]: r["cnt"] for r in spark.table("resume_sink").collect()}
        return q.lastProgress["stateOperators"][0]["numShufflePartitions"], got

    found = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        with _provider(spark, provider):
            (src / "0.txt").write_text(inputs[0])
            assert drain("32")[0] == 32
            (src / "1.txt").write_text(inputs[1])
            partitions, got = drain("2")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", found)
    assert partitions == 32
    assert got == Counter(
        w for text in inputs for line in text.splitlines() for w in line.split(" ")
    )


@pytest.mark.parametrize("provider", [HDFS, ROCKSDB], ids=["hdfs", "rocksdb"])
def test_checkpoint_resumes_across_checkpoint_file_managers(spark, tmp_path, provider):
    """A stateful wordcount checkpointed under Spark's FileContext
    manager resumes under the session's FileSystem manager, and the
    reverse, so existing checkpoints survive this default and its
    rollback. Counts match a recount of all input, and both managers
    write the same checkpoint file set (RocksDB names its state files
    by uuid, so there only the logs outside state/ are compared)."""
    import os
    from collections import Counter

    from crane_spark.sources import read_text_lines
    from crane_spark.streaming import stream_wordcount

    if provider == ROCKSDB and not _rocksdb_available(spark, tmp_path / "probe"):
        pytest.skip("RocksDB state store native library unavailable")
    inputs = ["x y x\nz\n", "z w x\ny y\n"]
    expected = Counter(
        w for text in inputs for line in text.splitlines() for w in line.split(" ")
    )
    default = spark.conf.get(_MANAGER_KEY)

    def drain(src, ckpt, manager):
        with _scoped_conf(spark, _MANAGER_KEY, manager):
            q = (
                stream_wordcount(read_text_lines(spark, str(src), streaming=True))
                .writeStream.format("memory")
                .queryName("cross_manager_sink")
                .outputMode("complete")
                .option("checkpointLocation", str(ckpt))
                .trigger(availableNow=True)
                .start()
            )
            assert q.awaitTermination(120)
        rows = spark.table("cross_manager_sink").collect()
        return {r["token"]: r["cnt"] for r in rows}

    def files(ckpt):
        found = set()
        for root, _, names in os.walk(ckpt):
            rel = os.path.relpath(root, ckpt)
            if provider == HDFS or rel.split(os.sep)[0] != "state":
                found.update(os.path.join(rel, n) for n in names)
        return found

    directions = {"forward": (FILE_CONTEXT, default), "back": (default, FILE_CONTEXT)}
    snapshots = {}
    with _provider(spark, provider):
        for name, (first, then) in directions.items():
            src, ckpt = tmp_path / name / "txt", tmp_path / name / "ckpt"
            src.mkdir(parents=True)
            (src / "0.txt").write_text(inputs[0])
            drain(src, ckpt, first)
            snapshots[name] = files(ckpt)
            (src / "1.txt").write_text(inputs[1])
            assert drain(src, ckpt, then) == expected, name
    assert snapshots["forward"] == snapshots["back"]
