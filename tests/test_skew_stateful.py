"""applyInPandasWithState running totals, foreachBatch upsert sink,
IVF-bucketed cosine near-dup."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from crane_spark.sources import versioned
from crane_spark.streaming.pipelines import stream_upsert_parquet
from crane_spark.streaming.stateful import running_totals


def test_stateful_running_totals_across_batches(spark, tmp_path):
    """State survives micro-batch boundaries AND query restarts (the
    thing a Crane bolt's per-batch dict can never do)."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")

    def write(rows):
        spark.createDataFrame(rows, "k string, v double").coalesce(1).write.mode(
            "append"
        ).parquet(src)

    out = str(tmp_path / "out")

    def run():
        stream = spark.readStream.schema("k string, v double").option(
            "maxFilesPerTrigger", "1"
        ).parquet(src)
        q = (
            running_totals(stream, "k", "v")
            .writeStream.foreachBatch(
                lambda b, i: b.withColumn("batch", F.lit(i))
                .write.mode("append")
                .parquet(out)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    def latest_totals():
        rows = spark.read.parquet(out).collect()
        latest = {}
        for r in sorted(rows, key=lambda r: r["batch"]):
            latest[r["key"]] = (r["running_count"], r["running_sum"])
        return latest

    write([("a", 1.0), ("a", 2.0), ("b", 5.0)])
    write([("a", 4.0)])
    run()
    first = latest_totals()
    assert first["a"] == (3, 7.0)  # accumulated across the two batches
    assert first["b"] == (1, 5.0)

    write([("b", 1.0), ("c", 9.0)])
    run()  # restart from checkpoint: prior state recovered, not recounted
    latest = latest_totals()
    assert latest["a"] == (3, 7.0)
    assert latest["b"] == (2, 6.0)
    assert latest["c"] == (1, 9.0)


def test_running_totals_idle_ttl_evicts_and_restarts(spark, tmp_path):
    """Opt-in idle-state eviction: a key idle past idle_ttl_sec is
    emitted once more with is_final=True and its state removed; a
    later arrival restarts from zero. This is the bounded-state mode
    for grow-forever key spaces (doc ids, session ids) — without it
    the state store accretes every key ever seen."""
    import time

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def write(rows):
        spark.createDataFrame(rows, "k string, v double").coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def read_rows():
        try:
            return spark.read.parquet(out).collect()
        except Exception:
            return []

    def run(expect, idle_ttl_sec=1):
        # A query with pending processing-time timers keeps scheduling
        # no-data batches, so availableNow need not self-terminate —
        # poll the sink for the expected condition and stop explicitly.
        # q.stop() can interrupt a batch's write, and the restart then
        # replays that batch: each batch overwrites its own batch=<id>
        # directory, so the replay replaces its partial output instead
        # of appending a second copy next to it.
        stream = spark.readStream.schema("k string, v double").parquet(src)
        q = (
            running_totals(stream, "k", "v", idle_ttl_sec=idle_ttl_sec)
            .writeStream.foreachBatch(
                lambda b, i: b.write.mode("overwrite").parquet(f"{out}/batch={i}")
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        deadline = time.time() + 90
        while time.time() < deadline and not expect(read_rows()):
            time.sleep(0.5)
        q.stop()
        q.awaitTermination(60)
        assert expect(read_rows()), "expected output never appeared"

    def finals(rows):
        return {
            (r["key"], r["running_count"], r["running_sum"])
            for r in rows
            if r["is_final"]
        }

    def latest_open(rows):
        latest = {}
        for r in sorted(rows, key=lambda r: r["batch"]):
            if not r["is_final"]:
                latest[r["key"]] = (r["running_count"], r["running_sum"])
        return latest

    write([("a", 1.0), ("a", 2.0)])
    run(lambda rows: latest_open(rows).get("a") == (2, 3.0))
    time.sleep(2.5)  # let the idle TTL lapse in real time
    write([("b", 5.0)])
    # restart: a's pending timer fires -> final row + state removed
    run(lambda rows: ("a", 2, 3.0) in finals(rows) and "b" in latest_open(rows))

    write([("a", 10.0)])
    # evicted key reappears: totals restart from zero, not from (2, 3.0).
    # A long TTL for this run: with 1 s, a slow batch lets a's second
    # life expire before q.stop() and emit a correct final (1, 10.0),
    # which the count of a's final rows below would take for a replay.
    run(lambda rows: latest_open(rows).get("a") == (1, 10.0), idle_ttl_sec=600)
    rows = read_rows()
    assert ("a", 2, 3.0) in finals(rows)
    assert latest_open(rows)["b"] == (1, 5.0)
    # exactly one final row for a's first life
    assert sum(1 for r in rows if r["is_final"] and r["key"] == "a") == 1


def test_foreach_batch_upsert(spark, tmp_path):
    src = str(tmp_path / "src")
    root = str(tmp_path / "tables")
    ckpt = str(tmp_path / "ckpt")

    def write(rows):
        spark.createDataFrame(rows, "k string, v double").coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run():
        stream = spark.readStream.schema("k string, v double").parquet(src)
        q = stream_upsert_parquet(stream, root, "sink", ckpt, key_cols=["k"])
        q.awaitTermination(120)

    def table():
        return {(r["k"], r["v"]) for r in versioned.get(spark, root, "sink").collect()}

    write([("a", 1.0), ("b", 2.0)])
    run()
    assert table() == {("a", 1.0), ("b", 2.0)}
    write([("b", 9.0), ("c", 3.0)])  # b updated, c inserted
    run()
    assert table() == {("a", 1.0), ("b", 9.0), ("c", 3.0)}
    # superseded versions are expired: one committed version remains
    assert len(versioned.versions(spark, root, "sink")) == 1


@pytest.mark.parametrize("kill_point", ["before_write", "uncommitted", "before_expire"])
def test_foreach_batch_upsert_crash_restart_matches_clean_run(
    spark, tmp_path, monkeypatch, kill_point
):
    """Fail the second batch's version write once (before any file,
    with files but no _SUCCESS, or committed but not yet expired),
    restart on the same checkpoint, and the table must equal a
    crash-free run's over the same three batches."""
    from pyspark.sql.readwriter import DataFrameWriter

    src = str(tmp_path / "src")
    schema = "k string, v double"
    for rows in (
        [("a", 1.0), ("b", 2.0)],
        [("b", 9.0), ("c", 3.0)],
        [("a", 5.0), ("d", 4.0)],
    ):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)

    def run(root, ckpt):
        stream = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
        )
        q = stream_upsert_parquet(stream, root, "sink", ckpt, key_cols=["k"])
        try:
            q.awaitTermination(120)
        except Exception:
            pass
        return q.exception()

    def table(root):
        return sorted((r["k"], r["v"]) for r in versioned.get(spark, root, "sink").collect())

    ref_root = str(tmp_path / "ref")
    assert run(ref_root, str(tmp_path / "ref_ckpt")) is None
    assert table(ref_root) == [("a", 5.0), ("b", 9.0), ("c", 3.0), ("d", 4.0)]

    root, ckpt = str(tmp_path / "tables"), str(tmp_path / "ckpt")
    orig = DataFrameWriter.parquet
    state = {"writes": 0, "armed": True}

    def crashing(self, path, *a, **kw):
        if not (state["armed"] and str(path).startswith(root)):
            return orig(self, path, *a, **kw)
        state["writes"] += 1
        if state["writes"] < 2:
            return orig(self, path, *a, **kw)
        state["armed"] = False
        if kill_point == "before_write":
            raise RuntimeError("injected crash before the version write")
        orig(self, path, *a, **kw)
        if kill_point == "uncommitted":
            os.remove(os.path.join(path, "_SUCCESS"))
        raise RuntimeError(f"injected crash: {kill_point}")

    monkeypatch.setattr(DataFrameWriter, "parquet", crashing)
    assert run(root, ckpt) is not None, "the injected crash must kill the first run"
    assert not state["armed"]
    assert run(root, ckpt) is None
    assert table(root) == table(ref_root)
    (committed,) = versioned.versions(spark, root, "sink")
    # a crashed write's uncommitted version is reclaimed, not left behind
    assert os.listdir(os.path.join(root, "sink")) == [f"v{committed:06d}"]


def test_cosine_near_dup_finds_planted_dups(spark):
    """Plant two near-identical vectors; the IVF-bucketed pass must
    pair them (same nearest centroid by construction)."""
    import numpy as np

    from crane_spark.llm.similarity import cosine_near_dup_pairs

    rng = np.random.default_rng(3)
    base = rng.normal(size=(12, 16)).astype(np.float32)
    base[11] = base[10] + rng.normal(scale=0.01, size=16).astype(np.float32)  # near-dup
    df = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(12)],
        "vec_id long, embedding array<float>",
    )
    centroids = df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    pairs = cosine_near_dup_pairs(
        df.filter(F.col("vec_id") >= 3), centroids, threshold=0.95
    ).collect()
    assert {(r["vec_a"], r["vec_b"]) for r in pairs} == {(10, 11)}
    assert pairs[0]["cosine"] > 0.99
