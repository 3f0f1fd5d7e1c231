"""Structured Streaming: batch/stream parity, watermark late-data
drop, exactly-once checkpoint resume, streaming dedup, stream-static
join. Replaces the reference's replay/ack machinery (SURVEY.md §2.1
op L) with something strictly stronger — and these tests are the proof.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from crane_spark.operators.topology import wordcount
from crane_spark.sources import read_text_lines
from crane_spark.streaming import (
    run_available_now,
    stream_dedup_with_watermark,
    stream_static_enrich,
    stream_to_parquet,
    stream_wordcount,
    windowed_event_stats,
)

EVENT_SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"


def _write_events(spark, path, rows):
    from datetime import datetime

    rows = [
        (eid, datetime.fromisoformat(ts), uid, etype, val)
        for eid, ts, uid, etype, val in rows
    ]
    spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.mode("append").parquet(path)


def test_stream_wordcount_equals_batch(spark, tmp_path):
    src = tmp_path / "txt"
    src.mkdir()
    (src / "a.txt").write_text("x y x\nz\n")
    (src / "b.txt").write_text("x z z\n")
    batch = {
        r["token"]: r["cnt"]
        for r in wordcount(read_text_lines(spark, str(src))).collect()
    }
    stream = stream_wordcount(read_text_lines(spark, str(src), streaming=True))
    run_available_now(stream, "wc_sink", output_mode="complete")
    got = {r["token"]: r["cnt"] for r in spark.table("wc_sink").collect()}
    assert got == batch == {"x": 3, "y": 1, "z": 3}


def test_windowed_stats_watermark_and_exactly_once(spark, tmp_path):
    """Two availableNow runs over one checkpoint:

    run 1: events up to 06:30 -> watermark passes, the 01:00 window is
           finalized into the sink exactly once.
    run 2 (same checkpoint): one new on-time row plus one LATE row
           (01:15, far below the persisted watermark) -> the late row
           is dropped and previously-emitted windows do not re-emit.
    """
    src = str(tmp_path / "events")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = spark.readStream.schema(EVENT_SCHEMA).option(
            "maxFilesPerTrigger", "1"
        ).parquet(src)
        q = stream_to_parquet(
            windowed_event_stats(stream, window="1 hour", watermark="1 hour"),
            sink,
            ckpt,
        )
        q.awaitTermination(120)

    _write_events(
        spark,
        src,
        [
            (1, "2024-01-01 01:10:00", 1, "click", 1.0),
            (2, "2024-01-01 01:40:00", 1, "click", 2.0),
        ],
    )
    _write_events(spark, src, [(3, "2024-01-01 06:30:00", 2, "view", 5.0)])
    run()
    first = spark.read.parquet(sink).collect()
    finalized = {(str(r["window_start"]), r["event_type"]): r["n_events"] for r in first}
    assert finalized[("2024-01-01 01:00:00", "click")] == 2  # window complete, once

    _write_events(
        spark,
        src,
        [
            (4, "2024-01-01 07:30:00", 2, "view", 1.0),  # on time
            (5, "2024-01-01 01:15:00", 1, "click", 9.0),  # LATE: below watermark
        ],
    )
    run()
    after = spark.read.parquet(sink).collect()
    clicks_0100 = [
        r
        for r in after
        if str(r["window_start"]) == "2024-01-01 01:00:00" and r["event_type"] == "click"
    ]
    assert len(clicks_0100) == 1  # not re-emitted, late row dropped
    assert clicks_0100[0]["n_events"] == 2  # late row really is gone


def test_streaming_session_window_matches_batch(spark, tmp_path):
    """session_window under readStream (with watermark) produces the
    same sessions the batch session query computes."""
    import pyspark.sql.functions as SF

    src = str(tmp_path / "events")
    rows = [
        (1, "2024-01-01 10:00:00", 1, "click", 1.0),
        (2, "2024-01-01 10:02:00", 1, "click", 1.0),  # same session (2 min gap)
        (3, "2024-01-01 10:30:00", 1, "click", 1.0),  # new session (28 min gap)
        (4, "2024-01-01 10:01:00", 2, "view", 1.0),
    ]
    _write_events(spark, src, rows)
    batch = (
        spark.read.schema(EVENT_SCHEMA)
        .parquet(src)
        .groupBy(SF.session_window("ts", "5 minutes").alias("sw"), "user_id")
        .agg(SF.count(SF.lit(1)).alias("n_events"))
        .select("user_id", SF.col("sw.start").alias("start"), "n_events")
    )
    expected = {(r["user_id"], str(r["start"])): r["n_events"] for r in batch.collect()}

    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(src)
    sess = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(SF.session_window("ts", "5 minutes").alias("sw"), "user_id")
        .agg(SF.count(SF.lit(1)).alias("n_events"))
        .select("user_id", SF.col("sw.start").alias("start"), "n_events")
    )
    run_available_now(sess, "session_sink", output_mode="complete")
    got = {
        (r["user_id"], str(r["start"])): r["n_events"]
        for r in spark.table("session_sink").collect()
    }
    assert got == expected
    assert got[(1, "2024-01-01 10:00:00")] == 2  # merged 2-min-gap events
    assert got[(1, "2024-01-01 10:30:00")] == 1


def test_stream_dedup_with_watermark(spark, tmp_path):
    src = str(tmp_path / "events")
    _write_events(
        spark,
        src,
        [
            (1, "2024-01-01 01:00:00", 1, "click", 1.0),
            (1, "2024-01-01 01:00:00", 1, "click", 1.0),  # exact dup
            (2, "2024-01-01 01:05:00", 1, "view", 2.0),
        ],
    )
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(src)
    deduped = stream_dedup_with_watermark(stream, keys=["event_id"])
    run_available_now(deduped, "dedup_sink", output_mode="append")
    assert spark.table("dedup_sink").count() == 2


def test_stream_stream_join_within_bound(spark, tmp_path):
    """Purchases join clicks of the same user within 30 minutes AFTER
    the click; a purchase 2h later must NOT join."""
    from crane_spark.streaming.pipelines import stream_stream_join

    clicks_src = str(tmp_path / "clicks")
    buys_src = str(tmp_path / "buys")
    _write_events(
        spark,
        clicks_src,
        [
            (1, "2024-01-01 10:00:00", 1, "click", 0.0),
            (2, "2024-01-01 12:00:00", 2, "click", 0.0),
        ],
    )
    _write_events(
        spark,
        buys_src,
        [
            (10, "2024-01-01 09:50:00", 1, "purchase", 5.0),  # 10 min before click 1
            (11, "2024-01-01 06:00:00", 2, "purchase", 9.0),  # 6h before click 2: out of bound
        ],
    )
    clicks = (
        spark.readStream.schema(EVENT_SCHEMA)
        .parquet(clicks_src)
        .selectExpr("event_id AS click_id", "user_id", "ts")
    )
    buys = (
        spark.readStream.schema(EVENT_SCHEMA)
        .parquet(buys_src)
        .selectExpr("event_id AS buy_id", "user_id", "ts AS buy_ts", "value")
    )
    out = stream_stream_join(
        clicks, buys, key="user_id", left_ts="ts", right_ts="buy_ts", within="30 minutes"
    ).select("click_id", "buy_id", "value")
    run_available_now(out, "ss_join_sink", output_mode="append")
    rows = {(r["click_id"], r["buy_id"]) for r in spark.table("ss_join_sink").collect()}
    assert rows == {(1, 10)}  # click 2's purchase was 6h earlier -> dropped


def test_stream_static_enrich(spark, sf_dir, tmp_path):
    from crane_spark.tables import table

    src = str(tmp_path / "events")
    _write_events(
        spark,
        src,
        [(1, "2024-01-01 01:00:00", 3, "click", 1.0), (2, "2024-01-01 01:01:00", 7, "view", 2.0)],
    )
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(src)
    cust = table(spark, sf_dir, "customer")
    joined = stream_static_enrich(
        stream, cust, F.col("user_id") == F.col("c_custkey")
    ).select("event_id", "user_id", "c_name", "c_mktsegment")
    run_available_now(joined, "enrich_sink", output_mode="append")
    rows = {r["user_id"]: r["c_name"] for r in spark.table("enrich_sink").collect()}
    assert set(rows) == {3, 7}
    assert all(name is not None for name in rows.values())


def test_statestore_reader_exposes_streaming_state(spark, tmp_path):
    """Spark 4 state-store data source: the persisted state of a
    stateful streaming query is itself queryable as a DataFrame from
    the checkpoint — the observability surface for debugging a
    100 TB streaming job's state without instrumenting the job
    (which keys, what counts, which shuffle partition holds them)."""
    src = tmp_path / "src"
    src.mkdir()
    (src / "a.txt").write_text("x\nx\ny\n")
    ck = str(tmp_path / "ck")
    counts = spark.readStream.text(str(src)).groupBy("value").count()
    q = (
        counts.writeStream.format("memory")
        .queryName("state_reader_probe")
        .outputMode("complete")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    state = spark.read.format("statestore").load(ck)
    got = {(r["key"]["value"], r["value"]["count"]) for r in state.collect()}
    assert got == {("x", 2), ("y", 1)}
    # every state row carries its owning shuffle partition — the handle
    # for locating skewed state at scale
    assert all(r["partition_id"] >= 0 for r in state.collect())


def test_stream_union_two_sources(spark, tmp_path):
    """Two file streams UNION into one logical stream; the unioned
    stateful agg equals the batch union (the multi-spout topology the
    reference cannot express — its Topology is strictly linear,
    util.py:28-38)."""
    a_src, b_src = str(tmp_path / "ua"), str(tmp_path / "ub")
    _write_events(spark, a_src, [(1, "2024-01-01 10:00:00", 1, "click", 1.0),
                                 (2, "2024-01-01 10:01:00", 2, "view", 1.0)])
    _write_events(spark, b_src, [(3, "2024-01-01 10:02:00", 1, "click", 1.0),
                                 (4, "2024-01-01 10:03:00", 3, "click", 1.0)])
    read = lambda p: spark.readStream.schema(EVENT_SCHEMA).parquet(p)  # noqa: E731
    unioned = read(a_src).unionByName(read(b_src))
    counts = unioned.groupBy("event_type").count()
    run_available_now(counts, "union_sink", output_mode="complete")
    got = {(r["event_type"], r["count"]) for r in spark.table("union_sink").collect()}
    assert got == {("click", 3), ("view", 1)}


def test_rate_micro_batch_source(spark):
    """Deterministic synthetic source (rate-micro-batch): fixed rows
    per micro-batch with synthetic event time — the load-generator
    twin of the reference's file-replay spout."""
    import time

    stream = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", "5")
        .option("startTimestamp", "0")
        .option("advanceMillisPerBatch", "1000")
        .load()
    )
    q = (
        stream.selectExpr("timestamp", "value")
        .writeStream.format("memory")
        .queryName("rate_sink")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            if spark.table("rate_sink").count() >= 10:
                break
            time.sleep(0.2)
        rows = spark.table("rate_sink").collect()
        assert len(rows) >= 10
        values = sorted(r["value"] for r in rows)
        assert values[:10] == list(range(10))  # gapless monotone sequence
    finally:
        q.stop()


def test_streaming_query_listener_observability(spark, tmp_path):
    """StreamingQueryListener receives progress events with row counts
    — the ops-plane replacement for the reference master's console
    bookkeeping (crane_master.py:166-169)."""
    from pyspark.sql.streaming import StreamingQueryListener

    events = {"progress": [], "started": 0, "terminated": 0}

    class Capture(StreamingQueryListener):
        def onQueryStarted(self, e):
            events["started"] += 1

        def onQueryProgress(self, e):
            events["progress"].append(e.progress.numInputRows)

        def onQueryIdle(self, e):
            pass

        def onQueryTerminated(self, e):
            events["terminated"] += 1

    spark.streams.addListener(listener := Capture())
    try:
        src = str(tmp_path / "listener_src")
        _write_events(spark, src, [(1, "2024-01-01 10:00:00", 1, "click", 1.0),
                                   (2, "2024-01-01 10:01:00", 2, "view", 2.0)])
        counts = (
            spark.readStream.schema(EVENT_SCHEMA).parquet(src)
            .groupBy("event_type").count()
        )
        run_available_now(counts, "listener_sink", output_mode="complete")
        # Listener callbacks arrive on a separate dispatch thread —
        # poll instead of asserting immediately after termination.
        import time

        deadline = time.time() + 30
        while time.time() < deadline and sum(events["progress"]) < 2:
            time.sleep(0.2)
        assert events["started"] >= 1
        assert sum(events["progress"]) >= 2  # both input rows observed
    finally:
        spark.streams.removeListener(listener)


def test_sliding_window_stream_overlapping_buckets(spark, tmp_path):
    """SLIDING (hopping) windows under readStream: a 2h window with a
    1h slide puts every event in exactly two overlapping windows, and
    counts per window match the by-hand assignment."""
    src = str(tmp_path / "events")
    _write_events(
        spark,
        src,
        [
            (1, "2024-01-01 01:10:00", 1, "click", 1.0),
            (2, "2024-01-01 01:40:00", 1, "click", 2.0),
            (3, "2024-01-01 02:20:00", 2, "click", 3.0),
        ],
    )
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(src)
    q = (
        windowed_event_stats(stream, window="2 hours", watermark="1 hour", slide="1 hour")
        .writeStream.format("memory")
        .queryName("sliding_sink")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        str(r["window_start"]): r["n_events"]
        for r in spark.table("sliding_sink").collect()
    }
    # windows [00:00,02:00) [01:00,03:00) [02:00,04:00)
    assert got == {
        "2024-01-01 00:00:00": 2,
        "2024-01-01 01:00:00": 3,
        "2024-01-01 02:00:00": 1,
    }


def test_stream_neardup_ingest_across_runs(spark, tmp_path):
    """Streaming MinHash-LSH near-dedup ingest: within-batch near-dups
    drop (lower id kept), cross-RUN near-dups drop against the
    persisted band index, novel docs append — all with availableNow +
    one checkpoint."""
    from crane_spark.streaming.pipelines import stream_neardup_ingest

    src = str(tmp_path / "docs")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, text string"
    base = " ".join(f"w{i}" for i in range(30))
    near1 = base.replace("w29", "x29")            # near-dup of base
    near2 = base.replace("w0", "y0")              # near-dup, arrives next run
    novel = " ".join(f"n{i}" for i in range(30))

    def run():
        stream = spark.readStream.schema(schema).parquet(src)
        q = stream_neardup_ingest(stream, store, ckpt)
        q.awaitTermination(120)

    spark.createDataFrame([(1, base), (2, near1), (10, novel)], schema).coalesce(
        1
    ).write.mode("append").parquet(src)
    run()
    got1 = sorted(r["doc_id"] for r in spark.read.parquet(store + "/docs").collect())
    assert got1 == [1, 10]  # 2 dropped within-batch against 1

    spark.createDataFrame(
        [(20, near2), (21, " ".join(f"z{i}" for i in range(30)))], schema
    ).coalesce(1).write.mode("append").parquet(src)
    run()
    got2 = sorted(r["doc_id"] for r in spark.read.parquet(store + "/docs").collect())
    assert got2 == [1, 10, 21]  # 20 dropped against run-1's index
    # index holds bands only for accepted docs
    idx_ids = {r["doc_id"] for r in spark.read.parquet(store + "/bands").collect()}
    assert idx_ids == {1, 10, 21}


def test_stream_neardup_ingest_replay_idempotent(spark, tmp_path):
    """Losing the checkpoint (worst-case replay) must NOT duplicate
    the store: replayed docs collide with their own persisted bands
    and self-verify at J=1, so re-appends never happen — the
    content-based exactly-once argument from the docstring, tested."""
    import shutil

    from crane_spark.streaming.pipelines import stream_neardup_ingest

    src = str(tmp_path / "docs")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, text string"
    rows = [(1, " ".join(f"w{i}" for i in range(30))),
            (2, " ".join(f"n{i}" for i in range(30)))]
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)

    def run():
        q = stream_neardup_ingest(
            spark.readStream.schema(schema).parquet(src), store, ckpt
        )
        q.awaitTermination(120)

    run()
    first = sorted(
        (r["doc_id"], r["text"]) for r in spark.read.parquet(store + "/docs").collect()
    )
    shutil.rmtree(ckpt)  # simulate total checkpoint loss -> full replay
    run()
    again = sorted(
        (r["doc_id"], r["text"]) for r in spark.read.parquet(store + "/docs").collect()
    )
    assert first == again == [(r[0], r[1]) for r in rows]


def test_idempotent_append_sink_survives_replay(spark, tmp_path):
    """Replay of a batch on the SAME checkpoint (the crash-between-
    write-and-commit case, simulated by deleting the commit record so
    Spark re-runs batch 0 under the same query id) must not duplicate
    a row: the per-batch overwrite replaces the batch's own directory."""
    import os

    from crane_spark.streaming.pipelines import (
        read_idempotent_sink,
        stream_append_idempotent,
    )

    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    spark.range(10).coalesce(1).write.parquet(src)

    def run():
        q = stream_append_idempotent(
            spark.readStream.schema("id bigint").parquet(src), out, ckpt
        )
        q.awaitTermination(120)

    def uncommit():
        # drop the commit record (and its Hadoop checksum sidecar) so
        # Spark re-runs batch 0 under the SAME query id
        os.remove(os.path.join(ckpt, "commits", "0"))
        crc = os.path.join(ckpt, "commits", ".0.crc")
        if os.path.exists(crc):
            os.remove(crc)

    run()
    assert read_idempotent_sink(spark, out).count() == 10

    # the overwrite replaces the batch's own directory instead of
    # appending next to it
    uncommit()
    run()
    got = sorted(r["id"] for r in read_idempotent_sink(spark, out).collect())
    assert got == list(range(10))


def test_idempotent_append_sink_checkpoint_loss_is_at_least_once(spark, tmp_path):
    """Total checkpoint loss regenerates the query id, so the rebuilt
    batch 0 (which may now hold DIFFERENT data) is applied under a
    fresh scope: the failure direction is visible re-delivery, never
    the silent data loss a batch-id-only ledger would cause by
    trusting stale ids."""
    import shutil

    from crane_spark.streaming.pipelines import (
        read_idempotent_sink,
        stream_append_idempotent,
    )

    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    spark.range(10).coalesce(1).write.parquet(src)

    def run():
        q = stream_append_idempotent(
            spark.readStream.schema("id bigint").parquet(src), out, ckpt
        )
        q.awaitTermination(120)

    run()
    shutil.rmtree(ckpt)
    # new data lands after the checkpoint is lost: the rebuilt batch 0
    # covers MORE than the original batch 0 did
    spark.range(10, 15).coalesce(1).write.mode("append").parquet(src)
    run()
    got = sorted(r["id"] for r in read_idempotent_sink(spark, out).collect())
    # old rows duplicated (at-least-once), new rows PRESENT (no loss)
    assert got == sorted(list(range(10)) * 2 + list(range(10, 15)))


def test_idempotent_append_sink_stopped_after_a_batch_resumes_exactly_once(
    spark, tmp_path
):
    """q.stop() as soon as lastProgress shows a committed batch, then a
    restart on the same checkpoint: every input row lands exactly once,
    whether the stop fell between batches or inside the next one."""
    import time

    from crane_spark.streaming.pipelines import (
        read_idempotent_sink,
        stream_append_idempotent,
    )

    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    for i in range(4):
        spark.range(10 * i, 10 * (i + 1)).coalesce(1).write.mode("append").parquet(src)

    def start():
        stream = (
            spark.readStream.schema("id bigint")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        return stream_append_idempotent(stream, out, ckpt)

    q = start()
    deadline = time.time() + 120
    while q.lastProgress is None and time.time() < deadline:
        time.sleep(0.05)
    assert q.lastProgress is not None, "no batch committed"
    q.stop()
    assert q.awaitTermination(60)

    start().awaitTermination(120)
    got = sorted(r["id"] for r in read_idempotent_sink(spark, out).collect())
    assert got == list(range(40))


def test_stream_neardup_ingest_short_docs(spark, tmp_path):
    """Documents with fewer than shingle_n tokens have no bands; the
    exact-hash path must still dedup them within-batch, across runs,
    and across checkpoint loss (replay idempotence)."""
    import shutil

    from crane_spark.streaming.pipelines import stream_neardup_ingest

    src = str(tmp_path / "docs")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, text string"

    def run():
        q = stream_neardup_ingest(
            spark.readStream.schema(schema).parquet(src), store, ckpt
        )
        q.awaitTermination(120)

    # within-batch: two identical short docs -> min-id kept
    spark.createDataFrame(
        [(1, "hi there"), (2, "hi there"), (3, "bye now")], schema
    ).coalesce(1).write.mode("append").parquet(src)
    run()
    got1 = sorted(r["doc_id"] for r in spark.read.parquet(store + "/docs").collect())
    assert got1 == [1, 3]

    # across runs: a repeat short doc drops, a novel one lands
    spark.createDataFrame([(5, "hi there"), (6, "so long")], schema).coalesce(
        1
    ).write.mode("append").parquet(src)
    run()
    got2 = sorted(r["doc_id"] for r in spark.read.parquet(store + "/docs").collect())
    assert got2 == [1, 3, 6]

    # checkpoint loss -> full replay: short docs must not re-append
    shutil.rmtree(ckpt)
    run()
    got3 = sorted(r["doc_id"] for r in spark.read.parquet(store + "/docs").collect())
    assert got3 == [1, 3, 6]
    # exact-hash rows live in the index under band = -1
    bands = spark.read.parquet(store + "/bands")
    assert bands.filter("band = -1").count() >= 3


def test_stream_training_corpus_single_drain_matches_batch_funnel(
    spark, sf_dir, tmp_path
):
    """An availableNow drain that sees all documents in ONE batch must
    reproduce the batch funnel's stage counts and corpus content
    exactly (same thresholds, same hashes, same shard deal)."""
    import pyspark.sql.functions as F

    from crane_spark.llm.run_pipeline import (
        build_training_corpus,
        read_stream_corpus,
        stream_training_corpus,
    )
    from crane_spark.tables import table

    docs = table(spark, sf_dir, "documents")
    src = str(tmp_path / "src")
    docs.filter(F.col("doc_id") >= 20).coalesce(1).write.parquet(src)

    batch_root = str(tmp_path / "batch_store")
    batch_counts = build_training_corpus(spark, sf_dir, batch_root)

    stream_root = str(tmp_path / "stream_store")
    q = stream_training_corpus(
        spark.readStream.schema(docs.schema).parquet(src),
        docs.filter(F.col("doc_id") < 20),
        stream_root,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(180)

    corpus, report = read_stream_corpus(spark, stream_root)
    got = {r["stage"]: r["n_docs"] for r in report.collect()}
    want = {k: v for k, v in batch_counts.items() if not k.startswith("_")}
    assert got == want
    assert corpus.count() == want["4_mixed"]
    from crane_spark.sources import versioned as V

    batch_corpus = V.get(spark, batch_root, "corpus")
    assert corpus.exceptAll(batch_corpus).count() == 0
    assert batch_corpus.exceptAll(corpus).count() == 0


def test_stream_training_corpus_incremental_and_replay(spark, sf_dir, tmp_path):
    """Multi-batch ingestion: later arrivals dedup against the
    persisted hash index, the corpus never holds two docs with the
    same text, and a full replay after checkpoint loss adds ZERO new
    corpus rows (content-keyed dedup makes the funnel idempotent even
    without the checkpoint)."""
    import shutil

    import pyspark.sql.functions as F

    from crane_spark.llm.run_pipeline import (
        read_stream_corpus,
        stream_training_corpus,
    )
    from crane_spark.tables import table

    docs = table(spark, sf_dir, "documents")
    eval_docs = docs.filter(F.col("doc_id") < 20)
    src = str(tmp_path / "src")
    root = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    def run():
        q = stream_training_corpus(
            spark.readStream.schema(docs.schema).parquet(src), eval_docs, root, ckpt
        )
        q.awaitTermination(180)

    first = docs.filter((F.col("doc_id") >= 20) & (F.col("doc_id") < 200))
    first.coalesce(1).write.mode("append").parquet(src)
    run()
    corpus1, _ = read_stream_corpus(spark, root)
    n1 = corpus1.count()
    assert n1 > 0

    # second run: half repeats (same text -> hash-dropped), half new
    second = docs.filter((F.col("doc_id") >= 150) & (F.col("doc_id") < 300))
    second.coalesce(1).write.mode("append").parquet(src)
    run()
    corpus2, report2 = read_stream_corpus(spark, root)
    n2 = corpus2.count()
    assert n2 >= n1
    # content-unique: no two corpus rows share a text
    assert (
        corpus2.select(F.md5("text")).distinct().count() == n2
    )
    # repeated doc_ids were not re-admitted
    assert corpus2.select("doc_id").distinct().count() == n2

    # checkpoint loss -> full replay: nothing re-enters the corpus
    shutil.rmtree(ckpt)
    run()
    corpus3, _ = read_stream_corpus(spark, root)
    assert corpus3.count() == n2


def test_stream_training_corpus_same_checkpoint_replay(spark, sf_dir, tmp_path):
    """Crash in the foreachBatch replay window: the batch's OWN hash
    shard is already on disk but its checkpoint commit file is not, so
    Structured Streaming replays the same (queryId, batch_id). The
    known-hash anti-join must exclude the batch's own (qid, batch)
    ledger rows — otherwise the replay dedups against itself and
    silently overwrites corpus/<qid>/batch-N with an empty frame."""
    import os

    import pyspark.sql.functions as F

    from crane_spark.llm.run_pipeline import (
        read_stream_corpus,
        stream_training_corpus,
    )
    from crane_spark.tables import table

    docs = table(spark, sf_dir, "documents")
    eval_docs = docs.filter(F.col("doc_id") < 20)
    src = str(tmp_path / "src")
    root = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    def run():
        q = stream_training_corpus(
            spark.readStream.schema(docs.schema).parquet(src), eval_docs, root, ckpt
        )
        q.awaitTermination(180)

    docs.filter((F.col("doc_id") >= 20) & (F.col("doc_id") < 200)).coalesce(
        1
    ).write.mode("append").parquet(src)
    run()
    corpus1, _ = read_stream_corpus(spark, root)
    rows1 = sorted(r["doc_id"] for r in corpus1.collect())
    assert rows1

    # simulate a crash AFTER the batch's outputs (incl. its hashes/
    # shard) hit disk but BEFORE the commit was recorded: remove only
    # the newest commit file, keep offsets + every data directory.
    commits = sorted(os.listdir(os.path.join(ckpt, "commits")))
    committed = [c for c in commits if not c.startswith(".")]
    os.remove(os.path.join(ckpt, "commits", committed[-1]))
    crc = os.path.join(ckpt, "commits", f".{committed[-1]}.crc")
    if os.path.exists(crc):  # local-FS checksum twin of the commit file
        os.remove(crc)
    run()

    corpus2, _ = read_stream_corpus(spark, root)
    assert sorted(r["doc_id"] for r in corpus2.collect()) == rows1

    # and a later, genuinely-new batch still dedups against the store
    docs.filter((F.col("doc_id") >= 150) & (F.col("doc_id") < 250)).coalesce(
        1
    ).write.mode("append").parquet(src)
    run()
    corpus3, _ = read_stream_corpus(spark, root)
    n3 = corpus3.count()
    assert corpus3.select(F.md5("text")).distinct().count() == n3
    assert n3 >= len(rows1)


def test_stream_training_corpus_reads_eval_docs_once(spark, sf_dir, tmp_path):
    """The eval set's gram hashes are built once per run, not once per
    micro-batch: over a three-batch drain, the eval frame (backed by an
    RDD that counts the rows it yields) is scanned exactly once."""
    import pyspark.sql.functions as F

    from crane_spark.llm.run_pipeline import stream_training_corpus
    from crane_spark.streaming.pipelines import _read_batches
    from crane_spark.tables import table

    docs = table(spark, sf_dir, "documents")
    reads = spark.sparkContext.accumulator(0)

    def counted(row):
        reads.add(1)
        return row

    eval_rows = docs.filter(F.col("doc_id") < 20)
    n_eval = eval_rows.count()
    eval_docs = spark.createDataFrame(eval_rows.rdd.map(counted), eval_rows.schema)
    src = str(tmp_path / "src")
    root = str(tmp_path / "store")
    for lo in (20, 100, 180):
        docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 80)).coalesce(
            1
        ).write.mode("append").parquet(src)
    q = stream_training_corpus(
        spark.readStream.schema(docs.schema).option("maxFilesPerTrigger", "1").parquet(src),
        eval_docs,
        root,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(180)
    assert q.exception() is None
    batches = _read_batches(spark, root + "/report").select("batch_id").distinct()
    assert batches.count() == 3
    assert reads.value == n_eval


def test_stream_vector_ingest_and_probe(spark, sf_dir, tmp_path):
    """Incremental IVF index: two ingest runs accumulate vectors into
    the cell-assigned store; probing the read-back store (reusing the
    stored assignment) equals ivf_probe_topk over the same vectors
    computed fresh; checkpoint-loss replay never double-counts."""
    import shutil

    import pyspark.sql.functions as F

    from crane_spark.llm.similarity import ivf_probe_topk
    from crane_spark.streaming.pipelines import (
        read_vector_index,
        stream_vector_ingest,
    )
    from crane_spark.tables import table

    emb = table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    src = str(tmp_path / "src")
    store = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    schema = emb.schema

    def run():
        q = stream_vector_ingest(
            spark.readStream.schema(schema).parquet(src), store, ckpt, centroids
        )
        q.awaitTermination(120)

    emb.filter((F.col("vec_id") >= 15) & (F.col("vec_id") < 60)).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run()
    emb.filter(F.col("vec_id") >= 60).coalesce(1).write.mode("append").parquet(src)
    run()

    idx = read_vector_index(spark, store)
    candidates = emb.filter(F.col("vec_id") >= 15)
    assert idx.count() == candidates.count()

    queries = emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 13))
    served = ivf_probe_topk(
        queries,
        idx.select("vec_id", "embedding"),
        centroids,
        k=3,
        probes=2,
        assigned=idx.select("vec_id", "centroid_id"),
    ).collect()
    fresh = ivf_probe_topk(queries, candidates, centroids, k=3, probes=2).collect()
    as_set = lambda rows: {
        (r["query_id"], r["neighbor_id"], r["cosine"], r["rn"]) for r in rows
    }
    assert as_set(served) == as_set(fresh)

    # checkpoint loss -> full re-delivery under a new query id; the
    # reader's id-dedup keeps the index exact
    shutil.rmtree(ckpt)
    run()
    assert read_vector_index(spark, store).count() == candidates.count()


def test_stream_neardup_ingest_custom_columns_replay(spark, tmp_path):
    """An ingest with text_col='body' and id_col='item_id' keys its
    band index and doc store on those columns: a full replay after
    checkpoint loss self-collides and adds nothing."""
    import shutil

    from crane_spark.streaming.pipelines import stream_neardup_ingest

    src = str(tmp_path / "docs")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    schema = "item_id long, body string"
    base = " ".join(f"w{i}" for i in range(30))

    def run():
        q = stream_neardup_ingest(
            spark.readStream.schema(schema).parquet(src),
            store,
            ckpt,
            text_col="body",
            id_col="item_id",
        )
        q.awaitTermination(120)

    spark.createDataFrame([(1, base)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run()
    shutil.rmtree(ckpt)
    run()
    assert "item_id" in spark.read.parquet(store + "/bands").columns
    got = sorted(r["item_id"] for r in spark.read.parquet(store + "/docs").collect())
    assert got == [1]


def test_stream_heavy_hitters_across_runs_and_replay(spark, tmp_path):
    """Mergeable-sketch heavy hitters: two ingest runs over a skewed
    token stream; the global top set matches exact counts, estimates
    never undercount, and a forced replay changes nothing."""
    import os
    import shutil

    import pyspark.sql.functions as F

    from crane_spark.streaming.pipelines import (
        read_heavy_hitters,
        stream_heavy_hitters,
    )

    src = str(tmp_path / "in")
    store = str(tmp_path / "hh")
    ckpt = str(tmp_path / "ckpt")

    def zipfy(start, n_rows, seed):
        # token t{k} appears ~ n/k times: a clearly skewed stream
        rows = []
        for i in range(n_rows):
            k = 1
            x = (i * 2654435761 + seed) % 1000
            while k < 40 and x > 1000 // (k + 1):
                k += 1
            rows.append((f"t{k}",))
        return spark.createDataFrame(rows, "token string")

    zipfy(0, 3000, 1).coalesce(1).write.mode("append").parquet(src)

    def run():
        q = stream_heavy_hitters(
            spark.readStream.schema("token string").parquet(src), store, ckpt
        )
        q.awaitTermination(120)

    run()
    zipfy(0, 3000, 7).coalesce(1).write.mode("append").parquet(src)
    run()

    exact = {
        r["token"]: r["n"]
        for r in spark.read.parquet(src)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    top5_exact = sorted(exact, key=lambda t: (-exact[t], t))[:5]
    got = read_heavy_hitters(spark, store, top_n=5).collect()
    assert [r["token"] for r in got] == top5_exact
    for r in got:
        assert r["est_count"] >= exact[r["token"]]  # CMS never undercounts

    # replay batch 0 of the second run: rewrites, never double-counts
    commits = os.path.join(ckpt, "commits")
    for f in os.listdir(commits):
        os.remove(os.path.join(commits, f))
    run()
    again = read_heavy_hitters(spark, store, top_n=5).collect()
    assert [(r["token"], r["est_count"]) for r in again] == [
        (r["token"], r["est_count"]) for r in got
    ]
    shutil.rmtree(ckpt)


def test_stream_distinct_sketches_merge_across_runs(spark, tmp_path):
    """HLL sketch blobs persisted per batch must union into accurate
    global per-group distinct counts across runs, with replays
    rewriting rather than inflating."""
    import os

    import pyspark.sql.functions as F

    from crane_spark.streaming.pipelines import (
        read_distinct_counts,
        stream_distinct_sketches,
    )

    src = str(tmp_path / "in")
    store = str(tmp_path / "sk")
    ckpt = str(tmp_path / "ckpt")

    def write(lo, hi, grp):
        spark.range(lo, hi).select(
            F.col("id").alias("user_id"), F.lit(grp).alias("grp")
        ).coalesce(1).write.mode("append").parquet(src)

    write(0, 400, "a")
    write(0, 150, "b")

    def run():
        q = stream_distinct_sketches(
            spark.readStream.schema("user_id long, grp string").parquet(src),
            store,
            ckpt,
            key_col="user_id",
            group_col="grp",
        )
        q.awaitTermination(120)

    run()
    write(200, 600, "a")  # 200 overlap + 200 new -> distinct 600
    run()
    got = {
        r["grp"]: r["approx_distinct"]
        for r in read_distinct_counts(spark, store, "grp").collect()
    }
    assert abs(got["a"] - 600) / 600 < 0.05  # lg_k=14: ~1% typical
    assert abs(got["b"] - 150) / 150 < 0.05

    # replay: same answer
    commits = os.path.join(ckpt, "commits")
    for f in os.listdir(commits):
        os.remove(os.path.join(commits, f))
    run()
    again = {
        r["grp"]: r["approx_distinct"]
        for r in read_distinct_counts(spark, store, "grp").collect()
    }
    assert again == got


def test_stream_distinct_sketches_survive_checkpoint_loss(spark, tmp_path):
    """HLL union is set-idempotent: total checkpoint loss (full
    re-delivery under a new query id) must leave the distinct
    estimates EXACTLY unchanged — the property additive counter
    sketches cannot give."""
    import shutil

    import pyspark.sql.functions as F

    from crane_spark.streaming.pipelines import (
        read_distinct_counts,
        stream_distinct_sketches,
    )

    src = str(tmp_path / "in")
    store = str(tmp_path / "sk")
    ckpt = str(tmp_path / "ckpt")
    spark.range(500).select(F.col("id").alias("user_id")).coalesce(1).write.parquet(src)

    def run():
        q = stream_distinct_sketches(
            spark.readStream.schema("user_id long").parquet(src),
            store,
            ckpt,
            key_col="user_id",
        )
        q.awaitTermination(120)

    run()
    before = read_distinct_counts(spark, store).collect()[0]["approx_distinct"]
    shutil.rmtree(ckpt)
    run()
    after = read_distinct_counts(spark, store).collect()[0]["approx_distinct"]
    assert after == before


@pytest.mark.parametrize("store_kind", ["vector_index", "distinct_sketches"])
def test_per_batch_store_replay_keeps_one_copy_on_disk(
    spark, sf_dir, tmp_path, store_kind
):
    """A same-checkpoint replay (the commit record deleted, so Spark
    re-runs the batch under the same query id) must replace the batch's
    directory, not add a second copy beside it. These two stores' readers
    would hide a second copy (id dedup, HLL set union), so the check
    reads the raw files."""
    import os

    import pyspark.sql.functions as F

    from crane_spark.streaming.pipelines import (
        stream_distinct_sketches,
        stream_vector_ingest,
    )
    from crane_spark.tables import table

    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    emb = table(spark, sf_dir, "embeddings")
    emb.filter(F.col("vec_id") >= 10).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(emb.schema).parquet(src)
    if store_kind == "vector_index":
        centroids = emb.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("centroid_id"), "embedding"
        )

        def start():
            return stream_vector_ingest(stream, store, ckpt, centroids)

    else:

        def start():
            return stream_distinct_sketches(stream, store, ckpt, key_col="vec_id")

    def on_disk():
        rows = spark.read.option("recursiveFileLookup", "true").parquet(store).collect()
        return sorted(map(tuple, rows))

    start().awaitTermination(120)
    before = on_disk()
    assert before
    os.remove(os.path.join(ckpt, "commits", "0"))
    crc = os.path.join(ckpt, "commits", ".0.crc")
    if os.path.exists(crc):
        os.remove(crc)
    start().awaitTermination(120)
    assert on_disk() == before


def test_heavy_hitters_store_is_self_describing(spark, tmp_path):
    """The CMS store records its (depth, width); a reader takes the
    geometry from it alone (a wrong width would probe the wrong cells
    and return silent zeros), a store without meta/ raises, and ingest
    refuses to append a different geometry into an existing store."""
    import pytest

    from crane_spark.streaming.pipelines import (
        read_heavy_hitters,
        stream_heavy_hitters,
    )

    src = str(tmp_path / "in")
    store = str(tmp_path / "hh")
    rows = [(f"t{k}",) for k in range(1, 6) for _ in range(30 // k)]
    spark.createDataFrame(rows, "token string").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    q = stream_heavy_hitters(
        spark.readStream.schema("token string").parquet(src),
        store,
        str(tmp_path / "ck1"),
        width=4096,  # NOT the default
    )
    q.awaitTermination(60)

    # paramless read resolves the stored geometry and ranks correctly
    top = read_heavy_hitters(spark, store, top_n=2).collect()
    assert [r["token"] for r in top] == ["t1", "t2"]
    with pytest.raises(FileNotFoundError, match="meta"):
        read_heavy_hitters(spark, str(tmp_path / "not_a_store"))
    # a second ingest run with a different geometry must refuse
    q = stream_heavy_hitters(
        spark.readStream.schema("token string").parquet(src),
        store,
        str(tmp_path / "ck2"),
        width=2048,
    )
    with pytest.raises(Exception, match="refusing to append"):
        q.awaitTermination(60)
        raise AssertionError("query should have failed")


def test_heavy_hitters_store_at_file_uri(spark, tmp_path):
    """A ``file://`` store is read back like a bare path: its meta/
    geometry is found through Hadoop, not ``os.path``."""
    from crane_spark.streaming.pipelines import (
        read_heavy_hitters,
        stream_heavy_hitters,
    )

    src = str(tmp_path / "in")
    store = (tmp_path / "hh").as_uri()
    rows = [(f"t{k}",) for k in range(1, 6) for _ in range(30 // k)]
    spark.createDataFrame(rows, "token string").coalesce(1).write.parquet(src)
    q = stream_heavy_hitters(
        spark.readStream.schema("token string").parquet(src),
        store,
        str(tmp_path / "ck"),
    )
    q.awaitTermination(60)
    top = read_heavy_hitters(spark, store, top_n=2).collect()
    assert [r["token"] for r in top] == ["t1", "t2"]


def test_stream_training_corpus_file_uri_dedups_across_batches(spark, tmp_path):
    """With ``file://`` URIs for the store and the checkpoint, a
    second batch's exact duplicate of a first-batch document is
    dropped against the persisted hash index."""
    from crane_spark.llm.run_pipeline import (
        read_stream_corpus,
        stream_training_corpus,
    )

    schema = "doc_id long, text string, lang string, source string, n_chars long"

    def frame(rows):
        # one language, so the mixing stage admits every document
        texts = [(i, " ".join(f"{w}{k}" for k in range(40))) for i, w in rows]
        return spark.createDataFrame(
            [(i, t, "en", "web", len(t)) for i, t in texts], schema
        )

    src = str(tmp_path / "src")
    root = (tmp_path / "store").as_uri()
    ckpt = (tmp_path / "ckpt").as_uri()
    eval_docs = frame([(0, "eval")])
    for rows in ([(1, "a"), (2, "b")], [(3, "a"), (4, "c")]):  # 3 repeats 1
        frame(rows).coalesce(1).write.mode("append").parquet(src)
        q = stream_training_corpus(
            spark.readStream.schema(schema).parquet(src), eval_docs, root, ckpt
        )
        q.awaitTermination(180)
    corpus, _ = read_stream_corpus(spark, root)
    assert sorted(r["doc_id"] for r in corpus.collect()) == [1, 2, 4]


@pytest.mark.parametrize("kill_point", [0, 1, 2, 3, 4])
def test_stream_training_corpus_crash_matrix(
    spark, sf_dir, tmp_path, monkeypatch, kill_point
):
    """Crash-injection soak (r7 verdict #8): kill the corpus stream
    once in EVERY gap of its per-batch commit sequence — before the
    first sink write, between each adjacent pair of the four
    idempotent sink writes (corpus, hashes, lang_counts, report), and
    after the last write but before the streaming checkpoint commit.
    After restart + full drain, the store must be indistinguishable
    from a never-crashed run over the same input: the exactly-once
    construction means every kill point resolves to pre-batch
    (replayed) or post-batch (overwritten in place), never a blend."""
    import pyspark.sql.functions as F
    from pyspark.sql.readwriter import DataFrameWriter

    from crane_spark.llm.run_pipeline import (
        read_stream_corpus,
        stream_training_corpus,
    )
    from crane_spark.tables import table

    docs = table(spark, sf_dir, "documents")
    eval_docs = docs.filter(F.col("doc_id") < 20)
    src = str(tmp_path / "src")
    root = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    ref_root = str(tmp_path / "ref_store")
    ref_ckpt = str(tmp_path / "ref_ckpt")

    # two source files -> two micro-batches (maxFilesPerTrigger=1);
    # the second overlaps the first so cross-batch hash dedup is live
    docs.filter((F.col("doc_id") >= 20) & (F.col("doc_id") < 150)).coalesce(
        1
    ).write.mode("append").parquet(src)
    docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 250)).coalesce(
        1
    ).write.mode("append").parquet(src)

    def run(out_root, checkpoint):
        q = stream_training_corpus(
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src),
            eval_docs,
            out_root,
            checkpoint,
        )
        try:
            q.awaitTermination(180)
        except Exception:
            pass
        return q.exception()

    # reference: the never-crashed run
    assert run(ref_root, ref_ckpt) is None
    ref_corpus, ref_report = read_stream_corpus(spark, ref_root)
    ref_ids = sorted(r["doc_id"] for r in ref_corpus.collect())
    ref_stages = sorted((r["stage"], r["n_docs"]) for r in ref_report.collect())
    assert ref_ids

    # injected run: allow kill_point sink writes into `root`, then die
    # (kill_point == 4: die after the 4th write, before the commit)
    orig = DataFrameWriter.parquet
    state = {"done": 0, "armed": True}

    def crashing(self, path, *a, **kw):
        if state["armed"] and root in str(path):
            if state["done"] == kill_point and kill_point < 4:
                raise RuntimeError(f"injected crash before sink write {kill_point + 1}")
            res = orig(self, path, *a, **kw)
            state["done"] += 1
            if state["done"] == 4 and kill_point == 4:
                raise RuntimeError("injected crash after sinks, before commit")
            return res
        return orig(self, path, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", crashing)
    exc = run(root, ckpt)
    assert exc is not None, "the injected crash must kill the first run"
    state["armed"] = False

    # recovery: restart on the same checkpoint, drain everything
    assert run(root, ckpt) is None
    corpus, report = read_stream_corpus(spark, root)
    got_ids = sorted(r["doc_id"] for r in corpus.collect())
    got_stages = sorted((r["stage"], r["n_docs"]) for r in report.collect())
    assert got_ids == ref_ids
    assert got_stages == ref_stages
    # no blend state: content-unique corpus, one report row per stage
    assert corpus.select(F.md5("text")).distinct().count() == len(got_ids)


@pytest.mark.parametrize("kill_point", [0, 1, 2])
def test_stream_neardup_ingest_crash_matrix(spark, tmp_path, monkeypatch, kill_point):
    """Kill the near-dup ingest once in every gap of its two-append
    commit sequence (before the bands append, between bands and docs,
    after docs before the checkpoint commit). The docstring's ordering
    argument — bands FIRST, so a crash leaves the index over-complete,
    never under-complete — must make every kill point converge after
    restart to exactly the clean run's store: same admitted docs, no
    re-appended duplicates, and a novel doc still admitted afterward."""
    from pyspark.sql.readwriter import DataFrameWriter

    from crane_spark.streaming.pipelines import stream_neardup_ingest

    src = str(tmp_path / "docs")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, text string"
    base = " ".join(f"w{i}" for i in range(30))
    near = " ".join(f"w{i}" for i in range(29)) + " zz"  # near-dup of base
    novel = " ".join(f"z{i}" for i in range(30))

    def run():
        q = stream_neardup_ingest(
            spark.readStream.schema(schema).parquet(src), store, ckpt
        )
        try:
            q.awaitTermination(120)
        except Exception:
            pass
        return q.exception()

    spark.createDataFrame([(1, base), (2, near), (3, novel)], schema).coalesce(
        1
    ).write.mode("append").parquet(src)

    orig = DataFrameWriter.parquet
    state = {"done": 0, "armed": True}

    def crashing(self, path, *a, **kw):
        if state["armed"] and store in str(path):
            if state["done"] == kill_point and kill_point < 2:
                raise RuntimeError(f"injected crash before store write {kill_point + 1}")
            res = orig(self, path, *a, **kw)
            state["done"] += 1
            if state["done"] == 2 and kill_point == 2:
                raise RuntimeError("injected crash after both appends, before commit")
            return res
        return orig(self, path, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", crashing)
    assert run() is not None, "the injected crash must kill the first run"
    state["armed"] = False

    assert run() is None
    got = sorted(r["doc_id"] for r in spark.read.parquet(store + "/docs").collect())
    assert got == [1, 3]  # near-dup 2 dropped exactly once, despite the crash

    # the recovered store still dedups new arrivals and admits novelty
    spark.createDataFrame(
        [(9, base), (10, " ".join(f"y{i}" for i in range(30)))], schema
    ).coalesce(1).write.mode("append").parquet(src)
    assert run() is None
    got2 = sorted(r["doc_id"] for r in spark.read.parquet(store + "/docs").collect())
    assert got2 == [1, 3, 10]


def test_session_sizes_stream_state_to_cores_and_batch_to_aqe():
    """session.py maps SPARK_GRAFT_CPUS (the N of local[N]) onto
    spark.sql.shuffle.partitions, which sizes stream state, and
    SPARK_GRAFT_SHUFFLE onto AQE's initial partition count, which sizes
    batch exchanges; with a master but no core count, both stay 32."""
    import json
    import os
    import subprocess
    import sys

    probe = (
        "import json\n"
        "from crane_spark.session import DEFAULT_CONF as c, default_master\n"
        "print(json.dumps([default_master(), c['spark.sql.shuffle.partitions'],"
        " c['spark.sql.adaptive.coalescePartitions.initialPartitionNum'],"
        " c['spark.sql.streaming.checkpointFileManagerClass'].rsplit('.', 1)[1]]))\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    base = {
        k: v
        for k, v in os.environ.items()
        if k not in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_MASTER", "SPARK_GRAFT_SHUFFLE")
    }

    def resolved(**env):
        out = subprocess.run(
            [sys.executable, "-c", probe],
            cwd=repo,
            env={**base, **env},
            capture_output=True,
            text=True,
            check=True,
        )
        return json.loads(out.stdout)

    manager = "FileSystemBasedCheckpointFileManager"
    assert resolved(SPARK_GRAFT_CPUS="3") == ["local[3]", "3", "32", manager]
    assert resolved(SPARK_GRAFT_CPUS="3", SPARK_GRAFT_SHUFFLE="11") == [
        "local[3]",
        "3",
        "11",
        manager,
    ]
    assert resolved(SPARK_GRAFT_MASTER="local-cluster[2,1,1024]") == [
        "local-cluster[2,1,1024]",
        "32",
        "32",
        manager,
    ]


_CHECKPOINTING = "org.apache.spark.sql.execution.streaming.checkpointing."
_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"


def _checkpoint_file_manager(spark, path, cls=None):
    """The CheckpointFileManager Spark builds for `path` from the
    session's Hadoop conf, with `cls` (a simple class name) set in
    that conf when given."""
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    if cls:
        conf.set(_MANAGER_KEY, _CHECKPOINTING + cls)
    factory = getattr(spark._jvm, _CHECKPOINTING + "CheckpointFileManager")
    return factory.create(spark._jvm.org.apache.hadoop.fs.Path(path.as_uri()), conf)


def test_session_writes_checkpoints_through_the_filesystem_manager(spark, tmp_path):
    """Streaming checkpoints of a crane_spark session go through
    FileSystemBasedCheckpointFileManager (one rename(2) per file, no
    forked readlink). A Spark upgrade that moves the class fails here
    instead of falling back to the FileContext manager."""
    manager = _checkpoint_file_manager(spark, tmp_path)
    assert manager.getClass().getSimpleName() == "FileSystemBasedCheckpointFileManager"


@pytest.mark.parametrize(
    "manager",
    ["FileContextBasedCheckpointFileManager", "FileSystemBasedCheckpointFileManager"],
    ids=["filecontext", "filesystem"],
)
def test_checkpoint_manager_keeps_the_no_overwrite_contract(spark, tmp_path, manager):
    """createAtomic(overwriteIfPossible=False) onto an existing file
    raises FileAlreadyExistsException at close and keeps the old
    bytes: offset-log and commit-log concurrent-writer detection rests
    on it. overwriteIfPossible=True never raises; Spark documents it
    as best effort. FileContext replaces the file. FileSystem.rename
    refuses an existing target (HDFS, and Hive's ProxyLocalFileSystem
    that serves file: in this Spark build), so the first file
    written stays. cancel() leaves nothing behind."""
    from py4j.protocol import Py4JJavaError

    fm = _checkpoint_file_manager(spark, tmp_path, manager)
    assert fm.getClass().getSimpleName() == manager
    jvm = spark._jvm

    def write(name, data, overwrite):
        path = jvm.org.apache.hadoop.fs.Path((tmp_path / name).as_uri())
        out = fm.createAtomic(path, overwrite)
        out.write(bytearray(data))
        return out

    target = tmp_path / "0"
    target.write_bytes(b"old")
    out = write("0", b"new", False)
    with pytest.raises(Py4JJavaError) as raised:
        out.close()
    exists_error = jvm.java.lang.Class.forName(
        "org.apache.hadoop.fs.FileAlreadyExistsException"
    )
    assert exists_error.isInstance(raised.value.java_exception)
    assert target.read_bytes() == b"old"

    write("0", b"new", True).close()
    replaced = manager == "FileContextBasedCheckpointFileManager"
    assert target.read_bytes() == (b"new" if replaced else b"old")

    (tmp_path / "cancelled").mkdir()
    write("cancelled/1", b"partial", False).cancel()
    assert list((tmp_path / "cancelled").iterdir()) == []


def test_stream_state_and_batch_exchange_take_separate_counts(spark, tmp_path):
    """With the two settings apart in one session, a fresh-checkpoint
    stateful aggregate runs spark.sql.shuffle.partitions state
    partitions (streaming turns AQE off), while a batch groupBy is
    planned at AQE's initial partition count."""
    import re

    state_key = "spark.sql.shuffle.partitions"
    batch_key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    found = {k: spark.conf.get(k) for k in (state_key, batch_key)}
    src = tmp_path / "txt"
    src.mkdir()
    (src / "a.txt").write_text("x y x\nz\n")
    try:
        spark.conf.set(state_key, "3")
        spark.conf.set(batch_key, "5")
        q = (
            stream_wordcount(read_text_lines(spark, str(src), streaming=True))
            .writeStream.format("memory")
            .queryName("split_sink")
            .outputMode("complete")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        assert q.lastProgress["stateOperators"][0]["numShufflePartitions"] == 3
        batch = spark.range(100).withColumn("k", F.col("id") % 7).groupBy("k").count()
        plan = batch._jdf.queryExecution().executedPlan().toString()
        assert re.findall(r"hashpartitioning\(k#\d+L, (\d+)\)", plan) == ["5"]
    finally:
        for k, v in found.items():
            spark.conf.set(k, v)
