"""The crane_spout custom Python DataSource: batch and streaming reads
of a line file with 500-line micro-batches (reference ops A+B)."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from crane_spark.sources.spout import DEFAULT_BATCH_SIZE, CraneSpoutDataSource


@pytest.fixture(scope="module")
def registered(spark):
    spark.dataSource.register(CraneSpoutDataSource)
    return spark


def _write_lines(path, n):
    path.write_text("\n".join(f"line {i}" for i in range(n)) + "\n")


def test_spout_batch_read(registered, tmp_path):
    p = tmp_path / "input.txt"
    _write_lines(p, 1234)
    df = registered.read.format("crane_spout").option("path", str(p)).load()
    assert df.count() == 1234
    # batch partitioning mirrors CRANE_BATCH_SIZE chunks
    assert df.rdd.getNumPartitions() == (1234 + DEFAULT_BATCH_SIZE - 1) // DEFAULT_BATCH_SIZE
    first = df.orderBy("line_no").first()
    assert (first["line_no"], first["value"]) == (0, "line 0")


def test_spout_wordcount_topology_end_to_end(registered, tmp_path):
    """The complete reference WordCount topology through the custom
    source: spout (crane_spout) -> split -> count -> complete-mode
    sink, compared against the batch run of the same file."""
    import os

    from crane_spark.operators.topology import wordcount
    from crane_spark.streaming import run_available_now

    ref = "/root/reference/app/wordcount2k.csv"
    p = tmp_path / "wc.txt"
    if os.path.exists(ref):
        p.write_text(open(ref, encoding="utf-8").read())
    else:
        _write_lines(p, 300)
    batch = {
        r["token"]: r["cnt"]
        for r in wordcount(
            registered.read.format("crane_spout").option("path", str(p)).load()
        ).collect()
    }
    stream = (
        registered.readStream.format("crane_spout")
        .option("path", str(p))
        .option("batch_size", "100")
        .load()
    )
    import time

    q = (
        wordcount(stream)
        .writeStream.format("memory")
        .queryName("spout_wc_sink")
        .outputMode("complete")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        target = sum(batch.values())
        deadline = time.time() + 120
        while time.time() < deadline:
            got = {
                r["token"]: r["cnt"] for r in registered.table("spout_wc_sink").collect()
            }
            if sum(got.values()) >= target:
                break
            time.sleep(1)
    finally:
        q.stop()
    assert got == batch  # stream drained to exactly the batch counts


def test_spout_stream_microbatches(registered, tmp_path):
    """The stream serves <=500 lines per micro-batch and drains the
    file completely — spout-to-EOF semantics with offsets."""
    p = tmp_path / "input.txt"
    _write_lines(p, 1100)
    out = str(tmp_path / "out")
    stream = (
        registered.readStream.format("crane_spout")
        .option("path", str(p))
        .option("batch_size", "500")
        .load()
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda b, i: b.withColumn("batch", F.lit(i)).write.mode("append").parquet(out)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    # drain to EOF (availableNow snapshots only the first prefetched
    # simple-reader batch, so poll the continuous trigger instead)
    import time

    deadline = time.time() + 120
    while time.time() < deadline:
        try:
            if registered.read.parquet(out).count() >= 1100:
                break
        except Exception:  # noqa: BLE001 - sink not yet created
            pass
        time.sleep(1)
    q.stop()
    got = registered.read.parquet(out)
    assert got.count() == 1100
    sizes = {
        r["batch"]: r["n"]
        for r in got.groupBy("batch").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert all(n <= 500 for n in sizes.values())
    assert sorted(sizes.values(), reverse=True) == [500, 500, 100]
    # every line exactly once, in offset order
    assert got.select(F.min("line_no"), F.max("line_no")).first() == (0, 1099)
    assert got.select("line_no").distinct().count() == 1100


def test_crane_sink_stream_write(spark, tmp_path):
    """Streaming side of the custom sink: each micro-batch commits its
    own manifest; an availableNow drain of a 2-row source produces
    committed, readable output."""
    from crane_spark.sources.sink_ds import CraneSinkDataSource, read_crane_sink

    spark.dataSource.register(CraneSinkDataSource)
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [("alpha", 1), ("beta", 2)], "word string, n long"
    ).write.parquet(src)
    out = str(tmp_path / "sink")
    stream = spark.readStream.schema("word string, n long").parquet(src)
    q = (
        stream.writeStream.format("crane_sink")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert read_crane_sink(out) == {"alpha": "1", "beta": "2"}


def test_crane_sink_replays_manifests_in_batch_order(spark, tmp_path):
    """Twelve complete-mode micro-batches through crane_sink must read
    back as the recount of all input: manifests apply in numeric
    batch order, so batch 10 and 11 land after batch 2..9 (name order
    would leave every key the last two batches touched stale)."""
    from collections import Counter

    from crane_spark.sources.sink_ds import CraneSinkDataSource, read_crane_sink
    from crane_spark.streaming.pipelines import stream_wordcount

    spark.dataSource.register(CraneSinkDataSource)
    src = tmp_path / "src"
    src.mkdir()
    expected: Counter = Counter()
    for i in range(12):
        lines = ["common shared", f"only{i} common"] + ["shared"] * i
        (src / f"part-{i:02d}.txt").write_text("\n".join(lines) + "\n")
        expected.update(w for line in lines for w in line.split(" "))
    out = str(tmp_path / "sink")
    stream = spark.readStream.option("maxFilesPerTrigger", 1).text(str(src))
    q = (
        stream_wordcount(stream)
        .writeStream.format("crane_sink")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert not q.isActive
    committed = [n for n in os.listdir(out) if n.startswith("_MANIFEST-")]
    assert len(committed) == 12
    assert read_crane_sink(out) == {k: str(v) for k, v in expected.items()}


def test_crane_sink_ignores_torn_temporary_manifest(tmp_path, monkeypatch):
    """A commit that dies between writing its manifest and renaming it
    into place leaves only a temporary file; readers must skip it (and
    any other non-manifest name) and return the committed batches."""
    from crane_spark.sources import sink_ds

    out = tmp_path / "sink"
    out.mkdir()
    (out / "part-a.txt").write_text("alpha --- 1\n")
    (out / "part-b.txt").write_text("alpha --- 2\nbeta --- 1\n")
    (out / "part-c.txt").write_text("alpha --- 99\n")
    sink_ds._commit_manifest(str(out), "_MANIFEST-0.json", [sink_ds._FileDone("part-a.txt", 1)])
    sink_ds._commit_manifest(str(out), "_MANIFEST-1.json", [sink_ds._FileDone("part-b.txt", 2)])

    def crash(src, dst):
        raise OSError("crash before rename")

    monkeypatch.setattr(sink_ds.os, "replace", crash)
    with pytest.raises(OSError, match="crash before rename"):
        sink_ds._commit_manifest(
            str(out), "_MANIFEST-2.json", [sink_ds._FileDone("part-c.txt", 1)]
        )
    monkeypatch.undo()
    (torn,) = [n for n in os.listdir(out) if n.endswith(".tmp")]
    (out / torn).write_text('{"files": ["part-c')
    (out / "_MANIFEST-3.json.tmp").write_text('{"files": ["part-c')
    assert not (out / "_MANIFEST-2.json").exists()
    assert sink_ds.read_crane_sink(str(out)) == {"alpha": "2", "beta": "1"}


def test_python_workers_gate_zip_rereads_and_sink_still_recounts(spark, tmp_path):
    """Python workers that load crane_spark code run with the zipimport
    gate (crane_spark/_zipimport.py) installed, and a crane_sink stream
    over several micro-batches still reads back as a Python recount."""
    import sys
    from collections import Counter

    import pandas as pd

    from crane_spark.sources.sink_ds import CraneSinkDataSource, read_crane_sink
    from crane_spark.streaming.pipelines import stream_wordcount

    spark.dataSource.register(CraneSinkDataSource)
    src = tmp_path / "src"
    src.mkdir()
    expected: Counter = Counter()
    for i in range(4):
        lines = [f"w{i} common", "common"] * (i + 1)
        (src / f"part-{i}.txt").write_text("\n".join(lines) + "\n")
        expected.update(w for line in lines for w in line.split(" "))
    out = str(tmp_path / "sink")
    q = (
        stream_wordcount(spark.readStream.option("maxFilesPerTrigger", 1).text(str(src)))
        .writeStream.format("crane_sink")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert not q.isActive
    assert len([n for n in os.listdir(out) if n.startswith("_MANIFEST-")]) == 4
    assert read_crane_sink(out) == {k: str(v) for k, v in expected.items()}

    def report(frames):
        import zipimport

        import crane_spark.sources.sink_ds  # noqa: F401

        for _ in frames:
            yield pd.DataFrame(
                {"gate": [zipimport.zipimporter.invalidate_caches.__module__]}
            )

    gated = spark.range(8, numPartitions=4).mapInPandas(report, "gate string")
    gates = {r["gate"] for r in gated.collect()}
    if sys.version_info < (3, 13):
        assert gates == {"crane_spark._zipimport"}
    else:
        assert gates == {"zipimport"}
