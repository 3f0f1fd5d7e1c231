"""``spout_drain``: the reference's own execution model, spout -> count
-> master output, as a closed drain of one fixed seeded text file.

``crane_spout`` (the Python DataSource, at its default 500-line batch)
-> ``operators.topology.wordcount`` -> ``crane_sink`` in complete mode,
with a processing-time trigger; the run ends when every line is
consumed. It is the only workload through Python DataSource reads
(``sources.spout``) and durable writes (``sources.sink_ds``), which
``wordcount_stream`` bypasses.

The output check reads the committed sink output itself, manifests in
numeric batch order, and compares it with a recount of the file. It
does not use ``read_crane_sink``, which orders manifests by name (a
known defect recorded in README.md).

Metrics: ``latency_p50_ms``/``latency_p90_ms`` over micro-batch
durations (trigger to commit); ``throughput_per_s`` = lines drained
per second, from ``start()`` to the commit of the last batch.
"""

from __future__ import annotations

import json
import os
import re
import time

import harness
from inputs import ZipfText, recount, write_lines

# Four batches at crane_spout's default 500-line batch: one warm-up,
# three measured.
DRAIN_LINES = 2_000
DRAIN_TIMEOUT_S = 120.0
_MANIFEST = re.compile(r"_MANIFEST-(\d+)\.json$")



def _end_line(progress: dict) -> int:
    return progress["sources"][0]["endOffset"]["line"]


def read_committed(path: str) -> dict[str, int]:
    """Committed ``key --- value`` output, manifests applied in numeric
    batch order (complete mode: the last batch holds the full result)."""
    manifests = sorted(
        (int(m.group(1)), name)
        for name in os.listdir(path)
        if (m := _MANIFEST.match(name))
    )
    out: dict[str, int] = {}
    for _, name in manifests:
        with open(os.path.join(path, name), encoding="utf-8") as fh:
            files = json.load(fh)["files"]
        for rel in files:
            with open(os.path.join(path, rel), encoding="utf-8") as part:
                for line in part.read().splitlines():
                    k, _, v = line.partition(" --- ")
                    out[k] = int(v)
    return out


class Workload:
    """One query drains one file. Its first micro-batch pays the cold
    costs (Python reader and writer workers, codegen, state store
    creation) and is the warm-up, counted in ``setup_s``; the batches
    after it are measured."""

    def __init__(self, ctx):
        self.ctx = ctx
        self.setup_excluded_s = 0.0
        self.query = None
        self.path = os.path.join(ctx.work, "drain.txt")
        self.sink = os.path.join(ctx.work, "sink")
        self.lines: list[str] = []
        self.first = None  # progress of the warm-up batch

    def prepare(self) -> None:
        self.lines = ZipfText(self.ctx.seed).lines(DRAIN_LINES)
        write_lines(self.path, self.lines)

    def _wait_for_line(self, line: int) -> dict:
        """Progress of the first micro-batch that consumed up to ``line``."""
        deadline = time.monotonic() + DRAIN_TIMEOUT_S
        while True:
            last = self.query.lastProgress
            last = json.loads(last.json) if last else None
            if last and last["numInputRows"] > 0 and _end_line(last) >= line:
                return last
            if not self.query.isActive:
                raise RuntimeError(f"drain stopped: {self.query.exception()}")
            if time.monotonic() > deadline:
                raise RuntimeError(f"drain did not reach line {line}")
            time.sleep(0.02)

    def warm_up(self) -> None:
        from crane_spark.operators.topology import wordcount
        from crane_spark.sources.sink_ds import CraneSinkDataSource
        from crane_spark.sources.spout import CraneSpoutDataSource

        spark = self.ctx.spark
        spark.dataSource.register(CraneSpoutDataSource)
        spark.dataSource.register(CraneSinkDataSource)
        stream = spark.readStream.format("crane_spout").option("path", self.path).load()
        self.query = (
            wordcount(stream)
            .writeStream.format("crane_sink")
            .option("path", self.sink)
            .option("checkpointLocation", os.path.join(self.ctx.work, "checkpoint"))
            .outputMode("complete")
            .trigger(processingTime="0 seconds")
            .start()
        )
        self.first = self._wait_for_line(1)

    def measure(self) -> harness.Result:
        ctx = self.ctx
        ambient = harness.Ambient()
        cpu0 = ctx.probe.snapshot()
        self._wait_for_line(DRAIN_LINES)
        stamp = dict(ambient.stamp(), **ctx.probe.since(cpu0))
        self.query.stop()
        progress = [
            p
            for p in harness.progress_of(self.query)
            if p["numInputRows"] > 0 and p["batchId"] > self.first["batchId"]
        ]
        if not progress:
            raise RuntimeError("the whole file was drained by the warm-up batch")

        batch_ms = [p["durationMs"]["triggerExecution"] for p in progress]
        e2e = {
            "latency_p50_ms": harness.percentile(batch_ms, 50),
            "latency_p90_ms": harness.percentile(batch_ms, 90),
            "throughput_per_s": sum(p["numInputRows"] for p in progress)
            / (harness.batch_end(progress[-1]) - harness.batch_end(self.first)),
        }
        layers = {}
        if ctx.trace:
            layers = harness.progress_layers(progress, "sources.spout")
            layers["streaming.tasks_per_batch"] = ctx.status.tasks_per_batch(
                str(self.query.runId), {p["batchId"] for p in progress}
            )
            layers["sources.spout.read_ms"] = self._direct_read_ms()
            layers.update(self._sink_counts())
            layers.update({k: stamp[k] for k in ("jvm_cpu_s", "python_cpu_s", "jvm_gc_ms")})
            harness.progress_spans(ctx.tracer, progress, str(self.query.runId))
        # one operation per timed micro-batch, plus the output check
        return harness.Result(e2e, layers, len(progress) + 1, 0, stamp)

    def _direct_read_ms(self) -> float:
        """Median time of ``SpoutStreamReader.read`` at each batch offset
        of the drained file, called directly in this process."""
        from crane_spark.sources.spout import DEFAULT_BATCH_SIZE, SpoutStreamReader

        reader = SpoutStreamReader({"path": self.path})
        times = []
        for line in range(0, DRAIN_LINES, DEFAULT_BATCH_SIZE):
            t = time.perf_counter()
            rows, _ = reader.read({"line": line})
            list(rows)
            times.append((time.perf_counter() - t) * 1000.0)
        return harness.median(times)
    def _sink_counts(self) -> dict:
        rows = files = size = 0
        for name in os.listdir(self.sink):
            full = os.path.join(self.sink, name)
            if _MANIFEST.match(name):
                with open(full, encoding="utf-8") as fh:
                    rows += json.load(fh)["rows"]
            else:
                files += 1
                size += os.path.getsize(full)
        return {
            "sources.sink_ds.rows_written": float(rows),
            "sources.sink_ds.bytes_written": float(size),
            "sources.sink_ds.files_written": float(files),
        }

    def check(self, result: harness.Result) -> None:
        """The committed sink output equals a recount of the file."""
        if read_committed(self.sink) != dict(recount(self.lines)):
            result.correct = False
            result.failed += 1

    def close(self) -> None:
        if self.query is not None and self.query.isActive:
            self.query.stop()
