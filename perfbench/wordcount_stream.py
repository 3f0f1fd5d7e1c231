"""``wordcount_stream``: open-loop event-to-result latency.

A separate generator process (loadgen.py) drops a 100-line text file
into a watched directory every 100 ms (1,000 lines/s, well under what
the text source drains), whatever the stream is doing. The stream is
``readStream.text`` -> ``streaming.pipelines.stream_wordcount`` (a
checkpointed stateful aggregate) -> a benchmark-side ``foreachBatch``
sink in update mode.

Each file carries one unique marker token. Its latency is the moment
the sink receives the batch holding the marker's count, minus the
moment the file was *due* (not when it was written), so a stall that
delays later files is charged to them. This latency is set by fixed
per-batch cost: state store over the shuffle partitions, file listing
and the offset/commit logs, with little per-row work.

Metrics: ``latency_p50_ms``/``latency_p90_ms`` over markers;
``throughput_per_s`` = lines delivered per second by the batches that
ran while files arrived. In an open loop under capacity that is the
offered rate, whatever the program's speed: on this workload it is a
saturation alarm (it falls once the stream cannot keep up) and cannot
show a gain.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time

import harness
from inputs import ZipfText, recount, write_lines
from loadgen import marker

LINES_PER_FILE = 100
INTERVAL_MS = 100.0
WARMUP_ROUNDS = 2  # warm-up waves of files, each waited for
DRAIN_TIMEOUT_S = 60.0


class Workload:
    def __init__(self, ctx):
        self.ctx = ctx
        self.in_dir = os.path.join(ctx.work, "in")
        self.stage = os.path.join(ctx.work, "stage")
        self.query = None
        self.loadgen = None
        self.setup_excluded_s = 0.0
        self._lock = threading.Lock()
        self._counts: dict[str, int] = {}
        self._arrived: dict[str, tuple[float, int]] = {}

    def prepare(self) -> None:
        os.makedirs(self.in_dir)
        os.makedirs(self.stage)

    # The sink runs on the stream's callback thread.
    def _sink(self, batch_df, _batch_id: int) -> None:
        rows = batch_df.collect()
        t = time.monotonic()
        with self._lock:
            for token, cnt in rows:
                self._counts[token] = cnt
                # markers are "mk"/"wu" + digits; vocabulary words have no digits
                if token[2:].isdigit() and token not in self._arrived:
                    self._arrived[token] = (t, cnt)

    def _wait_for(self, tokens, deadline: float) -> bool:
        while time.monotonic() < deadline:
            with self._lock:
                if all(t in self._arrived for t in tokens):
                    return True
            if not self.query.isActive:
                raise RuntimeError(f"stream stopped: {self.query.exception()}")
            time.sleep(0.01)
        return False

    def warm_up(self) -> None:
        from crane_spark.sources.files import read_text_lines
        from crane_spark.streaming.pipelines import stream_wordcount

        spark = self.ctx.spark
        lines = read_text_lines(spark, self.in_dir, streaming=True)
        self.query = (
            stream_wordcount(lines)
            .writeStream.outputMode("update")
            .foreachBatch(self._sink)
            .option("checkpointLocation", os.path.join(self.ctx.work, "checkpoint"))
            .trigger(processingTime="0 seconds")
            .start()
        )
        text = ZipfText(self.ctx.seed, stream=1)
        for wave in range(WARMUP_ROUNDS):
            tokens = []
            for j in range(3):
                tok = f"wu{wave:03d}{j:03d}"
                # staged and renamed, as loadgen.py does, so the file
                # source never lists a half-written file
                staged = os.path.join(self.stage, f"warm-{tok}.txt")
                write_lines(staged, text.lines(LINES_PER_FILE - 1) + [tok])
                os.rename(staged, os.path.join(self.in_dir, f"warm-{tok}.txt"))
                tokens.append(tok)
            if not self._wait_for(tokens, time.monotonic() + DRAIN_TIMEOUT_S):
                raise RuntimeError("warm-up files never reached the sink")

    def measure(self) -> harness.Result:
        ctx = self.ctx
        n_files = max(1, round(ctx.seconds * 1000.0 / INTERVAL_MS))
        self.loadgen = subprocess.Popen(
            [
                sys.executable,
                os.path.join(os.path.dirname(os.path.abspath(__file__)), "loadgen.py"),
                "--out", self.in_dir,
                "--stage", self.stage,
                "--seed", str(ctx.seed),
                "--files", str(n_files),
                "--lines", str(LINES_PER_FILE),
                "--interval-ms", str(INTERVAL_MS),
            ],
            stdout=subprocess.PIPE,
            text=True,
        )
        t0 = json.loads(self.loadgen.stdout.readline())["t0"]
        wall_t0 = time.time() - (time.monotonic() - t0)
        ambient = harness.Ambient()
        cpu0 = ctx.probe.snapshot()

        markers = [marker(i) for i in range(n_files)]
        last_due = t0 + (n_files - 1) * INTERVAL_MS / 1000.0
        time.sleep(max(0.0, last_due - time.monotonic()))
        self._wait_for(markers, last_due + DRAIN_TIMEOUT_S)

        stamp = dict(ambient.stamp(), **ctx.probe.since(cpu0))
        lag_ms = json.loads(self.loadgen.stdout.readline())["lag_ms"]
        self.loadgen.wait(timeout=DRAIN_TIMEOUT_S)
        with self._lock:
            arrived = dict(self._arrived)
        lat_ms, failed = [], 0
        for i, m in enumerate(markers):
            got = arrived.get(m)
            if got is None or got[1] != 1:
                failed += 1
                continue
            lat_ms.append((got[0] - (t0 + i * INTERVAL_MS / 1000.0)) * 1000.0)
        if not lat_ms:
            raise RuntimeError("no marker reached the sink")
        # Delivered rate: rows of the batches that ran while files were
        # still arriving, over the time between their completions. It
        # equals the offered rate until the stream falls behind, and
        # drops to what the stream sustains once it does.
        progress = [
            p
            for p in harness.progress_of(self.query)
            if harness.batch_start(p) >= wall_t0 and p["numInputRows"] > 0
        ]
        wall_last_due = wall_t0 + (last_due - t0)
        loaded = [p for p in progress if harness.batch_start(p) < wall_last_due]
        if len(loaded) >= 2:
            rate = sum(p["numInputRows"] for p in loaded[1:]) / (
                harness.batch_end(loaded[-1]) - harness.batch_end(loaded[0])
            )
        else:  # one batch outlasted the whole load window
            rate = sum(p["numInputRows"] for p in progress) / (harness.batch_end(progress[-1]) - wall_t0)
        e2e = {
            "latency_p50_ms": harness.percentile(lat_ms, 50),
            "latency_p90_ms": harness.percentile(lat_ms, 90),
            "throughput_per_s": rate,
        }

        layers = {}
        if ctx.trace:
            found = harness.progress_layers(progress, "sources.files")
            run_id = str(self.query.runId)
            found["streaming.tasks_per_batch"] = ctx.status.tasks_per_batch(
                run_id, {p["batchId"] for p in progress}
            )
            found["loadgen.lag_ms"] = harness.percentile(lag_ms, 90)
            found.update({k: stamp[k] for k in ("jvm_cpu_s", "python_cpu_s", "jvm_gc_ms")})
            layers = found
            harness.progress_spans(ctx.tracer, progress, run_id)
            for i, m in enumerate(markers):
                if m in arrived:
                    due = wall_t0 + i * INTERVAL_MS / 1000.0
                    ctx.tracer.add(
                        "wordcount_stream.event",
                        due,
                        wall_t0 + (arrived[m][0] - t0),
                        f"{run_id}/{m}",
                    )
        # +1: the final recount check is one more operation
        return harness.Result(e2e, layers, len(markers) + 1, failed, stamp)

    def check(self, result: harness.Result) -> None:
        """Final counts equal a recount of every input file, after the
        stream consumed every file (all markers back)."""
        self.query.stop()
        lines = []
        for name in sorted(os.listdir(self.in_dir)):
            with open(os.path.join(self.in_dir, name), encoding="utf-8") as fh:
                lines.extend(fh.read().splitlines())
        with self._lock:
            ok = self._counts == dict(recount(lines))
        if not ok or result.failed:
            result.correct = False
        if not ok:
            result.failed += 1

    def close(self) -> None:
        if self.loadgen is not None and self.loadgen.poll() is None:
            self.loadgen.kill()
            self.loadgen.wait()
        if self.query is not None and self.query.isActive:
            self.query.stop()



