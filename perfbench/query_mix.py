"""``query_mix``: a closed loop of registry queries.

One client runs a fixed, ordered list of registry queries into the
noop sink, round-robin, each query starting only when the previous one
finished. Input is the star schema generated from the seed at
``SCALE`` x sf0.1 (lineitem 120k rows): at the full sf0.1 size one run
takes about 60 s, too long for the number of runs the benchmark must
fit in its time budget (perfbench/README.md gives the measurement).
This covers batch analytics and LLM-data work (``queries``, ``tables``,
``operators``, ``functions``, ``llm``) through Catalyst/AQE with no
streaming state.

The warm-up pass doubles as the output check: every query is collected
once and compared with its registry DuckDB oracle SQL
(``crane_spark.testing``); the DuckDB time is kept out of ``setup_s``.
The timed loop runs whole rounds, so every query is weighted equally,
and their number is fixed in advance from ``--seconds`` (one round per
``ROUND_S``), not by a deadline: a deadline would let a run that
happens to finish its rounds early run one more, warmer round, and
split the runs into two populations.

Metrics: ``latency_p50_ms``/``latency_p90_ms`` over query latencies
(build + execute); ``throughput_per_s`` = queries per second.
"""

from __future__ import annotations

import os
import sys
import time

import harness
from inputs import write_star_schema

SCALE = 0.2
# Nominal seconds of --seconds per timed round: two rounds at
# --seconds 8. With one round, each query is a single sample and one
# stalled query moves the percentiles past their bound.
ROUND_S = 4
QUERIES = (
    "wordcount",
    "user_filter_count",
    "pagerank_contrib",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q18_large_volume",
    "q21_sole_late_supplier",
    "exact_dedup",
    "minhash_lsh_pairs",
    "embedding_topk",
    "bm25_search",
    "window_running_total",
)


class Workload:
    def __init__(self, ctx):
        self.ctx = ctx
        self.sf_dir = os.path.join(ctx.work, "sf")
        self.setup_excluded_s = 0.0
        self.oracle_failed = 0

    def prepare(self) -> None:
        write_star_schema(self.sf_dir, self.ctx.seed, SCALE)

    def warm_up(self) -> None:
        from crane_spark.queries import REGISTRY
        from crane_spark.testing import diff_frames, duck_connection

        con = duck_connection(self.sf_dir)
        try:
            for name in QUERIES:
                spec = REGISTRY[name]
                try:
                    got = spec.fn(self.ctx.spark, self.sf_dir).toPandas()
                except Exception as exc:  # noqa: BLE001 - a failed check is counted, the pass goes on
                    problems = [repr(exc)]
                else:
                    t = time.perf_counter()
                    problems = diff_frames(got, con.execute(spec.sql).df())
                    self.setup_excluded_s += time.perf_counter() - t
                if problems:
                    self.oracle_failed += 1
                    print(f"perfbench: {name} fails its oracle check: {problems}", file=sys.stderr)
        finally:
            con.close()

    def measure(self) -> harness.Result:
        from crane_spark.queries import REGISTRY

        ctx = self.ctx
        sc = ctx.spark.sparkContext
        ambient = harness.Ambient()
        cpu0 = ctx.probe.snapshot()
        runs = []  # (name, start, built, end, ok); job group / trace id f"q{index}"
        failed = 0
        t0 = time.perf_counter()
        for _ in range(max(1, round(ctx.seconds / ROUND_S))):
            for name in QUERIES:
                if ctx.trace:
                    sc.setJobGroup(f"q{len(runs)}", name)
                start = time.perf_counter()
                try:
                    df = REGISTRY[name].fn(ctx.spark, self.sf_dir)
                    built = time.perf_counter()
                    df.write.format("noop").mode("overwrite").save()
                    ok = True
                except Exception as exc:  # noqa: BLE001 - a failed query is counted, the loop goes on
                    print(f"perfbench: {name} failed: {exc!r}", file=sys.stderr)
                    built, ok = time.perf_counter(), False
                    failed += 1
                runs.append((name, start, built, time.perf_counter(), ok))
        elapsed = time.perf_counter() - t0
        stamp = dict(ambient.stamp(), **ctx.probe.since(cpu0))

        done = [r for r in runs if r[4]]
        if not done:
            raise RuntimeError("every query failed")
        if ctx.trace:
            self._spans(runs)
        lat_ms = [(end - start) * 1000.0 for _, start, _, end, _ in done]
        e2e = {
            "latency_p50_ms": harness.percentile(lat_ms, 50),
            "latency_p90_ms": harness.percentile(lat_ms, 90),
            "throughput_per_s": len(done) / elapsed,
        }
        layers = {}
        if ctx.trace:
            layers = self._layers(done, stamp)
        attempted = len(runs) + len(QUERIES)  # timed queries + oracle checks
        result = harness.Result(e2e, layers, attempted, failed + self.oracle_failed, stamp)
        result.correct = self.oracle_failed == 0
        return result

    def _spans(self, runs) -> None:
        """A query span with two children, build and execute."""
        tracer = self.ctx.tracer
        offset = time.time() - time.perf_counter()
        for i, (name, start, built, end, ok) in enumerate(runs):
            root = tracer.add("query", start + offset, end + offset, f"q{i}", query=name, ok=ok)
            tracer.add("queries.build", start + offset, built + offset, f"q{i}", parent=root)
            tracer.add("queries.execute", built + offset, end + offset, f"q{i}", parent=root)

    def _layers(self, done, stamp) -> dict:
        ctx = self.ctx
        jobs = tasks = shuffle = 0
        for group, totals in ctx.status.totals_by_group().items():
            if group is not None and group.startswith("q"):
                jobs += totals["jobs"]
                tasks += totals["tasks"]
                shuffle += totals["shuffle_write_bytes"]
        n = len(done)
        layers = {
            "queries.build_ms": harness.median([(b - s) * 1000.0 for _, s, b, _, _ in done]),
            "queries.execute_ms": harness.median([(e - b) * 1000.0 for _, _, b, e, _ in done]),
            "queries.jobs": jobs / n,
            "queries.tasks": tasks / n,
            "queries.shuffle_write_bytes": shuffle / n,
        }
        for q in QUERIES:
            layers[f"queries.execute_ms.{q}"] = harness.median(
                [(e - b) * 1000.0 for name, _, b, e, _ in done if name == q]
            )
        layers.update({k: stamp[k] for k in ("jvm_cpu_s", "python_cpu_s", "jvm_gc_ms")})
        return layers

    def check(self, result: harness.Result) -> None:
        """The oracle comparison ran during warm-up; nothing is left."""

    def close(self) -> None:
        pass
