"""Benchmark entry point.

    python3 perfbench/run.py --workload {wordcount_stream,spout_drain,query_mix}
                             --seed N --seconds S --trace {0,1}

Run from the root of a checkout. One process runs one workload on
``local[nproc]``. The last line of stdout is one JSON object::

    {"correct": bool, "attempted": int, "failed": int,
     "metrics": {name: {"value": float, "unit": str}, ...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
BENCHMARK.json; with ``--trace 1`` they are its per-layer metrics,
taken from a run that also records spans (written to
``.perfbench_work/traces/``) and enables Spark's status API. The line
before it is ``perfbench-stamp {...}``: the ambient CPU steal, load
average and process CPU of the measured window, and the pinned
settings. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402

WORKLOADS = ("wordcount_stream", "spout_drain", "query_mix")


def metric_units(root: str) -> tuple[dict[str, str], dict[str, str]]:
    """End-to-end and per-layer metric units, as BENCHMARK.json lists
    them. Every workload reports every end-to-end metric (README.md
    tables what each one measures where); a per-layer metric of a layer
    the workload does not exercise reads 0."""
    with open(os.path.join(root, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    return (
        {m["name"]: m["unit"] for m in bench["end_to_end"]},
        {m["name"]: m["unit"] for m in bench["per_layer"]},
    )


class Context:
    """What a workload needs: its arguments, a fresh scratch directory
    inside the checkout, the session, the tracer and the probes."""

    def __init__(self, args, work: str):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.tracer = harness.Tracer(self.trace)
        self.spark = None
        self.probe = None
        self.status = None

    def start_session(self):
        from crane_spark import get_spark

        conf = {
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.enabled": "true" if self.trace else "false",
        }
        self.spark = get_spark(app_name="perfbench", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.probe = harness.ProcessProbe(self.spark)
        if self.trace:
            self.status = harness.StatusApi(self.spark)


def pin_environment(root: str, work: str) -> dict:
    """Settings every run pins before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    settings = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        # the session default (16g) exceeds the RAM of small machines
        "SPARK_GRAFT_DRIVER_MEM": "3g",
        # Python DataSource workers import crane_spark from the checkout.
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH", "")) if p
        ),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
    }
    # JVM scratch inside the run directory and no hsperfdata file, for
    # the launcher JVM and the Spark JVM alike
    for key in ("SPARK_LAUNCHER_OPTS", "SPARK_SUBMIT_OPTS"):
        opts = (os.environ.get(key, ""), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData")
        settings[key] = " ".join(o for o in opts if o)
    for key in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_SHUFFLE", "SPARK_GRAFT_STATESTORE"):
        os.environ.pop(key, None)
    os.environ.update(settings)
    return settings


def stop_jvm() -> None:
    """End the session's JVM (and with it its Python workers) and wait
    for it: the JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is None or proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    return args


def main(argv=None) -> int:
    args = parse(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "crane_spark", "__init__.py")):
        print(
            f"perfbench: no crane_spark package under {root}; run from a checkout root",
            file=sys.stderr,
        )
        return 2
    base = os.path.join(root, ".perfbench_work")
    work = os.path.join(base, f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(work)
    settings = pin_environment(root, work)
    sys.path.insert(0, root)

    e2e_units, layer_units = metric_units(root)
    ctx = Context(args, work)
    workload = importlib.import_module(args.workload).Workload(ctx)
    try:
        workload.prepare()
        t0 = time.perf_counter()
        ctx.start_session()
        workload.warm_up()
        setup_s = time.perf_counter() - t0 - workload.setup_excluded_s
        result = workload.measure()
        workload.check(result)
    except Exception:  # noqa: BLE001 - report any failure as a failed run
        traceback.print_exc()
        return 1
    finally:
        workload.close()
        if ctx.spark is not None:
            ctx.spark.stop()
            stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    e2e = dict(result.e2e, setup_s=setup_s)
    if args.trace:
        metrics = dict(result.layers)
        metrics.update({f"traced.{k}": v for k, v in e2e.items()})
        metrics["error_rate"] = result.failed / result.attempted
        metrics["ambient.steal_pct"] = result.stamp["steal_pct"]
        metrics["ambient.loadavg"] = result.stamp["loadavg_end"]
        units = layer_units
        ctx.tracer.flush(
            os.path.join(base, "traces", f"{args.workload}-seed{args.seed}.jsonl")
        )
    else:
        metrics, units = e2e, e2e_units
    unknown = set(metrics) - set(units)
    if unknown:
        print(f"perfbench: metrics not in BENCHMARK.json: {sorted(unknown)}", file=sys.stderr)
        return 1
    stamp = dict(result.stamp, workload=args.workload, seed=args.seed, settings=settings)
    print("perfbench-stamp " + json.dumps(stamp), flush=True)
    print(
        json.dumps(
            {
                "correct": result.correct,
                "attempted": result.attempted,
                "failed": result.failed,
                "metrics": {
                    k: {"value": float(metrics.get(k, 0.0)), "unit": units[k]}
                    for k in units
                },
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
