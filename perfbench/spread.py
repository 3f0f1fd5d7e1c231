"""Run-to-run spread of the benchmark, the way its acceptance is judged.

    python3 perfbench/spread.py [--runs 10] [--first-seed 1] [--trace 0]
                                [--overhead] [--workload NAME ...] [--out FILE]

Runs ``perfbench/run.py`` once per seed for each workload (from the
current directory, which must be a checkout root), one run at a time,
and prints for every metric the median and the quartile spread
(Q3 - Q1 of ``statistics.quantiles(values, n=4)``) as a share of the
median, next to the metric's bound from BENCHMARK.json, together with
the CPU steal and load stamps of the runs. ``--overhead`` runs every
seed untraced and then traced, and prints the tracing overhead on each
end-to-end metric: median ``traced.<metric>`` minus median ``<metric>``.
Raw results are appended to ``--out`` as JSON lines.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    start = time.monotonic()
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(HERE, "run.py"),
            "--workload", workload,
            "--seed", str(seed),
            "--seconds", str(seconds),
            "--trace", str(trace),
        ],
        capture_output=True,
        text=True,
        check=False,
    )
    wall = time.monotonic() - start
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed} exited {proc.returncode}")
    stamp = next(
        (json.loads(x.split(" ", 1)[1]) for x in lines if x.startswith("perfbench-stamp ")),
        {},
    )
    return {
        "workload": workload,
        "seed": seed,
        "trace": trace,
        "wall_s": round(wall, 2),
        "stamp": stamp,
        "result": json.loads(lines[-1]),
    }


def summarize(rows: list[dict], bounds: dict) -> None:
    by_metric: dict[str, list[float]] = {}
    for r in rows:
        for name, m in r["result"]["metrics"].items():
            by_metric.setdefault(name, []).append(m["value"])
    steal = [r["stamp"].get("steal_pct", 0.0) for r in rows]
    walls = [r["wall_s"] for r in rows]
    ok = all(r["result"]["correct"] for r in rows)
    failed = sum(r["result"]["failed"] for r in rows)
    print(
        f"  runs={len(rows)} correct={ok} failed={failed} "
        f"wall_s median={statistics.median(walls):.1f} max={max(walls):.1f} "
        f"steal_pct median={statistics.median(steal):.2f} max={max(steal):.2f}"
    )
    for name, values in by_metric.items():
        med = statistics.median(values)
        if len(values) >= 2:
            q1, _, q3 = statistics.quantiles(values, n=4)
            spread = (q3 - q1) / med if med else float("nan")
        else:
            spread = float("nan")
        bound = bounds.get(name)
        note = f"bound={bound}" if bound is not None else ""
        print(f"  {name:40s} median={med:12.4f} spread={spread:7.4f} {note}")


def overhead(untraced: list[dict], traced: list[dict]) -> None:
    print("  tracing overhead (traced - untraced medians):")
    for name in untraced[0]["result"]["metrics"]:
        off = statistics.median(r["result"]["metrics"][name]["value"] for r in untraced)
        on = statistics.median(r["result"]["metrics"][f"traced.{name}"]["value"] for r in traced)
        print(f"  {name:40s} untraced={off:12.4f} traced={on:12.4f} diff={on - off:+.4f} ({(on - off) / off:+.1%})")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--overhead", action="store_true", help="pair untraced and traced runs")
    ap.add_argument("--workload", action="append")
    ap.add_argument("--out", default=os.path.join(".perfbench_work", "spread.jsonl"))
    args = ap.parse_args(argv)

    with open("BENCHMARK.json", encoding="utf-8") as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    os.makedirs(os.path.dirname(args.out) or ".", exist_ok=True)
    modes = (0, 1) if args.overhead else (args.trace,)
    for workload in workloads:
        rows: dict[int, list[dict]] = {m: [] for m in modes}
        for seed in range(args.first_seed, args.first_seed + args.runs):
            for mode in modes:
                row = run_once(workload, seed, bench["run_seconds"], mode)
                rows[mode].append(row)
                with open(args.out, "a", encoding="utf-8") as fh:
                    fh.write(json.dumps(row) + "\n")
        print(workload)
        summarize(rows[modes[0]], bounds)
        if args.overhead:
            overhead(rows[0], rows[1])
        sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
