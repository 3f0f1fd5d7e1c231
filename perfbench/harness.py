"""Measurement plumbing shared by the three workloads: ambient stamps,
CPU/GC probes, status-API reads, progress-report parsing and the
in-memory span recorder used by traced runs.

Every probe here observes the program from outside: ``/proc``, the
JVM's management beans through py4j, Spark's status REST API and
``StreamingQueryProgress``. Nothing in ``crane_spark`` is patched.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import urllib.request
from datetime import datetime
from dataclasses import dataclass, field

def percentile(values, q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty sample."""
    ordered = sorted(values)
    rank = max(1, -(-len(ordered) * q // 100))
    return float(ordered[int(rank) - 1])


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


# ---------------------------------------------------------------------------
# Ambient stamps: steal and load are not charged to the benchmark's own
# processes, so they tell a noisy pair of runs apart from a real change.
# They are recorded only, never used to drop a run.
# ---------------------------------------------------------------------------


def _cpu_ticks() -> tuple[int, int]:
    with open("/proc/stat", encoding="ascii") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    steal = fields[7] if len(fields) > 7 else 0
    return sum(fields[:8]), steal


class Ambient:
    """CPU steal share and load average over a window."""

    def __init__(self):
        self._total, self._steal = _cpu_ticks()
        self._load = os.getloadavg()[0]

    def stamp(self) -> dict:
        total, steal = _cpu_ticks()
        dt = max(total - self._total, 1)
        return {
            "steal_pct": round(100.0 * (steal - self._steal) / dt, 3),
            "loadavg_start": round(self._load, 2),
            "loadavg_end": round(os.getloadavg()[0], 2),
        }


# ---------------------------------------------------------------------------
# Process CPU and JVM GC
# ---------------------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii") as fh:
            raw = fh.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2 :].split()


def _children(pid: int) -> list[int]:
    out = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tasks:
        try:
            with open(f"/proc/{pid}/task/{tid}/children", encoding="ascii") as fh:
                out.extend(int(c) for c in fh.read().split())
        except OSError:
            pass
    return out


def _cpu_s(fields: list[str], with_children: bool) -> float:
    # fields[11..14] = utime, stime, cutime, cstime (after pid and comm)
    ticks = int(fields[11]) + int(fields[12])
    if with_children:
        ticks += int(fields[13]) + int(fields[14])
    return ticks / _TICK


class ProcessProbe:
    """JVM CPU seconds, Python-worker CPU seconds (every live descendant
    of the JVM, plus what exited workers left in their parents'
    child-time counters) and JVM GC milliseconds."""

    def __init__(self, spark):
        jvm = spark.sparkContext._jvm
        self._jvm = jvm
        self.jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())

    def jvm_cpu_s(self) -> float:
        fields = _stat(self.jvm_pid)
        return _cpu_s(fields, with_children=False) if fields else 0.0

    def python_cpu_s(self) -> float:
        total, stack = 0.0, list(_children(self.jvm_pid))
        while stack:
            pid = stack.pop()
            fields = _stat(pid)
            if fields is None:
                continue
            total += _cpu_s(fields, with_children=True)
            stack.extend(_children(pid))
        return total

    def gc_ms(self) -> float:
        beans = self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return float(sum(max(b.getCollectionTime(), 0) for b in beans))

    def snapshot(self) -> dict:
        return {
            "jvm_cpu_s": self.jvm_cpu_s(),
            "python_cpu_s": self.python_cpu_s(),
            "jvm_gc_ms": self.gc_ms(),
        }

    def since(self, before: dict) -> dict:
        after = self.snapshot()
        return {k: round(after[k] - before[k], 3) for k in before}


# ---------------------------------------------------------------------------
# Spark status REST API (traced runs only; the UI is off in timed runs)
# ---------------------------------------------------------------------------


class StatusApi:
    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as resp:
            return json.load(resp)

    def totals_by_group(self) -> dict:
        """Jobs, completed tasks and shuffle-write bytes per job group."""
        stage_group = {}
        out: dict = {}
        for j in self._get("jobs"):
            group = j.get("jobGroup")
            t = out.setdefault(group, {"jobs": 0, "tasks": 0, "shuffle_write_bytes": 0})
            t["jobs"] += 1
            t["tasks"] += j["numCompletedTasks"]
            stage_group.update({s: group for s in j["stageIds"]})
        for st in self._get("stages"):
            if st["stageId"] in stage_group and st["status"] == "COMPLETE":
                out[stage_group[st["stageId"]]]["shuffle_write_bytes"] += st.get(
                    "shuffleWriteBytes", 0
                )
        return out

    def tasks_per_batch(self, run_id: str, batch_ids) -> float:
        """Median completed tasks per micro-batch of a streaming query:
        its jobs carry the run id as job group and ``batch = N`` in their
        description."""
        per_batch: dict[int, int] = {}
        for j in self._get("jobs"):
            m = _BATCH.search(j.get("description") or "")
            if j.get("jobGroup") == run_id and m and int(m.group(1)) in batch_ids:
                per_batch[int(m.group(1))] = (
                    per_batch.get(int(m.group(1)), 0) + j["numCompletedTasks"]
                )
        return median(list(per_batch.values()))


_BATCH = re.compile(r"batch = (\d+)")


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float
    trace_id: str
    span_id: int
    parent: int | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Spans held in memory and written once, at exit. A disabled
    tracer records nothing, so timed runs pay no tracing cost."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []

    def add(self, name, start, end, trace_id, parent=None, **attrs) -> int | None:
        if not self.enabled:
            return None
        span_id = len(self.spans) + 1
        self.spans.append(Span(name, start, end, str(trace_id), span_id, parent, attrs))
        return span_id

    def flush(self, path: str) -> None:
        if not self.enabled:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


def progress_of(query) -> list[dict]:
    """The query's retained progress reports as plain JSON dicts."""
    return [json.loads(p.json) for p in query.recentProgress]


def batch_start(progress: dict) -> float:
    """Epoch seconds at which a micro-batch's trigger fired."""
    return datetime.fromisoformat(progress["timestamp"].replace("Z", "+00:00")).timestamp()


def batch_end(progress: dict) -> float:
    return batch_start(progress) + progress["durationMs"]["triggerExecution"] / 1000.0


def progress_spans(tracer: Tracer, progress: list[dict], run_id: str) -> None:
    """One span per micro-batch, with children laid out from its
    ``durationMs`` parts in the order the micro-batch loop runs them."""
    phases = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
    for p in progress:
        start = batch_start(p)
        dur = p["durationMs"]
        batch = tracer.add(
            "streaming.batch",
            start,
            batch_end(p),
            run_id,
            batch_id=p["batchId"],
            rows=p["numInputRows"],
        )
        t = start
        for ph in phases:
            ms = dur.get(ph)
            if ms is None:
                continue
            tracer.add(f"streaming.{ph}", t, t + ms / 1000.0, run_id, parent=batch)
            t += ms / 1000.0


def progress_layers(progress: list[dict], source: str) -> dict:
    """Per-layer medians over the given micro-batches; ``source`` names
    the layer whose offset lookup ``latestOffset`` times."""
    if not progress:
        return {}
    dur = [p["durationMs"] for p in progress]
    out = {
        f"{source}.latest_offset_ms": median([d.get("latestOffset", 0) for d in dur]),
        "streaming.planning_ms": median([d.get("queryPlanning", 0) for d in dur]),
        "streaming.add_batch_ms": median([d.get("addBatch", 0) for d in dur]),
        "streaming.checkpoint_ms": median(
            [d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dur]
        ),
        "streaming.rows_per_batch": median([p["numInputRows"] for p in progress]),
        "streaming.batches": float(len(progress)),
    }
    ops = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
    if ops:
        out.update(
            {
                "streaming.state_update_ms": median([o["allUpdatesTimeMs"] for o in ops]),
                "streaming.state_commit_ms": median([o["commitTimeMs"] for o in ops]),
                "streaming.state_partitions": float(ops[-1]["numShufflePartitions"]),
                "streaming.state_rows": float(ops[-1]["numRowsTotal"]),
                "streaming.state_bytes": float(ops[-1]["memoryUsedBytes"]),
            }
        )
    return out


@dataclass
class Result:
    """One workload's measured window."""

    e2e: dict  # latency_p50_ms, latency_p90_ms, throughput_per_s
    layers: dict
    attempted: int
    failed: int
    stamp: dict  # ambient + process CPU over the window
    correct: bool = True
