"""Audit every registered query's physical plan for single-partition
exchanges — the repeatable version of the manual WindowExec sweep that
round 3 ran at sf1.

`Exchange SinglePartition` is how an unpartitioned global sort, global
window, or global limit-by-sort lands in a physical plan: one task
processes every row that reaches it. That is EXPECTED when the input
is aggregate-sized or k-row-bounded (a top-20 rank window, a final
1-row summary, ntile over an orders table pinned by the oracle
contract) and a scale-killer when the input grows with the corpus.

The audit cannot know the semantic bound, so it reports every query
whose plan contains the node along with the immediate child operator,
and asserts the set matches the reviewed ALLOWLIST below. A new query
that introduces a global exchange fails the audit until a human either
re-plans it (dense_index, TakeOrdered, bounded frame) or classifies it
here with a justification.

Each query is built exactly as the registry runs it and its physical
plan explained, so the audited plan is the executed plan. Building a
query can run the indexing constructors' bounded driver jobs (cut
sketches, bucket-count collects); the query itself never executes.

Run: python tools/audit_single_partition.py [sf_dir]
Exit 0 = every flagged query is allowlisted and every allowlisted
query still flags (stale entries fail too, so the list never rots).
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from crane_spark import get_spark
from crane_spark.queries import REGISTRY

# Benign-by-construction child patterns (input to the exchange is
# bounded regardless of data size):
#  - a PARTIAL global aggregate with no keys: the exchange carries one
#    partial row per upstream task, never data rows;
#  - a 1-row Range frame (literal summary assembly);
#  - WindowGroupLimit: Spark's rank-limit pushdown caps rows to k per
#    partition BEFORE the exchange, so the global window sees at most
#    k * tasks rows.
_BENIGN = (
    re.compile(r"(Object|Sort)?HashAggregate\(keys=\[\], functions=\[partial_"),
    re.compile(r"Range \(0, 1,"),
    re.compile(r"WindowGroupLimit"),
)

# query -> why its non-benign single-partition exchange is
# semantically bounded (reviewed; everything else in the registry is
# either exchange-free or matches a _BENIGN pattern). The two former
# data-sized entries (equidepth_histogram, curriculum_order ntile
# windows) were re-planned in round 5 onto operators.indexing
# .exact_ntile — range-bucketed parallel rank + literal boundary
# arithmetic, bit-identical to ANSI ntile — so only the three
# aggregate-/calendar-bounded frames remain.
ALLOWLIST: dict[str, str] = {
    "error_rate_spikes": (
        "global frame over per-HOUR aggregate rows - calendar-bounded "
        "input (hours, not events)"
    ),
    "ks_drift_sources": (
        "cumsum over the value-space aggregate (distinct 1e-9-grid "
        "values) - distribution-sized, not corpus-sized"
    ),
    "orders_mom_growth": (
        "lag over per-MONTH aggregate rows - calendar-bounded input"
    ),
}

# ---------------------------------------------------------------------------
# Dimension 2 (round 6): data-sized windows hiding behind LOW-CARDINALITY
# partition keys. `Exchange SinglePartition` only catches UNpartitioned
# global sorts; `ntile(10) OVER (PARTITION BY source ...)` over the
# documents table never single-partitions, yet `source` has a handful of
# values, so at scale each task still sorts a corpus-sized partition —
# the shape exact_rank/exact_ntile(major=) exist to kill. The audit
# flags every physical Window whose partition spec references a column
# from the bounded-cardinality catalog below, UNLESS the window's input
# subtree is bounded by construction:
#   - a grouped aggregate below the window (the window runs over
#     aggregate rows, not data rows);
#   - WindowGroupLimit below it (rank-limit pushdown caps rows to k per
#     partition before the sort);
#   - a `_rb` range-bucket cell in the partition spec (the exact_rank
#     construction: cells are (major x buckets)-bounded AND
#     load-balanced by percentile cuts, with `buckets` tunable to the
#     cluster — the reviewed replacement, not the problem).
# Anything else needs an entry in WINDOW_ALLOWLIST with a justification.

# Columns whose cardinality is bounded by schema or calendar, not data
# size (TPC-H key ranges, corpus metadata enums, date parts).
_LOWCARD = re.compile(
    r"nationkey|regionkey|\bsource\b|status|returnflag|linestatus"
    r"|priority|shipmode|brand|container|mktsegment|segment|\blang\b"
    r"|\byear\b|\bmonth\b|\bquarter\b|\bweek\b|\bdow\b|year\(|month\(|quarter\("
)

_AGG_BELOW = re.compile(
    r"HashAggregate\(keys=\[[^\]]|AggregateInPandas|WindowGroupLimit"
)

WINDOW_ALLOWLIST: dict[str, str] = {
    "recursive_nation_chain": (
        "lead() over the 25-row nation dimension (PARTITION BY "
        "n_regionkey) - input bounded by schema, not data size; the "
        "recursion below joins vocabulary-sized edges only"
    ),
}


def _tree_depth(line: str) -> int:
    """Indent depth of a simple-mode plan line: offset of the node
    name past the `+-`/`:-`/`: ` tree-drawing prefix."""
    m = re.match(r"^[\s:+|-]*", line)
    return m.end() if m else 0


def _window_partition_specs(plan: str):
    """Yield (partition_spec, child_subtree_text) for each Window node
    in a simple-mode physical plan string."""
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        m = re.search(r"\bWindow(?:GroupLimit)?\s", ln)
        if not m or "WindowGroupLimit" in ln:
            continue
        # Window [funcs], [partition], [order] — take the second
        # top-level bracket group.
        groups, depth, start = [], 0, None
        for j, ch in enumerate(ln):
            if ch == "[":
                if depth == 0:
                    start = j + 1
                depth += 1
            elif ch == "]":
                depth -= 1
                if depth == 0 and start is not None:
                    groups.append(ln[start:j])
                    start = None
        if len(groups) < 2:
            continue
        d = _tree_depth(ln)
        sub = []
        for nxt in lines[i + 1 :]:
            if nxt.strip() and _tree_depth(nxt) <= d and re.search(r"\w", nxt):
                break
            sub.append(nxt)
        yield groups[1], "\n".join(sub)


def audit_lowcard_windows(name: str, plan: str) -> str | None:
    """Return a finding string if `plan` contains a data-row Window
    partitioned only on bounded-cardinality keys, else None."""
    for part, sub in _window_partition_specs(plan):
        if re.search(r"\b(ASC|DESC)\b", part):
            continue  # 2-group form: an UNpartitioned window's ordering
            # spec, not a partition spec — dimension 1's territory.
        if "_rb" in part:  # exact_rank cell construction: reviewed
            continue
        if _LOWCARD.search(part) and not _AGG_BELOW.search(sub):
            return re.sub(r"#\d+L?", "", part)[:80]
    return None


DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_AUDIT_SF_DIR", "/root/testdata/sf0.001")


def _enumerate_plans(spark, sf_dir) -> dict[str, str] | None:
    plans: dict[str, str] = {}
    for name, spec in REGISTRY.items():
        try:
            plans[name] = spec.fn(spark, sf_dir)._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "simple"
                )
            )
        except Exception as exc:  # noqa: BLE001
            print(f"ERROR {name}: {exc}")
            return None
    return plans


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else DEFAULT_SF_DIR
    if not os.path.isdir(sf_dir):
        print(f"fixture dir not found: {sf_dir} (set SPARK_GRAFT_AUDIT_SF_DIR)")
        return 3
    spark = get_spark("audit_single_partition")
    spark.sparkContext.setLogLevel("ERROR")
    flagged: dict[str, str] = {}
    w_flagged: dict[str, str] = {}
    plans = _enumerate_plans(spark, sf_dir)
    if plans is None:
        return 2
    for name, plan in plans.items():
        if "Exchange SinglePartition" in plan:
            lines = plan.splitlines()
            ctxs = [
                lines[i + 1].strip()
                for i, ln in enumerate(lines)
                if "Exchange SinglePartition" in ln and i + 1 < len(lines)
            ]
            bad = [
                c for c in ctxs if not any(p.search(c) for p in _BENIGN)
            ]
            if bad:
                flagged[name] = re.sub(r"#\d+L?", "", bad[0])[:80]
        w_finding = audit_lowcard_windows(name, plan)
        if w_finding is not None:
            w_flagged[name] = w_finding
    unexpected = sorted(set(flagged) - set(ALLOWLIST))
    stale = sorted(set(ALLOWLIST) - set(flagged))
    w_unexpected = sorted(set(w_flagged) - set(WINDOW_ALLOWLIST))
    w_stale = sorted(set(WINDOW_ALLOWLIST) - set(w_flagged))
    for name in sorted(flagged):
        mark = "ok " if name in ALLOWLIST else "NEW"
        print(f"{mark}  {name}: {flagged[name]}")
    for name in sorted(w_flagged):
        mark = "ok " if name in WINDOW_ALLOWLIST else "NEW"
        print(f"{mark}  [lowcard-window] {name}: PARTITION BY {w_flagged[name]}")
    if unexpected:
        print(f"\nUNEXPECTED single-partition exchanges: {unexpected}")
    if stale:
        print(f"\nSTALE allowlist entries (no longer flag): {stale}")
    if w_unexpected:
        print(f"\nUNEXPECTED low-cardinality-partition windows: {w_unexpected}")
    if w_stale:
        print(f"\nSTALE window-allowlist entries (no longer flag): {w_stale}")
    # Self-contained summary (r8 verdict #9): every allowlisted entry
    # with its reviewed justification, so the audit artifact carries
    # the WHY without a trip to the source dicts.
    if ALLOWLIST or WINDOW_ALLOWLIST:
        print("\nreviewed allowlist (name: justification):")
        for name in sorted(ALLOWLIST):
            print(f"  {name}: {ALLOWLIST[name]}")
        for name in sorted(WINDOW_ALLOWLIST):
            print(f"  [lowcard-window] {name}: {WINDOW_ALLOWLIST[name]}")
    print(
        f"\n{len(flagged)} flagged / {len(w_flagged)} lowcard-window "
        f"/ {len(REGISTRY)} queries"
    )
    return 1 if (unexpected or stale or w_unexpected or w_stale) else 0


if __name__ == "__main__":
    raise SystemExit(main())
