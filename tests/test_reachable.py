"""Guard against library code that only tests reach.

A name-based AST closure over ``crane_spark``: start from the roots
(every ``@register``ed query, module-level code other than the
imports and ``__all__`` of a package ``__init__``, ``perfbench/``,
``bench.py``, ``__spark_entry__.py`` and the tools that docs and tests
run) plus the ``KEEP`` entries below, then repeatedly mark every
top-level def or class whose NAME appears in reached code. Any
top-level def or class left unmarked is reachable from tests alone and
fails the guard: wire it into a root, delete it, or add it to ``KEEP``
with a one-line reason.

Name matching over-approximates (any ``x.compact`` reaches every
``compact``), so the guard can miss dead code but never flags live
code. Pure AST work: no Spark session.
"""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

ROOT_TOOLS = (
    "audit_single_partition",
    "check_oracle",
    "dump_queries",
    "make_sfn",
    "scaling_report",
    "shuffle_report",
)

_STARTED_PIPELINE = "started-query streaming pipeline (a root: runs as its own query)"
_READER = "reads a started pipeline's sink back"

# "module:name" -> why it stays although no root reaches it.
KEEP = {
    "crane_spark.streaming.pipelines:stream_heavy_hitters": _STARTED_PIPELINE,
    "crane_spark.streaming.pipelines:read_heavy_hitters": _READER,
    "crane_spark.streaming.pipelines:stream_distinct_sketches": _STARTED_PIPELINE,
    "crane_spark.streaming.pipelines:read_distinct_counts": _READER,
    "crane_spark.streaming.pipelines:stream_vector_ingest": _STARTED_PIPELINE,
    "crane_spark.streaming.pipelines:read_vector_index": _READER,
    "crane_spark.streaming.pipelines:stream_append_idempotent": _STARTED_PIPELINE,
    "crane_spark.streaming.pipelines:read_idempotent_sink": _READER,
    "crane_spark.streaming.pipelines:stream_stream_join": "streaming twin of the event_followup_join registry query",
    "crane_spark.streaming.pipelines:run_available_now": "drains a stream into a memory table; raises on a partial drain",
    "crane_spark.streaming.pipelines:windowed_event_stats": "watermarked event-time window; the RocksDB state-store tests run it",
    "crane_spark.streaming.pipelines:stream_to_parquet": "checkpointed parquet file sink with Spark's own manifest",
    "crane_spark.streaming.pipelines:stream_dedup_with_watermark": "watermark-bounded streaming dedup",
    "crane_spark.streaming.pipelines:stream_static_enrich": "stream-static broadcast join",
    "crane_spark.sources.files:read_orc": "ORC twin of the parquet reader, batch and stream",
    "crane_spark.sources.files:twitter_rows_from_csv": "parses the reference's Twitter CSV input",
    "crane_spark.sources.files:pagerank_edges_from_tsv": "parses the reference's PageRank TSV input",
    "crane_spark.llm.run_pipeline:build_training_corpus": "llm/run_pipeline: the executable corpus build",
    "crane_spark.llm.run_pipeline:stream_training_corpus": "llm/run_pipeline: " + _STARTED_PIPELINE,
    "crane_spark.llm.run_pipeline:read_stream_corpus": _READER,
    "crane_spark.streaming.stateful:running_totals": "per-key running totals with opt-in idle-state eviction",
    "crane_spark.streaming.pipelines:stream_upsert_parquet": _STARTED_PIPELINE,
    "crane_spark.operators.topology:pagerank_iterations": "carries the reliable_every fault-recovery checkpoint path",
    "crane_spark.sources.sink_ds:read_crane_sink": "reads crane_sink output back in commit order",
    "crane_spark.sources.versioned:get_versions": "versioned-snapshot API (the reference DFS client's get-versions)",
    "crane_spark.llm.codecs:encode_bmp": "test fixture encoder",
    "crane_spark.llm.codecs:encode_ppm": "test fixture encoder",
    "crane_spark.llm.codecs:encode_like": "test fixture encoder",
    "crane_spark.llm.similarity:kmeans_train": "test fixture: trains the centroids the IVF tests probe",
}


def _refs(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add((n.asname or n.name).rsplit(".", 1)[-1])
    return out


def _is_registered(node: ast.AST) -> bool:
    return any(
        isinstance(d, ast.Call) and getattr(d.func, "id", None) == "register"
        for d in node.decorator_list
    )


def _is_reexport(st: ast.stmt) -> bool:
    """An import or ``__all__`` in a package ``__init__``: it names a
    def without calling it, so it reaches nothing."""
    if isinstance(st, (ast.Import, ast.ImportFrom)):
        return True
    targets = st.targets if isinstance(st, ast.Assign) else [getattr(st, "target", None)]
    return any(getattr(t, "id", None) == "__all__" for t in targets)


def _scan() -> tuple[dict[str, set[str]], set[str]]:
    """(top-level "module:name" -> names its body references, root names)."""
    defs: dict[str, set[str]] = {}
    roots: set[str] = set()
    for dirpath, _, files in os.walk(os.path.join(ROOT, "crane_spark")):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            path = os.path.join(dirpath, f)
            mod = os.path.relpath(path, ROOT)[: -len(".py")].replace(os.sep, ".")
            for st in ast.parse(open(path, encoding="utf-8").read()).body:
                if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                    defs[f"{mod}:{st.name}"] = _refs(st)
                    if _is_registered(st):
                        roots |= _refs(st) | {st.name}
                elif not (f == "__init__.py" and _is_reexport(st)):
                    roots |= _refs(st)
    paths = [os.path.join(ROOT, "bench.py"), os.path.join(ROOT, "__spark_entry__.py")]
    paths += [os.path.join(ROOT, "tools", f"{t}.py") for t in ROOT_TOOLS]
    bench = os.path.join(ROOT, "perfbench")
    paths += [os.path.join(bench, f) for f in os.listdir(bench) if f.endswith(".py")]
    for path in paths:
        roots |= _refs(ast.parse(open(path, encoding="utf-8").read()))
    return defs, roots


def _closure(defs: dict[str, set[str]], names: set[str]) -> set[str]:
    """Every "module:name" whose name is in ``names`` or in the body of
    one already reached."""
    names = set(names)
    live: set[str] = set()
    grew = True
    while grew:
        grew = False
        for key, refs in defs.items():
            if key not in live and key.split(":")[1] in names:
                live.add(key)
                names |= refs
                grew = True
    return live


def test_every_library_def_is_reached_from_a_root():
    defs, roots = _scan()
    stale = sorted(k for k in KEEP if k not in defs)
    assert not stale, f"KEEP names defs that no longer exist: {stale}"
    from_roots = _closure(defs, roots)
    redundant = sorted(k for k in KEEP if k in from_roots)
    assert not redundant, f"KEEP entries a root already reaches: {redundant}"
    live = _closure(defs, roots | {k.split(":")[1] for k in KEEP})
    dead = sorted(k for k in defs if k not in live)
    assert not dead, (
        "top-level defs reached only from tests (wire into a root, delete, "
        f"or add to KEEP with a reason): {dead}"
    )
