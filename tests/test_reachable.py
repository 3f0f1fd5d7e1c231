"""Guard against library code that only tests reach.

An AST closure over ``crane_spark`` that resolves names through
imports: start from the roots (every ``@register``ed query,
module-level code other than the imports and ``__all__`` of a package
``__init__``, ``perfbench/``, ``bench.py``, ``__spark_entry__.py`` and
the tools that docs and tests run) plus the ``KEEP`` entries below,
then repeatedly mark every top-level def or class that reached code
refers to. Any top-level def or class left unmarked is reachable from
tests alone and fails the guard: wire it into a root, delete it, or
add it to ``KEEP`` with a one-line reason.

A reference reaches a def only when it is

- a bare name in the def's own module;
- a name bound by ``from <module> import <name>``, following package
  re-exports;
- an attribute chain on a name bound to a module, e.g. ``V.put`` after
  ``from crane_spark.sources import versioned as V``.

So ``df.diff`` or a local variable named ``compact`` reaches nothing.
Names built at run time (``getattr`` with a string, ``importlib``) are
not followed. Pure AST work: no Spark session.
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
}

_DEF = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


class _Module:
    """One parsed source file: its top-level defs and the module-level
    names its imports bind."""

    def __init__(self, name: str, path: str, is_package: bool):
        self.name = name
        self.is_package = is_package
        self.body = ast.parse(open(path, encoding="utf-8").read()).body
        self.defs = {st.name: st for st in self.body if isinstance(st, _DEF)}
        self.bindings: dict[str, tuple] = {}
        for st in self.body:
            if not isinstance(st, _DEF):
                self.bindings.update(self.imports(st))

    def imports(self, node: ast.AST) -> dict[str, tuple]:
        """Names the imports under ``node`` bind: ``("module", m)`` or
        ``("from", m, name)``."""
        out: dict[str, tuple] = {}
        for n in ast.walk(node):
            if isinstance(n, ast.Import):
                for a in n.names:
                    if a.asname:
                        out[a.asname] = ("module", a.name)
                    else:
                        top = a.name.split(".")[0]
                        out[top] = ("module", top)
            elif isinstance(n, ast.ImportFrom):
                base = n.module or ""
                if n.level:
                    parts = self.name.split(".")
                    keep = len(parts) - n.level + (1 if self.is_package else 0)
                    base = ".".join(parts[:keep] + ([base] if base else []))
                for a in n.names:
                    out[a.asname or a.name] = ("from", base, a.name)
        return out


class _Index:
    """Resolves references to "module:name" keys of top-level defs."""

    def __init__(self, modules: dict[str, _Module]):
        self.modules = modules

    def binding(self, b: tuple, seen: frozenset = frozenset()) -> tuple | None:
        """A binding's target: ``("module", m)``, ``("def", key)`` or None."""
        if b[0] == "module":
            return b if b[1] in self.modules else None
        return self.member(b[1], b[2], seen)

    def member(self, mod: str, name: str, seen: frozenset = frozenset()) -> tuple | None:
        """``mod.name``: a def of ``mod``, a submodule, or what ``mod``'s
        own imports bind to ``name`` (a re-export)."""
        m = self.modules.get(mod)
        if m is None or (mod, name) in seen:
            return None
        if name in m.defs:
            return ("def", f"{mod}:{name}")
        if f"{mod}.{name}" in self.modules:
            return ("module", f"{mod}.{name}")
        if name in m.bindings:
            return self.binding(m.bindings[name], seen | {(mod, name)})
        return None

    def refs(self, m: _Module, node: ast.AST) -> set[str]:
        """Keys of the defs ``node`` refers to, seen from module ``m``."""
        scope = {**m.bindings, **m.imports(node)}

        def name(ident: str) -> tuple | None:
            if ident in m.defs:
                return ("def", f"{m.name}:{ident}")
            return self.binding(scope[ident]) if ident in scope else None

        out: set[str] = set()
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                target = name(n.id)
            elif isinstance(n, ast.Attribute):
                chain = []
                base = n
                while isinstance(base, ast.Attribute):
                    chain.append(base.attr)
                    base = base.value
                target = name(base.id) if isinstance(base, ast.Name) else None
                for attr in reversed(chain):
                    if target is None or target[0] != "module":
                        break
                    target = self.member(target[1], attr)
            else:
                continue
            if target is not None and target[0] == "def":
                out.add(target[1])
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


def _load() -> tuple[dict[str, _Module], list[_Module]]:
    """(every ``crane_spark`` module by name, the root files outside it)."""
    modules: dict[str, _Module] = {}
    for dirpath, _, files in os.walk(os.path.join(ROOT, "crane_spark")):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            path = os.path.join(dirpath, f)
            name = os.path.relpath(path, ROOT)[: -len(".py")].replace(os.sep, ".")
            is_package = f == "__init__.py"
            if is_package:
                name = name[: -len(".__init__")]
            modules[name] = _Module(name, path, is_package)
    paths = [os.path.join(ROOT, "bench.py"), os.path.join(ROOT, "__spark_entry__.py")]
    paths += [os.path.join(ROOT, "tools", f"{t}.py") for t in ROOT_TOOLS]
    bench = os.path.join(ROOT, "perfbench")
    paths += [os.path.join(bench, f) for f in sorted(os.listdir(bench)) if f.endswith(".py")]
    outside = [_Module(os.path.relpath(p, ROOT)[: -len(".py")].replace(os.sep, "."), p, False) for p in paths]
    return modules, outside


def _scan() -> tuple[dict[str, set[str]], set[str]]:
    """(top-level "module:name" -> keys its body refers to, root keys)."""
    modules, outside = _load()
    index = _Index(modules)
    defs: dict[str, set[str]] = {}
    roots: set[str] = set()
    for m in modules.values():
        for st in m.body:
            if isinstance(st, _DEF):
                key = f"{m.name}:{st.name}"
                defs[key] = index.refs(m, st)
                if _is_registered(st):
                    roots |= defs[key] | {key}
            elif not (m.is_package and _is_reexport(st)):
                roots |= index.refs(m, st)
    for m in outside:
        for st in m.body:
            roots |= index.refs(m, st)
    return defs, roots


def _closure(defs: dict[str, set[str]], keys: set[str]) -> set[str]:
    """Every key in ``keys`` or referred to by one already reached."""
    live: set[str] = set()
    todo = [k for k in keys if k in defs]
    while todo:
        key = todo.pop()
        if key not in live:
            live.add(key)
            todo.extend(defs[key] - live)
    return live


def test_every_library_def_is_reached_from_a_root():
    defs, roots = _scan()
    stale = sorted(k for k in KEEP if k not in defs)
    assert not stale, f"KEEP names defs that no longer exist: {stale}"
    from_roots = _closure(defs, roots)
    redundant = sorted(k for k in KEEP if k in from_roots)
    assert not redundant, f"KEEP entries a root already reaches: {redundant}"
    live = _closure(defs, roots | set(KEEP))
    dead = sorted(k for k in defs if k not in live)
    assert not dead, (
        "top-level defs reached only from tests (wire into a root, delete, "
        f"or add to KEEP with a reason): {dead}"
    )
