"""Query registry machinery.

A query is a function ``(spark, sf_dir) -> DataFrame`` plus, when the
semantics are SQL-expressible, the equivalent DuckDB SQL over the same
parquet tables. Column names/aliases MUST match between the two — the
correctness harness sorts columns by name and hash-compares values.

Determinism rules every registered query follows:
* float aggregates go through fixed-scale DECIMAL (functions.aggregates)
* any top-k / LIMIT has a total-order tiebreaker
* rounding only on values whose cross-engine drift is < the rounding
  step (e.g. dot products of identical doubles in identical order)
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    sql: str | None  # DuckDB oracle; None => rows-only check
    tags: tuple[str, ...] = field(default=())
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str, sql: str | None, tags: tuple[str, ...] = ()
) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")

        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # Timestamp semantics must not depend on the caller's
            # session: pin UTC (the oracle's timezone) before the plan
            # is built/executed.
            spark.conf.set("spark.sql.session.timeZone", "UTC")
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        REGISTRY[name] = QuerySpec(
            name=name, fn=wrapped, sql=sql, tags=tuple(tags), doc=fn.__doc__ or ""
        )
        return fn

    return deco


# Every rows-only entry (sql=None) must name a hash-exact registered
# anchor: a sampled or differential twin that runs the SAME engine code
# path against a DuckDB oracle. The anchor is what makes a rows-only
# check meaningful — "this family's machinery is hash-verified; this
# entry exercises it at a scale/shape its oracle can't express."
# tests/test_oracle.py enforces that this mapping covers every
# rows-only entry and that each anchor is a registered exact-oracle
# query; tools/check_oracle.py prints the anchor on each rows-only line.
ROWS_ONLY_ANCHORS: dict[str, str] = {
    # Iterative BPE merge selection / tokenize stats: anchored by the
    # conflict-aware batched apply equalling DuckDB's sequential
    # nested-replace replay over a fixed merge list.
    "bpe_merges": "bpe_apply_fixed",
    "bpe_tokenize_stats": "bpe_apply_fixed",
    # Approx sketches: anchored by the differential twins (exact value
    # + worst-case-bound flags that hold under ANY merge order).
    "cms_heavy_hitters": "cms_heavy_hitters_diff",
    "hll_rollup_regions": "hll_rollup_diff",
    "rolling_7d_hll": "rolling_7d_hll_diff",
    # NN-Descent graph ANN: anchored by the deterministic sampled twin
    # that runs the identical build + beam-search path.
    "knn_graph_topk": "knn_graph_sampled",
    # Distributed LR: anchored by the decimal-exact sampled twin.
    "quality_gate_scores": "quality_gate_sampled",
    # Hashed near-dup ANN: anchored by the integer-exact
    # inverted-index cosine oracle.
    "hashed_embedding_neardup": "hashed_neardup_exact",
    # Multimodal codecs: anchored by the encode->decode roundtrip
    # stated as exact integer arithmetic in DuckDB.
    "multimodal_asset_report": "multimodal_decode_stats",
}


def queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: spec.sql for name, spec in REGISTRY.items() if spec.sql is not None}
