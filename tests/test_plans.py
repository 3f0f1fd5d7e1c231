"""Physical-plan assertions: the scale properties SURVEY.md §2.2 and
the build brief demand — predicate pushdown into the parquet scan,
column pruning, broadcast joins for dimensions, top-k without a global
sort. These guard against regressions that correctness tests can't see
(a plan that reads every column still returns the right answer)."""

from __future__ import annotations

from crane_spark.queries import REGISTRY


def _plan(spark, sf_dir, name: str) -> str:
    df = REGISTRY[name].fn(spark, sf_dir)
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def test_q6_pushes_filters_and_prunes_columns(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q6_revenue_forecast")
    assert "PushedFilters: [" in plan
    assert "IsNotNull(l_shipdate)" in plan or "GreaterThanOrEqual(l_shipdate" in plan
    # Column pruning: the 11-column lineitem scan reads only what q6 needs.
    read_schema = next(line for line in plan.splitlines() if "ReadSchema" in line)
    assert "l_extendedprice" in read_schema and "l_returnflag" not in read_schema


def test_q5_broadcasts_every_dimension(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q5_local_supplier_volume")
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan


def test_topk_avoids_global_sort(spark, sf_dir):
    plan = _plan(spark, sf_dir, "topk_orders")
    assert "TakeOrderedAndProject" in plan  # per-partition heaps, k-row merge


def test_wordcount_partial_aggregates(spark, sf_dir):
    plan = _plan(spark, sf_dir, "wordcount")
    assert plan.count("HashAggregate") >= 2  # partial + final split


def test_semi_join_stays_semi(spark, sf_dir):
    plan = _plan(spark, sf_dir, "semi_join_big_spenders")
    assert "LeftSemi" in plan


def test_contamination_broadcasts_benchmark_grams(spark, sf_dir):
    """The benchmark gram set must broadcast — a shuffled join here
    would shuffle the full training corpus at 100 TB."""
    plan = _plan(spark, sf_dir, "contamination_check")
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "SortMergeJoin" not in plan


def test_tfidf_broadcasts_document_frequencies(spark, sf_dir):
    """The vocabulary-sized df table rides a broadcast back onto tf —
    the corpus-sized side must never shuffle for this join."""
    plan = _plan(spark, sf_dir, "tfidf_top_terms")
    assert "BroadcastHashJoin" in plan


def test_q2_single_ps_aggregation_with_window_min(spark, sf_dir):
    """The correlated scalar-min subquery must compile to ONE pass
    (window min), not a per-part rescan: one aggregate over the derived
    part-supplier table and a Window, all dimension joins broadcast."""
    plan = _plan(spark, sf_dir, "q2_min_cost_supplier")
    assert plan.count("BroadcastHashJoin") >= 4
    assert "Window" in plan


def test_partition_count_invariance(spark, sf_dir):
    """Scale-correctness: answers must be IDENTICAL under different
    parallelism (the decimal-sum routing exists exactly for this).
    Rerun representative shuffling queries under 3 batch exchange
    widths (AQE's initial partition count, which batch exchanges are
    planned at) and compare full row sets."""
    names = [
        "q1_pricing_summary",
        "pagerank_contrib",
        "simhash_groups",
        "twap_user_values",
        "mad_outliers",
    ]
    key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    found = spark.conf.get(key)
    try:
        baseline = {}
        for parts in ("2", "7", "32"):
            spark.conf.set(key, parts)
            for name in names:
                rows = sorted(
                    map(tuple, REGISTRY[name].fn(spark, sf_dir).collect())
                )
                if name in baseline:
                    assert rows == baseline[name], f"{name} differs at {parts}"
                else:
                    baseline[name] = rows
    finally:
        spark.conf.set(key, found)


def test_bloom_contamination_keeps_broadcast_only_joins(spark, sf_dir):
    """The Bloom probe must be a scan-side FILTER (no join operator for
    the pre-filter); the only joins in the plan are the broadcast exact
    verify — at 100 TB, a shuffled join here is the failure mode."""
    plan = _plan(spark, sf_dir, "bloom_contamination")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    # The probe itself compiles into the scan-stage filter.
    assert "shiftright" in plan


def test_span_dedup_anti_join_unpinned(spark, sf_dir):
    """The duplicate-span set is DATA-DEPENDENT (grows with corpus
    duplication), so the anti join must not pin a broadcast — AQE
    chooses. At fixture scale AQE measures it small and broadcasts;
    the guard accepts either hash strategy but never a cross
    product."""
    plan = _plan(spark, sf_dir, "span_dedup")
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan or (
        "SortMergeJoin" in plan
    )
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_cms_probe_is_broadcast(spark, sf_dir):
    """The sketch (<= depth*width rows) must broadcast to the
    candidate probes, never the reverse."""
    plan = _plan(spark, sf_dir, "cms_heavy_hitters")
    assert "BroadcastHashJoin" in plan


def test_data_mixing_rates_broadcast_onto_scan(spark, sf_dir):
    """Per-group thresholds are a tiny aggregate broadcast back onto
    the corpus scan — the corpus itself never shuffles to be sampled."""
    plan = _plan(spark, sf_dir, "data_mixing")
    assert "BroadcastHashJoin" in plan


def test_bm25_topk_before_rank_window(spark, sf_dir):
    """Top-10 must come from per-partition heaps (TakeOrderedAndProject)
    feeding a 10-row window — never a full-corpus single-partition
    window sort."""
    plan = _plan(spark, sf_dir, "bm25_search")
    assert "TakeOrderedAndProject" in plan
    assert plan.index("TakeOrderedAndProject") > plan.index("Window")


def test_copurchase_has_no_join_at_all(spark, sf_dir):
    """Basket pair generation replaces the self-join: one shuffle
    builds per-order sorted part sets, pairs come from an in-array
    lambda — the plan must contain NO join operator of any kind and
    exactly the two aggregation exchanges (baskets, pair counts)."""
    plan = _plan(spark, sf_dir, "copurchase_pairs")
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert "l_orderkey" in plan and "Generate" in plan


def test_revenue_share_window_input_is_dimension_sized(spark, sf_dir):
    """All three dimension joins broadcast; the percent-of-total window
    runs after the (region, nation)-sized aggregate."""
    plan = _plan(spark, sf_dir, "revenue_share")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_weighted_sample_no_global_sort(spark, sf_dir):
    plan = _plan(spark, sf_dir, "weighted_sample")
    assert "TakeOrderedAndProject" in plan


def test_interval_overlap_is_bin_equijoin(spark, sf_dir):
    """The overlap join must plan as an equi-join on the hour bin —
    never a cartesian/nested-loop product of the interval sets."""
    plan = _plan(spark, sf_dir, "interval_overlap_counts")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "PushedFilters" in plan and "purchase" in plan  # type filter reaches scan


def test_prefix_jaccard_no_cartesian(spark, sf_dir):
    """Candidate generation is an equi-join on the interned rank;
    nothing in the pipeline may fall back to a cross product."""
    plan = _plan(spark, sf_dir, "prefix_jaccard_join")
    assert "CartesianProduct" not in plan


def test_rolling_wau_single_distinct_shuffle(spark, sf_dir):
    """The bounded-explode plan: the user-day dedup and per-day
    distinct both plan as hash aggregates (partial+final), no window
    operator over raw events."""
    plan = _plan(spark, sf_dir, "rolling_7d_active_users")
    assert "HashAggregate" in plan
    assert "Window" not in plan


def test_spike_detection_prefilters_scan(spark, sf_dir):
    """Only error events feed the hourly pre-aggregate; the window
    frame then runs over hours, not raw events."""
    plan = _plan(spark, sf_dir, "error_rate_spikes")
    assert "PushedFilters" in plan and "error" in plan
    # the window's input is the aggregated hourly frame: the tree
    # prints consumers first, so Window must appear ABOVE (before)
    # the HashAggregate feeding it
    assert plan.index("Window") < plan.index("HashAggregate")


def test_twap_single_user_shuffle_reused(spark, sf_dir):
    """The TWAP plan must shuffle ONCE on user_id: the lead() window
    and the per-user aggregate share the same hash partitioning, so
    corpus-sized data crosses the network exactly once."""
    plan = _plan(spark, sf_dir, "twap_user_values")
    # formatted plans print each operator twice (tree + detail)
    assert plan.count("Exchange") == 2
    assert "hashpartitioning(user_id" in plan


def test_dup_span_ranges_single_gram_scan(spark, sf_dir):
    """Round-5 restructure: the sliding-gram explode (the dominant
    stage at corpus scale) must appear ONCE in the plan — the
    duplicated test is min(doc_id)!=max(doc_id) over a window keyed
    on the gram hash, not an aggregate + semi-join that re-runs the
    explode as its probe. No join of any kind remains; the only
    exchanges are the h-window shuffle and the per-doc island
    windows."""
    plan = _plan(spark, sf_dir, "dup_span_ranges")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" not in plan
    assert plan.count("- Generate (") == 1  # one explode node in the tree
    assert "Window" in plan


def test_similar_activity_broadcasts_stats(spark, sf_dir):
    """The correlation query's moment tables and top-user filter are
    dimension-sized and must broadcast; only the day-aligned pair join
    shuffles observations."""
    plan = _plan(spark, sf_dir, "similar_activity_users")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 3


def test_topk_per_group_agg_has_no_window(spark, sf_dir):
    """The aggregate-based per-group top-k must plan as hash
    aggregates only — no Window operator, no partition-wide sort."""
    plan = _plan(spark, sf_dir, "topk_per_group_agg")
    assert "Window" not in plan
    assert "HashAggregate" in plan or "ObjectHashAggregate" in plan


def test_q1_money_units_stay_codegen(spark, sf_dir):
    """The fixed-point-units money arithmetic (aggregates.units/usum)
    must compile to JVM expressions inside the hash aggregate — no
    Python evaluation node anywhere, partial+final split intact."""
    plan = _plan(spark, sf_dir, "q1_pricing_summary")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("HashAggregate") >= 2


def test_q7_q9_q10_broadcast_star_joins(spark, sf_dir):
    """Every dimension of the remaining TPC-H star shapes broadcasts;
    a sort-merge join in any of them means a dimension shuffled the
    fact table's volume at 100 TB."""
    for name, min_bhj in (
        ("q7_nation_volume", 4),
        ("q9_profit_by_nation", 4),
        ("q10_returned_items", 3),
    ):
        plan = _plan(spark, sf_dir, name)
        assert "SortMergeJoin" not in plan, name
        assert plan.count("BroadcastHashJoin") >= min_bhj, name


def test_knn_graph_no_cartesian(spark, sf_dir):
    """Graph-ANN build/search joins are equi-joins on cell, node, and
    pair keys (the only nested-loop is the broadcast centroid cross,
    which is centroid-sized); a CartesianProduct would be the
    all-pairs blowup the graph exists to avoid."""
    plan = _plan(spark, sf_dir, "knn_graph_topk")
    assert "CartesianProduct" not in plan


def _explain(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def test_ann_ppjoin_index_paths_no_unpartitioned_window(spark, sf_dir):
    """The r2 verdict's three row_number-over-everything windows — the
    NN-Descent dense init index, the centroid/entry spread sample, and
    the PPJoin vocabulary rank — are now two-level bucketed builds and
    map-side strided filters. The final registry plans cannot show
    them (localCheckpoint truncation), so guard the ACTUAL frames: no
    Window over an empty partition spec, which plans as an
    Exchange SinglePartition sorting every row in one task."""
    import pyspark.sql.functions as F

    from crane_spark.llm.dedup import shingle_tokens
    from crane_spark.llm.graph_ann import _spread_sample
    from crane_spark.operators.indexing import dense_index
    from crane_spark.tables import table

    emb = table(spark, sf_dir, "embeddings").select("vec_id")
    idx = dense_index(emb, tiebreak="vec_id", out="_ix")
    samp = _spread_sample(emb, "vec_id", 16, emb.count())
    tok = shingle_tokens(
        table(spark, sf_dir, "documents").limit(200), "text", "doc_id", 3
    )
    vocab = dense_index(
        tok.groupBy("token").agg(F.count(F.lit(1)).alias("dfreq")),
        tiebreak="token",
        major="dfreq",
        out="rank",
        one_based=True,
    )
    for name, df in (("init_index", idx), ("spread_sample", samp), ("vocab_rank", vocab)):
        p = _explain(df)
        assert "Exchange SinglePartition" not in p, name


def test_equidepth_and_curriculum_ntile_no_single_partition(spark, sf_dir):
    """Round-5 re-plan: the last two data-sized ntile windows
    (equidepth_histogram, curriculum_order) now go through
    operators.indexing.exact_ntile — range-bucketed parallel rank
    with literal boundary arithmetic. Guard the property that made
    them allowlist entries: no Exchange SinglePartition anywhere in
    either final plan."""
    from crane_spark.queries import REGISTRY

    for name in ("equidepth_histogram", "curriculum_order"):
        p = _explain(REGISTRY[name].fn(spark, sf_dir))
        assert "Exchange SinglePartition" not in p, name
        assert "hashpartitioning(_rb" in p, name  # the bucketed rank path


def test_replanned_lowcard_windows_use_cells_not_bare_majors(spark, sf_dir):
    """Round 6: the four queries re-planned off low-cardinality-
    partition data-sized windows must keep every data-row Window
    partitioned on (major, _rb) cells — never on the bare major
    (source / c_nationkey), which at scale hands one task a
    corpus-sized sort. The aggregate-row offset windows (cell-count
    inputs) are identified by their _bn/_sn/_off operands and exempt."""
    import re

    for name, major in (
        ("length_deciles_by_source", "source"),
        ("window_analytics", "c_nationkey"),
        ("window_analytics2", "c_nationkey"),
        ("pack_by_budget", "source"),
    ):
        plan = _plan(spark, sf_dir, name)
        assert "Exchange SinglePartition" not in plan, name
        for line in plan.splitlines():
            if "windowspecdefinition" not in line:
                continue
            if "_bn" in line or "_sn" in line:
                continue  # offset/total window over cell-count aggregates
            for m in re.finditer(
                r"windowspecdefinition\((.*?), specifiedwindowframe", line
            ):
                spec = m.group(1)
                if major in spec:
                    assert "_rb" in spec, f"{name}: bare-major window: {spec}"


def test_dup_span_ranges_skewsafe_salted_shape(spark, sf_dir):
    """Plan guard for the r7 skew-safe regime: TWO gram scans (the
    accepted price), a left-semi probe join instead of any h-window,
    and the level-1 aggregate keyed on (h, _s salt) so a dominant
    gram splits across SPAN_SALT_BUCKETS reducer keys. The only windows
    left are the per-doc island merges."""
    plan = _plan(spark, sf_dir, "dup_span_ranges_skewsafe")
    assert plan.count("- Generate (") == 2  # two sliding-gram explodes
    assert "LeftSemi" in plan
    assert "hashpartitioning(h" in plan and "_s" in plan
    # the h-keyed WINDOW (the skew hazard) must be gone: only the
    # per-doc island-merge windows remain
    assert "windowspecdefinition(h#" not in plan
    assert "windowspecdefinition(doc_id#" in plan
    # and the default regime keeps its h-window (the cheap plan)
    base = _plan(spark, sf_dir, "dup_span_ranges")
    assert "windowspecdefinition(h#" in base and "LeftSemi" not in base


def test_scan_input_bytes_local_and_nonlocal(spark, sf_dir, monkeypatch):
    """scan_input_bytes must size local scans exactly and — the
    ADVICE r9 gap — return a POSITIVE statistics-based estimate when
    no input path is a local file (hdfs://, s3a://), so size-based
    plan gates engage off local disk instead of silently reading 0."""
    import os

    from pyspark.sql import DataFrame

    from crane_spark.tables import scan_input_bytes, table

    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    exact = sum(
        os.path.getsize(f.removeprefix("file:")) for f in li.inputFiles()
    )
    assert scan_input_bytes(li) == exact and exact > 0

    monkeypatch.setattr(
        DataFrame,
        "inputFiles",
        lambda self: ["hdfs://nn:8020/warehouse/lineitem/part-0.parquet"],
    )
    est = scan_input_bytes(li)
    assert est > 0  # statistics fallback, not the silent-0 regression


def test_copurchase_width_gate_fires_on_nonlocal_estimate(
    spark, sf_dir, monkeypatch
):
    """With the scan sized past the width threshold (as a big hdfs/s3
    scan would be), copurchase_pairs must widen the basket exchange —
    a visible widened hashpartitioning on l_orderkey — and produce
    the same top-20 as the ungated plan."""
    from crane_spark.queries import REGISTRY
    from crane_spark.queries import analytics as A

    base = REGISTRY["copurchase_pairs"].fn(spark, sf_dir).collect()

    monkeypatch.setattr(A, "scan_input_bytes", lambda df: (8 << 20) * 500)
    gated_df = REGISTRY["copurchase_pairs"].fn(spark, sf_dir)
    plan = gated_df._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(l_orderkey" in plan and "500" in plan
    assert sorted(map(tuple, gated_df.collect())) == sorted(map(tuple, base))


def test_copurchase_packed_key_bounds_guard_fires(spark, tmp_path):
    """The r9 packed 64-bit pair key is only valid for partkeys in
    [0, 2^31); the per-basket bounds guard must RAISE on an
    out-of-range key rather than silently corrupting pairs."""
    import pytest
    from pyspark.sql import functions as F

    from crane_spark.queries import REGISTRY

    sf = str(tmp_path)
    spark.createDataFrame(
        [(1, 2**31 + 5), (1, 7), (2, 3), (2, 4)],
        "l_orderkey long, l_partkey long",
    ).write.parquet(f"{sf}/lineitem.parquet")
    with pytest.raises(Exception, match="packed-pair"):
        REGISTRY["copurchase_pairs"].fn(spark, sf).collect()
