"""Storage-layout scale features: partitioned writes with partition
pruning, and bucketed tables whose joins skip the shuffle entirely.
These are the physical designs the 100 TB deployment relies on
(SURVEY.md §1.4: the reference's DFS becomes partitioned parquet)."""

from __future__ import annotations

import pyspark.sql.functions as F

from crane_spark.tables import table


def _explain(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    out = str(tmp_path / "events_by_type")
    events = table(spark, sf_dir, "events")
    events.write.partitionBy("event_type").parquet(out)

    clicks = spark.read.parquet(out).filter(F.col("event_type") == "click")
    plan = _explain(clicks)
    assert "PartitionFilters: [" in plan and "event_type" in plan.split("PartitionFilters")[1][:200]
    # pruning read only the click partition: counts still correct
    assert clicks.count() == events.filter(F.col("event_type") == "click").count()


def test_bucketed_join_skips_shuffle(spark, sf_dir, tmp_path):
    """Two tables bucketed+sorted on the join key: the sort-merge join
    consumes bucket layout directly — no Exchange on either side."""
    spark.sql("DROP TABLE IF EXISTS cust_b")
    spark.sql("DROP TABLE IF EXISTS orders_b")
    table(spark, sf_dir, "customer").write.bucketBy(8, "c_custkey").sortBy(
        "c_custkey"
    ).mode("overwrite").saveAsTable("cust_b")
    table(spark, sf_dir, "orders").write.bucketBy(8, "o_custkey").sortBy(
        "o_custkey"
    ).mode("overwrite").saveAsTable("orders_b")

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("orders_b").join(
            spark.table("cust_b"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        plan = _explain(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # bucket co-location: zero shuffle
        expected = (
            table(spark, sf_dir, "orders")
            .join(
                table(spark, sf_dir, "customer"),
                F.col("o_custkey") == F.col("c_custkey"),
            )
            .count()
        )
        assert joined.count() == expected
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS cust_b")
        spark.sql("DROP TABLE IF EXISTS orders_b")


def test_analyze_table_records_cbo_statistics(spark, sf_dir, tmp_path):
    """Catalog statistics surface: ANALYZE TABLE records table size /
    row count and per-column NDV+min/max — what the cost-based
    optimizer consumes for join reordering and broadcast decisions at
    scales where guessing is fatal. (Plan-level broadcast assertions
    live in test_plans; this verifies the stats pipeline itself.)"""
    from crane_spark.tables import table

    spark.sql("DROP TABLE IF EXISTS t_nation_stats")
    table(spark, sf_dir, "nation").write.option(
        "path", str(tmp_path / "t_nation")
    ).saveAsTable("t_nation_stats")
    try:
        spark.sql(
            "ANALYZE TABLE t_nation_stats COMPUTE STATISTICS FOR ALL COLUMNS"
        )
        detail = {
            r["col_name"]: r["data_type"]
            for r in spark.sql("DESCRIBE TABLE EXTENDED t_nation_stats").collect()
        }
        assert "25 rows" in detail.get("Statistics", "")
        col = {
            r["info_name"]: r["info_value"]
            for r in spark.sql(
                "DESCRIBE TABLE EXTENDED t_nation_stats n_nationkey"
            ).collect()
        }
        assert col["distinct_count"] == "25"
        assert col["min"] == "0" and col["max"] == "24"
    finally:
        spark.sql("DROP TABLE IF EXISTS t_nation_stats")


def test_dynamic_partition_pruning_on_dim_filter(spark, sf_dir, tmp_path):
    """DPP: when the fact is PARTITIONED on the join key and the dim
    side carries a selective filter, the fact scan's partition filter
    must become a runtime subquery (dynamicpruning) — at 100 TB this
    is the difference between scanning one partition and scanning the
    table, and it needs no literal predicate on the fact side."""
    out = str(tmp_path / "orders_by_prio")
    orders = table(spark, sf_dir, "orders")
    orders.write.partitionBy("o_orderpriority").parquet(out)

    fact = spark.read.parquet(out)
    dim = spark.createDataFrame(
        [("1-URGENT", "keep"), ("2-HIGH", "keep"), ("3-MEDIUM", "drop"),
         ("4-NOT SPECIFIED", "drop"), ("5-LOW", "drop")],
        "o_orderpriority string, verdict string",
    )
    joined = fact.join(dim.filter(F.col("verdict") == "keep"), "o_orderpriority")
    plan = _explain(joined)
    assert "dynamicpruning" in plan.lower()
    expected = orders.filter(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    ).count()
    assert joined.count() == expected


def test_runtime_bloom_filter_prunes_fact_side(spark, sf_dir):
    """Runtime row-level filtering: on a shuffle join with a selective
    filter on the dim side, Catalyst builds a Bloom filter from the
    dim keys and applies it to the fact scan BEFORE the shuffle —
    data skipping for NON-partition keys, the third leg next to
    static partition pruning and DPP. The application-side size
    threshold defaults to 10 GB (sized for real tables), so the test
    lowers it to demonstrate on local data; results must equal the
    unfiltered-plan join."""
    from crane_spark.tables import table

    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_thr = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
        orders = table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(orders, li.l_orderkey == orders.o_orderkey)
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan and "might_contain" in plan.lower()
        n = j.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            old_thr,
        )
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    assert n == li.join(orders, li.l_orderkey == orders.o_orderkey).count()


def test_global_sort_write_uses_range_partitioning(spark, sf_dir, tmp_path):
    """Globally-sorted output layout (binary-searchable files, ordered
    downstream merges): orderBy before write must plan a RANGE
    exchange — each task writes a disjoint sorted key range — never a
    single-task sort; files concatenated in partition order are fully
    sorted."""
    from crane_spark.tables import table

    out = str(tmp_path / "orders_sorted")
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    assert "rangepartitioning" in _explain(orders.orderBy("o_totalprice")).lower()
    # explicit range layout: AQE would coalesce tiny test data to one
    # partition, so pin the file count the way a deployment pins its
    # output layout
    q = orders.repartitionByRange(4, "o_totalprice").sortWithinPartitions(
        "o_totalprice"
    )
    q.write.parquet(out)
    import glob as _glob

    files = sorted(_glob.glob(out + "/part-*.parquet"))
    assert len(files) > 1  # parallel sorted write, not one task
    last_max = None
    for f in files:
        vals = [r["o_totalprice"] for r in spark.read.parquet(f).collect()]
        assert vals == sorted(vals)
        if vals:
            if last_max is not None:
                assert vals[0] >= last_max  # disjoint ascending ranges
            last_max = vals[-1]


def test_dynamic_partition_overwrite_backfill(spark, sf_dir, tmp_path):
    """Backfill one partition idempotently: with partitionOverwriteMode
    =dynamic, INSERT OVERWRITE replaces ONLY the partitions present in
    the incoming frame — the reprocess-one-day operation; every other
    partition's files stay untouched."""
    from crane_spark.tables import table

    out = str(tmp_path / "events_by_type")
    events = table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    events.write.partitionBy("event_type").parquet(out)
    before = {
        r["event_type"]: r["n"]
        for r in spark.read.parquet(out).groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    fixed = (
        events.filter(F.col("event_type") == "click")
        .withColumn("value", F.col("value") * 0 + 1.0)
        .limit(10)
    )
    old_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        fixed.write.mode("overwrite").partitionBy("event_type").parquet(out)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old_mode)
    after = {
        r["event_type"]: r["n"]
        for r in spark.read.parquet(out).groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    assert after["click"] == 10  # backfilled partition replaced
    for k, v in before.items():
        if k != "click":
            assert after[k] == v  # untouched partitions intact
    vals = {r["value"] for r in spark.read.parquet(out).filter("event_type = 'click'").collect()}
    assert vals == {1.0}
