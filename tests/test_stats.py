"""Accuracy tests: approx percentiles vs the exact type-7 twin."""

from __future__ import annotations

from crane_spark.queries import REGISTRY


def test_approx_percentiles_rank_flags_hold(spark, sf_dir):
    """r7 differential shape: the entry outputs rank-guarantee flags
    instead of merge-order-dependent estimates. Every flag must be
    TRUE (the algorithm's worst-case bound), group counts must equal
    the exact twin's universe, and the underlying sketch must still be
    near-exact at this accuracy vs `percentiles_by_status`."""
    from pyspark.sql import functions as F

    from crane_spark.tables import table

    exact = {
        r["o_orderstatus"]: (r["median_price"], r["p90_price"], r["p99_price"])
        for r in REGISTRY["percentiles_by_status"].fn(spark, sf_dir).collect()
    }
    flags = {
        r["o_orderstatus"]: (r["p50_ok"], r["p90_ok"], r["p99_ok"])
        for r in REGISTRY["approx_percentiles_by_status"].fn(spark, sf_dir).collect()
    }
    assert set(exact) == set(flags)
    assert all(f == (True, True, True) for f in flags.values())

    # the raw sketch (same operator the entry aggregates) stays within
    # 1% of the exact type-7 values on ~5k-row groups
    approx = {
        r["o_orderstatus"]: r["pcts"]
        for r in table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.approx_percentile(
                "o_totalprice", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)), 10000
            ).alias("pcts")
        )
        .collect()
    }
    for status, (m, p90, p99) in exact.items():
        am, a90, a99 = approx[status]
        assert abs(am - m) / m < 0.01
        assert abs(a90 - p90) / p90 < 0.01
        assert abs(a99 - p99) / p99 < 0.01


def test_bitmap_rollup_is_exact(spark, sf_dir):
    from crane_spark.tables import table
    from pyspark.sql import functions as F

    got = {
        r["o_year"]: r["n_customers"]
        for r in REGISTRY["bitmap_distinct_rollup"].fn(spark, sf_dir).collect()
    }
    exact = {
        r["o_year"]: r["n"]
        for r in table(spark, sf_dir, "orders")
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(F.count_distinct("o_custkey").alias("n"))
        .collect()
    }
    assert got == exact


def test_hll_rollup_bounds(spark, sf_dir):
    from crane_spark.tables import table
    from pyspark.sql import functions as F

    approx = {
        r["regionkey"]: (r["approx_customers"], r["n_nations"])
        for r in REGISTRY["hll_rollup_regions"].fn(spark, sf_dir).collect()
    }
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    exact = {
        r["regionkey"]: r["n"]
        for r in cust.join(
            F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
        )
        .groupBy(F.col("n_regionkey").cast("long").alias("regionkey"))
        .agg(F.count_distinct("c_custkey").alias("n"))
        .collect()
    }
    assert set(approx) == set(exact)
    for rk, (est, n_nations) in approx.items():
        assert n_nations == 5
        # lgK=14 keeps relative error well under 2% at these cardinalities
        assert abs(est - exact[rk]) / exact[rk] < 0.02


def test_rolling_hll_tracks_exact_wau(spark, sf_dir):
    """The sketch-based rolling distinct stays within HLL error of the
    exact explode-based answer on every day."""
    from crane_spark.queries import REGISTRY

    exact = {
        r["day"]: r["wau_7d"]
        for r in REGISTRY["rolling_7d_active_users"].fn(spark, sf_dir).collect()
    }
    approx = {
        r["day"]: r["wau_7d_approx"]
        for r in REGISTRY["rolling_7d_hll"].fn(spark, sf_dir).collect()
    }
    assert set(exact) == set(approx)
    for day, n in exact.items():
        assert abs(approx[day] - n) <= max(3, 0.05 * n), (day, n, approx[day])
