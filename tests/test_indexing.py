"""operators/indexing.py — dense order-preserving indexing without
single-partition sorts: bijection, order, determinism, and the plan
property (no unpartitioned Window Exchange over data rows)."""

from __future__ import annotations

import pyspark.sql.functions as F

from crane_spark.operators.indexing import dense_index


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def test_dense_index_is_bijection_zero_based(spark):
    df = spark.range(1000).select((F.col("id") * 7 + 3).alias("vec_id"))
    out = dense_index(df, tiebreak="vec_id").collect()
    ixs = sorted(r["_ix"] for r in out)
    assert ixs == list(range(1000))
    # deterministic: a second build assigns identical indexes
    again = {r["vec_id"]: r["_ix"] for r in dense_index(df, "vec_id").collect()}
    assert all(again[r["vec_id"]] == r["_ix"] for r in out)


def test_dense_index_major_order_preserved_one_based(spark):
    """With a major column the index must be dense 1..n and NEVER
    invert the major order: every row of a smaller dfreq ranks before
    every row of a larger dfreq (the PPJoin rarity contract)."""
    rows = [(f"tok{i}", 1 + (i % 17)) for i in range(3000)]
    df = spark.createDataFrame(rows, "token string, dfreq long")
    out = dense_index(
        df, tiebreak="token", major="dfreq", out="rank", one_based=True
    ).collect()
    ranks = sorted(r["rank"] for r in out)
    assert ranks == list(range(1, 3001))
    by_rank = sorted(out, key=lambda r: r["rank"])
    dfreqs = [r["dfreq"] for r in by_rank]
    assert dfreqs == sorted(dfreqs)


def test_dense_index_window_fallback_matches_collect_path(spark):
    """Forcing the post-aggregate window fallback (major_cap=0) must
    produce the identical index as the driver-side cumsum path."""
    rows = [(f"t{i}", 1 + (i % 5)) for i in range(400)]
    df = spark.createDataFrame(rows, "token string, dfreq long")
    a = {
        r["token"]: r["rank"]
        for r in dense_index(df, "token", major="dfreq", out="rank").collect()
    }
    b = {
        r["token"]: r["rank"]
        for r in dense_index(
            df, "token", major="dfreq", out="rank", major_cap=0
        ).collect()
    }
    assert a == b


def test_dense_index_small_regime_matches_bucketed(spark):
    """`n_rows` at or under the small-regime gate must produce
    BIT-IDENTICAL indices to the bucketed construction (r9 verdict
    #6): same (major NULLS FIRST, hash bucket, tiebreak) total order,
    for the no-major, major, duplicate-major and NULL-major cases."""
    # no-major
    df = spark.range(777).select((F.col("id") * 7 + 3).alias("vec_id"))
    a = {r["vec_id"]: r["_ix"] for r in dense_index(df, "vec_id").collect()}
    b = {
        r["vec_id"]: r["_ix"]
        for r in dense_index(df, "vec_id", n_rows=777).collect()
    }
    assert a == b

    # major with heavy duplication + a NULL major group
    rows = [(f"tok{i}", 1 + (i % 17)) for i in range(1500)] + [
        ("null_a", None),
        ("null_b", None),
    ]
    vocab = spark.createDataFrame(rows, "token string, dfreq long")
    base = {
        r["token"]: r["rank"]
        for r in dense_index(
            vocab, "token", major="dfreq", out="rank", one_based=True
        ).collect()
    }
    small = {
        r["token"]: r["rank"]
        for r in dense_index(
            vocab,
            "token",
            major="dfreq",
            out="rank",
            one_based=True,
            n_rows=1502,
        ).collect()
    }
    assert small == base

    # over the gate: n_rows must NOT change the construction
    from crane_spark.operators import indexing as I

    over = {
        r["token"]: r["rank"]
        for r in dense_index(
            vocab,
            "token",
            major="dfreq",
            out="rank",
            one_based=True,
            n_rows=I._SMALL_INDEX_MAX_ROWS + 1,
        ).collect()
    }
    assert over == base


def test_dense_index_empty_and_small(spark):
    empty = spark.createDataFrame([], "vec_id long")
    assert dense_index(empty, "vec_id").count() == 0
    one = spark.createDataFrame([(42,)], "vec_id long")
    assert dense_index(one, "vec_id").collect()[0]["_ix"] == 0


def test_dense_index_plan_has_no_unpartitioned_window(spark):
    """The entire point: no Window over an empty partition spec (which
    plans as Exchange SinglePartition over the data). The only
    SinglePartition exchanges permitted anywhere in the plan are over
    aggregate outputs — with the default major_cap those don't appear
    at all because offsets collect driver-side."""
    df = spark.range(5000).select((F.col("id") * 3).alias("vec_id"))
    plan = _plan(dense_index(df, "vec_id"))
    assert "Exchange SinglePartition" not in plan

    vocab = spark.range(5000).select(
        F.concat(F.lit("t"), F.col("id")).alias("token"),
        (F.col("id") % 13 + 1).alias("dfreq"),
    )
    plan2 = _plan(dense_index(vocab, "token", major="dfreq", out="rank"))
    assert "Exchange SinglePartition" not in plan2


def test_dense_index_empty_input_both_regimes(spark):
    """Zero-row inputs (an empty corpus slice, a filtered-out
    vocabulary) must yield an empty indexed frame with the expected
    column, not a driver error in the offset construction — both the
    no-major and the major (driver-cumsum) paths."""
    from crane_spark.operators.indexing import dense_index

    empty = spark.createDataFrame([], "token string, dfreq long")
    plain = dense_index(empty, tiebreak="token", out="rank", one_based=True)
    assert plain.count() == 0 and "rank" in plain.columns
    major = dense_index(
        empty, tiebreak="token", major="dfreq", out="rank", one_based=True
    )
    assert major.count() == 0 and "rank" in major.columns


# --------------------------------------------------------------------
# exact_ntile: ANSI ntile semantics without the global window
# --------------------------------------------------------------------

def _ntile_ref(spark, df, k, key, tiebreaks):
    from pyspark.sql import Window

    w = Window.orderBy(key, *tiebreaks)
    return {
        tuple(r[c] for c in [key, *tiebreaks]): r["_t"]
        for r in df.withColumn("_t", F.ntile(k).over(w).cast("long")).collect()
    }


def test_exact_ntile_matches_window_ntile_uneven(spark):
    """n=1003, k=8 (n%k=3): first 3 tiles take 126 rows, rest 125 —
    must agree with Spark's own ntile window row for row."""
    from crane_spark.operators.indexing import exact_ntile

    df = spark.range(1003).select(
        (F.pmod(F.col("id") * 37, F.lit(251))).alias("v"), F.col("id").alias("tb")
    )
    got = {
        (r["v"], r["tb"]): r["bucket"]
        for r in exact_ntile(df, 8, key="v", tiebreaks=["tb"]).collect()
    }
    assert got == _ntile_ref(spark, df, 8, "v", ["tb"])


def test_exact_ntile_heavy_ties_and_divisible(spark):
    """Ties on the range key may not split buckets incorrectly; also
    the r==0 branch (n divisible by k)."""
    from crane_spark.operators.indexing import exact_ntile

    df = spark.range(1000).select(
        (F.col("id") % 5).alias("v"), F.col("id").alias("tb")
    )
    got = {
        (r["v"], r["tb"]): r["bucket"]
        for r in exact_ntile(df, 4, key="v", tiebreaks=["tb"]).collect()
    }
    assert got == _ntile_ref(spark, df, 4, "v", ["tb"])


def test_exact_ntile_fewer_rows_than_tiles_and_empty(spark):
    from crane_spark.operators.indexing import exact_ntile

    df = spark.range(3).select(F.col("id").alias("v"), F.col("id").alias("tb"))
    got = sorted(
        (r["v"], r["bucket"])
        for r in exact_ntile(df, 10, key="v", tiebreaks=["tb"]).collect()
    )
    assert got == [(0, 1), (1, 2), (2, 3)]
    empty = df.where(F.lit(False))
    assert exact_ntile(empty, 10, key="v", tiebreaks=["tb"]).count() == 0


def test_exact_ntile_plan_has_no_single_partition_exchange(spark):
    from crane_spark.operators.indexing import exact_ntile

    df = spark.range(5000).select(
        (F.col("id") * 13 % 997).alias("v"), F.col("id").alias("tb")
    )
    out = exact_ntile(df, 10, key="v", tiebreaks=["tb"])
    assert "Exchange SinglePartition" not in _plan(out)


# --------------------------------------------------------------------
# exact_rank / exact_prefix_sum: per-major windows without data-sized
# partitions (round 6: the low-cardinality-partition window killer)
# --------------------------------------------------------------------

def _win(major, key, tiebreaks, descending):
    from pyspark.sql import Window

    order = [F.col(key).desc() if descending else F.col(key).asc()]
    order += [F.col(t).asc() for t in tiebreaks]
    w = Window.orderBy(*order)
    return w if major is None else Window.partitionBy(major).orderBy(*order)


def test_exact_rank_major_desc_matches_window(spark):
    """7 majors x heavy key ties, DESC order: rank and per-major n
    must equal Spark's own row_number window bit for bit."""
    from crane_spark.operators.indexing import exact_rank

    df = spark.range(2003).select(
        (F.col("id") % 7).alias("m"),
        (F.col("id") * 37 % 50).alias("v"),
        F.col("id").alias("tb"),
    )
    w = _win("m", "v", ["tb"], descending=True)
    ref = {
        (r["m"], r["tb"]): (r["_r"], r["_n"])
        for r in df.withColumn("_r", F.row_number().over(w))
        .withColumn("_n", F.count(F.lit(1)).over(_win("m", "v", [], True).rowsBetween(-(1 << 30), 1 << 30)))
        .collect()
    }
    got = {
        (r["m"], r["tb"]): (r["rk"], r["n"])
        for r in exact_rank(
            df, key="v", tiebreaks=["tb"], out="rk", major="m",
            descending=True, n_out="n",
        ).collect()
    }
    assert got == ref


def test_exact_rank_null_keys_and_null_major(spark):
    """NULL keys follow Spark's sort defaults (ASC nulls first, DESC
    nulls last); NULL majors form their own rank group."""
    from crane_spark.operators.indexing import exact_rank

    rows = [
        (m, None if i % 5 == 0 else (i * 13) % 20, i)
        for i, m in enumerate([0, 1, None] * 40)
    ]
    df = spark.createDataFrame(rows, "m int, v int, tb int")
    for desc in (False, True):
        w = _win("m", "v", ["tb"], descending=desc)
        ref = {
            (r["m"], r["tb"]): r["_r"]
            for r in df.withColumn("_r", F.row_number().over(w)).collect()
        }
        got = {
            (r["m"], r["tb"]): r["rk"]
            for r in exact_rank(
                df, key="v", tiebreaks=["tb"], out="rk", major="m",
                descending=desc,
            ).collect()
        }
        assert got == ref, f"descending={desc}"


def test_exact_ntile_major_matches_window(spark):
    """ntile(4) OVER (PARTITION BY m ORDER BY v, tb) — uneven per-major
    sizes so each major exercises different divmod branches."""
    from pyspark.sql import Window

    from crane_spark.operators.indexing import exact_ntile

    df = spark.range(1777).select(
        (F.col("id") % 5).alias("m"),
        (F.col("id") * 11 % 97).alias("v"),
        F.col("id").alias("tb"),
    )
    w = Window.partitionBy("m").orderBy("v", "tb")
    ref = {
        (r["m"], r["tb"]): r["_t"]
        for r in df.withColumn("_t", F.ntile(4).over(w).cast("long")).collect()
    }
    got = {
        (r["m"], r["tb"]): r["bucket"]
        for r in exact_ntile(df, 4, key="v", tiebreaks=["tb"], major="m").collect()
    }
    assert got == ref


def test_exact_prefix_sum_matches_window(spark):
    """Exclusive and inclusive running totals per major, with NULL
    measures skipped exactly as SQL sum does."""
    from pyspark.sql import Window

    from crane_spark.operators.indexing import exact_prefix_sum

    df = spark.range(1203).select(
        (F.col("id") % 4).alias("m"),
        F.col("id").alias("k"),
        F.when(F.col("id") % 7 != 0, F.col("id") % 29).alias("x"),
    )
    for exclusive in (True, False):
        end = -1 if exclusive else 0
        w = (
            Window.partitionBy("m")
            .orderBy("k")
            .rowsBetween(Window.unboundedPreceding, end)
        )
        ref = {
            (r["m"], r["k"]): r["_s"]
            for r in df.withColumn(
                "_s", F.coalesce(F.sum("x").over(w), F.lit(0))
            ).collect()
        }
        got = {
            (r["m"], r["k"]): r["ps"]
            for r in exact_prefix_sum(
                df, measure="x", key="k", tiebreaks=[], out="ps",
                major="m", exclusive=exclusive,
            ).collect()
        }
        assert got == ref, f"exclusive={exclusive}"


def test_exact_rank_major_plan_has_no_data_sized_partition(spark):
    """The whole point: no SinglePartition exchange, and no Window
    partitioned on the bare major — only (major, _rb) cells."""
    import re

    from crane_spark.operators.indexing import exact_rank

    df = spark.range(5000).select(
        (F.col("id") % 3).alias("m"),
        (F.col("id") * 13 % 997).alias("v"),
        F.col("id").alias("tb"),
    )
    out = exact_rank(df, key="v", tiebreaks=["tb"], out="rk", major="m")
    plan = _plan(out)
    assert "Exchange SinglePartition" not in plan
    # every data-row Window must include the _rb cell column in its
    # partition spec; aggregate-row windows (cell stats) are exempt
    # because their input is a keyed HashAggregate
    for m in re.finditer(r"Arguments: \[[^\]]*windowspecdefinition\(([^)]*)\)", plan):
        spec = m.group(1)
        assert "_rb" in spec or "_sb" in spec or "_bn" in spec or "count" in spec, spec


def test_exact_prefix_sum_global_decimal_and_float_measures(spark):
    """The global (major=None) path drives its offsets frame from the
    SUM's result type: decimal measures collect as Python Decimal and
    must seed/type the cumulative offsets accordingly (regression: the
    old long-typed frame raised TypeError at construction), and float
    measures widen to double."""
    from decimal import Decimal

    from pyspark.sql import Window

    from crane_spark.operators.indexing import exact_prefix_sum

    df = spark.range(500).select(
        F.col("id").alias("k"),
        (F.col("id") % 97).cast("decimal(12,2)").alias("amount"),
        (F.col("id") % 13).cast("float").alias("fx"),
    )
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, -1)
    ref = {
        r["k"]: r["_s"]
        for r in df.withColumn(
            "_s", F.coalesce(F.sum("amount").over(w), F.lit(0))
        ).collect()
    }
    got = {
        r["k"]: r["ps"]
        for r in exact_prefix_sum(
            df, measure="amount", key="k", tiebreaks=[], out="ps"
        ).collect()
    }
    assert got == ref
    assert isinstance(next(iter(got.values())), Decimal)
    # float measure: widened to double, bit-exact within-bucket sums +
    # double offsets match the plain window on this integral data
    ref_f = {
        r["k"]: r["_s"]
        for r in df.withColumn(
            "_s", F.coalesce(F.sum("fx").over(w), F.lit(0))
        ).collect()
    }
    got_f = {
        r["k"]: r["ps"]
        for r in exact_prefix_sum(
            df, measure="fx", key="k", tiebreaks=[], out="ps"
        ).collect()
    }
    assert got_f == ref_f


def test_exact_rank_and_prefix_sum_per_major_join_fails_loudly(spark):
    """The per-major paths scan the source twice (aggregate + data
    branches); their cell join must be LEFT with a raise_error guard so
    a cell the aggregate branch missed fails loudly instead of silently
    dropping rows (the global path has had this guard from round 5)."""
    from crane_spark.operators.indexing import exact_prefix_sum, exact_rank

    df = spark.range(300).select(
        (F.col("id") % 3).alias("m"),
        (F.col("id") * 7 % 113).alias("v"),
        F.col("id").alias("tb"),
    )
    rk = exact_rank(df, key="v", tiebreaks=["tb"], out="rk", major="m")
    ps = exact_prefix_sum(df, measure="v", key="v", tiebreaks=["tb"], out="ps", major="m")
    for out in (rk, ps):
        plan = _plan(out)
        assert "LeftOuter" in plan, plan
        assert "raise_error" in plan.lower(), plan
    # and the guard stays silent on well-behaved input
    assert rk.count() == 300
    assert ps.count() == 300


def test_idiv_exact_beyond_double_range(spark):
    """ADVICE r6: tile arithmetic must stay exact past double's 2^52
    contiguous-integer range. `_idiv` (IntegralDivide) divides
    9_007_199_254_740_993 (2^53 + 1, not representable as a double)
    exactly, where floor(x/d) would round through the double grid."""
    import pyspark.sql.functions as F

    from crane_spark.operators.indexing import _idiv

    x = 2**53 + 3  # rounds to 2^53 + 4 on the double grid
    row = spark.range(1).select(
        _idiv(F.lit(x), F.lit(2)).alias("i"),
        F.floor(F.lit(x) / F.lit(2)).alias("f"),
    ).first()
    assert row["i"] == x // 2 == 2**52 + 1  # exact integral division
    assert row["f"] == 2**52 + 2  # the double path provably rounds up


def test_dense_index_null_major_supported_both_regimes(spark):
    """NULL major values must index like any other group (placed FIRST,
    matching Spark's ASC NULLS FIRST) instead of crashing the driver
    cumsum (None < int TypeError) or being silently dropped by a
    null-unsafe join in the window fallback regime."""
    import pyspark.sql.functions as F

    rows = [(i, None if i < 3 else i % 4) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, grp int")
    for cap in (100, 2):  # driver-cumsum regime, then window fallback
        out = dense_index(
            df, tiebreak="vec_id", major="grp", out="ix", major_cap=cap
        ).collect()
        assert len(out) == 20, f"major_cap={cap} dropped rows"
        ixs = sorted(r["ix"] for r in out)
        assert ixs == list(range(20)), f"major_cap={cap}: not a bijection"
        null_ixs = {r["ix"] for r in out if r["grp"] is None}
        assert null_ixs == {0, 1, 2}, "NULL major group must rank first"


def test_dense_index_unseen_cell_fails_loudly(spark):
    """A (major, bucket) cell — or major — the count pass never
    observed must raise (non-deterministic input), never silently drop
    the row: the same loud-fail contract exact_rank carries. The input
    is a genuinely nondeterministic sparse filter (unseeded Python
    random, ~5% pass rate over 200 rows across 50 majors), so each of
    the construction's passes sees an almost surely different row set
    and one of the null-trap guards must fire."""
    import pyspark.sql.functions as F
    import pytest

    @F.udf("boolean")
    def sparse_flaky(x):
        import random

        return random.random() < 0.05

    sparse_flaky = sparse_flaky.asNondeterministic()
    df = spark.createDataFrame(
        [(i, i % 50) for i in range(200)], "vec_id long, grp int"
    )
    flaky = df.filter(sparse_flaky("vec_id"))
    with pytest.raises(Exception, match="did not observe"):
        dense_index(flaky, tiebreak="vec_id", major="grp", out="ix").collect()


def test_internal_column_collision_raises(spark):
    """Inputs already carrying an operator's internal temp column must
    fail loudly instead of having the column overwritten and dropped."""
    import pytest

    from crane_spark.operators.indexing import exact_rank

    df = spark.createDataFrame([(1, 2, 3)], "a long, b long, _rb long")
    with pytest.raises(ValueError, match="_rb"):
        exact_rank(df, "a", ["b"])
    df2 = spark.createDataFrame([(1, 2, 3)], "a long, b long, _hb long")
    with pytest.raises(ValueError, match="_hb"):
        dense_index(df2, tiebreak="a")
