"""Second wave of relational coverage (SURVEY.md §2.2): outer joins,
GROUPING SETS, map/struct functions, extended string/date functions,
window analytics, pivot, multiset set-ops, native session windows,
subqueries through the spark.sql surface, cross join."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from crane_spark.functions.aggregates import dsum, sql_dsum
from crane_spark.queries.core import register
from crane_spark.tables import table

FULL_OUTER_SQL = """
SELECT coalesce(c.nk, s.nk) AS nationkey, n_cust, n_supp
FROM (SELECT c_nationkey AS nk, count(*) AS n_cust FROM customer GROUP BY nk) c
FULL OUTER JOIN (SELECT s_nationkey AS nk, count(*) AS n_supp FROM supplier GROUP BY nk) s
  ON c.nk = s.nk
"""


@register("full_outer_nation_counts", FULL_OUTER_SQL, tags=("join", "outer"))
def q_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of two aggregates — nations appearing on only
    one side surface with nulls on the other."""
    c = (
        table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    s = (
        table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return c.join(s, "nk", "full_outer").select(
        F.col("nk").alias("nationkey"), "n_cust", "n_supp"
    )


LEFT_JOIN_SQL = """
SELECT o_orderkey, c_name,
       CAST(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END AS BIGINT) AS unmatched
FROM orders
LEFT JOIN customer ON o_custkey = c_custkey AND c_acctbal > 5000
"""


@register("left_join_with_condition", LEFT_JOIN_SQL, tags=("join", "outer"))
def q_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left join with a non-key predicate in the join condition: rows
    whose match is filtered out keep the left side with nulls."""
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    cond = (orders.o_custkey == cust.c_custkey) & (cust.c_acctbal > 5000)
    return orders.join(F.broadcast(cust), cond, "left").select(
        "o_orderkey",
        "c_name",
        F.when(F.col("c_name").isNull(), 1).otherwise(0).cast("long").alias("unmatched"),
    )


GROUPING_SETS_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {sql_dsum('l_quantity', 2)} AS sum_qty, count(*) AS n
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
"""


@register("grouping_sets", GROUPING_SETS_SQL, tags=("agg", "rollup", "sql"))
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS through the spark.sql surface (temp view
    + SQL text -> same Catalyst path, SURVEY.md §3). The fact table is
    pre-aggregated per (flag, status) before the GROUPING SETS Expand
    (which replicates each input row once per set — 3x otherwise);
    decimal partials re-sum exactly. See cube_returns for the
    non-null-key caveat."""
    import pyspark.sql.types as T

    from crane_spark.functions.aggregates import PRECISION

    li = table(spark, sf_dir, "lineitem")
    li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast(T.DecimalType(PRECISION, 2))).alias("ps"),
        F.count(F.lit(1)).alias("pn"),
    ).createOrReplaceTempView("pre_lineitem_qty")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(ps) AS DOUBLE) AS sum_qty, SUM(pn) AS n
        FROM pre_lineitem_qty
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


MAP_STRUCT_SQL = """
SELECT o_orderkey,
       o_totalprice AS price_field,
       o_orderstatus AS status_val,
       CAST(2 AS INT) AS n_map_keys,
       o_orderstatus || ':' || o_orderpriority AS packed
FROM orders
"""


@register("map_struct_funcs", MAP_STRUCT_SQL, tags=("map", "struct", "projection"))
def q_map_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct pack/field-access and map build/lookup (the oracle checks
    the resulting VALUES; the construction under test is Spark-side)."""
    orders = table(spark, sf_dir, "orders")
    st = F.struct(
        F.col("o_totalprice").alias("price"), F.col("o_orderdate").alias("d")
    )
    mp = F.create_map(
        F.lit("status"), F.col("o_orderstatus"), F.lit("prio"), F.col("o_orderpriority")
    )
    return orders.select(
        "o_orderkey",
        st.getField("price").alias("price_field"),
        mp.getItem("status").alias("status_val"),
        F.size(F.map_keys(mp)).alias("n_map_keys"),
        F.concat_ws(":", mp.getItem("status"), mp.getItem("prio")).alias("packed"),
    )


STRING2_SQL = """
SELECT p_partkey,
       lower(p_type) AS type_lc,
       trim(p_name) AS name_trim,
       lpad(p_brand, 12, '*') AS brand_pad,
       regexp_extract(p_name, '([0-9]+)', 1) AS name_digits,
       CAST(strpos(p_type, 'a') AS BIGINT) AS a_pos,
       reverse(p_brand) AS brand_rev
FROM part
"""


@register("string_funcs2", STRING2_SQL, tags=("strings", "projection"))
def q_string2(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.lower("p_type").alias("type_lc"),
        F.trim("p_name").alias("name_trim"),
        F.lpad("p_brand", 12, "*").alias("brand_pad"),
        F.regexp_extract("p_name", "([0-9]+)", 1).alias("name_digits"),
        F.instr(F.col("p_type"), "a").cast("long").alias("a_pos"),
        F.reverse("p_brand").alias("brand_rev"),
    )


DATETIME2_SQL = """
SELECT o_orderkey,
       CAST(epoch(o_orderdate) AS BIGINT) AS epoch_sec,
       CAST(o_orderdate AS DATE) AS order_date,
       last_day(CAST(o_orderdate AS DATE)) AS month_end,
       CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS due_date,
       CAST(EXTRACT(WEEK FROM o_orderdate) AS BIGINT) AS iso_week
FROM orders
"""


@register("datetime_funcs2", DATETIME2_SQL, tags=("dates", "projection"))
def q_datetime2(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return orders.select(
        "o_orderkey",
        F.unix_timestamp(d).alias("epoch_sec"),
        F.to_date(d).alias("order_date"),
        F.last_day(d).alias("month_end"),
        F.date_add(F.to_date(d), 30).alias("due_date"),
        F.weekofyear(d).cast("long").alias("iso_week"),
    )


ANALYTICS_SQL = """
SELECT c_nationkey, c_custkey, c_acctbal,
       CAST(dense_rank() OVER w AS BIGINT) AS drank,
       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
       lag(c_acctbal, 2) OVER w AS lag2,
       lead(c_acctbal) OVER w AS lead1,
       percent_rank() OVER w AS prank
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
"""


@register("window_analytics", ANALYTICS_SQL, tags=("window",))
def q_window_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank/navigation analytics over `PARTITION BY c_nationkey` —
    25 partition values, so the window version hands each task a
    customers/25-sized sort (a data-sized partition at scale, the
    same class `exact_ntile` kills for global ntile). Re-planned on
    `exact_rank`: the ordering tuple (c_acctbal DESC, c_custkey) is
    UNIQUE per nation, so `dense_rank == rank == row_number` — one
    balanced-cell rank pass gives drank directly, quartile and
    percent_rank are arithmetic on (rank, per-nation n), and
    lag(2)/lead(1) become equi-joins on the unique (nation, rank±d)
    key — shuffle-balanced, no per-nation sort anywhere."""
    from crane_spark.operators.indexing import _ansi_tile, exact_rank

    cust = table(spark, sf_dir, "customer")
    ranked = exact_rank(
        cust.select("c_nationkey", "c_custkey", "c_acctbal"),
        key="c_acctbal",
        tiebreaks=["c_custkey"],
        out="_rk",
        major="c_nationkey",
        descending=True,
        n_out="_n",
    )
    # ranked feeds three plan branches (base + the two lag/lead
    # self-joins); without pinning, the cell-sort/rank machinery runs
    # three times per execution (ReusedExchange dedups only the
    # shuffles). Lazy localCheckpoint: zero jobs at build time, one
    # ranking pass at run time.
    ranked = ranked.localCheckpoint(eager=False)
    nb = ranked.select(
        F.col("c_nationkey").alias("_jn"),
        F.col("_rk").alias("_jr"),
        F.col("c_acctbal").alias("_jv"),
    )
    rk = F.col("_rk")
    lagged = ranked.join(
        nb, (F.col("c_nationkey") == F.col("_jn")) & (F.col("_jr") == rk - 2), "left"
    ).withColumnRenamed("_jv", "_lag2").drop("_jn", "_jr")
    both = lagged.join(
        nb, (F.col("c_nationkey") == F.col("_jn")) & (F.col("_jr") == rk + 1), "left"
    ).withColumnRenamed("_jv", "_lead1").drop("_jn", "_jr")
    return both.select(
        "c_nationkey",
        "c_custkey",
        "c_acctbal",
        rk.cast("long").alias("drank"),
        _ansi_tile(rk, F.col("_n"), 4).cast("long").alias("quartile"),
        F.col("_lag2").alias("lag2"),
        F.col("_lead1").alias("lead1"),
        F.when(F.col("_n") == 1, F.lit(0.0))
        .otherwise((rk - 1) / (F.col("_n") - 1))
        .cast("double")
        .alias("prank"),
    )


PIVOT_SQL = """
SELECT EXTRACT(YEAR FROM o_orderdate) AS o_year,
       count(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
       count(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
       count(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
FROM orders
GROUP BY o_year
"""


@register("pivot_status_by_year", PIVOT_SQL, tags=("agg", "pivot"))
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
    )


EXCEPT_ALL_SQL = """
SELECT o_custkey AS custkey FROM orders
EXCEPT ALL
SELECT c_custkey FROM customer
"""


@register("except_all_custkeys", EXCEPT_ALL_SQL, tags=("setop",))
def q_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset EXCEPT ALL: each customer key's order-multiplicity
    minus one survives."""
    o = table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("custkey"))
    c = table(spark, sf_dir, "customer").select(F.col("c_custkey").alias("custkey"))
    return o.exceptAll(c)


INTERSECT_ALL_SQL = """
SELECT o_custkey AS custkey FROM orders
INTERSECT ALL
SELECT c_custkey FROM customer
"""


@register("intersect_all_custkeys", INTERSECT_ALL_SQL, tags=("setop",))
def q_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("custkey"))
    c = table(spark, sf_dir, "customer").select(F.col("c_custkey").alias("custkey"))
    return o.intersectAll(c)


SESSION_WINDOW_SQL = """
WITH o AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w >= INTERVAL 5 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, ts,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM o
)
SELECT user_id, min(ts) AS session_start, count(*) AS n_events
FROM s GROUP BY user_id, sid
"""


@register("session_windows_native", SESSION_WINDOW_SQL, tags=("window-time", "sessions", "streaming-twin"))
def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's native session_window (5-minute gap) vs an islands-CTE
    oracle. A session closes when the next event is >= gap away (the
    window end ts+gap is exclusive). Batch twin of the streaming
    session_window aggregation."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "5 minutes").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id", F.col("sw.start").alias("session_start"), "n_events"
        )
    )


SUBQUERY_SQL = """
SELECT o_orderkey, o_totalprice
FROM orders
WHERE o_totalprice > (
        SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) / COUNT(*)
        FROM orders
      )
  AND o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
"""


@register("scalar_in_subqueries", SUBQUERY_SQL, tags=("sql", "subquery", "filter"))
def q_subqueries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar + IN subqueries through spark.sql (the threshold uses the
    exact decimal average so both engines compare against the identical
    double)."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(SUBQUERY_SQL)


LATERAL_SQL = """
SELECT c_custkey, c_name, o_orderkey AS top_orderkey, o_totalprice AS top_price
FROM customer,
LATERAL (
  SELECT o_orderkey, o_totalprice
  FROM orders
  WHERE o_custkey = c_custkey
  ORDER BY o_totalprice DESC, o_orderkey
  LIMIT 1
) t
WHERE c_custkey < 30
"""


@register("lateral_top_order", LATERAL_SQL, tags=("join", "lateral", "sql"))
def q_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery through spark.sql: per customer,
    their single priciest order (the 'top-1 per key via lateral'
    idiom; the window-function twin is top_customers_per_nation)."""
    table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(LATERAL_SQL)


DQ_PROFILE_SQL = """
SELECT count(*) AS n_rows,
       count(o_orderkey) AS orderkey_nonnull,
       count(DISTINCT o_orderkey) AS orderkey_distinct,
       count(DISTINCT o_custkey) AS custkey_distinct,
       count(DISTINCT o_orderstatus) AS status_distinct,
       CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS nonpositive_prices,
       CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_dates,
       min(o_orderdate) AS min_date,
       max(o_orderdate) AS max_date
FROM orders
"""


@register("dq_profile_orders", DQ_PROFILE_SQL, tags=("profiling", "agg"))
def q_dq_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile in one pass: null/distinct/range checks —
    the validation sweep a pipeline runs before trusting a new drop."""
    orders = table(spark, sf_dir, "orders")
    return orders.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("o_orderkey").alias("orderkey_nonnull"),
        F.countDistinct("o_orderkey").alias("orderkey_distinct"),
        F.countDistinct("o_custkey").alias("custkey_distinct"),
        F.countDistinct("o_orderstatus").alias("status_distinct"),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)).cast("long").alias(
            "nonpositive_prices"
        ),
        F.sum(F.when(F.col("o_orderdate").isNull(), 1).otherwise(0)).cast("long").alias(
            "null_dates"
        ),
        F.min("o_orderdate").alias("min_date"),
        F.max("o_orderdate").alias("max_date"),
    )


GENERATE_SQL = """
SELECT CAST(r.range AS BIGINT) AS id,
       CAST(r.range * r.range AS BIGINT) AS id_sq,
       CAST(r.range % 7 AS BIGINT) AS id_mod7,
       CAST(CASE WHEN r.range % 2 = 0 THEN 1 ELSE 0 END AS BIGINT) AS is_even
FROM range(0, 1000) r
"""


@register("generate_series", GENERATE_SQL, tags=("generator", "projection"))
def q_generate(spark: SparkSession, sf_dir: str) -> DataFrame:  # noqa: ARG001
    """Table generator: spark.range (distributed id generation, no
    source table at all) vs DuckDB's range()."""
    r = spark.range(0, 1000)
    return r.select(
        F.col("id"),
        (F.col("id") * F.col("id")).alias("id_sq"),
        (F.col("id") % 7).alias("id_mod7"),
        F.when(F.col("id") % 2 == 0, 1).otherwise(0).cast("long").alias("is_even"),
    )


ARRAYS2_SQL = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents WHERE doc_id < 50)
SELECT doc_id,
       array_to_string(toks[1:5], ' ') AS first5,
       CAST(coalesce(list_position(toks, 'the'), 0) AS BIGINT) AS the_pos,
       list_reverse(list_sort(list_distinct(toks)))[1] AS max_token,
       array_to_string(flatten([toks[1:2], toks[2:3]]), ' ') AS overlap_grams
FROM t
"""


@register("array_funcs2", ARRAYS2_SQL, tags=("arrays", "projection"))
def q_arrays2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """slice / array_position / array_max / flatten coverage (array
    results re-joined to strings so the cross-engine value hash never
    sees engine-specific array representations)."""
    from crane_spark.functions.text import tokens

    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    toks = tokens("text")
    return docs.select(
        "doc_id",
        F.concat_ws(" ", F.slice(toks, 1, 5)).alias("first5"),
        F.array_position(toks, "the").cast("long").alias("the_pos"),
        F.array_max(F.array_distinct(toks)).alias("max_token"),
        F.concat_ws(
            " ", F.flatten(F.array(F.slice(toks, 1, 2), F.slice(toks, 2, 2)))
        ).alias("overlap_grams"),
    )


CROSS_JOIN_SQL = """
SELECT r_name, status
FROM region
CROSS JOIN (SELECT DISTINCT o_orderstatus AS status FROM orders)
"""


@register("cross_join_small", CROSS_JOIN_SQL, tags=("join", "cross"))
def q_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = table(spark, sf_dir, "region")
    status = (
        table(spark, sf_dir, "orders")
        .select(F.col("o_orderstatus").alias("status"))
        .distinct()
    )
    return region.crossJoin(status).select("r_name", "status")


UNPIVOT_SQL = f"""
WITH long AS (
  SELECT 'l_quantity' AS measure, l_quantity AS value FROM lineitem
  UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
  UNION ALL SELECT 'l_discount', l_discount FROM lineitem
  UNION ALL SELECT 'l_tax', l_tax FROM lineitem
)
SELECT measure, count(*) AS n, {sql_dsum('value', 4)} AS total,
       min(value) AS min_value, max(value) AS max_value
FROM long
GROUP BY measure
"""


@register("unpivot_measures", UNPIVOT_SQL, tags=("unpivot", "agg"))
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long unpivot (melt) of the lineitem measure columns,
    then per-measure stats. The stats are computed column-wise in ONE
    aggregate pass over the wide table (no Expand row replication, no
    shuffle of the 4x long form — measured ~1.2x at sf0.1, and at
    100 TB the difference is an entire extra pass over the fact
    table); Spark's `unpivot` then melts the single aggregated row of
    per-measure structs into the long output. The oracle spells the
    same reshape as UNION ALL over the raw rows."""
    li = table(spark, sf_dir, "lineitem")
    measures = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    aggs = []
    for m in measures:
        aggs += [
            F.count(m).alias(f"n_{m}"),
            dsum(m, 4).alias(f"t_{m}"),
            F.min(m).alias(f"mn_{m}"),
            F.max(m).alias(f"mx_{m}"),
        ]
    wide = li.agg(*aggs).select(
        *[
            F.struct(
                F.col(f"n_{m}").alias("n"),
                F.col(f"t_{m}").alias("total"),
                F.col(f"mn_{m}").alias("min_value"),
                F.col(f"mx_{m}").alias("max_value"),
            ).alias(m)
            for m in measures
        ]
    )
    long = wide.unpivot(
        ids=[], values=measures, variableColumnName="measure", valueColumnName="v"
    )
    return long.select(
        "measure",
        F.col("v.n").alias("n"),
        F.col("v.total").alias("total"),
        F.col("v.min_value").alias("min_value"),
        F.col("v.max_value").alias("max_value"),
    )


ANALYTICS2_SQL = """
SELECT c_nationkey, c_custkey, c_acctbal,
       cume_dist() OVER w AS cdist,
       nth_value(c_acctbal, 3) OVER w AS third_bal,
       first_value(CASE WHEN c_acctbal > 0 THEN c_acctbal END IGNORE NULLS) OVER wf
         AS first_pos_bal,
       last_value(c_acctbal) OVER wf AS min_bal_in_nation
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey),
       wf AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


@register("window_analytics2", ANALYTICS2_SQL, tags=("window",))
def q_window_analytics2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The second tier of window analytics: cume_dist, nth_value
    (default running frame), and IGNORE NULLS first/last over the full
    partition frame — the null-skipping navigation functions gap-fill
    pipelines lean on.

    Re-planned off the 25-value `PARTITION BY c_nationkey` window
    (data-sized partitions at scale): the ordering tuple is unique
    per nation, so every one of these collapses to exact_rank
    arithmetic plus ONE per-nation aggregate — cume_dist = rank/n
    (no peers), nth_value(3, running frame) = the rank-3 value gated
    on rank>=3, IGNORE-NULLS first over the full frame = max of the
    positives (order is acctbal DESC), and last over the full frame
    = min(acctbal). The aggregate is 25 rows, broadcast back."""
    from crane_spark.operators.indexing import exact_rank

    cust = table(spark, sf_dir, "customer")
    ranked = exact_rank(
        cust.select("c_nationkey", "c_custkey", "c_acctbal"),
        key="c_acctbal",
        tiebreaks=["c_custkey"],
        out="_rk",
        major="c_nationkey",
        descending=True,
        n_out="_n",
    )
    # two plan branches (aggregate + base row) — pin one ranking pass,
    # lazily (no job at build time)
    ranked = ranked.localCheckpoint(eager=False)
    pos_bal = F.when(F.col("c_acctbal") > 0, F.col("c_acctbal"))
    aggs = ranked.groupBy(F.col("c_nationkey").alias("_an")).agg(
        F.max(F.when(F.col("_rk") == 3, F.col("c_acctbal"))).alias("_third"),
        F.max(pos_bal).alias("_first_pos"),
        F.min("c_acctbal").alias("_min_bal"),
    )
    rk = F.col("_rk")
    return ranked.join(
        F.broadcast(aggs), F.col("c_nationkey") == F.col("_an"), "left"
    ).select(
        "c_nationkey",
        "c_custkey",
        "c_acctbal",
        (rk / F.col("_n")).cast("double").alias("cdist"),
        F.when(rk >= 3, F.col("_third")).alias("third_bal"),
        F.col("_first_pos").alias("first_pos_bal"),
        F.col("_min_bal").alias("min_bal_in_nation"),
    )


HOF_SQL = """
SELECT doc_id,
       CAST(len(list_filter(string_split(text, ' '), t -> length(t) > 4)) AS BIGINT)
         AS n_long_tokens,
       CAST(len(list_filter(string_split(text, ' '),
                            t -> t IN ('the','a','of','and','in','to','is'))) > 0
            AS BIGINT) AS has_stopword,
       CAST(len(list_filter(string_split(text, ' '),
                            t -> NOT regexp_matches(t, '^[a-z]+$'))) = 0
            AS BIGINT) AS all_lower_alpha,
       CAST(list_sum(list_transform(string_split(text, ' '), t -> length(t)))
            AS BIGINT) AS total_token_chars,
       array_to_string(list_transform(list_slice(string_split(text, ' '), 1, 3),
                                      t -> upper(t)), ' ') AS first3_upper
FROM documents
"""


@register("hof_array_funcs", HOF_SQL, tags=("array", "hof", "projection"))
def q_hof_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lambda higher-order functions (filter/exists/forall/
    aggregate/transform) as first-class surface — per-element logic
    without leaving the JVM (the alternative is a Python UDF, 10-100x
    slower at 100 TB)."""
    docs = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    stop = F.array(*[F.lit(s) for s in ("the", "a", "of", "and", "in", "to", "is")])
    return docs.select(
        "doc_id",
        F.size(F.filter(toks, lambda t: F.length(t) > 4)).cast("long").alias("n_long_tokens"),
        F.exists(toks, lambda t: F.array_contains(stop, t)).cast("long").alias("has_stopword"),
        F.forall(toks, lambda t: t.rlike("^[a-z]+$")).cast("long").alias("all_lower_alpha"),
        F.aggregate(toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t))
        .alias("total_token_chars"),
        F.array_join(F.transform(F.slice(toks, 1, 3), F.upper), " ").alias("first3_upper"),
    )


REGEX_SQL = """
SELECT p_partkey,
       regexp_extract(p_name, '^([a-z]+)', 1) AS first_word,
       CAST(len(regexp_extract_all(p_name, '[aeiou]+')) AS BIGINT) AS n_vowel_runs,
       regexp_replace(p_name, '[aeiou]', '*', 'g') AS masked,
       CAST(regexp_matches(p_name, 'g(ear|izmo)') AS BIGINT) AS is_geared
FROM part
"""


@register("regex_funcs", REGEX_SQL, tags=("string", "regex", "projection"))
def q_regex_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex surface: group extraction, match counting, global
    replacement, boolean match — all codegen'd JVM expressions."""
    part = table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.regexp_extract("p_name", "^([a-z]+)", 1).alias("first_word"),
        F.regexp_count("p_name", F.lit("[aeiou]+")).cast("long").alias("n_vowel_runs"),
        F.regexp_replace("p_name", "[aeiou]", "*").alias("masked"),
        F.col("p_name").rlike("g(ear|izmo)").cast("long").alias("is_geared"),
    )


NULLSEM_SQL = """
SELECT c_nationkey,
       CAST(bool_and(c_acctbal > 0) AS BIGINT) AS all_positive,
       CAST(bool_or(c_acctbal < -500) AS BIGINT) AS any_deep_negative,
       CAST(count(*) - count(CASE WHEN c_acctbal >= 0 THEN c_acctbal END) AS BIGINT)
         AS n_neg_bal,
       CAST(SUM(CASE WHEN (CASE WHEN c_acctbal >= 0 THEN floor(c_acctbal / 1000) END)
                          IS NOT DISTINCT FROM
                          (CASE WHEN c_acctbal >= -2000 THEN floor(c_acctbal / 1000) END)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_nullsafe_eq
FROM customer
GROUP BY c_nationkey
"""


@register("null_semantics", NULLSEM_SQL, tags=("agg", "nulls"))
def q_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null semantics as declared surface: bool_and/bool_or (every/any)
    aggregates, count() null-skipping vs count(*), and null-safe
    equality (eqNullSafe / IS NOT DISTINCT FROM) where both-null
    compares true and null-vs-value compares false."""
    cust = table(spark, sf_dir, "customer")
    bal = F.col("c_acctbal")
    a = F.when(bal >= 0, F.floor(bal / 1000))
    b = F.when(bal >= -2000, F.floor(bal / 1000))
    return cust.groupBy("c_nationkey").agg(
        F.bool_and(bal > 0).cast("long").alias("all_positive"),
        F.bool_or(bal < -500).cast("long").alias("any_deep_negative"),
        (F.count(F.lit(1)) - F.count(F.when(bal >= 0, bal))).cast("long").alias("n_neg_bal"),
        F.sum(a.eqNullSafe(b).cast("long")).cast("long").alias("n_nullsafe_eq"),
    )


SQL_CTE_TEXT = """
WITH nation_totals AS (
  SELECT c_nationkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS nation_rev
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY c_nationkey
),
ranked AS (
  SELECT c_nationkey, nation_rev,
         CAST(rank() OVER (ORDER BY nation_rev DESC, c_nationkey) AS BIGINT) AS rev_rank
  FROM nation_totals
)
SELECT * FROM ranked WHERE rev_rank <= 10
"""


@register("sql_cte_window", SQL_CTE_TEXT, tags=("sql", "cte", "window"))
def q_sql_cte_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The spark.sql SURFACE itself as a capability: one SQL text —
    CTE chain, join, decimal-exact aggregate, ranking window — parsed
    by BOTH engines verbatim (shared ANSI subset). Catalyst gets the
    identical declarative plan the DataFrame queries build."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(SQL_CTE_TEXT)


ARGMAX_SQL = """
WITH r AS (
  SELECT o_orderstatus, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_orderstatus
                            ORDER BY o_totalprice DESC, o_orderkey DESC) AS rmax,
         row_number() OVER (PARTITION BY o_orderstatus
                            ORDER BY o_totalprice ASC, o_orderkey DESC) AS rmin
  FROM orders
)
SELECT o_orderstatus,
       max(CASE WHEN rmax = 1 THEN o_orderkey END) AS biggest_order,
       max(CASE WHEN rmax = 1 THEN o_totalprice END) AS biggest_price,
       max(CASE WHEN rmin = 1 THEN o_orderkey END) AS smallest_order,
       max(CASE WHEN rmin = 1 THEN o_totalprice END) AS smallest_price
FROM r GROUP BY o_orderstatus
"""


@register("argmax_funcs", ARGMAX_SQL, tags=("agg", "argmax"))
def q_argmax_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/min_by (argmax/argmin): top-of-group WITHOUT a window —
    one hash aggregate with map-side combine instead of a
    partition-sort, the cheaper plan whenever only the extreme row is
    needed. Ties broken by orderkey through a struct ordering so both
    engines pick the same row."""
    orders = table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.max_by(
            "o_orderkey", F.struct(F.col("o_totalprice"), F.col("o_orderkey"))
        ).alias("biggest_order"),
        F.max("o_totalprice").alias("biggest_price"),
        F.min_by(
            "o_orderkey", F.struct(F.col("o_totalprice"), (-F.col("o_orderkey")))
        ).alias("smallest_order"),
        F.min("o_totalprice").alias("smallest_price"),
    )


SQL_HINT_TEXT = """
SELECT /*+ BROADCAST(customer) */
       c_mktsegment,
       count(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


@register("sql_hint_join", SQL_HINT_TEXT, tags=("sql", "join", "hint"))
def q_sql_hint_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimizer hints through the shared SQL surface: the /*+
    BROADCAST(t) */ hint rides a standard comment, so Catalyst honors
    it (plan shows BroadcastHashJoin regardless of statistics) while
    DuckDB parses the same text and simply ignores it — one query
    string, both engines, intent preserved. Hints are how broadcast
    decisions survive CBO misestimates at 100 TB (TUNING.md)."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(SQL_HINT_TEXT)


RI_SQL = """
SELECT 'lineitem.l_orderkey -> orders' AS fk_edge,
       (SELECT count(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
         AS n_orphans,
       (SELECT count(*) FROM lineitem) AS n_rows
UNION ALL
SELECT 'orders.o_custkey -> customer',
       (SELECT count(*) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)),
       (SELECT count(*) FROM orders)
UNION ALL
SELECT 'customer.c_nationkey -> nation',
       (SELECT count(*) FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)),
       (SELECT count(*) FROM customer)
"""


@register("referential_integrity", RI_SQL, tags=("dq", "join", "anti"))
def q_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-contract audit: orphan counts along the star schema's
    foreign-key edges, one row per edge. Each check is an anti join
    (broadcast for dimension parents, shuffle for fact-fact) feeding
    a count — no row data moves, and at 100 TB this is the cheap
    pre-flight that catches a bad partition-drop before a training
    run consumes it."""
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")

    def edge(name: str, child: DataFrame, ck: str, parent: DataFrame, pk: str) -> DataFrame:
        orphans = child.join(
            parent.select(pk), child[ck] == parent[pk], "left_anti"
        ).agg(F.count(F.lit(1)).alias("n_orphans"))
        total = child.agg(F.count(F.lit(1)).alias("n_rows"))
        return (
            orphans.crossJoin(total)
            .select(F.lit(name).alias("fk_edge"), "n_orphans", "n_rows")
        )

    return (
        edge("lineitem.l_orderkey -> orders", li, "l_orderkey", orders, "o_orderkey")
        .unionByName(edge("orders.o_custkey -> customer", orders, "o_custkey", cust, "c_custkey"))
        .unionByName(edge("customer.c_nationkey -> nation", cust, "c_nationkey", nation, "n_nationkey"))
    )


K_ANON_SQL = """
WITH g AS (
  SELECT c_nationkey, c_mktsegment, count(*) AS group_size
  FROM customer GROUP BY c_nationkey, c_mktsegment
)
SELECT c_nationkey, c_mktsegment, CAST(group_size AS BIGINT) AS group_size
FROM g WHERE group_size < 5
"""


@register("k_anonymity_violations", K_ANON_SQL, tags=("governance", "privacy", "agg"))
def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-governance audit: quasi-identifier combinations
    (nation x market segment) shared by FEWER than k=5 customers —
    the groups where releasing the combination risks re-identifying
    an individual. One map-side-combined aggregate over the
    quasi-identifier key; the violating set is what a release gate
    suppresses or generalizes before publishing."""
    cust = table(spark, sf_dir, "customer")
    return (
        cust.groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("group_size"))
        .filter(F.col("group_size") < 5)
        .select(
            "c_nationkey",
            "c_mktsegment",
            F.col("group_size").cast("long").alias("group_size"),
        )
    )


TOPK_AGG_SQL = """
WITH ranked AS (
  SELECT o_orderpriority,
         unnest(list_slice(
           list_sort(list(struct_pack(np := -o_totalprice, k := o_orderkey))),
           1, 3)) AS r
  FROM orders GROUP BY o_orderpriority
)
SELECT o_orderpriority,
       CAST(-r.np AS DOUBLE) AS o_totalprice,
       CAST(r.k AS BIGINT) AS o_orderkey
FROM ranked
"""


@register("topk_per_group_agg", TOPK_AGG_SQL, tags=("agg", "topk", "no-window"))
def q_topk_per_group_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k WITHOUT a window: collect each group's
    (price, key) structs in the hash aggregate, sort the group-local
    array, slice k=3 — so there is NO partition-wide sort and NO
    Window operator in the plan (guarded in test_plans). The window
    form sorts every partition's full data; this form's state per
    group is the collected array, which map-side combine keeps
    group-local. Right when groups are small-to-medium and k tiny;
    the window form remains for huge groups (bounded-state variant:
    a k-capped aggregate). Ordering keys negate price so one
    ascending struct sort yields descending price with ascending key
    tiebreak in both engines."""
    orders = table(spark, sf_dir, "orders")
    collected = orders.groupBy("o_orderpriority").agg(
        F.slice(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        (-F.col("o_totalprice")).alias("np"),
                        F.col("o_orderkey").alias("k"),
                    )
                )
            ),
            1,
            3,
        ).alias("top")
    )
    return collected.select(
        "o_orderpriority", F.explode("top").alias("r")
    ).select(
        "o_orderpriority",
        (-F.col("r.np")).cast("double").alias("o_totalprice"),
        F.col("r.k").cast("long").alias("o_orderkey"),
    )
