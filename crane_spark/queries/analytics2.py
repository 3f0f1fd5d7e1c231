"""Product/corpus analytics, batch 3: rolling distinct users, anomaly
detection, interval-overlap joins, an n-gram LM quality score, and an
ordered conversion funnel.

Reference scope note: the reference's only analytics are three fixed
topologies (util.py:28-38, crane_master.py:18); everything here is
declared gap-fill on the same capability surface (SURVEY.md §2.2),
built shuffle-friendly for the 100 TB design point:

* rolling distinct -> bounded explode (7x of the DEDUPED user-day
  pairs, not of raw events) instead of an unsupported
  COUNT(DISTINCT) OVER RANGE frame;
* overlap join -> bin-and-join (each interval lands in O(1) hour
  buckets; the quadratic blow-up is confined to one bucket) instead
  of an unbounded theta join;
* trigram LM -> the model side is a bounded vocabulary (alphabet^3),
  so scoring is a broadcast join, never a shuffle of the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crane_spark.queries.core import register
from crane_spark.tables import fan_out, table

# --------------------------------------------------------------------
# Rolling 7-day distinct users (WAU) per activity day
# --------------------------------------------------------------------

ROLLING_WAU_SQL = """
WITH pairs AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
),
contrib AS (
  SELECT user_id,
         CAST(UNNEST(generate_series(d, d + INTERVAL 6 DAY, INTERVAL 1 DAY)) AS DATE) AS day
  FROM pairs
)
SELECT c.day, count(DISTINCT c.user_id) AS wau_7d
FROM contrib c
WHERE c.day IN (SELECT DISTINCT d FROM pairs)
GROUP BY c.day
"""


@register("rolling_7d_active_users", ROLLING_WAU_SQL, tags=("window", "distinct", "timeseries"))
def q_rolling_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day count of users active in the trailing 7 days. COUNT
    (DISTINCT) over a RANGE frame isn't supported (and materializing
    per-day user sets doesn't scale), so each deduped (user, day) pair
    is exploded to the <=7 later days it contributes to and the
    distinct count runs per day — the fan-out is 7x of the deduped
    pairs, the distinct agg is one shuffle on day, and partial
    aggregation still applies to the dedup step."""
    events = table(spark, sf_dir, "events")
    pairs = events.select(
        "user_id", F.to_date("ts").alias("d")
    ).distinct()
    days = pairs.select("d").distinct()
    contrib = pairs.select(
        "user_id",
        F.explode(F.sequence(F.col("d"), F.date_add("d", 6))).alias("day"),
    )
    return (
        contrib.join(days, contrib.day == days.d, "left_semi")
        .groupBy("day")
        .agg(F.count_distinct("user_id").alias("wau_7d"))
    )


# --------------------------------------------------------------------
# Per-group z-score anomaly detection
# --------------------------------------------------------------------

ZSCORE_SQL = """
WITH s AS (
  SELECT event_type,
         count(*) AS n,
         CAST(SUM(CAST(round(value, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(round(value * value, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sxx
  FROM events GROUP BY event_type
),
m AS (
  SELECT event_type, n, sx / n AS mu,
         sqrt((sxx - sx * sx / n) / (n - 1)) AS sigma
  FROM s
)
SELECT e.event_type,
       count(*) FILTER (WHERE abs((e.value - m.mu) / m.sigma) > 3) AS n_outliers,
       CAST(round(max(abs((e.value - m.mu) / m.sigma)), 4) AS DOUBLE) AS max_abs_z
FROM events e JOIN m ON e.event_type = m.event_type
GROUP BY e.event_type
"""


@register("zscore_outliers", ZSCORE_SQL, tags=("agg", "stats", "anomaly"))
def q_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anomaly detection: per event_type, count of |z| > 3 values and
    the max |z|. Moments come from exact decimal sums (order-free, so
    both engines agree bit-for-bit; see stats.py), then a broadcast
    join streams the stats back over the fact scan — two scans, one
    tiny shuffle, no window over the whole fact table."""
    events = table(spark, sf_dir, "events")
    v = F.round(F.col("value"), 6).cast("decimal(28,6)")
    vv = F.round(F.col("value") * F.col("value"), 6).cast("decimal(38,6)")
    s = events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v).cast("double").alias("sx"),
        F.sum(vv).cast("double").alias("sxx"),
    )
    m = s.select(
        "event_type",
        (F.col("sx") / F.col("n")).alias("mu"),
        F.sqrt((F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) / (F.col("n") - 1)).alias("sigma"),
    )
    z = F.abs((F.col("value") - F.col("mu")) / F.col("sigma"))
    return (
        events.join(F.broadcast(m), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.when(z > 3, 1)).alias("n_outliers"),
            F.round(F.max(z), 4).cast("double").alias("max_abs_z"),
        )
    )


# --------------------------------------------------------------------
# Interval-overlap self-join (bin-and-join at scale)
# --------------------------------------------------------------------

OVERLAP_SQL = """
WITH iv AS (
  SELECT event_id, user_id, ts AS s, ts + INTERVAL 1 HOUR AS e
  FROM events WHERE event_type = 'purchase'
)
SELECT CAST(greatest(a.s, b.s) AS DATE) AS day,
       count(*) AS n_overlaps
FROM iv a JOIN iv b
  ON a.event_id < b.event_id
 AND a.s < b.e AND b.s < a.e
 AND a.user_id <> b.user_id
GROUP BY day
"""


@register("interval_overlap_counts", OVERLAP_SQL, tags=("join", "range", "interval"))
def q_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrency analysis: pairs of different-user purchase windows
    ([ts, ts+1h)) that overlap, counted per day. The oracle states the
    quadratic theta join; the engine runs the scalable twin — each
    interval is exploded to the hour bins it touches (O(1) per
    interval since span/bin = 1), the pair join is an equi-join on
    bin, and a pair is counted only in the bin containing the overlap
    start (greatest(a.s, b.s)), so bins never double-count. At 100 TB
    the quadratic cost is confined to co-bucketed rows instead of a
    full cross join."""
    events = table(spark, sf_dir, "events")
    iv = events.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("e"),
    )
    hour = lambda c: F.floor(F.unix_timestamp(c) / 3600)  # noqa: E731
    binned = iv.withColumn(
        "bin",
        F.explode(F.sequence(hour(F.col("s")), hour(F.expr("e - INTERVAL 1 MICROSECOND")))),
    )
    a, b = binned.alias("a"), binned.alias("b")
    A, B = (lambda c: F.col(f"a.{c}")), (lambda c: F.col(f"b.{c}"))
    pairs = a.join(
        b,
        (A("bin") == B("bin"))
        & (A("event_id") < B("event_id"))
        & (A("s") < B("e"))
        & (B("s") < A("e"))
        & (A("user_id") != B("user_id")),
    ).filter(hour(F.greatest(A("s"), B("s"))) == A("bin"))
    return pairs.groupBy(
        F.to_date(F.greatest(A("s"), B("s"))).alias("day")
    ).agg(F.count(F.lit(1)).alias("n_overlaps"))


# --------------------------------------------------------------------
# Char-trigram LM quality score (perplexity proxy)
# --------------------------------------------------------------------

TRIGRAM_LM_SQL = """
WITH d AS (SELECT doc_id, lower(text) AS t FROM documents
           WHERE length(text) >= 3),
tri AS (
  SELECT doc_id, substr(t, CAST(i AS INT), 3) AS tg
  FROM d, UNNEST(range(1, CAST(length(t) AS BIGINT) - 1)) AS u(i)
),
model AS (SELECT tg, count(*) AS c FROM tri GROUP BY tg),
tot AS (SELECT CAST(sum(c) AS DOUBLE) AS total FROM model),
doc_tg AS (SELECT doc_id, tg, count(*) AS k FROM tri GROUP BY doc_id, tg),
s AS (
  SELECT doc_tg.doc_id,
         CAST(sum(k) AS BIGINT) AS n_trigrams,
         CAST(sum(
           k * CAST(round(ln(CAST(model.c AS DOUBLE)) * 1e9) AS BIGINT)
         ) AS BIGINT) AS sc9
  FROM doc_tg JOIN model USING (tg)
  GROUP BY doc_tg.doc_id
),
f AS (
  SELECT doc_id, n_trigrams,
         n_trigrams * CAST(round(ln(tot.total) * 1e9) AS BIGINT) - sc9 AS m9
  FROM s CROSS JOIN tot
)
SELECT doc_id, n_trigrams,
       -(CAST((2 * m9 + n_trigrams * 10000) // (2 * n_trigrams * 10000)
              AS DOUBLE) / 100000) AS avg_logp
FROM f
"""


@register("trigram_lm_quality", TRIGRAM_LM_SQL, tags=("llm", "text", "quality", "lm"))
def q_trigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style model-based quality scoring without an external LM:
    train a char-trigram unigram model on the corpus itself, score
    each document by mean log-probability (low = gibberish/boiler).
    The model is a bounded vocabulary (<= alphabet^3 rows regardless
    of corpus size), so it broadcast-joins back onto per-doc trigram
    counts: corpus-sized data crosses the network once (the doc_id
    shuffle), model-sized data twice. Per-term log-probs integerize
    to nano-units (the token_entropy rounding idiom, as BIGINT) and
    the final 5-dp average is computed with integer division — the
    per-term grid makes exact .5 rounding ties REACHABLE, and
    double rounding of a tie diverges between engines, so the tie
    break must happen in integer space."""
    docs = fan_out(table(spark, sf_dir, "documents"))
    # Guard: Spark's sequence(1, n) DESCENDS when n < 1 (it never
    # yields an empty array), so sub-trigram docs must be filtered,
    # not left to produce an empty explode.
    d = docs.filter(F.length("text") >= 3).select(
        "doc_id", F.lower("text").alias("t")
    )
    # Positions explode first; each trigram is a codegen'd substring —
    # exploding a transform-lambda array instead runs interpreted
    # (same lesson as functions/text.exploded_word_grams).
    tri = d.select(
        "doc_id", F.expr("explode(sequence(1, length(t) - 2))").alias("i"), "t"
    ).select("doc_id", F.expr("substring(t, i, 3)").alias("tg"))
    # doc_tg feeds BOTH the model aggregate and the scoring join; the
    # checkpoint makes the gram explode + first aggregate run ONCE
    # instead of twice (Catalyst does not reuse the shared subtree).
    # Measured r8: sf10 51.8 -> 25.5 s, sf1 7.3 -> 4.1 s, sf0.1
    # 1.93 -> 1.76 s — the explode over 225M grams is the dominant
    # stage (SCALE.md decomposition), and materializing 64M narrow
    # (doc, tg, k) rows costs less than recomputing it.
    doc_tg = (
        tri.groupBy("doc_id", "tg")
        .agg(F.count(F.lit(1)).alias("k"))
        .localCheckpoint(eager=False)
    )
    model = doc_tg.groupBy("tg").agg(F.sum("k").alias("c"))
    total = model.agg(F.sum("c").cast("double").alias("total"))
    # ln p = ln c - ln total, integerized per side: the per-term join
    # only needs ln(c), so the scalar `total` enters once per DOC
    # (tiny cross join after the doc_id agg), not once per term — and
    # the exact integer identity m9 = n*lnc9(total) - sum(k*lnc9(c))
    # keeps both engines bit-identical.
    lnc9 = F.round(F.log(F.col("c").cast("double")) * F.lit(1e9)).cast("long")
    s = (
        doc_tg.join(F.broadcast(model), "tg")
        .groupBy("doc_id")
        .agg(
            F.sum("k").cast("long").alias("n_trigrams"),
            F.sum(F.col("k") * lnc9).cast("long").alias("sc9"),
        )
    )
    f = s.join(F.broadcast(total)).select(
        "doc_id",
        "n_trigrams",
        (
            F.col("n_trigrams")
            * F.round(F.log(F.col("total")) * F.lit(1e9)).cast("long")
            - F.col("sc9")
        ).alias("m9"),
    )
    # round-half-away of -m9 / (n*1e4) via integer floor division
    # (m9 is positive: ln p < 0 for every trigram).
    a = F.expr("(2 * m9 + n_trigrams * 10000) div (2 * n_trigrams * 10000)")
    return f.select(
        "doc_id",
        "n_trigrams",
        (-(a.cast("double") / F.lit(100000.0))).alias("avg_logp"),
    )


# --------------------------------------------------------------------
# Ordered conversion funnel (signup -> view -> purchase)
# --------------------------------------------------------------------

FUNNEL_SQL = """
WITH s1 AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'signup' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'view' AND e.ts > s1.t1
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
  GROUP BY e.user_id
)
SELECT (SELECT count(*) FROM s1) AS n_signup,
       (SELECT count(*) FROM s2) AS n_view_after_signup,
       (SELECT count(*) FROM s3) AS n_purchase_after_view
"""


@register("ordered_funnel", FUNNEL_SQL, tags=("window", "funnel", "behavioral"))
def q_ordered_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-order conversion funnel: users whose first signup
    precedes a view precedes a purchase. Min-timestamp chaining —
    each stage is a groupBy(user) min over a filtered scan joined to
    the previous stage's frontier. All three joins and aggs key on
    user_id, so at scale the shuffle partitioning is computed once
    and reused; stage frontiers only shrink."""
    events = table(spark, sf_dir, "events")

    def stage(et: str, prev: DataFrame | None, tcol: str) -> DataFrame:
        df = events.filter(F.col("event_type") == et)
        if prev is not None:
            prev_t = prev.columns[1]
            df = df.join(prev, "user_id").filter(F.col("ts") > F.col(prev_t))
        return df.groupBy("user_id").agg(F.min("ts").alias(tcol))

    s1 = stage("signup", None, "t1")
    s2 = stage("view", s1, "t2")
    s3 = stage("purchase", s2, "t3")
    return (
        s1.agg(F.count(F.lit(1)).alias("n_signup"))
        .crossJoin(s2.agg(F.count(F.lit(1)).alias("n_view_after_signup")))
        .crossJoin(s3.agg(F.count(F.lit(1)).alias("n_purchase_after_view")))
    )


# --------------------------------------------------------------------
# EWMA (exponential smoothing as a closed-form window sum)
# --------------------------------------------------------------------

EWMA_SQL = """
WITH o AS (
  SELECT user_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM events WHERE event_type = 'click'
)
SELECT user_id,
       CAST(max(n) AS BIGINT) AS n_clicks,
       CAST(round(sum(
         CAST(round(value * power(CAST(0.5 AS DOUBLE), n - rn), 9) AS DECIMAL(28,9))
       ) * CAST(0.5 AS DOUBLE), 5) AS DOUBLE) AS ewma_value
FROM o GROUP BY user_id
"""


@register("ewma_user_values", EWMA_SQL, tags=("window", "timeseries", "stats"))
def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially weighted average of click values,
    newest-heavy (alpha = 1/2). The recurrence unrolls to a closed
    form — one window pass for (rn, n), one grouped sum — instead of
    a sequential scan, so it parallelizes like any agg. Decay 0.5 is
    CHOSEN because 0.5**k is exact in binary: value * 0.5**k is a
    single correctly-rounded multiply in both engines, and the
    many-term sum goes through the round-9dp + DECIMAL idiom."""
    events = table(spark, sf_dir, "events").filter(F.col("event_type") == "click")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = events.select(
        "user_id",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("user_id")).alias("n"),
    )
    contrib = F.round(
        F.col("value") * F.pow(F.lit(0.5), F.col("n") - F.col("rn")), 9
    ).cast("decimal(28,9)")
    return o.groupBy("user_id").agg(
        F.max("n").cast("long").alias("n_clicks"),
        F.round(F.sum(contrib) * F.lit(0.5), 5).cast("double").alias("ewma_value"),
    )


# --------------------------------------------------------------------
# Gaps-and-islands: consecutive-day activity streaks
# --------------------------------------------------------------------

STREAK_SQL = """
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
),
grp AS (
  SELECT user_id, d,
         d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d) AS INT) AS g
  FROM days
),
streaks AS (
  SELECT user_id, count(*) AS len FROM grp GROUP BY user_id, g
)
SELECT len AS streak_days, count(*) AS n_streaks
FROM streaks GROUP BY len
"""


@register("activity_streaks", STREAK_SQL, tags=("window", "gaps-islands"))
def q_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: distribution of consecutive-day activity
    streak lengths. The island key is the classic date-minus-
    row_number trick; all three shuffles key on user_id (dedup,
    window, island agg), so the exchange is planned once."""
    events = table(spark, sf_dir, "events")
    from pyspark.sql import Window

    days = events.select("user_id", F.to_date("ts").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    grp = days.select(
        "user_id",
        "d",
        F.date_sub("d", F.row_number().over(w)).alias("g"),
    )
    streaks = grp.groupBy("user_id", "g").agg(F.count(F.lit(1)).alias("len"))
    return streaks.groupBy(F.col("len").alias("streak_days")).agg(
        F.count(F.lit(1)).alias("n_streaks")
    )


# --------------------------------------------------------------------
# Conversion latency distribution (funnel completion times)
# --------------------------------------------------------------------

CONV_LATENCY_SQL = """
WITH s1 AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'signup' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'view' AND e.ts > s1.t1
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
  GROUP BY e.user_id
),
lat AS (
  SELECT s3.user_id,
         CAST(epoch_us(s3.t3) - epoch_us(s1.t1) AS BIGINT) // 1000000 AS sec
  FROM s3 JOIN s1 ON s3.user_id = s1.user_id
)
SELECT count(*) AS n_converters,
       CAST(round(median(sec) / 60, 4) AS DOUBLE) AS median_minutes,
       CAST(round(quantile_cont(sec, 0.9) / 60, 4) AS DOUBLE) AS p90_minutes,
       CAST(min(sec) AS BIGINT) AS min_seconds,
       CAST(max(sec) AS BIGINT) AS max_seconds
FROM lat
"""


@register("conversion_latency", CONV_LATENCY_SQL, tags=("window", "funnel", "percentile"))
def q_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution for the strict-order funnel
    (first signup -> eventual ordered purchase): median/p90/min/max
    latency. Latencies become exact integer seconds BEFORE the
    interpolated percentiles, so both engines interpolate over
    identical integers (the percentiles_by_status contract). Same
    user_id-keyed join chain as `ordered_funnel` — one reusable
    shuffle partitioning."""
    events = table(spark, sf_dir, "events")

    def stage(et: str, prev: DataFrame | None, tcol: str) -> DataFrame:
        df = events.filter(F.col("event_type") == et)
        if prev is not None:
            prev_t = prev.columns[1]
            df = df.join(prev, "user_id").filter(F.col("ts") > F.col(prev_t))
        return df.groupBy("user_id").agg(F.min("ts").alias(tcol))

    s1 = stage("signup", None, "t1")
    s2 = stage("view", s1, "t2")
    s3 = stage("purchase", s2, "t3")
    sec = F.expr("(unix_micros(t3) - unix_micros(t1)) div 1000000")
    lat = s3.join(s1, "user_id").select(sec.alias("sec"))
    return lat.agg(
        F.count(F.lit(1)).alias("n_converters"),
        F.round(F.percentile("sec", 0.5) / 60, 4).cast("double").alias("median_minutes"),
        F.round(F.percentile("sec", 0.9) / 60, 4).cast("double").alias("p90_minutes"),
        F.min("sec").cast("long").alias("min_seconds"),
        F.max("sec").cast("long").alias("max_seconds"),
    )


# --------------------------------------------------------------------
# Rate-spike detection (rolling baseline over hourly counts)
# --------------------------------------------------------------------

SPIKE_SQL = """
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS h, count(*) AS n
  FROM events WHERE event_type = 'error' GROUP BY 1
),
w AS (
  SELECT h, n,
         CAST(SUM(n) OVER win AS BIGINT) AS s,
         CAST(SUM(n * n) OVER win AS BIGINT) AS ss,
         CAST(COUNT(*) OVER win AS BIGINT) AS k
  FROM hourly
  WINDOW win AS (ORDER BY h ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
)
SELECT h, n, k AS baseline_hours,
       CAST(round(CAST(s AS DOUBLE) / k, 4) AS DOUBLE) AS baseline_mean,
       CASE WHEN k >= 12
             AND CAST(n AS DOUBLE) * k > 2 * s
             AND (CAST(n AS DOUBLE) - CAST(s AS DOUBLE) / k)
                 > 3 * sqrt((ss - CAST(s AS DOUBLE) * s / k) / (k - 1))
            THEN 1 ELSE 0 END AS is_spike
FROM w
"""


@register("error_rate_spikes", SPIKE_SQL, tags=("window", "timeseries", "anomaly"))
def q_error_spikes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operational anomaly detection: each hour's error count against
    the trailing-24h baseline (mean + 3 sigma AND 2x mean, needing
    >= 12 baseline hours). The rolling moments come from integer SUM
    and SUM-of-squares window frames — counts are ints, so the frame
    sums are exact in both engines and only the final scalar math is
    float. The window input is hours, i.e. pre-aggregated: the frame
    never touches raw events."""
    from pyspark.sql import Window

    events = table(spark, sf_dir, "events")
    hourly = (
        events.filter(F.col("event_type") == "error")
        .groupBy(F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    win = Window.orderBy("h").rowsBetween(-24, -1)
    w = hourly.select(
        "h",
        "n",
        F.sum("n").over(win).cast("long").alias("s"),
        F.sum(F.col("n") * F.col("n")).over(win).cast("long").alias("ss"),
        F.count(F.lit(1)).over(win).cast("long").alias("k"),
    )
    nd = F.col("n").cast("double")
    sd = F.col("s").cast("double")
    sigma = F.sqrt((F.col("ss") - sd * F.col("s") / F.col("k")) / (F.col("k") - 1))
    spike = (
        (F.col("k") >= 12)
        & (nd * F.col("k") > 2 * F.col("s"))
        & ((nd - sd / F.col("k")) > 3 * sigma)
    )
    return w.select(
        "h",
        "n",
        F.col("k").alias("baseline_hours"),
        F.round(sd / F.col("k"), 4).cast("double").alias("baseline_mean"),
        F.when(spike, 1).otherwise(0).alias("is_spike"),
    )


# --------------------------------------------------------------------
# Winsorized mean (rank-based robust aggregation)
# --------------------------------------------------------------------

WINSOR_SQL = """
WITH r AS (
  SELECT event_type, event_id, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events
),
b AS (
  SELECT event_type,
         max(CASE WHEN rn = (n // 100) + 1 THEN value END) AS lo,
         max(CASE WHEN rn = n - (n // 100) THEN value END) AS hi
  FROM r GROUP BY event_type
)
SELECT r.event_type,
       CAST(max(r.n) AS BIGINT) AS n,
       CAST(round(CAST(SUM(CAST(round(
         CASE WHEN r.value < b.lo THEN b.lo
              WHEN r.value > b.hi THEN b.hi
              ELSE r.value END, 6) AS DECIMAL(28,6))) AS DOUBLE) / max(r.n), 5)
         AS DOUBLE) AS winsorized_mean
FROM r JOIN b ON r.event_type = b.event_type
GROUP BY r.event_type
"""


@register("winsorized_mean", WINSOR_SQL, tags=("agg", "stats", "robust", "window"))
def q_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust aggregation: per-type mean after clamping the bottom and
    top 1% of values to the boundary DATA values. The boundaries come
    from integer rank positions (row_number with an event_id
    tiebreak), never from interpolated quantiles — comparing data to
    an interpolated cut is the cross-engine trap the verify notes
    document. Clamped values then sum through the decimal idiom."""
    from pyspark.sql import Window

    events = table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    wc = Window.partitionBy("event_type")
    r = events.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )
    k = F.expr("n div 100")
    b = r.groupBy("event_type").agg(
        F.max(F.when(F.col("rn") == k + 1, F.col("value"))).alias("lo"),
        F.max(F.when(F.col("rn") == F.col("n") - k, F.col("value"))).alias("hi"),
    )
    clamped = F.round(
        F.when(F.col("value") < F.col("lo"), F.col("lo"))
        .when(F.col("value") > F.col("hi"), F.col("hi"))
        .otherwise(F.col("value")),
        6,
    ).cast("decimal(28,6)")
    return (
        r.join(F.broadcast(b), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("n").cast("long").alias("n"),
            F.round(F.sum(clamped).cast("double") / F.max("n"), 5)
            .cast("double")
            .alias("winsorized_mean"),
        )
    )


# --------------------------------------------------------------------
# Per-source exact-duplicate rate (corpus health reporting)
# --------------------------------------------------------------------

DEDUP_RATE_SQL = """
SELECT source,
       count(*) AS n_docs,
       count(DISTINCT md5(text)) AS n_unique,
       CAST(round(CAST(count(*) - count(DISTINCT md5(text)) AS DOUBLE)
                  / count(*), 4) AS DOUBLE) AS dup_rate
FROM documents GROUP BY source
"""


@register("dedup_rate_by_source", DEDUP_RATE_SQL, tags=("llm", "dedup", "profile"))
def q_dedup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-health report: exact-duplicate rate per source (the
    number every ingest dashboard tracks per feed). Distinct counting
    runs on the md5, not the text — the shuffle carries 16-byte
    hashes, not documents."""
    docs = table(spark, sf_dir, "documents")
    n = F.count(F.lit(1))
    u = F.count_distinct(F.md5("text"))
    return docs.groupBy("source").agg(
        n.alias("n_docs"),
        u.alias("n_unique"),
        F.round((n - u).cast("double") / n, 4).cast("double").alias("dup_rate"),
    )


# --------------------------------------------------------------------
# Month-over-month growth (lag-based KPI)
# --------------------------------------------------------------------

MOM_SQL = """
WITH m AS (
  SELECT date_trunc('month', o_orderdate) AS month,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS revenue
  FROM orders GROUP BY 1
)
SELECT month, revenue,
       CAST(round((revenue - lag(revenue) OVER (ORDER BY month))
                  / lag(revenue) OVER (ORDER BY month) * 100, 4) AS DOUBLE)
         AS mom_growth_pct
FROM m
"""


@register("orders_mom_growth", MOM_SQL, tags=("window", "timeseries", "kpi"))
def q_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth: decimal-exact monthly sums,
    then a lag window over the MONTH series (window input is months —
    the global order never touches order rows). First month's growth
    is NULL in both engines."""
    from pyspark.sql import Window

    orders = table(spark, sf_dir, "orders")
    m = orders.groupBy(F.date_trunc("month", "o_orderdate").alias("month")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(28,2)")).cast("double").alias("revenue")
    )
    prev = F.lag("revenue").over(Window.orderBy("month"))
    return m.select(
        "month",
        "revenue",
        F.round((F.col("revenue") - prev) / prev * 100, 4)
        .cast("double")
        .alias("mom_growth_pct"),
    )


# --------------------------------------------------------------------
# MAD robust outliers (rank-arithmetic medians, no interpolated cuts)
# --------------------------------------------------------------------

MAD_OUTLIERS_SQL = """
WITH r AS (
  SELECT event_type, event_id, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events WHERE value IS NOT NULL
),
med AS (
  SELECT event_type,
         avg(CASE WHEN rn IN ((n + 1) // 2, (n + 2) // 2) THEN value END) AS med
  FROM r GROUP BY event_type
),
d AS (
  SELECT r.event_type, r.event_id, r.value, med.med,
         abs(r.value - med.med) AS dev
  FROM r JOIN med ON r.event_type = med.event_type
),
dr AS (
  SELECT event_type, event_id, value, med, dev,
         row_number() OVER (PARTITION BY event_type ORDER BY dev, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM d
),
mad AS (
  SELECT event_type,
         avg(CASE WHEN rn IN ((n + 1) // 2, (n + 2) // 2) THEN dev END) AS mad
  FROM dr GROUP BY event_type
)
SELECT d.event_type, d.event_id, d.value,
       CAST(round(d.med, 6) AS DOUBLE) AS med,
       CAST(round(mad.mad, 6) AS DOUBLE) AS mad
FROM d JOIN mad ON d.event_type = mad.event_type
WHERE d.dev > 5 * mad.mad
"""


@register("mad_outliers", MAD_OUTLIERS_SQL, tags=("agg", "stats", "robust", "window"))
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection by median absolute deviation: rows
    whose |value - median| exceeds 5x the per-type MAD. Unlike the
    z-score query, one wild value cannot drag the threshold (median
    and MAD have a 50% breakdown point). Both medians come from
    integer rank positions (avg of the middle one or two DATA values),
    never interpolated quantiles, so the > comparison is on doubles
    both engines derive by identical arithmetic — the cross-engine
    rule the verify notes document. Two windowed ranking passes over
    the same event_type partitioning (one shuffle reused), medians
    broadcast back."""
    from pyspark.sql import Window

    events = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())

    def rank_median(df, val_col, out_name):
        w = Window.partitionBy("event_type").orderBy(val_col, "event_id")
        wc = Window.partitionBy("event_type")
        ranked = df.withColumn("rn", F.row_number().over(w)).withColumn(
            "n", F.count(F.lit(1)).over(wc)
        )
        mid = F.when(
            F.col("rn").isin(
                F.expr("(n + 1) div 2").cast("int"), F.expr("(n + 2) div 2").cast("int")
            ),
            F.col(val_col),
        )
        return ranked.groupBy("event_type").agg(F.avg(mid).alias(out_name))

    base = events.select("event_type", "event_id", "value")
    med = rank_median(base, "value", "med")
    d = base.join(F.broadcast(med), "event_type").withColumn(
        "dev", F.abs(F.col("value") - F.col("med"))
    )
    mad = rank_median(d, "dev", "mad")
    return (
        d.join(F.broadcast(mad), "event_type")
        .filter(F.col("dev") > 5 * F.col("mad"))
        .select(
            "event_type",
            "event_id",
            "value",
            F.round("med", 6).cast("double").alias("med"),
            F.round("mad", 6).cast("double").alias("mad"),
        )
    )


# --------------------------------------------------------------------
# Per-class exact-k deterministic sample
# --------------------------------------------------------------------

PER_CLASS_K_SQL = """
WITH r AS (
  SELECT source, doc_id,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR) || ':perclass'), doc_id) AS rn
  FROM documents
)
SELECT source, doc_id, CAST(rn AS BIGINT) AS rn FROM r WHERE rn <= 5
"""


@register("per_class_sample_k", PER_CLASS_K_SQL, tags=("llm", "sampling", "window"))
def q_per_class_sample_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly k=5 documents per source, chosen by content-addressed
    hash order — the 'k examples per class' primitive (few-shot
    prompts, eval panels, balanced debugging samples). Deterministic
    across engines, layouts, and partition counts because the order
    key is a hash of the id, not physical position; per-class rank is
    one window over the class partitioning, and every class yields
    exactly min(k, n) rows — rate-based sampling can't promise that."""
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":perclass"))), "doc_id"
    )
    return (
        docs.select("source", "doc_id")
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 5)
    )


# --------------------------------------------------------------------
# Time-series similarity search (correlated users, exact Pearson)
# --------------------------------------------------------------------

USER_CORR_SQL = """
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         SUM(CAST(round(value * 100) AS BIGINT)) AS v
  FROM events WHERE event_type = 'purchase'
  GROUP BY user_id, day
),
top_users AS (
  SELECT user_id FROM (
    SELECT user_id, row_number() OVER (ORDER BY SUM(v) DESC, user_id) AS rn
    FROM daily GROUP BY user_id
  ) WHERE rn <= 30
),
d AS (SELECT daily.* FROM daily JOIN top_users USING (user_id)),
ndays AS (SELECT count(DISTINCT day) AS n FROM daily),
stats AS (
  SELECT user_id, SUM(v) AS sx, SUM(v * v) AS sxx FROM d GROUP BY user_id
),
cross_sums AS (
  SELECT a.user_id AS user_a, b.user_id AS user_b, SUM(a.v * b.v) AS sxy
  FROM d a JOIN d b ON a.day = b.day AND a.user_id < b.user_id
  GROUP BY user_a, user_b
),
corr AS (
  SELECT c.user_a, c.user_b,
         round((CAST(n AS DOUBLE) * sxy - CAST(sa.sx AS DOUBLE) * sb.sx)
               / sqrt((CAST(n AS DOUBLE) * sa.sxx - CAST(sa.sx AS DOUBLE) * sa.sx)
                      * (CAST(n AS DOUBLE) * sb.sxx - CAST(sb.sx AS DOUBLE) * sb.sx)), 6)
           AS r
  FROM cross_sums c
  JOIN stats sa ON c.user_a = sa.user_id
  JOIN stats sb ON c.user_b = sb.user_id
  CROSS JOIN ndays
)
SELECT user_a, user_b, CAST(r AS DOUBLE) AS pearson_r, CAST(rn AS BIGINT) AS rn
FROM (SELECT user_a, user_b, r,
             row_number() OVER (ORDER BY r DESC, user_a, user_b) AS rn
      FROM corr)
WHERE rn <= 10
"""


@register("similar_activity_users", USER_CORR_SQL, tags=("timeseries", "similarity", "join"))
def q_similar_activity_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series similarity search over behavior: the 10 most
    Pearson-correlated pairs of zero-filled daily purchase series
    among the top-30 spenders (the distributed time-series-similarity
    workload of the retrieved EDBT/ICDE papers, relationally). The
    zero-fill never materializes: per-user moments come from the
    user's own days, cross-products only from SHARED days (zeros
    contribute nothing to either), and n is the global day count —
    so the day-aligned equi-join touches only nonzero observations.
    Daily totals integerize to cents, every sum is an exact BIGINT,
    and the correlation is derived from those integers identically in
    both engines. Candidate selection (top-30) bounds the pair space;
    at corpus scale the same shape runs per cohort/bucket."""
    ev = table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    daily = (
        ev.groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("v"))
    )
    from pyspark.sql import Window

    # TakeOrdered top-30, never a user-space-wide single-partition
    # window (user count grows with the data).
    top = (
        daily.groupBy("user_id")
        .agg(F.sum("v").alias("tot"))
        .orderBy(F.desc("tot"), "user_id")
        .limit(30)
        .select("user_id")
    )
    d = daily.join(F.broadcast(top), "user_id").localCheckpoint(eager=False)
    ndays = daily.agg(F.count_distinct("day").alias("n"))
    stats = d.groupBy("user_id").agg(
        F.sum("v").alias("sx"), F.sum(F.col("v") * F.col("v")).alias("sxx")
    )
    a, b = d.alias("a"), d.alias("b")
    cross_sums = (
        a.join(
            b,
            (F.col("a.day") == F.col("b.day"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .groupBy(
            F.col("a.user_id").alias("user_a"), F.col("b.user_id").alias("user_b")
        )
        .agg(F.sum(F.col("a.v") * F.col("b.v")).alias("sxy"))
    )
    sa = stats.select(
        F.col("user_id").alias("user_a"), F.col("sx").alias("sxa"), F.col("sxx").alias("sxxa")
    )
    sb = stats.select(
        F.col("user_id").alias("user_b"), F.col("sx").alias("sxb"), F.col("sxx").alias("sxxb")
    )
    nd = F.col("n").cast("double")
    r = F.round(
        (nd * F.col("sxy") - F.col("sxa").cast("double") * F.col("sxb"))
        / F.sqrt(
            (nd * F.col("sxxa") - F.col("sxa").cast("double") * F.col("sxa"))
            * (nd * F.col("sxxb") - F.col("sxb").cast("double") * F.col("sxb"))
        ),
        6,
    )
    corr = (
        cross_sums.join(F.broadcast(sa), "user_a")
        .join(F.broadcast(sb), "user_b")
        .crossJoin(F.broadcast(ndays))
        .select("user_a", "user_b", r.alias("r"))
    )
    w = Window.orderBy(F.desc("r"), "user_a", "user_b")
    return (
        corr.orderBy(F.desc("r"), "user_a", "user_b")
        .limit(10)
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .select("user_a", "user_b", F.col("r").alias("pearson_r"), "rn")
    )


# --------------------------------------------------------------------
# Join-key skew report (the pre-flight check before a big shuffle)
# --------------------------------------------------------------------

KEY_SKEW_SQL = """
WITH c AS (
  SELECT l_suppkey AS key, count(*) AS cnt FROM lineitem GROUP BY l_suppkey
),
g AS (
  SELECT count(*) AS n_keys, SUM(cnt) AS n_rows, SUM(cnt * cnt) AS sum_sq,
         MAX(cnt) AS max_cnt
  FROM c
)
SELECT key, CAST(cnt AS BIGINT) AS cnt,
       CAST(round(CAST(cnt AS DOUBLE) / n_rows, 6) AS DOUBLE) AS share,
       CAST(round(CAST(cnt AS DOUBLE) * n_keys / n_rows, 4) AS DOUBLE) AS skew_factor,
       CAST(n_keys AS BIGINT) AS n_keys,
       CAST(round(CAST(sum_sq AS DOUBLE) / (CAST(n_rows AS DOUBLE) * n_rows), 9) AS DOUBLE) AS hhi,
       CAST(rn AS BIGINT) AS rn
FROM (
  SELECT key, cnt, row_number() OVER (ORDER BY cnt DESC, key) AS rn FROM c
) CROSS JOIN g
WHERE rn <= 10
"""


@register("key_skew_report", KEY_SKEW_SQL, tags=("agg", "skew", "profile", "ops"))
def q_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-flight shuffle diagnostics for a join/agg key: the 10
    heaviest keys with their share and skew factor (share x n_keys —
    how many times an even partition this key alone would fill), plus
    the global key count and the Herfindahl concentration index
    (sum of squared shares; 1/n_keys when uniform, ->1 when one key
    dominates). This is the report that decides between plain
    hash-partitioning, key salting, and AQE skew-join
    before a 100 TB shuffle — computed from one key-sized aggregate
    (map-side combined) with every statistic derived from exact
    integer counts."""
    from pyspark.sql import Window

    li = table(spark, sf_dir, "lineitem")
    c = li.groupBy(F.col("l_suppkey").alias("key")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    g = c.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("cnt").alias("n_rows"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("sum_sq"),
    )
    # TakeOrdered top-10 + 10-row rank window: the per-key count table
    # is key-space-sized and must not cross a single-partition sort.
    w = Window.orderBy(F.desc("cnt"), "key")
    top = (
        c.orderBy(F.desc("cnt"), "key")
        .limit(10)
        .withColumn("rn", F.row_number().over(w))
    )
    nrows = F.col("n_rows").cast("double")
    return top.crossJoin(F.broadcast(g)).select(
        "key",
        F.col("cnt").cast("long").alias("cnt"),
        F.round(F.col("cnt") / nrows, 6).cast("double").alias("share"),
        F.round(F.col("cnt") * F.col("n_keys") / nrows, 4)
        .cast("double")
        .alias("skew_factor"),
        F.col("n_keys").cast("long").alias("n_keys"),
        F.round(F.col("sum_sq") / (nrows * nrows), 9).cast("double").alias("hhi"),
        F.col("rn").cast("long").alias("rn"),
    )


# --------------------------------------------------------------------
# Two-sample KS drift (distribution comparison between sources)
# --------------------------------------------------------------------

KS_DRIFT_SQL = """
WITH s AS (
  SELECT n_chars AS v,
         CASE WHEN source = 'web' THEN 1 ELSE 0 END AS a,
         CASE WHEN source = 'web' THEN 0 ELSE 1 END AS b
  FROM documents WHERE source IN ('web', 'wiki')
),
vals AS (SELECT v, SUM(a) AS ca, SUM(b) AS cb FROM s GROUP BY v),
tot AS (SELECT SUM(ca) AS na, SUM(cb) AS nb FROM vals),
cum AS (
  SELECT v,
         SUM(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_a,
         SUM(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_b
  FROM vals
)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       CAST(MAX(abs(cum_a * nb - cum_b * na)) AS BIGINT) AS ks_num,
       CAST(round(CAST(MAX(abs(cum_a * nb - cum_b * na)) AS DOUBLE)
                  / (CAST(na AS DOUBLE) * nb), 6) AS DOUBLE) AS ks_stat
FROM cum CROSS JOIN tot
GROUP BY na, nb
"""


@register("ks_drift_sources", KS_DRIFT_SQL, tags=("stats", "drift", "window"))
def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between the length
    distributions of two sources — the distribution-drift gate a
    corpus pipeline runs before accepting a new crawl. Exact by
    construction: the ECDF difference maximizes the INTEGER
    |cum_a*n_b - cum_b*n_a| (one division at the very end), so no
    float comparison ever picks the max. The window runs over
    DISTINCT values (pre-aggregated per value), so its input is
    value-cardinality-sized, not corpus-sized."""
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents").filter(
        F.col("source").isin("web", "wiki")
    )
    s = docs.select(
        F.col("n_chars").alias("v"),
        (F.col("source") == "web").cast("long").alias("a"),
        (F.col("source") != "web").cast("long").alias("b"),
    )
    vals = s.groupBy("v").agg(F.sum("a").alias("ca"), F.sum("b").alias("cb"))
    tot = vals.agg(F.sum("ca").alias("na"), F.sum("cb").alias("nb"))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = vals.select(
        "v",
        F.sum("ca").over(w).alias("cum_a"),
        F.sum("cb").over(w).alias("cum_b"),
    )
    diff = F.abs(
        F.col("cum_a") * F.col("nb") - F.col("cum_b") * F.col("na")
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("na", "nb")
        .agg(F.max(diff).alias("ks_num"))
        .select(
            F.col("na").cast("long").alias("n_a"),
            F.col("nb").cast("long").alias("n_b"),
            F.col("ks_num").cast("long").alias("ks_num"),
            F.round(
                F.col("ks_num") / (F.col("na").cast("double") * F.col("nb")), 6
            )
            .cast("double")
            .alias("ks_stat"),
        )
    )


PSI_DRIFT_SQL = """
WITH c AS (
  SELECT lang,
         SUM(CASE WHEN source = 'web' THEN 1 ELSE 0 END) AS ca,
         SUM(CASE WHEN source = 'wiki' THEN 1 ELSE 0 END) AS cb
  FROM documents WHERE source IN ('web', 'wiki')
  GROUP BY lang
),
tot AS (SELECT SUM(ca) AS na, SUM(cb) AS nb FROM c),
terms AS (
  SELECT lang, ca, cb, na, nb,
         (CAST(ca AS DOUBLE) / na - CAST(cb AS DOUBLE) / nb)
           * CAST(round(ln((CAST(ca AS DOUBLE) / na) / (CAST(cb AS DOUBLE) / nb)) * 1e9)
                  AS BIGINT) / 1e9 AS term
  FROM c CROSS JOIN tot
  WHERE ca > 0 AND cb > 0
)
SELECT CAST(count(*) AS BIGINT) AS n_categories,
       CAST(round(SUM(CAST(round(term * 1e9) AS BIGINT)) / 1e9, 6) AS DOUBLE) AS psi
FROM terms
"""


@register("psi_drift_langs", PSI_DRIFT_SQL, tags=("stats", "drift", "agg"))
def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between two sources' language
    distributions — the categorical-drift monitor (PSI < 0.1 stable,
    > 0.25 action). Shares are ratios of exact integers, so both
    engines feed ln() the SAME double; each term integerizes to a 1e-9
    grid before the sum (the trigram-LM idiom), keeping the
    category-sized aggregate bit-identical."""
    docs = table(spark, sf_dir, "documents").filter(
        F.col("source").isin("web", "wiki")
    )
    c = docs.groupBy("lang").agg(
        F.sum((F.col("source") == "web").cast("long")).alias("ca"),
        F.sum((F.col("source") == "wiki").cast("long")).alias("cb"),
    )
    tot = c.agg(F.sum("ca").alias("na"), F.sum("cb").alias("nb"))
    pa = F.col("ca").cast("double") / F.col("na")
    pb = F.col("cb").cast("double") / F.col("nb")
    term = (pa - pb) * (
        F.round(F.log(pa / pb) * F.lit(1e9)).cast("long") / F.lit(1e9)
    )
    terms = (
        c.crossJoin(F.broadcast(tot))
        .filter((F.col("ca") > 0) & (F.col("cb") > 0))
        .select(F.round(term * F.lit(1e9)).cast("long").alias("t9"))
    )
    return terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_categories"),
        F.round(F.sum("t9") / F.lit(1e9), 6).cast("double").alias("psi"),
    )


SEASONAL_SQL = """
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS hour,
         CAST(dayofweek(ts) AS BIGINT) AS dow,
         CAST(hour(ts) AS BIGINT) AS hod,
         count(*) AS n
  FROM events GROUP BY 1, 2, 3
),
baseline AS (
  SELECT dow, hod, SUM(n) AS tot, count(*) AS n_slots
  FROM hourly GROUP BY dow, hod
)
SELECT h.hour, h.n,
       CAST(round(CAST(b.tot AS DOUBLE) / b.n_slots, 4) AS DOUBLE) AS expected,
       CAST(round(CAST(h.n * b.n_slots AS DOUBLE) / b.tot, 4) AS DOUBLE) AS load_ratio
FROM hourly h JOIN baseline b ON h.dow = b.dow AND h.hod = b.hod
WHERE 4 * h.n * b.n_slots > 5 * b.tot OR 4 * h.n * b.n_slots * 2 < b.tot * 2
"""


@register("seasonal_hourly_anomalies", SEASONAL_SQL, tags=("timeseries", "anomaly", "agg"))
def q_seasonal_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware load anomalies: each hour compared to the
    average for its (day-of-week, hour-of-day) slot — 9am Monday is
    judged against other 9am Mondays, not against 3am Sunday. Flagged
    hours exceed 1.25x or fall below 0.25x their slot baseline, with
    BOTH thresholds decided in integer cross-multiplication
    (4*n*slots vs 5*tot), so no engine ever compares to a derived
    float. Two hour-sized aggregates and a broadcast join; raw events
    shuffle once."""
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"),
        F.dayofweek("ts").cast("long").alias("dow"),
        F.hour("ts").cast("long").alias("hod"),
    ).agg(F.count(F.lit(1)).alias("n"))
    baseline = hourly.groupBy("dow", "hod").agg(
        F.sum("n").alias("tot"), F.count(F.lit(1)).alias("n_slots")
    )
    j = hourly.join(F.broadcast(baseline), ["dow", "hod"])
    high = 4 * F.col("n") * F.col("n_slots") > 5 * F.col("tot")
    low = 4 * F.col("n") * F.col("n_slots") * 2 < F.col("tot") * 2
    return j.filter(high | low).select(
        "hour",
        "n",
        F.round(F.col("tot").cast("double") / F.col("n_slots"), 4)
        .cast("double")
        .alias("expected"),
        F.round(
            (F.col("n") * F.col("n_slots")).cast("double") / F.col("tot"), 4
        )
        .cast("double")
        .alias("load_ratio"),
    )
