"""Dense order-preserving integer indexing WITHOUT single-partition
sorts — the DataFrame analogue of RDD ``zipWithIndex``.

The naive dense index, ``row_number().over(Window.orderBy(col))``,
plans as ``Exchange SinglePartition`` + one task sorting every row:
correct at fixture scale, a scale-killer on a 1000-executor cluster
(one straggler sorts the whole table while 999 executors idle). This
module replaces it with the classic two-level construction:

1. hash-bucket rows (``pmod(xxhash64(tiebreak), B)``) — a map-side
   projection, deterministic across runs;
2. rank within each bucket in parallel
   (``row_number over partitionBy(bucket)``) — B concurrent sorts of
   ~n/B rows each;
3. offset each bucket by the total count of the buckets before it.
   Bucket counts are an aggregate output (B rows, or #majors x B with
   a major column) — the prefix sums run over COUNTS, never data
   rows: bucket-level offsets are a bounded driver-side cumsum, and
   major-level offsets either collect (bounded, see below) or fall
   back to a window over the post-aggregate totals.

The resulting index is a deterministic bijection onto 0..n-1 (or
1..n), ordered by (major, bucket, tiebreak). Callers that need a
dense index for ANY total order (random-partner resolution, bitmap
bit positions) use it directly; callers that need a specific MAJOR
order (e.g. PPJoin's rarity ranks ordered by document frequency) pass
``major`` — the order within a major value is bucket-then-tiebreak
rather than plain tiebreak, which is equally deterministic and, for
rank schemes keyed on the major (rarity), semantically equivalent.

Bound on the major-totals collect: if the major column is a COUNT
(dfreq), D distinct values d1<...<dD each achieved by >=1 row imply
sum(counts) >= D(D+1)/2, so D <= sqrt(2 * total occurrences) — e.g.
<= ~4.5M distinct dfreqs at 10^13 corpus tokens, and in practice
(Zipfian counts) orders of magnitude fewer. Above ``major_cap`` the
code falls back to a window cumsum over the D aggregate rows — still
never a data-sized single-partition sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# dense_index SMALL-regime gate: a caller-counted input at or under
# this takes one bounded window sort (a ~256k-row single-task sort is
# tens of ms) instead of the 2-job / 4-5-exchange bucketed
# construction — r9 verdict #6, the lsh_eval fixed floor. Past it the
# parallel construction is mandatory: the whole point of dense_index
# is that a billion-token vocabulary never sorts in one task.
_SMALL_INDEX_MAX_ROWS = 262_144

# Range buckets of exact_rank / exact_prefix_sum / exact_ntile and the
# percentile_approx accuracy of their cut sketch: both move rows
# between parallel cells (load balance), never change a result.
_RANGE_BUCKETS = 64
_SKETCH_ACCURACY = 10_000
# dense_index hash buckets: parallel within-bucket sorts of ~n/256 rows.
_HASH_BUCKETS = 256


def _sketch_cuts(df: DataFrame, key: str) -> list:
    """``_RANGE_BUCKETS - 1`` approximate cut points of ``key``
    (deduplicated, ascending); cut placement only moves rows between
    parallel cells, never changes results."""
    fracs = [i / _RANGE_BUCKETS for i in range(1, _RANGE_BUCKETS)]
    # One parsed expression instead of F.percentile_approx(list):
    # the Column form issues several py4j round-trips PER FRACTION
    # literal (~280 gateway commands for 63 fracs, r10 guide §1.2)
    # before the sketch job even starts. i/_RANGE_BUCKETS are dyadic
    # rationals, so repr round-trips each to the identical IEEE
    # double; same function, same arguments, same cuts.
    k = "`" + key.replace("`", "``") + "`"
    arr = ", ".join(f"CAST('{f!r}' AS DOUBLE)" for f in fracs)
    sketch = f"percentile_approx({k}, array({arr}), {_SKETCH_ACCURACY})"
    cuts_row = df.select(F.expr(sketch).alias("c")).first()
    return sorted(
        {c for c in ((cuts_row["c"] if cuts_row else None) or []) if c is not None}
    )


def _sql_cut_literal(c):
    """Exact SQL literal for a sketch cut, or None when the type has
    no known exact text form (the caller then keeps the Column path).
    float goes through repr — the shortest round-trip string, parsed
    back to the same IEEE double; int/Decimal/date/timestamp literals
    are exact by definition."""
    import datetime
    import decimal

    if isinstance(c, bool):
        return None
    if isinstance(c, int):
        return f"{c}L"
    if isinstance(c, float):
        return f"CAST('{c!r}' AS DOUBLE)"
    if isinstance(c, decimal.Decimal):
        return f"{c}BD"
    if isinstance(c, datetime.datetime):
        return f"TIMESTAMP'{c.isoformat(sep=' ')}'"
    if isinstance(c, datetime.date):
        return f"DATE'{c.isoformat()}'"
    return None


def _range_bucket(key: str, cuts: list, descending: bool):
    """Codegen'd range-bucket id for ``key`` against literal ``cuts``
    (ascending-sorted, distinct, non-null). Strict comparisons keep
    key-ties in one bucket; bucket order matches the requested sort
    direction. NULL keys follow Spark's defaults: first for ASC
    (bucket 0 — NULL compares false against every cut, and within
    bucket 0 ``asc`` sorts nulls first), an own trailing bucket for
    DESC (``desc`` = nulls LAST, after every non-null bucket).

    Plain sum-of-whens, not an F.aggregate lambda: a HigherOrder
    lambda capturing ``key`` breaks when Catalyst's constraint
    inference copies the bucket definition across the broadcast join
    downstream (ATTRIBUTE_NOT_FOUND on the build side). This is a
    flat codegen'd expression with <= ``len(cuts)`` terms.

    r10 (guide §1.2 — construction cost): the expression is assembled
    as ONE server-side-parsed SQL string when every cut has an exact
    SQL literal form (numeric/date/timestamp — everything
    percentile_approx can return). Building the same sum-of-whens
    through the Column DSL issued ~6 py4j round-trips per cut (~0.4 s
    of the ~1 ms-RTT gateway per 64-bucket call, and exact_rank calls
    this once per cell pass) before any data moved. The parsed tree is
    the identical CASE-WHEN sum — same comparisons, same integer
    adds — so plans and results are unchanged; unknown cut types keep
    the Column path."""
    if not cuts:  # empty/constant/all-null key: one bucket
        return F.lit(0)
    lits = [_sql_cut_literal(c) for c in cuts]
    if all(lit is not None for lit in lits):
        k = "`" + key.replace("`", "``") + "`"
        op = "<" if descending else ">"
        body = " + ".join(
            f"(CASE WHEN {k} {op} {lit} THEN 1 ELSE 0 END)" for lit in lits
        )
        if descending:
            return F.expr(
                f"CASE WHEN {k} IS NULL THEN {len(cuts) + 1} ELSE {body} END"
            )
        return F.expr(body)
    if descending:
        nonnull = sum(
            (F.when(F.col(key) < F.lit(c), 1).otherwise(0) for c in cuts),
            start=F.lit(0),
        )
        return F.when(F.col(key).isNull(), F.lit(len(cuts) + 1)).otherwise(nonnull)
    return sum(
        (F.when(F.col(key) > F.lit(c), 1).otherwise(0) for c in cuts),
        start=F.lit(0),
    )


def _reserve(df: DataFrame, *names: str) -> None:
    """Fail LOUDLY when the input already carries one of this module's
    internal temp column names: withColumn would silently overwrite the
    user's column and the final drop() would delete it — a quiet data
    loss. Callers rename such columns before calling."""
    clash = [n for n in names if n in df.columns]
    if clash:
        raise ValueError(
            f"input already has column(s) {clash}, which this operator "
            "uses internally — rename them before calling"
        )


def exact_rank(
    df: DataFrame,
    key: str,
    tiebreaks: list[str],
    out: str = "_rank",
    major: str | None = None,
    descending: bool = False,
    checkpoint: bool = False,
    n_out: str | None = None,
) -> DataFrame:
    """``row_number() OVER ([PARTITION BY major] ORDER BY key
    [DESC], *tiebreaks)`` — bit-exact — WITHOUT a data-sized sort in
    any single task.

    The SQL window version plans one sort task per PARTITION BY value:
    fine when the partition key is high-cardinality, a scale-killer
    when it has a handful of values over a corpus-sized table (each
    task then sorts ~n/|majors| rows — ``PARTITION BY source`` over
    the documents table IS the corpus in one task). This construction
    range-buckets on approximate GLOBAL cut points of ``key``
    (``percentile_approx``; accuracy only affects load balance, never
    the result), ranks within each ``(major, bucket)`` cell in
    parallel, and adds per-cell offsets computed from CELL COUNTS —
    windows over aggregate rows (<= |majors| x _RANGE_BUCKETS), never
    data rows.

    ``n_out``, when given, adds the per-major row count as a column
    (callers derive ntile / percent_rank / cume_dist from rank + n).

    Degenerate distributions (one dominant ``key`` value, or a major
    concentrated inside one global cut interval) collapse cells and
    re-create the big per-task sort; that is inherent to exact rank
    semantics over ties, not this construction. NULL ``major`` rows
    are ranked in their own null group (null-safe cell join).

    Determinism requirement: the construction reads ``df`` in two
    Spark jobs (cut-point sketch; the ranked plan, whose cell-count
    aggregate and final join re-scan it). A source that returns
    different rows per scan yields undefined ranks — pass
    ``checkpoint=True`` to pin one materialization (the global-rank
    driver path additionally fails loudly on a count mismatch; see
    :func:`exact_ntile`).
    """
    _reserve(df, "_rb", "_off", "_mj", "_sb", "_sn", "_bn")
    spark = df.sparkSession
    if checkpoint:
        # lazy (r11): _sketch_cuts' quantile job is the first action
        # and materializes the pinned blocks; every later pass reads
        # the same stored blocks (the pin the flag promises).
        df = df.localCheckpoint(eager=False)
    cuts = _sketch_cuts(df, key)
    d = df.withColumn("_rb", _range_bucket(key, cuts, descending))
    order = [F.col(key).desc() if descending else F.col(key).asc()]
    order += [F.col(t).asc() for t in tiebreaks]

    if major is None:
        n, off_df = _global_bucket_offsets(spark, d)
        w = Window.partitionBy("_rb").orderBy(*order)
        guarded_off = F.when(
            F.col("_off").isNull(),
            F.raise_error(
                F.lit(
                    "exact_rank: a bucket appeared that the count pass did not "
                    "observe — the input is non-deterministic across scans; "
                    "pass checkpoint=True or materialize the input"
                )
            ).cast("long"),
        ).otherwise(F.col("_off"))
        res = d.join(F.broadcast(off_df), "_rb", "left").withColumn(
            out, guarded_off + F.row_number().over(w)
        )
        if n_out is not None:
            res = res.withColumn(n_out, F.lit(n).cast("long"))
        return res.drop("_rb", "_off")

    # Per-major path: offsets and totals are windows over the cell
    # COUNT aggregate (<= |majors| x buckets rows), then a null-safe
    # join back on (major, cell). Everything lives in ONE final job
    # and no driver collect — but the source is still scanned twice
    # (aggregate branch + data branch), so a non-deterministic input
    # can desynchronize them; the left join + raise_error guard below
    # fails loudly instead of silently dropping/mis-ranking rows.
    cnt = d.groupBy(major, "_rb").agg(F.count(F.lit(1)).alias("_bn"))
    w_off = (
        Window.partitionBy(major)
        .orderBy("_rb")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    stats = cnt.select(
        F.col(major).alias("_mj"),
        F.col("_rb").alias("_sb"),
        F.coalesce(F.sum("_bn").over(w_off), F.lit(0)).alias("_off"),
        F.sum("_bn").over(Window.partitionBy(major)).alias("_sn"),
    )
    w = Window.partitionBy(major, "_rb").orderBy(*order)
    guarded_off = F.when(
        F.col("_off").isNull(),
        F.raise_error(
            F.lit(
                "exact_rank: a (major, bucket) cell appeared that the "
                "aggregate branch did not observe — the input is "
                "non-deterministic across scans; pass checkpoint=True or "
                "materialize the input"
            )
        ).cast("long"),
    ).otherwise(F.col("_off"))
    res = (
        d.join(
            stats,
            F.col(major).eqNullSafe(F.col("_mj")) & (F.col("_rb") == F.col("_sb")),
            "left",
        )
        .withColumn(out, guarded_off + F.row_number().over(w))
    )
    if n_out is not None and n_out != "_sn":
        res = res.withColumn(n_out, F.col("_sn").cast("long"))
    return res.drop("_rb", "_sb", "_mj", "_off") if n_out == "_sn" else res.drop(
        "_rb", "_sb", "_mj", "_off", "_sn"
    )


def exact_prefix_sum(
    df: DataFrame,
    measure: str,
    key: str,
    tiebreaks: list[str],
    out: str = "_psum",
    major: str | None = None,
    checkpoint: bool = False,
    exclusive: bool = True,
) -> DataFrame:
    """``sum(measure) OVER ([PARTITION BY major] ORDER BY key,
    *tiebreaks ROWS UNBOUNDED PRECEDING [AND 1 PRECEDING])`` — the
    running-total twin of :func:`exact_rank`, without a data-sized
    sort in any task.

    Same construction: range-bucket on ``key``'s global percentile
    cuts, run the running sum WITHIN each ``(major, bucket)`` cell in
    parallel, and offset each cell by the sum of the cells before it —
    computed from per-cell TOTALS (aggregate rows), never data rows.
    Strict-comparison bucketing keeps key-ties unsplit, so within-cell
    window order composes exactly with cell order. NULL measures are
    skipped (SQL sum semantics); an all-null prefix yields 0, matching
    ``coalesce(sum(...) over w, 0)`` — callers wanting SQL's NULL
    instead should not coalesce on their side.

    Shares :func:`exact_rank`'s determinism requirement (two scans:
    cut sketch + final plan; the global path adds a count pass) —
    ``checkpoint=True`` pins non-deterministic inputs.

    Exactness caveat (ADVICE r6): for INTEGRAL and DECIMAL measures
    the result is bit-identical to the SQL window form (integer /
    decimal addition is associative). For fractional FLOAT/DOUBLE
    measures it matches only up to FP addition order: per-bucket
    totals come from a groupBy aggregate (arbitrary combine order)
    while the window form adds row-by-row in sort order, so offsets
    can differ in the last ulps — the same 1e-9-grid discipline as
    every cross-engine double comparison in this repo. Callers
    needing bit-exact fractional running totals should scale to
    integer units first (functions/aggregates.units).
    """
    _reserve(df, "_rb", "_off", "_mj", "_sb", "_bn")
    spark = df.sparkSession
    if checkpoint:
        # lazy (r11): _sketch_cuts' quantile job is the first action
        # and materializes the pinned blocks; every later pass reads
        # the same stored blocks (the pin the flag promises).
        df = df.localCheckpoint(eager=False)
    cuts = _sketch_cuts(df, key)
    d = df.withColumn("_rb", _range_bucket(key, cuts, False))
    order = [F.col(key).asc()] + [F.col(t).asc() for t in tiebreaks]
    end = -1 if exclusive else 0

    if major is None:
        # Offset type tracks the SUM's result type (long for integral
        # measures, double for float/double, widened decimal(p+10,s)
        # for decimals — collecting those yields Python Decimal, so
        # the zero seed must match or createDataFrame rejects it).
        agg = d.groupBy("_rb").agg(F.coalesce(F.sum(measure), F.lit(0)).alias("s"))
        off_t = agg.schema["s"].dataType.simpleString()
        if off_t.startswith("decimal"):
            from decimal import Decimal

            z = Decimal(0)
        elif off_t in ("double", "float"):
            z = 0.0
        else:
            z = 0
        sums = {r["_rb"]: r["s"] for r in agg.collect()}
        off, acc = [], z
        for b in sorted(sums):  # <= buckets rows by construction
            off.append((b, acc))
            acc += sums[b]
        if not off:
            off = [(0, z)]
        off_df = spark.createDataFrame(off, f"_rb int, _off {off_t}")
        w = Window.partitionBy("_rb").orderBy(*order).rowsBetween(
            Window.unboundedPreceding, end
        )
        guarded_off = F.when(
            F.col("_off").isNull(),
            F.raise_error(
                F.lit(
                    "exact_prefix_sum: a bucket appeared that the sum pass did "
                    "not observe — the input is non-deterministic across "
                    "scans; pass checkpoint=True or materialize the input"
                )
            ).cast(off_t),
        ).otherwise(F.col("_off"))
        return (
            d.join(F.broadcast(off_df), "_rb", "left")
            .withColumn(
                out, guarded_off + F.coalesce(F.sum(measure).over(w), F.lit(0))
            )
            .drop("_rb", "_off")
        )

    cnt = d.groupBy(major, "_rb").agg(
        F.coalesce(F.sum(measure), F.lit(0)).alias("_bn")
    )
    w_off = (
        Window.partitionBy(major)
        .orderBy("_rb")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    stats = cnt.select(
        F.col(major).alias("_mj"),
        F.col("_rb").alias("_sb"),
        F.coalesce(F.sum("_bn").over(w_off), F.lit(0)).alias("_off"),
    )
    w = Window.partitionBy(major, "_rb").orderBy(*order).rowsBetween(
        Window.unboundedPreceding, end
    )
    guarded_off = F.when(
        F.col("_off").isNull(),
        F.raise_error(
            F.lit(
                "exact_prefix_sum: a (major, bucket) cell appeared that the "
                "aggregate branch did not observe — the input is "
                "non-deterministic across scans; pass checkpoint=True or "
                "materialize the input"
            )
        ).cast(stats.schema["_off"].dataType.simpleString()),
    ).otherwise(F.col("_off"))
    return (
        d.join(
            stats,
            F.col(major).eqNullSafe(F.col("_mj")) & (F.col("_rb") == F.col("_sb")),
            "left",
        )
        .withColumn(out, guarded_off + F.coalesce(F.sum(measure).over(w), F.lit(0)))
        .drop("_rb", "_sb", "_mj", "_off")
    )


def _global_bucket_offsets(
    spark, d: DataFrame, bucket_col: str = "_rb", key_type: str = "int"
):
    """Collect per-bucket counts (<= ``buckets`` rows by construction)
    and return (total n, broadcastable offsets frame). Shared by the
    range-bucketed operators (``_rb int``) and :func:`dense_index`
    (``_hb long``); the empty-input guard keeps the offsets frame
    non-empty so downstream left joins stay well-typed."""
    cnt = {
        r[bucket_col]: r["n"]
        for r in d.groupBy(bucket_col).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    n = sum(cnt.values())
    off, acc = [], 0
    for b in sorted(cnt):
        off.append((b, acc))
        acc += cnt[b]
    if not off:
        off = [(0, 0)]
    return n, spark.createDataFrame(off, f"{bucket_col} {key_type}, _off long")


def _idiv(x, d):
    """Integral floor division of non-negative LONG operands via
    Spark's ``div`` (IntegralDivide) — stays in integer space for the
    full long range. ``floor(x / d)`` routes through DOUBLE and is
    exact only while the quotient's operands stay inside double's
    2^52 contiguous-integer range (ADVICE r6), which a 100 TB rank
    space can genuinely exceed."""
    return F.call_function("div", x.cast("long"), d.cast("long"))


def _ansi_tile(rank, n, k: int):
    """ANSI ntile bucket from exact rank + partition count, as column
    arithmetic: with q, r = divmod(n, k) the first r tiles take q+1
    rows. All-integer: `div` on longs, no double round-trip."""
    q = _idiv(n, F.lit(k))
    r = n - q * k
    head = r * (q + 1)
    return (
        F.when(q == 0, rank)  # fewer rows than tiles: tile == rank
        .when(
            rank <= head,
            _idiv(rank - 1, q + 1) + 1,
        )
        .otherwise(r + _idiv(rank - 1 - head, q) + 1)
    )


def exact_ntile(
    df: DataFrame,
    k: int,
    key: str,
    tiebreaks: list[str],
    out: str = "bucket",
    checkpoint: bool = False,
    major: str | None = None,
) -> DataFrame:
    """SQL ``ntile(k) OVER (ORDER BY key, *tiebreaks)`` — bit-exact
    bucket membership — WITHOUT the data-sized ``Exchange
    SinglePartition`` the window version plans.

    Construction (the RANGE-bucketed variant of :func:`dense_index`;
    hash buckets would scramble the value order, so bucketing here is
    by value range and the global order ``(range_bucket, key,
    tiebreaks)`` equals ``(key, tiebreaks)`` exactly):

    1. one aggregate job sketches ``_RANGE_BUCKETS-1`` approximate cut
       points of ``key`` (``percentile_approx``; accuracy only affects
       load balance, never the result);
    2. each row maps to a range bucket via a codegen'd fold over the
       literal cut array with STRICT ``>`` — ties on ``key`` can
       never split across buckets, so within-bucket ``row_number``
       over ``(key, *tiebreaks)`` composes with bucket offsets into
       the exact global rank;
    3. bucket counts (<= ``_RANGE_BUCKETS`` rows) collect to the driver
       for the offset cumsum AND the total n, making the ntile boundary
       arithmetic pure literals: with ``q, r = divmod(n, k)`` the
       first ``r`` buckets take ``q+1`` rows (ANSI ntile), so
       ``bucket = (rank-1) div (q+1) + 1`` for ranks in the head and
       ``r + (rank-1-r*(q+1)) div q + 1`` for the tail.

    The plan is: one sketch aggregate + one count aggregate + B
    parallel sorts of ~n/B rows — every exchange hash- or
    range-bounded, nothing data-sized in one task. Degenerate key
    distributions (one dominant value) collapse buckets and re-create
    the single big sort; that is inherent to ntile's tiebreak
    semantics, not this construction.

    ``major`` generalizes to ``ntile(k) OVER (PARTITION BY major
    ORDER BY ...)``: ranks come from :func:`exact_rank`'s per-major
    cell construction (one final job, offsets from aggregate-row
    windows), and the boundary arithmetic runs on the per-major count
    COLUMN instead of driver literals — the fix for data-sized windows
    hiding behind low-cardinality partition keys (``PARTITION BY
    source`` over a corpus-sized table).

    ``checkpoint=True`` localCheckpoints the (narrow) input so the
    passes don't recompute an expensive upstream; leave False when
    the input is a bare columnar scan (pushdown makes re-reads cheap).

    Determinism: the global path reads ``df`` in three jobs (sketch,
    count, final). A non-deterministic source is detected loudly — the
    final plan left-joins the counted bucket offsets and raises on a
    bucket the count pass never saw, and ranks past the counted total
    raise in the tile arithmetic — but rows REMOVED between passes
    cannot be detected; use ``checkpoint=True`` for such sources.
    """
    if k < 1:
        raise ValueError(f"ntile k must be >= 1, got {k}")
    _reserve(df, "_rank", "_n")
    ranked = exact_rank(
        df,
        key,
        tiebreaks,
        out="_rank",
        major=major,
        checkpoint=checkpoint,
        n_out="_n",
    )
    overflow_guard = F.when(
        F.col("_rank") > F.col("_n"),
        F.raise_error(
            F.lit(
                "exact_ntile: rank exceeds the counted partition size — the "
                "input grew between passes; pass checkpoint=True or "
                "materialize the input"
            )
        ).cast("long"),
    )
    tile = overflow_guard.otherwise(
        _ansi_tile(F.col("_rank"), F.col("_n"), k)
    )
    return ranked.withColumn(out, tile.cast("long")).drop("_rank", "_n")


def dense_index(
    df: DataFrame,
    tiebreak: str,
    out: str = "_ix",
    major: str | None = None,
    one_based: bool = False,
    major_cap: int = 2_000_000,
    checkpoint: bool = False,
    n_rows: int | None = None,
) -> DataFrame:
    """Add a dense integer index column ``out`` (0..n-1, or 1..n with
    ``one_based``) to ``df`` without any single-partition data sort.

    Index order is ``(major, hash_bucket(tiebreak), tiebreak)``; rows
    must be unique on ``(major, tiebreak)`` (callers index distinct
    ids / vocabulary rows). ``major``, when given, must be an
    ascending-orderable numeric column (its totals are cumsum'd
    driver-side with Python ``sorted``, which must agree with Spark's
    ascending sort).

    The construction reads ``df`` 2-3 times (bucket counts, major
    totals, the final indexed join). ``checkpoint=True`` materializes
    it ONCE so those passes read executor storage instead of re-running
    an expensive upstream per pass — callers whose input is an
    aggregate (a vocabulary build, an id distinct) should pass it
    (zipf_slope re-tokenized its corpus three times without it,
    measured 3.5x on the query); leave the default False when the
    input is cheap to rescan or already materialized (exact_ntile's
    lazy-checkpoint discipline, retrofitted here in round 6 so
    pre-checkpointed callers stop paying a data-sized copy). Shares :func:`exact_rank`'s determinism
    requirement across the passes; a bucket, (major, bucket) cell, or
    major the count pass never observed fails loudly in the final
    joins (left joins + raise_error null traps — never a silent row
    drop). NULL ``major`` values are supported: null-safe join
    equality and a None-aware driver sort place the NULL group first,
    matching Spark's ASC NULLS FIRST.

    ``n_rows`` — the caller's already-measured row count of ``df`` —
    enables the SMALL regime (r9 verdict #6): at or under
    `_SMALL_INDEX_MAX_ROWS` the whole bucketed construction (2 driver
    jobs + 4-5 exchanges) collapses to ONE bounded window sort over
    the identical total order (major NULLS FIRST, hash bucket,
    tiebreak), producing bit-identical indices with no extra job —
    the input is read once, so ``checkpoint`` is moot there. The
    window partitions by a constant over a caller-counted bounded
    input; never pass a guessed n_rows — the gate exists so data-sized inputs
    always take the parallel construction.
    """
    spark = df.sparkSession
    _reserve(
        df, "_hb", "_ob", "_off", "_bn", "_n", "_t", "_mj", "_whb", "_woff",
        "_mm", "_moff", "_smallix",
    )
    hb = F.pmod(F.xxhash64(F.col(tiebreak)), F.lit(_HASH_BUCKETS))
    if n_rows is not None and n_rows <= _SMALL_INDEX_MAX_ROWS:
        # Catalyst folds the constant partition key, so this plans as
        # an explicit `Exchange SinglePartition` + global Window —
        # VISIBLE to tools/audit_single_partition.py's dimension 1 on
        # purpose: if a registered query's audited plan ever takes
        # this regime, the audit fails until a human reviews the
        # caller's n_rows bound and allowlists it. (Today none does:
        # the sf0.001 audit corpus keeps every dense_index consumer
        # in regimes that skip this window.)
        base = F.lit(1) if one_based else F.lit(0)
        order = []
        if major is not None:
            order.append(F.col(major).asc_nulls_first())
        order += [F.col("_hb"), F.col(tiebreak)]
        w_small = Window.partitionBy(F.lit(0)).orderBy(*order)
        return (
            df.withColumn("_hb", hb)
            .withColumn(out, F.row_number().over(w_small) - 1 + base)
            .drop("_hb")
        )
    if checkpoint:
        # LAZY: every regime's first action below is a full scan of
        # `d` (the bucket-count collect, or the totals.limit collect
        # whose upstream groupBy shuffles every partition of `d`), so
        # materialization rides that job instead of paying its own
        # (r8 verdict #5 — job-count floors).
        d = df.withColumn("_hb", hb).localCheckpoint(eager=False)
    else:
        d = df.withColumn("_hb", hb)
    base = F.lit(1) if one_based else F.lit(0)

    if major is None:
        w = Window.partitionBy("_hb").orderBy(tiebreak)
        # <= _HASH_BUCKETS rows collected: bounded by construction
        _, off_df = _global_bucket_offsets(spark, d, "_hb", "long")
        guarded_off = F.when(
            F.col("_off").isNull(),
            F.raise_error(
                F.lit(
                    "dense_index: a bucket appeared that the count pass did "
                    "not observe — the input is non-deterministic across "
                    "scans; pass checkpoint=True or materialize the input"
                )
            ).cast("long"),
        ).otherwise(F.col("_off"))
        return (
            d.join(F.broadcast(off_df), "_hb", "left")
            .withColumn(out, guarded_off + F.row_number().over(w) - 1 + base)
            .drop("_hb", "_off")
        )

    w = Window.partitionBy(major, "_hb").orderBy(tiebreak)
    cnt = d.groupBy(major, "_hb").agg(F.count(F.lit(1)).alias("_n"))
    # exclusive prefix within each major value, ordered by bucket —
    # a PARTITIONED window over aggregate rows (<= _HASH_BUCKETS a group)
    w_in = (
        Window.partitionBy(major)
        .orderBy("_hb")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    within = cnt.withColumn("_woff", F.coalesce(F.sum("_n").over(w_in), F.lit(0)))
    totals = cnt.groupBy(major).agg(F.sum("_n").alias("_t"))
    # One job decides the regime AND fetches the driver-path data:
    # collect at most major_cap+1 total rows — a full result means all
    # majors are in hand (driver cumsum), an overflowing one falls back
    # to the post-aggregate window (the separate count() job this
    # replaces paid a full pass over `totals` just to learn the size).
    fetched = totals.limit(major_cap + 1).collect()
    if len(fetched) <= major_cap:
        rows = {r[major]: r["_t"] for r in fetched}
        moff, acc = [], 0
        # None-aware sort key matching Spark's ASC NULLS FIRST, so a
        # NULL major group gets the first offset instead of a driver
        # TypeError (None < int is unorderable in Python)
        for mv in sorted(rows, key=lambda v: (v is not None, v)):
            moff.append((mv, acc))
            acc += rows[mv]
        moff_df = F.broadcast(
            spark.createDataFrame(
                moff,
                f"_mm {df.schema[major].dataType.simpleString()}, _moff long",
            )
        )
    else:  # post-aggregate fallback: D rows, never data-sized; size is
        # data-dependent, so no forced broadcast — AQE decides.
        w_m = Window.orderBy(major).rowsBetween(Window.unboundedPreceding, -1)
        moff_df = totals.select(
            F.col(major).alias("_mm"),
            F.coalesce(F.sum("_t").over(w_m), F.lit(0)).alias("_moff"),
        )
    guarded_moff = F.when(
        F.col("_moff").isNull(),
        F.raise_error(
            F.lit(
                "dense_index: a major value appeared that the totals pass "
                "did not observe — the input is non-deterministic across "
                "scans; pass checkpoint=True or materialize the input"
            )
        ).cast("long"),
    ).otherwise(F.col("_moff"))
    # Both lookup joins are LEFT with null-trap guards, and the major
    # equality is NULL-SAFE: an inner join here would silently DROP a
    # row whose (major, bucket) cell the count pass never observed
    # (non-deterministic input) instead of failing loudly — the same
    # retrofit exact_rank/exact_prefix_sum carry — and a null-unsafe
    # join would silently drop every NULL-major row.
    guarded_woff = F.when(
        F.col("_woff").isNull(),
        F.raise_error(
            F.lit(
                "dense_index: a (major, bucket) cell appeared that the "
                "count pass did not observe — the input is "
                "non-deterministic across scans; pass checkpoint=True or "
                "materialize the input"
            )
        ).cast("long"),
    ).otherwise(F.col("_woff"))
    w_sel = within.select(
        F.col(major).alias("_mj"), F.col("_hb").alias("_whb"), "_woff"
    )
    return (
        d.join(
            w_sel,
            F.col(major).eqNullSafe(F.col("_mj")) & (F.col("_hb") == F.col("_whb")),
            "left",
        )
        .join(moff_df, F.col(major).eqNullSafe(F.col("_mm")), "left")
        .withColumn(
            out,
            guarded_moff + guarded_woff + F.row_number().over(w) - 1 + base,
        )
        .drop("_hb", "_mj", "_whb", "_woff", "_mm", "_moff")
    )
