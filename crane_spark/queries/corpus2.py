"""Sketch- and filter-accelerated corpus operators.

Three scale patterns over the `documents` table, each the fixed-space
twin of an exact operator that already exists in the registry:

* `bloom_contamination` — the contamination check (shared 8-grams with
  the eval set) with a broadcast Bloom filter pruning the training-gram
  stream BEFORE the exact verify join. Same oracle as
  `contamination_check`: the Bloom stage is lossless by construction
  (no false negatives + exact verify of survivors), and the oracle
  proves it.
* `cms_heavy_hitters` — top tokens by count-min-sketch estimate: the
  fixed-space frequency path for when exact per-key counts can't be
  afforded. Estimates are engine-specific only in principle (fixed
  seeds make them deterministic here, but the contract is the CMS
  bound, not equality) -> rows-only; tests/test_sketch_bloom.py proves
  est >= exact and est <= exact + 2N/width per key.
* `span_dedup` — cross-corpus repeated-span removal (CCNet line dedup
  generalized to a token grid), exact oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from crane_spark.functions.sketches import cms_build, cms_estimate
from crane_spark.functions.text import exploded_word_grams, tokens
from crane_spark.llm.dedup import drop_duplicate_spans
from crane_spark.operators.bloom import build_bloom, filter_might_contain
from crane_spark.queries.core import register
from crane_spark.queries.corpus import CONTAMINATION_SQL
from crane_spark.tables import fan_out, table

# r11: the module-level Bloom cache keyed by dataset dir is REMOVED.
# It memoized a data-derived intermediate across invocations, so a
# re-run of the query in the same session skipped the bench-gram scan
# — exactly the cross-run precomputation the bench protocol forbids
# (every invocation must compute from the parquet inputs). The filter
# is now built per invocation; in production the equivalent reuse is
# an explicit, versioned artifact published next to the eval set, not
# an implicit process-lifetime memo.


@register("bloom_contamination", CONTAMINATION_SQL, tags=("llm", "contamination", "bloom", "sketch"))
def q_bloom_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """contamination_check with a Bloom pre-filter: the eval set's
    8-gram hashes fold into a 32 KB bit array, the training-gram
    stream drops definite misses at scan speed (pure JVM bit probes,
    no join), and only the surviving sliver reaches the exact
    broadcast-semi-join that removes Bloom false positives. At 100 TB
    the pruned fraction is ~everything, so the verify join sees a few
    MB; identical results to the unpruned plan — same oracle SQL."""
    docs = table(spark, sf_dir, "documents")
    toks = tokens("text")
    n = 8
    # Single xxhash64 LONG gram identity — see contamination_check
    # for the 64-bit sufficiency argument (cross-set collisions only)
    # and the measured rejection of the 96-bit struct on this shape.
    # Lazy checkpoint: the bloom build below is the first action and
    # materializes the bench gram set; the exact verify's broadcast
    # then reads the stored blocks instead of re-scanning and
    # re-tokenizing the eval docs (r11 — one bench scan, two
    # consumers).
    bench = (
        exploded_word_grams(docs.filter(F.col("doc_id") < 20), n, [], out="g")
        .select(F.xxhash64("g").alias("gh"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    bloom = build_bloom(bench, "gh", m_words=4096, k=3)
    train = exploded_word_grams(
        fan_out(docs.filter(F.col("doc_id") >= 20)).withColumn(
            "n_grams", (F.size(toks) - (n - 1)).cast("long")
        ),
        n,
        ["doc_id", "n_grams"],
        out="g",
    ).select("doc_id", "n_grams", F.xxhash64("g").alias("gh"))
    survivors = filter_might_contain(train, "gh", bloom, k=3)
    hits = survivors.join(F.broadcast(bench), "gh", "left_semi")
    return hits.groupBy("doc_id").agg(
        F.count_distinct("gh").alias("n_contaminated_grams"),
        (F.count_distinct("gh").cast("double") / F.first("n_grams")).alias(
            "contamination_ratio"
        ),
    )


CMS_TOPK = 20


@register("cms_heavy_hitters", None, tags=("llm", "sketch", "agg", "approx"))
def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{k} corpus tokens by count-min-sketch ESTIMATE: build the
    4x2048 sketch in one exploded hash-aggregate (shuffle is
    sketch-sized), probe each candidate token via broadcast join, rank
    by estimate. The exact twin is `vocab_top_terms`; this is the path
    that still works when per-key exact counts would blow the shuffle
    (the sketch never grows). Rows-only: the contract is the CMS error
    bound, verified against exact counts in tests/test_sketch_bloom.py.
    """
    docs = table(spark, sf_dir, "documents")
    tok = fan_out(docs).select(F.explode(tokens("text")).alias("token"))
    sketch = cms_build(tok, "token")
    cand = tok.distinct()
    est = cms_estimate(cand, sketch, "token")
    from pyspark.sql import Window

    # top-k BEFORE the rank window: orderBy+limit plans as
    # TakeOrderedAndProject (per-partition heaps), so the single-
    # partition row_number only ever sees CMS_TOPK rows — the
    # estimate table is VOCABULARY-sized and must never cross a
    # single-partition window sort.
    top = est.orderBy(F.desc("est_count"), F.asc("token")).limit(CMS_TOPK)
    w = Window.orderBy(F.desc("est_count"), F.asc("token"))
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


SPAN, MIN_DOCS = 16, 2

SPAN_DEDUP_SQL = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
spans AS (
  SELECT doc_id, CAST(i AS BIGINT) AS span_idx,
         array_to_string(list_slice(toks, i*{SPAN}+1, i*{SPAN}+{SPAN}), ' ') AS span
  FROM t, unnest(range(0, CAST(ceil(len(toks) / CAST({SPAN} AS DOUBLE)) AS BIGINT))) AS u(i)
),
dup AS (
  SELECT span FROM spans GROUP BY span HAVING count(DISTINCT doc_id) >= {MIN_DOCS}
),
kept AS (
  SELECT s.doc_id, s.span_idx, s.span FROM spans s ANTI JOIN dup d ON s.span = d.span
)
SELECT doc_id,
       string_agg(span, ' ' ORDER BY span_idx) AS text_dedup,
       CAST(count(*) AS BIGINT) AS n_spans_kept
FROM kept GROUP BY doc_id
"""


@register("span_dedup", SPAN_DEDUP_SQL, tags=("llm", "dedup"))
def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus repeated-span removal: every {SPAN}-token grid span
    occurring in >= {MIN_DOCS} distinct documents is dropped from all
    of them; documents reassemble in order. The duplicate-span set is
    one map-side-combined aggregate, broadcast for an anti-join — the
    corpus never shuffles by span (see llm/dedup.drop_duplicate_spans).
    """
    docs = table(spark, sf_dir, "documents")
    return drop_duplicate_spans(docs, span_tokens=SPAN, min_docs=MIN_DOCS)


# --------------------------------------------------------------------
# The full preprocessing funnel, end-to-end in one query
# --------------------------------------------------------------------

LEN_LO, LEN_HI = 120, 520

FUNNEL_SQL = f"""
WITH corpus AS (SELECT * FROM documents WHERE doc_id >= 20),
len AS (SELECT * FROM corpus WHERE n_chars BETWEEN {LEN_LO} AND {LEN_HI}),
dedup AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM len
  ) WHERE rn = 1
),
bench AS (
  SELECT DISTINCT md5(g) AS gh
  FROM (
    SELECT unnest(list_transform(range(1, len(string_split(text,' ')) - 6),
           i -> array_to_string(list_slice(string_split(text,' '), i, i+7), ' '))) AS g
    FROM documents WHERE doc_id < 20
  )
),
contaminated AS (
  SELECT DISTINCT doc_id
  FROM (
    SELECT doc_id,
           md5(unnest(list_transform(range(1, len(string_split(text,' ')) - 6),
           i -> array_to_string(list_slice(string_split(text,' '), i, i+7), ' ')))) AS gh
    FROM dedup
  ) t SEMI JOIN bench USING (gh)
),
clean AS (SELECT * FROM dedup ANTI JOIN contaminated USING (doc_id)),
counts AS (SELECT lang, count(*) AS n FROM clean GROUP BY lang),
m AS (SELECT min(n) AS n_min FROM counts),
mixed AS (
  SELECT d.* FROM clean d JOIN counts c ON d.lang = c.lang CROSS JOIN m
  WHERE {{hb}} < CAST(floor(65536.0 * m.n_min / c.n) AS BIGINT)
)
SELECT stage, n_docs FROM (
  SELECT '0_raw' AS stage, CAST(count(*) AS BIGINT) AS n_docs FROM corpus
  UNION ALL SELECT '1_length', count(*) FROM len
  UNION ALL SELECT '2_exact_dedup', count(*) FROM dedup
  UNION ALL SELECT '3_decontaminated', count(*) FROM clean
  UNION ALL SELECT '4_mixed', count(*) FROM mixed
)
"""


from crane_spark.llm.sampling import sql_hash_bucket  # noqa: E402


@register(
    "corpus_funnel",
    FUNNEL_SQL.format(hb=sql_hash_bucket("doc_id", "mix")),
    tags=("llm", "pipeline", "funnel"),
)
def q_corpus_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole preprocessing pipeline as ONE lazy plan: length
    filter -> exact dedup (first-doc-wins) -> benchmark
    decontamination (broadcast 8-gram semi-join) -> equal-share
    language mixing, reporting surviving doc counts per stage. Each
    stage is the already-verified operator; this proves they COMPOSE —
    the plan a user would actually run over 100 TB, where every stage
    is a scan-side predicate or broadcast join and the only wide ops
    are the dedup window and the tiny per-stage counts."""
    from pyspark.sql import Window

    from crane_spark.llm.sampling import HASH_SPACE, hash_bucket

    docs = table(spark, sf_dir, "documents")
    n = 8
    # gh is internal to the decontamination semi-join (xxhash64 long:
    # see contamination_check).
    bench = (
        exploded_word_grams(docs.filter(F.col("doc_id") < 20), n, [], out="g")
        .select(F.xxhash64("g").alias("gh"))
        .distinct()
    )
    corpus = docs.filter(F.col("doc_id") >= 20)
    # One flagged pass instead of five re-evaluated sub-frames: each
    # doc carries booleans for the stages it survives; the funnel is a
    # single aggregate over the flags, unpivoted to stage rows.
    pass_len = F.col("n_chars").between(LEN_LO, LEN_HI)
    # row_number within (survives-length, text-hash): the first
    # surviving doc per hash wins, exactly the per-group min-doc rule.
    w = Window.partitionBy(pass_len, F.md5("text")).orderBy("doc_id")
    flagged = corpus.withColumn("pass_len", pass_len).withColumn(
        "pass_dedup", F.col("pass_len") & (F.row_number().over(w) == 1)
    )
    cont_ids = (
        exploded_word_grams(flagged.filter("pass_dedup"), n, ["doc_id"], out="g")
        .select("doc_id", F.xxhash64("g").alias("gh"))
        .join(F.broadcast(bench), "gh", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("is_cont", F.lit(1))
    )
    flagged = flagged.join(F.broadcast(cont_ids), "doc_id", "left").withColumn(
        "pass_clean", F.col("pass_dedup") & F.col("is_cont").isNull()
    )
    lang_counts = (
        flagged.filter("pass_clean").groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    )
    n_min = lang_counts.agg(F.min("n").alias("m"))
    thr = lang_counts.crossJoin(F.broadcast(n_min)).select(
        "lang", F.floor(F.lit(HASH_SPACE) * F.col("m") / F.col("n")).alias("thr")
    )
    flagged = flagged.join(F.broadcast(thr), "lang", "left").withColumn(
        "pass_mixed", F.col("pass_clean") & (hash_bucket("doc_id", "mix") < F.col("thr"))
    )
    one = flagged.agg(
        F.count(F.lit(1)).cast("long").alias("0_raw"),
        F.sum(F.col("pass_len").cast("long")).cast("long").alias("1_length"),
        F.sum(F.col("pass_dedup").cast("long")).cast("long").alias("2_exact_dedup"),
        F.sum(F.col("pass_clean").cast("long")).cast("long").alias("3_decontaminated"),
        F.sum(F.col("pass_mixed").cast("long")).cast("long").alias("4_mixed"),
    )
    stages = ", ".join(
        f"'{s}', `{s}`"
        for s in ("0_raw", "1_length", "2_exact_dedup", "3_decontaminated", "4_mixed")
    )
    return one.select(F.expr(f"stack(5, {stages}) AS (stage, n_docs)"))


# --------------------------------------------------------------------
# Curriculum ordering: quality deciles + deterministic epoch sort key
# --------------------------------------------------------------------

CURRICULUM_SQL = """
WITH scored AS (
  SELECT doc_id,
         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
           / len(string_split(text, ' ')) AS ttr
  FROM documents
)
SELECT doc_id, round(ttr, 6) AS ttr,
       CAST(ntile(10) OVER (ORDER BY ttr, doc_id) AS BIGINT) AS decile,
       {hb} AS cur_key
FROM scored
"""


@register(
    "curriculum_order",
    CURRICULUM_SQL.format(hb=sql_hash_bucket("doc_id", "cur")),
    tags=("llm", "sampling", "curriculum"),
)
def q_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering for a training run: quality deciles
    (type-token ratio, ntile so bucket sizes are exact) plus a
    deterministic within-decile shuffle key. The epoch order is
    (decile, cur_key, doc_id) as sortable COLUMNS — the writer
    range-partitions on them, so the total order materializes without
    a single-node sort. Deciles come from `exact_ntile` (range-bucketed
    parallel rank + literal boundary arithmetic): bit-identical to the
    ANSI ntile the oracle runs, but with no data-sized global window —
    approx cut points only steer load balance, never bucket
    membership. The narrow (doc_id, ttr) projection is checkpointed so
    the three ntile passes don't re-tokenize the corpus."""
    from crane_spark.llm.sampling import hash_bucket
    from crane_spark.operators.indexing import exact_ntile

    docs = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    ttr = F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
    scored = docs.select("doc_id", ttr.alias("ttr"))
    tiled = exact_ntile(
        scored, 10, key="ttr", tiebreaks=["doc_id"], out="decile",
        checkpoint=True,
    )
    return tiled.select(
        "doc_id",
        F.round("ttr", 6).alias("ttr"),
        "decile",
        hash_bucket("doc_id", "cur").alias("cur_key"),
    )


DECILES_SQL = """
SELECT source, decile,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(n_chars) AS BIGINT) AS lo,
       CAST(max(n_chars) AS BIGINT) AS hi
FROM (
  SELECT source, n_chars,
         CAST(ntile(10) OVER (PARTITION BY source
                              ORDER BY n_chars, doc_id) AS BIGINT) AS decile
  FROM documents
)
GROUP BY source, decile
"""


@register("length_deciles_by_source", DECILES_SQL, tags=("llm", "stats", "drift", "window"))
def q_length_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitoring: per-source document-length
    deciles (boundary lo/hi per decile). Comparing decile tables
    between two corpus snapshots — or two sources — is the standard
    drift check a training pipeline runs before mixing; rank
    arithmetic (ntile with a doc_id tiebreak) keeps bucket membership
    deterministic instead of comparing against interpolated quantile
    cuts. `source` has a handful of values while `documents` IS the
    corpus-scale table, so `ntile OVER (PARTITION BY source)` would
    hand each task a corpus-sized sort; `exact_ntile(major="source")`
    is bit-identical ANSI ntile but ranks in parallel range-bucket
    cells with aggregate-row offset windows — no data-sized partition
    in any task."""
    from crane_spark.operators.indexing import exact_ntile

    docs = table(spark, sf_dir, "documents")
    tiled = exact_ntile(
        docs.select("source", "n_chars", "doc_id"),
        10,
        key="n_chars",
        tiebreaks=["doc_id"],
        out="decile",
        major="source",
    )
    return (
        tiled.select("source", "n_chars", "decile")
        .groupBy("source", "decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").cast("long").alias("lo"),
            F.max("n_chars").cast("long").alias("hi"),
        )
    )


VOCAB_OVERLAP_SQL = """
WITH vocab AS (
  SELECT DISTINCT source, unnest(string_split(text, ' ')) AS token
  FROM documents
),
sizes AS (SELECT source, count(*) AS n FROM vocab GROUP BY source),
inter AS (
  SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_common
  FROM vocab a JOIN vocab b ON a.token = b.token AND a.source < b.source
  GROUP BY source_a, source_b
)
SELECT i.source_a, i.source_b,
       CAST(i.n_common AS BIGINT) AS n_common,
       CAST(round(CAST(i.n_common AS DOUBLE)
                  / (sa.n + sb.n - i.n_common), 6) AS DOUBLE) AS jaccard
FROM inter i
JOIN sizes sa ON i.source_a = sa.source
JOIN sizes sb ON i.source_b = sb.source
"""


@register("vocab_overlap", VOCAB_OVERLAP_SQL, tags=("llm", "text", "similarity", "join"))
def q_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source vocabulary Jaccard: how much word inventory two
    sources share — the cheap corpus-homogeneity signal (near-1 means
    a source adds no lexical diversity to the mix). One tokenize ->
    distinct pass builds per-source vocabularies; the pair join runs
    on the token key (vocabulary-sized, not corpus-sized) and the
    source<source guard halves the pair space. Jaccard from exact
    integer counts — one double division, rounded."""
    docs = fan_out(table(spark, sf_dir, "documents"))
    vocab = (
        docs.select("source", F.explode(tokens("text")).alias("token"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    sizes = vocab.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = vocab.alias("a")
    b = vocab.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        inter.join(F.broadcast(sa), F.col("source_a") == F.col("sa.source"))
        .join(F.broadcast(sb), F.col("source_b") == F.col("sb.source"))
        .select(
            "source_a",
            "source_b",
            F.col("n_common").cast("long").alias("n_common"),
            F.round(
                F.col("n_common").cast("double")
                / (F.col("sa.n") + F.col("sb.n") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )


# --------------------------------------------------------------------
# Maximal duplicated-span ranges (suffix-array-style dedup, resolution L)
# --------------------------------------------------------------------

_DSR_L = 8

DUP_SPAN_RANGES_SQL = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
g AS (
  SELECT doc_id, CAST(u.p AS BIGINT) AS p,
         md5(array_to_string(toks[CAST(u.p + 1 AS INT):CAST(u.p + {_DSR_L} AS INT)], ' ')) AS h
  FROM t, unnest(range(0, greatest(len(toks) - {_DSR_L - 1}, 0))) AS u(p)
),
dup AS (SELECT h FROM g GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
hit AS (SELECT doc_id, p FROM g WHERE h IN (SELECT h FROM dup)),
w AS (
  SELECT doc_id, p,
         max(p + {_DSR_L}) OVER (PARTITION BY doc_id ORDER BY p
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
  FROM hit
),
i AS (
  SELECT doc_id, p,
         SUM(CASE WHEN pe IS NULL OR p > pe THEN 1 ELSE 0 END)
             OVER (PARTITION BY doc_id ORDER BY p) AS island
  FROM w
)
SELECT doc_id, CAST(island AS BIGINT) AS island,
       min(p) AS span_start, max(p) + {_DSR_L} AS span_end,
       count(*) AS n_grams
FROM i GROUP BY doc_id, island
"""


@register("dup_span_ranges", DUP_SPAN_RANGES_SQL, tags=("llm", "dedup", "window"))
def q_dup_span_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAXIMAL duplicated-span detection at arbitrary alignment — the
    relational form of suffix-array training-data dedup (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better") at
    resolution L=8 tokens: every SLIDING L-gram shared by >= 2
    documents is an anchor; overlapping/adjacent anchor hits inside a
    document merge into maximal [span_start, span_end) token ranges by
    a gaps-and-islands pass. Unlike `span_dedup`'s non-overlapping
    grid, a duplicated passage is caught at ANY offset, and the output
    names the exact range to cut rather than a grid cell.

    Scale shape (round 5: SINGLE gram scan): the sliding-gram explode
    is the dominant stage at corpus scale, and the previous
    aggregate + semi-join shape ran it twice (once into the dup-hash
    aggregate, once as the probe). Now the gram stream crosses ONE
    shuffle keyed on the gram hash and the duplicated test is
    `min(doc_id) != max(doc_id)` over the h-partition — exactly
    `count(DISTINCT doc_id) >= 2` without a second scan or a
    dup-set join. The window frame is unbounded-over-h, which Spark
    buffers in a spillable row array — duplication-heavy grams spill
    rather than OOM, and no dup-set ever needs to fit in one
    executor (the failure mode that forbade the broadcast hint in
    the old shape). The island merge then windows over the pruned
    hit list as before.

    Degenerate-key caveat (ADVICE r5, mirroring exact_ntile's): a
    single DOMINANT gram — boilerplate shared by millions of docs —
    lands every occurrence in one h-partition that one task must
    sort; spilling bounds memory but not that task's wall clock, and
    AQE cannot split window partitions. The skew-safe alternative is
    the old aggregate + join shape (map-side-combinable min/max per
    h, join back on h — JOIN skew is AQE-splittable), which costs a
    second full gram scan and measured 2.3x slower end-to-end
    (4.13 -> 1.78 s at sf0.1); a corpus known to carry mega-dup
    boilerplate should strip it upstream (exact-dedup pass) or
    accept the re-scan. This mirrors ntile's tie semantics: the
    skew is a property of the data's duplication profile, not an
    avoidable artifact of the plan — and since round 7 it is a KNOB,
    not just a caveat: `llm.dedup.dup_span_ranges(skew_safe=True)`
    ships the salted two-level min/max shape (see
    `dup_span_ranges_skewsafe`)."""
    from crane_spark.llm.dedup import dup_span_ranges

    return dup_span_ranges(
        fan_out(table(spark, sf_dir, "documents")), L=_DSR_L, skew_safe=False
    )


@register(
    "dup_span_ranges_skewsafe",
    DUP_SPAN_RANGES_SQL,
    tags=("llm", "dedup", "skew"),
)
def q_dup_span_ranges_skewsafe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`dup_span_ranges` under the SKEW-SAFE regime (r6 verdict #4):
    identical output (same oracle SQL hash-checks both), but the
    duplicated-gram test runs as a salted two-level min/max aggregate
    — level 1 groups (h, hash(doc_id) % 32) so a dominant boilerplate
    gram splits across 32 reducer keys no matter how many documents
    carry it, level 2 folds the <= 32 partials per h — and survivors
    semi-join back against a second gram scan (join skew is
    AQE-splittable; window skew is not). This is the plan to pick on
    corpora with mega-duplicated boilerplate, where the default
    shape's single h-window partition becomes one multi-TB task; it
    pays a second gram scan for that guarantee (measured 2.3x at
    sf0.1 on this corpus's ORDINARY duplication profile — which is
    why it is the opt-in, not the default)."""
    from crane_spark.llm.dedup import dup_span_ranges

    return dup_span_ranges(
        fan_out(table(spark, sf_dir, "documents")), L=_DSR_L, skew_safe=True
    )
