"""Corpus-analysis queries for the training-data pipeline: vocabulary
building, within-document repetition scoring, benchmark-contamination
detection, and training-shard assignment — each with an exact DuckDB
oracle.

These are the remaining corpus-prep steps around chunking/packing
(queries/pipeline.py) and dedup (queries/llm.py): build the tokenizer
vocabulary, drop repetition-heavy documents (the Gopher-style quality
rule), verify the training set doesn't contain eval benchmarks, and
deal documents into stable shards for the training run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from crane_spark.functions.text import exploded_word_grams, gram_key, tokens
from crane_spark.llm.sampling import hash_bucket, sql_hash_bucket
from crane_spark.queries.core import register
from crane_spark.tables import fan_out, table

# --------------------------------------------------------------------
# Vocabulary build: term + document frequency, top-k
# --------------------------------------------------------------------

VOCAB_SQL = """
SELECT token, term_freq, doc_freq, rank
FROM (
  SELECT token, term_freq, doc_freq,
         CAST(row_number() OVER (ORDER BY term_freq DESC, token) AS BIGINT) AS rank
  FROM (
    SELECT token, count(*) AS term_freq, count(DISTINCT doc_id) AS doc_freq
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
    GROUP BY token
  )
)
WHERE rank <= 100
"""


@register("vocab_top_terms", VOCAB_SQL, tags=("llm", "text", "vocab", "agg"))
def q_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer vocabulary build: term frequency + document frequency
    per token, top-100 by frequency with a token tiebreak. Explode +
    one hash aggregate — map-side combine collapses each partition to
    its distinct tokens, so the shuffle is vocabulary-sized (bounded),
    not corpus-sized. The top-k is a TakeOrdered, not a global sort."""
    docs = table(spark, sf_dir, "documents")
    tok = fan_out(docs).select("doc_id", F.explode(tokens("text")).alias("token"))
    freq = tok.groupBy("token").agg(
        F.count(F.lit(1)).alias("term_freq"),
        F.count_distinct("doc_id").alias("doc_freq"),
    )
    top = freq.orderBy(F.desc("term_freq"), F.asc("token")).limit(100)
    w = Window.orderBy(F.desc("term_freq"), F.asc("token"))
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


# --------------------------------------------------------------------
# Within-document repetition (Gopher-style quality rule)
# --------------------------------------------------------------------

REPETITION_SQL = """
WITH grams AS (
  SELECT doc_id, g, count(*) AS cnt
  FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(string_split(text,' '))),
                  i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1])) AS g
    FROM documents
  )
  GROUP BY doc_id, g
)
SELECT doc_id,
       CAST(SUM(cnt) AS BIGINT) AS n_grams,
       CAST(MAX(cnt) AS BIGINT) AS top_gram_count,
       CAST(SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS DOUBLE) / SUM(cnt)
         AS dup_gram_ratio,
       CAST(CASE WHEN CAST(SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS DOUBLE)
                      / SUM(cnt) > 0.5 THEN 1 ELSE 0 END AS BIGINT) AS repetitive_flag
FROM grams
GROUP BY doc_id
"""


@register("doc_repetition", REPETITION_SQL, tags=("llm", "text", "quality"))
def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition scoring per document: the fraction of 2-grams that
    are repeats (the Gopher `duplicate n-gram fraction` quality rule)
    plus the most-repeated gram's count. Explode -> two chained hash
    aggregates, both with map-side combine; no joins, no window."""
    docs = table(spark, sf_dir, "documents")
    per_gram = (
        exploded_word_grams(fan_out(docs), 2, ["doc_id"], out="g")
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    dup = F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0))
    ratio = dup.cast("double") / F.sum("cnt")
    return per_gram.groupBy("doc_id").agg(
        F.sum("cnt").cast("long").alias("n_grams"),
        F.max("cnt").cast("long").alias("top_gram_count"),
        ratio.alias("dup_gram_ratio"),
        (ratio > 0.5).cast("long").alias("repetitive_flag"),
    )


# --------------------------------------------------------------------
# Benchmark contamination: training docs sharing 8-grams with the
# benchmark set
# --------------------------------------------------------------------

CONTAMINATION_SQL = """
WITH bench AS (
  SELECT DISTINCT md5(g) AS gh
  FROM (
    SELECT unnest(list_transform(range(1, len(string_split(text,' ')) - 6),
           i -> array_to_string(list_slice(string_split(text,' '), i, i+7), ' '))) AS g
    FROM documents WHERE doc_id < 20
  )
),
train AS (
  SELECT doc_id, md5(g) AS gh, n_grams
  FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(string_split(text,' ')) - 6),
           i -> array_to_string(list_slice(string_split(text,' '), i, i+7), ' '))) AS g,
           len(string_split(text,' ')) - 7 AS n_grams
    FROM documents WHERE doc_id >= 20
  )
)
SELECT doc_id,
       CAST(count(DISTINCT CASE WHEN bench.gh IS NOT NULL THEN train.gh END) AS BIGINT)
         AS n_contaminated_grams,
       CAST(count(DISTINCT CASE WHEN bench.gh IS NOT NULL THEN train.gh END) AS DOUBLE)
         / any_value(n_grams) AS contamination_ratio
FROM train LEFT JOIN bench ON train.gh = bench.gh
GROUP BY doc_id
HAVING count(DISTINCT CASE WHEN bench.gh IS NOT NULL THEN train.gh END) > 0
"""


@register("contamination_check", CONTAMINATION_SQL, tags=("llm", "dedup", "contamination"))
def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination: training documents that share any
    8-gram with the benchmark set (doc_id < 20 standing in for an eval
    suite), with the overlap count and ratio. The benchmark gram set is
    tiny next to the corpus — it BROADCASTS, so the training scan
    never shuffles: explode, hash-join against the broadcast set,
    aggregate with map-side combine."""
    docs = table(spark, sf_dir, "documents")
    toks = tokens("text")
    n = 8
    # gh is an INTERNAL gram identity (output is counts/ratios): a
    # single xxhash64 LONG replaces the 32-char md5 hex through the
    # broadcast table and the count-distinct agg (r10, guide §2.2).
    # 64 bits suffice HERE unlike the corpus-wide gram_key() shapes:
    # a collision only matters when a TRAIN gram collides with a
    # BENCH gram (falsely marking contamination) — expected cross
    # collisions ~|bench|x|train|/2^64 ~ 5e-3 even at a 10^13-gram
    # corpus against a 10^4-gram benchmark. The 96-bit struct form
    # was measured SLOWER on this broadcast-probe shape (struct
    # allocation per gram + struct hashing in the join/agg: paired
    # 1.0 -> 1.2-1.4 s), while the primitive long is at par locally
    # and strictly narrower at scale.
    bench = (
        exploded_word_grams(docs.filter(F.col("doc_id") < 20), n, [], out="g")
        .select(F.xxhash64("g").alias("gh"))
        .distinct()
    )
    train = exploded_word_grams(
        fan_out(docs.filter(F.col("doc_id") >= 20)).withColumn(
            "n_grams", (F.size(toks) - (n - 1)).cast("long")
        ),
        n,
        ["doc_id", "n_grams"],
        out="g",
    ).select("doc_id", "n_grams", F.xxhash64("g").alias("gh"))
    hits = train.join(F.broadcast(bench), "gh", "left_semi")
    return (
        hits.groupBy("doc_id")
        .agg(
            F.count_distinct("gh").alias("n_contaminated_grams"),
            (F.count_distinct("gh").cast("double") / F.first("n_grams")).alias(
                "contamination_ratio"
            ),
        )
    )


# --------------------------------------------------------------------
# Training-shard assignment (stable, layout-independent)
# --------------------------------------------------------------------

N_SHARDS = 16

SHARD_SQL = f"""
SELECT doc_id,
       CAST({sql_hash_bucket('doc_id', 'shard-v1')} % {N_SHARDS} AS BIGINT) AS shard,
       CAST(row_number() OVER (
         PARTITION BY {sql_hash_bucket('doc_id', 'shard-v1')} % {N_SHARDS}
         ORDER BY {sql_hash_bucket('doc_id', 'order-v1')}, doc_id
       ) AS BIGINT) AS pos
FROM documents
"""


@register("shard_assign", SHARD_SQL, tags=("llm", "sampling", "shard", "window"))
def q_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deal documents into {N_SHARDS} training shards with a stable
    intra-shard order: shard = content-hash mod N, position = rank of
    a second, independent content hash (the deterministic 'global
    shuffle' of a training run — same inputs, same epoch order, on any
    cluster). One shuffle on the shard key; at scale this is exactly
    the partitioned write of the tokenized dataset."""
    docs = table(spark, sf_dir, "documents")
    shard = (hash_bucket("doc_id", "shard-v1") % N_SHARDS).cast("long")
    order = hash_bucket("doc_id", "order-v1")
    w = Window.partitionBy("shard").orderBy("ord", "doc_id")
    return (
        docs.select("doc_id", shard.alias("shard"), order.alias("ord"))
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .select("doc_id", "shard", "pos")
    )


# --------------------------------------------------------------------
# Dedup clusters: LSH candidates -> exact-Jaccard verify -> connected
# components (the full near-dup removal pipeline)
# --------------------------------------------------------------------

from crane_spark.queries.llm import MINHASH_SQL, _sql_shingle3  # noqa: E402

_J_INTER = "len(list_filter(a.sh, x -> list_contains(b.sh, x)))"

DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE cand AS ({MINHASH_SQL}),
shs AS (
  SELECT doc_id, list_distinct({_sql_shingle3('toks')}) AS sh
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
  WHERE len(toks) >= 3
),
verified AS (
  SELECT c.doc_a, c.doc_b
  FROM cand c
  JOIN shs a ON c.doc_a = a.doc_id
  JOIN shs b ON c.doc_b = b.doc_id
  WHERE CAST({_J_INTER} AS DOUBLE)
          / (len(a.sh) + len(b.sh) - {_J_INTER}) >= 0.5
),
edges AS (
  SELECT doc_a AS s, doc_b AS t FROM verified
  UNION ALL
  SELECT doc_b AS s, doc_a AS t FROM verified
),
reach AS (
  SELECT DISTINCT s AS v, s AS label FROM edges
  UNION
  SELECT e.t AS v, r.label FROM reach r JOIN edges e ON e.s = r.v
)
SELECT doc_id, component_id,
       CAST(count(*) OVER (PARTITION BY component_id) AS BIGINT) AS n_members
FROM (SELECT v AS doc_id, min(label) AS component_id FROM reach GROUP BY v)
"""


@register("dedup_clusters", DEDUP_CLUSTERS_SQL, tags=("llm", "dedup", "graph", "lsh"))
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete near-dup removal pipeline: MinHash-LSH candidate
    pairs -> exact 3-gram-Jaccard verification (>= 0.5) -> connected
    components, so transitive chains (A~B~C without A~C) collapse into
    one group with one keeper (the min id). The oracle replays the
    identical pipeline with a recursive CTE for the closure. Each CC
    round is a join + min-aggregate; near-dup graphs converge in 2-3
    rounds."""
    from crane_spark.llm.dedup import (
        minhash_band_pairs,
        shingle_sets,
        verify_jaccard_pairs,
    )
    from crane_spark.operators.graph import connected_components
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    # Compute the candidate pairs once; then shingle ONLY the
    # documents that appear in a pair (broadcast semi-join pushdown) —
    # at corpus scale that's a few hundred docs, not the whole table,
    # and the shared frames are checkpointed so the a/b join sides
    # don't recompute them. LAZY checkpoints (r11, guide §1.2): the
    # eager form paid one standalone driver action per stage (cand,
    # sh) before the union-find's own count() — three serialized
    # action barriers for one pipeline. Lazily checkpointed, all
    # three materialize inside the count()'s single execution; block
    # locks make the multiply-referenced frames compute exactly once
    # (same rows — a checkpoint is identity on data).
    cand = minhash_band_pairs(docs).localCheckpoint(eager=False)
    ids = cand.select(
        F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
    ).distinct()
    sh = shingle_sets(
        docs.join(F.broadcast(ids), "doc_id", "left_semi"), "text", "doc_id", 3
    ).localCheckpoint(eager=False)
    verified = verify_jaccard_pairs(cand, sh, sh, 1, 2).select("doc_a", "doc_b")
    comps = connected_components(verified, "doc_a", "doc_b")
    w = Window.partitionBy("component_id")
    return comps.select(
        F.col("v").alias("doc_id"),
        "component_id",
        F.count(F.lit(1)).over(w).cast("long").alias("n_members"),
    )


# --------------------------------------------------------------------
# TF-IDF: top terms per document
# --------------------------------------------------------------------

TFIDF_SQL = """
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
df AS (SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY token),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.token,
         round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
  FROM tf JOIN df ON tf.token = df.token CROSS JOIN n
)
SELECT doc_id, token, tfidf, rank
FROM (SELECT doc_id, token, tfidf,
             CAST(row_number() OVER (PARTITION BY doc_id
                                     ORDER BY tfidf DESC, token) AS BIGINT) AS rank
      FROM scored)
WHERE rank <= 3
"""


@register("tfidf_top_terms", TFIDF_SQL, tags=("llm", "text", "tfidf", "window"))
def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 terms by tf-idf. The corpus tokenizes ONCE:
    the (doc, token) term-frequency table is materialized
    (localCheckpoint — at warehouse scale, the persisted tf table) and
    the document-frequency table derives from it with a plain count
    (tf rows are already distinct per doc, so no count_distinct
    expand and no second explode of the corpus). df is
    vocabulary-sized and BROADCASTS back onto the tf rows; the scalar
    corpus count rides the same broadcast. Scores round to 6 decimals
    before ranking with a token tiebreak (deterministic across
    engines)."""
    docs = table(spark, sf_dir, "documents")
    tok = fan_out(docs).select("doc_id", F.explode(tokens("text")).alias("token"))
    tf = (
        tok.groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    df = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df), "token")
        .join(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
    )


# --------------------------------------------------------------------
# Per-source boilerplate n-grams (the C4-style repeated-template
# signal: a 3-gram appearing in a large fraction of one source's
# documents is navigation/footer/boilerplate, not content).
# --------------------------------------------------------------------

BOILERPLATE_SQL = """
WITH g AS (
  SELECT source, doc_id,
         unnest(list_distinct(list_transform(range(1, len(string_split(text,' ')) - 1),
                i -> array_to_string(list_slice(string_split(text,' '), i, i+2), ' ')))) AS gram
  FROM documents
),
df AS (SELECT source, gram, CAST(count(*) AS BIGINT) AS n_docs FROM g GROUP BY 1, 2),
tot AS (SELECT source, count(DISTINCT doc_id) AS total FROM documents GROUP BY 1)
SELECT source, gram, n_docs,
       round(CAST(n_docs AS DOUBLE) / total, 6) AS df_ratio
FROM df JOIN tot USING (source)
WHERE CAST(n_docs AS DOUBLE) / total >= 0.08 AND n_docs >= 2
"""


@register("boilerplate_ngrams", BOILERPLATE_SQL, tags=("llm", "text", "quality"))
def q_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate 3-grams per source: grams present in >= 8% of a
    source's documents. Distinct-per-doc grams collapse BEFORE the
    shuffle (array_distinct inside the row), the (source, gram)
    aggregate map-side combines, and the per-source totals table is
    #sources rows — it broadcasts. At 100 TB the output feeds the
    template-stripping pass; nothing here holds more than a
    vocabulary-sized table per task."""
    docs = table(spark, sf_dir, "documents")
    # Kept as an in-row lambda deliberately: the per-doc array_distinct
    # collapses repeats BEFORE the explode, and this lambda only
    # concatenates element_ats (no array build per element) — measured
    # a wash vs the explode-first form, which pays an extra distinct
    # shuffle (0.87s vs 0.91s at sf0.1).
    toks = F.split("text", " ")
    grams3 = F.array_distinct(
        F.transform(
            F.slice(toks, 1, F.greatest(F.size(toks) - 2, F.lit(0))),
            lambda _, i: F.concat_ws(
                " ",
                F.element_at(toks, i + 1),
                F.element_at(toks, i + 2),
                F.element_at(toks, i + 3),
            ),
        )
    )
    g = fan_out(docs).select(
        "source", "doc_id", F.explode(grams3).alias("gram")
    )
    df = g.groupBy("source", "gram").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = docs.groupBy("source").agg(
        F.count_distinct("doc_id").alias("total")
    )
    ratio = F.col("n_docs").cast("double") / F.col("total")
    return (
        df.join(F.broadcast(tot), "source")
        .filter((ratio >= 0.08) & (F.col("n_docs") >= 2))
        .select("source", "gram", "n_docs", F.round(ratio, 6).alias("df_ratio"))
    )


# --------------------------------------------------------------------
# Cross-source overlap matrix: shared 8-grams between every source pair
# --------------------------------------------------------------------

SOURCE_OVERLAP_SQL = """
WITH spans AS (
  SELECT DISTINCT source, md5(g) AS gh
  FROM (
    SELECT source,
           unnest(list_transform(range(1, len(string_split(text,' ')) - 6),
           i -> array_to_string(list_slice(string_split(text,' '), i, i+7), ' '))) AS g
    FROM documents
  )
)
SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared_grams
FROM spans a JOIN spans b ON a.gh = b.gh AND a.source < b.source
GROUP BY 1, 2
"""


@register("source_overlap_matrix", SOURCE_OVERLAP_SQL, tags=("llm", "dedup", "contamination", "profile"))
def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cross-source duplication matrix: for every pair of
    sources, the number of distinct 8-grams both contain — the feed-
    level contamination picture (which crawls re-serve each other).
    NOT a pairwise scan: the gram stream goes through ONE exchange —
    groupBy(gh) with sort_array(collect_set(source)) dedups sources
    per gram AND builds the bucket in the same aggregate (map-side
    partial collect_set combines before the shuffle, so the exchange
    carries per-partition source sets, not gram occurrences; the old
    shape paid a (source, gh) distinct exchange and then a second
    regroup by gh — same values, r8: 2.34 -> 1.89 s at sf1, half the
    exchanges on a cluster). Pairs then generate INSIDE each gram's
    source-bucket (sorted in-array combinations, the LSH bucket
    idiom), so a gram shared by k of the S sources costs k^2/2 pair
    rows once — never S separate comparisons of corpus data. The
    oracle states the quadratic join; shuffles here carry 16-byte
    hashes plus S-bounded source sets only."""
    docs = fan_out(table(spark, sf_dir, "documents"))
    n = 8
    # gh is an INTERNAL gram identity (output is per-source-pair
    # counts): the 96-bit gram_key struct replaces the 32-char md5
    # hex through the groupBy(gh) exchange — the r10 narrowing
    # (guide §2.2), applied to the one site it missed. 12 bytes per
    # gram instead of ~48 through the main shuffle; the oracle
    # compares the pair-count matrix, which any injective-in-practice
    # key reproduces (outputs bit-compared at sf0.001/sf0.01/sf0.1).
    spans = exploded_word_grams(docs, n, ["source"], out="g").select(
        "source", gram_key("g").alias("gh")
    )
    buckets = spans.groupBy("gh").agg(
        F.sort_array(F.collect_set("source")).alias("srcs")
    )
    pairs = F.expr(
        "flatten(transform(srcs, (x, i) -> "
        "transform(slice(srcs, i + 2, size(srcs) - i - 1), "
        "y -> struct(x AS src_a, y AS src_b))))"
    )
    return (
        buckets.filter(F.size("srcs") > 1)
        .select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.src_a").alias("src_a"), F.col("p.src_b").alias("src_b"))
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )
