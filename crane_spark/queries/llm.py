"""LLM-data-pipeline queries over `documents` and `embeddings`
(dedup, similarity search, text analysis) with DuckDB oracles.

The oracle SQL reproduces each signature bit-for-bit (md5/sha256 on
strings, integer arithmetic, fixed-order double dot products rounded
to 4 decimals), so even the MinHash/SimHash pipelines hash-match.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from crane_spark.functions.text import SQL_STOPWORDS, STOPWORDS, stopword_ratio, tokens
from crane_spark.llm.dedup import (
    N_BANDS,
    N_MINHASH,
    SIMHASH_BITS,
    exact_dedup,
    fingerprint_dedup,
    minhash_band_pairs,
    ngram_jaccard_pairs,
    prefix_filter_jaccard_pairs,
    simhash_groups,
)
from crane_spark.llm.similarity import brute_force_topk, ivf_assign
from crane_spark.queries.core import register
from crane_spark.tables import fan_out, table

EMBED_DIM = 64

EXACT_DEDUP_SQL = """
SELECT sha256(text) AS text_hash, count(*) AS n_copies, min(doc_id) AS keeper_doc_id
FROM documents
GROUP BY text_hash
"""


@register("exact_dedup", EXACT_DEDUP_SQL, tags=("llm", "dedup"))
def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(table(spark, sf_dir, "documents"))


FINGERPRINT_SQL = """
SELECT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fingerprint,
       count(*) AS n_copies, min(doc_id) AS keeper_doc_id
FROM documents
GROUP BY fingerprint
"""


@register("fingerprint_dedup", FINGERPRINT_SQL, tags=("llm", "dedup"))
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fingerprint_dedup(table(spark, sf_dir, "documents"))


TEXT_STATS_SQL = """
SELECT lang,
       count(*) AS n_docs,
       CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
       CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / COUNT(*) AS avg_tokens,
       min(n_chars) AS min_chars,
       max(n_chars) AS max_chars
FROM documents
GROUP BY lang
"""


@register("text_stats", TEXT_STATS_SQL, tags=("llm", "text", "agg"))
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    n = F.count(F.lit(1))
    return docs.groupBy("lang").agg(
        n.alias("n_docs"),
        (F.sum("n_chars").cast("double") / n).alias("avg_chars"),
        (F.sum(F.size(tokens("text"))).cast("double") / n).alias("avg_tokens"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


DOC_QUALITY_SQL = """
WITH t AS (SELECT doc_id, n_chars, string_split(text, ' ') AS toks FROM documents)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
       CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr,
       CAST(n_chars AS DOUBLE) / len(toks) AS chars_per_token,
       CAST(CASE WHEN len(toks) >= 20 AND len(toks) <= 1000
                  AND CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) >= 0.4
            THEN 1 ELSE 0 END AS BIGINT) AS quality_flag
FROM t
"""


@register("doc_quality", DOC_QUALITY_SQL, tags=("llm", "text"))
def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality scoring: token count, type-token ratio,
    chars-per-token, and a keep/drop flag — all codegen, no shuffle."""
    docs = table(spark, sf_dir, "documents")
    toks = tokens("text")
    n_tok = F.size(toks)
    n_dis = F.size(F.array_distinct(toks))
    ttr = n_dis.cast("double") / n_tok
    flag = (
        F.when((n_tok >= 20) & (n_tok <= 1000) & (ttr >= 0.4), 1).otherwise(0)
    )
    return docs.select(
        "doc_id",
        n_tok.cast("long").alias("n_tokens"),
        n_dis.cast("long").alias("n_distinct"),
        ttr.alias("ttr"),
        (F.col("n_chars").cast("double") / n_tok).alias("chars_per_token"),
        flag.cast("long").alias("quality_flag"),
    )


LANG_ID_SQL = f"""
WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents)
SELECT doc_id, lang,
       CAST(len(list_filter(toks, t -> t IN {SQL_STOPWORDS})) AS DOUBLE)
         / greatest(len(toks), 1) AS stopword_ratio,
       CASE WHEN CAST(len(list_filter(toks, t -> t IN {SQL_STOPWORDS})) AS DOUBLE)
                   / greatest(len(toks), 1) >= 0.05
            THEN 'en' ELSE 'other' END AS pred_lang
FROM t
"""


@register("lang_id_stopwords", LANG_ID_SQL, tags=("llm", "text"))
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram-free language-ID heuristic: stopword density. The array
    lambda (filter + isin) runs inside codegen — no explode."""
    docs = table(spark, sf_dir, "documents")
    toks = tokens("text")
    ratio = stopword_ratio(toks)
    return docs.select(
        "doc_id",
        "lang",
        ratio.alias("stopword_ratio"),
        F.when(ratio >= 0.05, "en").otherwise("other").alias("pred_lang"),
    )


def _sql_shingle3(toks: str) -> str:
    return (
        f"list_transform(range(1, len({toks}) - 1), "
        f"i -> {toks}[i] || ' ' || {toks}[i+1] || ' ' || {toks}[i+2])"
    )


def _sql_minhash(seed: int) -> str:
    return f"list_aggregate(list_transform(sh, x -> md5('{seed}:' || x)), 'min')"


_BAND_SELECTS = "\nUNION ALL\n".join(
    f"SELECT doc_id, {b} AS band, md5(m{2 * b} || '|' || m{2 * b + 1}) AS band_key FROM sig"
    for b in range(N_BANDS)
)

MINHASH_SQL = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
s AS (SELECT doc_id, {_sql_shingle3('toks')} AS sh FROM t WHERE len(toks) >= 3),
sig AS (SELECT doc_id,
        {', '.join(f'{_sql_minhash(s)} AS m{s}' for s in range(N_MINHASH))}
        FROM s),
bands AS ({_BAND_SELECTS})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
WHERE a.doc_id < b.doc_id
"""


@register("minhash_lsh_pairs", MINHASH_SQL, tags=("llm", "dedup", "lsh"))
def q_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs (8 hashes, 4 bands of 2): the
    shuffle carries only (doc_id, band_key); pairs come from bucket
    self-joins, never an all-pairs product."""
    return minhash_band_pairs(table(spark, sf_dir, "documents"))


JACCARD_SQL = """
WITH d AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(string_split(text,' '))),
                        i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1])) AS sh
  FROM documents WHERE doc_id < 40
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS BIGINT) AS n_common,
       CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE)
         / (len(a.sh) + len(b.sh) - len(list_filter(a.sh, x -> list_contains(b.sh, x)))) AS jaccard
FROM d a JOIN d b ON a.doc_id < b.doc_id
WHERE len(a.sh) > 0 AND len(b.sh) > 0
"""


@register("ngram_jaccard", JACCARD_SQL, tags=("llm", "dedup"))
def q_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 2-gram Jaccard over a bounded candidate set (doc_id < 40
    here; in the pipeline, the LSH candidates)."""
    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    return ngram_jaccard_pairs(docs, shingle_n=2)


def _sql_simhash() -> str:
    hexd = "0123456789abcdef"
    hv = " + ".join(
        f"(strpos('{hexd}', substring(md5(token), {i + 1}, 1)) - 1) * {16 ** (3 - i)}"
        for i in range(4)
    )
    votes = ", ".join(
        f"SUM(CASE WHEN (hv >> {j}) & 1 = 1 THEN cnt ELSE -cnt END) AS s{j}"
        for j in range(SIMHASH_BITS)
    )
    sim = " + ".join(f"(CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(SIMHASH_BITS))
    return f"""
WITH tok AS (
  SELECT doc_id, token, count(*) AS cnt
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
  GROUP BY doc_id, token
),
h AS (SELECT doc_id, cnt, {hv} AS hv FROM tok),
bits AS (SELECT doc_id, {votes} FROM h GROUP BY doc_id)
SELECT simhash, count(*) AS n_docs, min(doc_id) AS keeper_doc_id
FROM (SELECT doc_id, CAST({sim} AS BIGINT) AS simhash FROM bits)
GROUP BY simhash
"""


@register("simhash_groups", _sql_simhash(), tags=("llm", "dedup"))
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_groups(table(spark, sf_dir, "documents"))


def _sql_dot(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(range(1, {EMBED_DIM + 1}), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    )


def _sql_norm(a: str) -> str:
    return (
        f"sqrt(list_sum(list_transform(range(1, {EMBED_DIM + 1}), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE))))"
    )


TOPK_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
sims AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         round({_sql_dot('q.qv', 'e.embedding')}
               / ({_sql_norm('q.qv')} * {_sql_norm('e.embedding')}), 4) AS cosine
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, cosine, rn FROM (
  SELECT query_id, neighbor_id, cosine,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rn
  FROM sims
) WHERE rn <= 3
"""


@register("embedding_topk", TOPK_SQL, tags=("llm", "similarity"))
def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-3 for 5 query vectors against the corpus
    (broadcast queries; exact baseline for the IVF path)."""
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return brute_force_topk(queries, emb, k=3).select(
        "query_id", "neighbor_id", "cosine", "rn"
    )


IVF_SQL = f"""
WITH c AS (SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings WHERE vec_id < 10),
v AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 10),
sims AS (
  SELECT v.vec_id, c.centroid_id,
         round({_sql_dot('v.embedding', 'c.cv')}
               / ({_sql_norm('v.embedding')} * {_sql_norm('c.cv')}), 4) AS cosine
  FROM v CROSS JOIN c
),
assigned AS (
  SELECT vec_id, centroid_id, cosine,
         row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, centroid_id) AS rn
  FROM sims
)
SELECT centroid_id, count(*) AS n_assigned,
       CAST(SUM(CAST(cosine AS DECIMAL(28,4))) AS DOUBLE) / COUNT(*) AS avg_cosine
FROM assigned WHERE rn = 1
GROUP BY centroid_id
"""


@register("ivf_centroid_assign", IVF_SQL, tags=("llm", "similarity", "ivf"))
def q_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse quantization step: nearest-centroid assignment (the
    partitioning that turns ANN scans into per-cell probes at scale)."""
    emb = table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    vectors = emb.filter(F.col("vec_id") >= 10)
    assigned = ivf_assign(vectors, centroids)
    n = F.count(F.lit(1))
    return assigned.groupBy("centroid_id").agg(
        n.alias("n_assigned"),
        (F.sum(F.col("cosine").cast("decimal(28,4)")).cast("double") / n).alias("avg_cosine"),
    )


WINNOW_SQL = """
WITH grams AS (
  SELECT doc_id, md5(substring(text, pos, 8)) AS h
  FROM (SELECT doc_id, text,
               unnest(range(1, greatest(length(text) - 7, 1) + 1)) AS pos
        FROM documents)
),
sampled AS (SELECT DISTINCT doc_id, h FROM grams WHERE substring(h, 1, 1) = '0'),
fp AS (
  SELECT doc_id,
         md5(string_agg(h, '|' ORDER BY h)) AS fingerprint,
         count(*) AS n_sampled
  FROM sampled GROUP BY doc_id
)
SELECT fingerprint, count(*) AS n_docs, min(doc_id) AS keeper_doc_id,
       min(n_sampled) AS n_sampled
FROM fp GROUP BY fingerprint
"""


@register("winnow_fingerprints", WINNOW_SQL, tags=("llm", "dedup", "rolling-hash"))
def q_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash (0-mod-p sampled k-gram) fingerprint dedup."""
    from crane_spark.llm.dedup import winnow_fingerprints

    return winnow_fingerprints(table(spark, sf_dir, "documents"))


POSEXPLODE_SQL = """
SELECT doc_id, CAST(u.pos AS BIGINT) AS pos, u.token AS token
FROM (
  SELECT doc_id,
         unnest(list_transform(range(1, len(string_split(text, ' ')) + 1),
                i -> {'pos': i, 'token': string_split(text, ' ')[i]})) AS u
  FROM documents WHERE doc_id < 20
)
"""


@register("posexplode_tokens", POSEXPLODE_SQL, tags=("arrays", "udtf"))
def q_posexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDTF-shaped lateral expansion: one row per (position, token)
    (posexplode; 1-based to align with the SQL oracle)."""
    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    return docs.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos0", "token")
    ).select("doc_id", (F.col("pos0") + 1).cast("long").alias("pos"), "token")


def _sql_simhash_values() -> str:
    hexd = "0123456789abcdef"
    hv = " + ".join(
        f"(strpos('{hexd}', substring(md5(token), {i + 1}, 1)) - 1) * {16 ** (3 - i)}"
        for i in range(4)
    )
    votes = ", ".join(
        f"SUM(CASE WHEN (hv >> {j}) & 1 = 1 THEN cnt ELSE -cnt END) AS s{j}"
        for j in range(SIMHASH_BITS)
    )
    sim = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(SIMHASH_BITS)
    )
    return f"""
  SELECT doc_id, CAST({sim} AS BIGINT) AS simhash
  FROM (
    SELECT doc_id, {votes}
    FROM (SELECT doc_id, cnt, {hv} AS hv
          FROM (SELECT doc_id, token, count(*) AS cnt
                FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
                GROUP BY doc_id, token))
    GROUP BY doc_id)
"""


HAMMING_SQL = f"""
WITH sims AS ({_sql_simhash_values()})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sims a JOIN sims b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
"""


@register("simhash_hamming_pairs", HAMMING_SQL, tags=("llm", "dedup", "lsh"))
def q_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at Hamming distance <= 1 via bit-flip
    multi-probing (17 probe rows per doc, one shuffle — never an
    all-pairs XOR scan; the oracle computes the same pair set the
    brute-force way, which is exactly what an oracle is for)."""
    from crane_spark.llm.dedup import simhash_hamming_pairs

    return simhash_hamming_pairs(table(spark, sf_dir, "documents"))


NORMALIZED_DEDUP_SQL = """
SELECT sha256(regexp_replace(lower(trim(text)), ' +', ' ', 'g')) AS norm_hash,
       count(*) AS n_copies,
       min(doc_id) AS keeper_doc_id
FROM documents
GROUP BY norm_hash
"""


@register("normalized_dedup", NORMALIZED_DEDUP_SQL, tags=("llm", "dedup", "text"))
def q_normalized_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-then-hash dedup: lowercase, trim, collapse runs of
    spaces — the canonicalization pass that runs before exact hashing
    in a real ingest pipeline."""
    docs = table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), " +", " ")
    return (
        docs.select(F.sha2(norm, 256).alias("norm_hash"), "doc_id")
        .groupBy("norm_hash")
        .agg(F.count(F.lit(1)).alias("n_copies"), F.min("doc_id").alias("keeper_doc_id"))
    )


EXPLODE_OUTER_SQL = """
WITH t AS (
  SELECT doc_id,
         CASE WHEN len(string_split(text,' ')) >= 15
              THEN list_transform(range(1, len(string_split(text,' ')) - 13),
                     i -> string_split(text,' ')[i])
              ELSE [] END AS heads
  FROM documents WHERE doc_id < 30
)
SELECT doc_id, u AS head_token
FROM (SELECT doc_id,
             unnest(CASE WHEN len(heads) = 0 THEN [NULL] ELSE heads END) AS u
      FROM t)
"""


@register("explode_outer_tokens", EXPLODE_OUTER_SQL, tags=("arrays", "udtf"))
def q_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode_outer: documents whose array is empty survive as a null
    row instead of vanishing (the outer-lateral semantics; the oracle
    emulates it with a [NULL] substitution)."""
    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 30)
    toks = tokens("text")
    heads = F.when(
        F.size(toks) >= 15, F.slice(toks, 1, F.size(toks) - 14)
    ).otherwise(F.array().cast("array<string>"))
    return docs.select("doc_id", F.explode_outer(heads).alias("head_token"))


TOKEN_COUNTS_SQL = """
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS bpe_ish_tokens,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_nonspace_chars
FROM documents
"""


@register("token_counts", TOKEN_COUNTS_SQL, tags=("llm", "text", "tokenize"))
def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace tokens and a BPE-ish regex
    segmentation (letter runs / digit runs / single other chars) — the
    pre-tokenizer shape of byte-pair encoders, all in codegen."""
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(tokens("text")).cast("long").alias("ws_tokens"),
        F.regexp_count(F.col("text"), F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]")).cast("long").alias(
            "bpe_ish_tokens"
        ),
        F.length("text").cast("long").alias("n_chars"),
        F.length(F.regexp_replace("text", " ", "")).cast("long").alias("n_nonspace_chars"),
    )


NEAR_DUP_SQL = f"""
WITH c AS (SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings WHERE vec_id < 10),
v AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 10),
sims AS (
  SELECT v.vec_id, c.centroid_id,
         round({{dot}} / ({{vnorm}} * {{cnorm}}), 4) AS cosine
  FROM v CROSS JOIN c
),
assigned AS (
  SELECT vec_id, centroid_id
  FROM (SELECT vec_id, centroid_id,
               row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, centroid_id) AS rn
        FROM sims)
  WHERE rn = 1
),
cell AS (
  SELECT a.vec_id, a.centroid_id,
         list_transform(range(1, {{dim1}}),
                        i -> CAST(e.embedding[i] AS DOUBLE) / {{enorm}}) AS vn
  FROM assigned a JOIN embeddings e ON a.vec_id = e.vec_id
)
SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
       round({{vndot}}, 4) AS cosine
FROM cell x JOIN cell y ON x.centroid_id = y.centroid_id AND x.vec_id < y.vec_id
WHERE round({{vndot}}, 4) >= 0.35
""".format(
    dot=_sql_dot("v.embedding", "c.cv"),
    vnorm=_sql_norm("v.embedding"),
    cnorm=_sql_norm("c.cv"),
    dim1=EMBED_DIM + 1,
    enorm=_sql_norm("e.embedding"),
    vndot=f"list_sum(list_transform(range(1, {EMBED_DIM + 1}), i -> x.vn[i] * y.vn[i]))",
)


@register("embedding_near_dup", NEAR_DUP_SQL, tags=("llm", "dedup", "similarity", "ivf"))
def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup, IVF-bucketed: pairs compared only
    within their centroid cell (the synthetic embeddings are random, so
    the 0.35 threshold stands in for the ~0.9 of a real corpus)."""
    from crane_spark.llm.similarity import cosine_near_dup_pairs

    emb = table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    vectors = emb.filter(F.col("vec_id") >= 10)
    return cosine_near_dup_pairs(vectors, centroids, threshold=0.35)


# Sampled oracle twin (see prefix_jaccard_sampled): a deterministic
# 1/23 vec_id slice (centroids kept) so the in-cell pair oracle stays
# tractable at rungs where cells hold thousands of vectors each.
NEAR_DUP_SAMPLED_SQL = (
    "WITH embeddings_s AS "
    "(SELECT * FROM embeddings WHERE vec_id < 10 OR vec_id % 23 = 0),"
    + NEAR_DUP_SQL.replace("FROM embeddings", "FROM embeddings_s")
    .replace("JOIN embeddings e", "JOIN embeddings_s e")
    .strip()
    .removeprefix("WITH")
)


@register(
    "embedding_near_dup_sampled",
    NEAR_DUP_SAMPLED_SQL,
    tags=("llm", "dedup", "similarity", "ivf", "sampled"),
)
def q_embedding_near_dup_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`embedding_near_dup` on a deterministic 1/23 vec_id slice
    (centroid ids always kept) — the sampled oracle twin for big
    rungs."""
    from crane_spark.llm.similarity import cosine_near_dup_pairs

    emb = table(spark, sf_dir, "embeddings").filter(
        (F.col("vec_id") < 10) | (F.col("vec_id") % 23 == 0)
    )
    centroids = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    vectors = emb.filter(F.col("vec_id") >= 10)
    return cosine_near_dup_pairs(vectors, centroids, threshold=0.35)


SEMANTIC_DEDUP_SQL = f"""
WITH c AS (SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings WHERE vec_id < 10),
v AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 10),
sims AS (
  SELECT v.vec_id, c.centroid_id,
         round({{dot}} / ({{vnorm}} * {{cnorm}}), 4) AS cosine
  FROM v CROSS JOIN c
),
assigned AS (
  SELECT vec_id, centroid_id
  FROM (SELECT vec_id, centroid_id,
               row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, centroid_id) AS rn
        FROM sims)
  WHERE rn = 1
),
cell AS (
  SELECT a.vec_id, a.centroid_id,
         list_transform(range(1, {{dim1}}),
                        i -> CAST(e.embedding[i] AS DOUBLE) / {{enorm}}) AS vn
  FROM assigned a JOIN embeddings e ON a.vec_id = e.vec_id
),
dropped AS (
  SELECT DISTINCT y.vec_id
  FROM cell x JOIN cell y ON x.centroid_id = y.centroid_id AND x.vec_id < y.vec_id
  WHERE round({{vndot}}, 4) >= 0.35
)
SELECT a.vec_id, a.centroid_id,
       CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
FROM assigned a LEFT JOIN dropped d ON a.vec_id = d.vec_id
""".format(
    dot=_sql_dot("v.embedding", "c.cv"),
    vnorm=_sql_norm("v.embedding"),
    cnorm=_sql_norm("c.cv"),
    dim1=EMBED_DIM + 1,
    enorm=_sql_norm("e.embedding"),
    vndot=f"list_sum(list_transform(range(1, {EMBED_DIM + 1}), i -> x.vn[i] * y.vn[i]))",
)


@register("semantic_dedup", SEMANTIC_DEDUP_SQL, tags=("llm", "dedup", "similarity", "ivf"))
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: cluster embeddings into IVF
    cells, then drop any vector with a lower-id near-duplicate
    (cosine >= 0.35 stands in for a real corpus's ~0.9) in its cell —
    the keeper policy layered over `embedding_near_dup`'s pair
    detection, emitting one (vec_id, cell, kept) row per vector."""
    from crane_spark.llm.similarity import semantic_dedup_keep

    emb = table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    vectors = emb.filter(F.col("vec_id") >= 10)
    return semantic_dedup_keep(vectors, centroids, threshold=0.35)


ARRAY_SQL = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(CASE WHEN list_contains(toks, 'spark') THEN 1 ELSE 0 END AS BIGINT) AS has_spark,
       toks[1] AS first_token,
       list_sort(list_distinct(toks))[1] AS min_token
FROM t
"""


@register("array_funcs", ARRAY_SQL, tags=("arrays", "projection"))
def q_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = tokens("text")
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.array_contains(toks, "spark").cast("long").alias("has_spark"),
        F.element_at(toks, 1).alias("first_token"),
        F.array_min(F.array_distinct(toks)).alias("min_token"),
    )


# --------------------------------------------------------------------
# Deterministic sampling / dataset splits (llm/sampling.py)
# --------------------------------------------------------------------

from crane_spark.llm.sampling import (  # noqa: E402
    deterministic_sample,
    hash_bucket,
    sql_hash_bucket,
    train_test_split,
    stratified_sample,
)

SAMPLE_SQL = f"""
SELECT doc_id, lang, source
FROM documents
WHERE {sql_hash_bucket('doc_id', 'corpus-v1')} < 6553
"""


@register("deterministic_sample", SAMPLE_SQL, tags=("llm", "sampling"))
def q_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~10% content-hash sample of the corpus: the same doc_ids are
    kept on ANY partitioning, cluster size, or engine — unlike
    df.sample(), whose per-partition RNG is layout-dependent. A pure
    scan predicate: no shuffle, streams through 100 TB untouched."""
    docs = table(spark, sf_dir, "documents")
    return deterministic_sample(docs, "doc_id", 0.1, salt="corpus-v1").select(
        "doc_id", "lang", "source"
    )


SPLIT_SQL = f"""
SELECT split, count(*) AS n_docs, min(doc_id) AS min_doc, max(doc_id) AS max_doc
FROM (
  SELECT doc_id,
         CASE WHEN {sql_hash_bucket('doc_id', 'split')} < 6553
              THEN 'test' ELSE 'train' END AS split
  FROM documents
)
GROUP BY split
"""


@register("train_test_split", SPLIT_SQL, tags=("llm", "sampling"))
def q_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable 90/10 train/test split by content hash: membership is a
    property of the row, not of the run. Verified by per-split counts
    and id ranges."""
    docs = table(spark, sf_dir, "documents")
    return (
        train_test_split(docs, "doc_id", test_fraction=0.1)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


STRATIFIED_SQL = f"""
SELECT lang, count(*) AS n_kept
FROM documents
WHERE {sql_hash_bucket('doc_id', 'strat')} <
      CASE lang WHEN 'en' THEN 13107 WHEN 'de' THEN 32768 ELSE 3276 END
GROUP BY lang
"""


@register("stratified_sample", STRATIFIED_SQL, tags=("llm", "sampling"))
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language sampling rates over one shared hash (en 20%,
    de 50%, everything else 5%) — the downsample-the-overrepresented
    knob of a corpus build, still fully deterministic."""
    docs = table(spark, sf_dir, "documents")
    return (
        stratified_sample(
            docs,
            "doc_id",
            "lang",
            {"en": 0.2, "de": 0.5},
            default_fraction=0.05,
            salt="strat",
        )
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )


# --------------------------------------------------------------------
# Scalar (int8) embedding quantization — the 4x storage compression
# that makes a 100 TB float32 vector store a 25 TB int8 one. Per-vector
# affine quantization: codes = round((x - min) / scale) in 0..255,
# reconstruction x' = min + code * scale. Everything is elementwise,
# in-order arithmetic, so the two engines agree bit-for-bit; the MSE
# rounds before output as the usual cross-engine guard.
# --------------------------------------------------------------------

_Q_ELEMS = f"list_transform(range(1, {EMBED_DIM + 1}), i -> CAST(embedding[i] AS DOUBLE))"

INT8_QUANT_SQL = f"""
WITH spans AS (
  SELECT vec_id, xs, list_min(xs) AS mn,
         (list_max(xs) - list_min(xs)) / 255 AS scale
  FROM (SELECT vec_id, {_Q_ELEMS} AS xs FROM embeddings)
),
coded AS (
  SELECT vec_id, xs, mn, scale,
         list_transform(xs, x -> CAST(round((x - mn) / scale) AS INTEGER)) AS codes
  FROM spans
)
SELECT vec_id,
       round(mn, 6) AS q_min,
       round(mn + 255 * scale, 6) AS q_max,
       array_to_string(list_slice(codes, 1, 8), ',') AS codes_head,
       round(list_sum(list_transform(range(1, {EMBED_DIM + 1}),
             i -> pow(xs[i] - (mn + codes[i] * scale), 2))) / {EMBED_DIM}, 10)
         AS mse
FROM coded
"""


@register("int8_quantize", INT8_QUANT_SQL, tags=("llm", "similarity", "quantize"))
def q_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 scalar quantization with reconstruction error.

    One narrow pass over the vector column — no shuffle at all; at
    warehouse scale this is the map-only job that rewrites the
    embedding store at 1/4 size (plus a per-vector (min, scale)
    header), and brute-force/IVF scans then run on int8 codes. The
    synthetic embeddings never collapse to a constant vector, so
    scale > 0; a production build would nullif-guard the division.
    Codes surface as a joined string (head) because array columns
    hash differently across engines."""
    emb = table(spark, sf_dir, "embeddings")
    xs = F.transform("embedding", lambda x: x.cast("double"))
    spans = emb.select(
        "vec_id",
        xs.alias("xs"),
        F.array_min(xs).alias("mn"),
        ((F.array_max(xs) - F.array_min(xs)) / F.lit(255)).alias("scale"),
    )
    codes = F.transform(
        "xs",
        lambda x: F.round((x - F.col("mn")) / F.col("scale")).cast("int"),
    )
    coded = spans.select("vec_id", "xs", "mn", "scale", codes.alias("codes"))
    sq_err = F.zip_with(
        "xs",
        "codes",
        lambda x, c: F.pow(x - (F.col("mn") + c * F.col("scale")), F.lit(2)),
    )
    return coded.select(
        "vec_id",
        F.round("mn", 6).alias("q_min"),
        F.round(F.col("mn") + F.lit(255) * F.col("scale"), 6).alias("q_max"),
        F.array_join(F.slice("codes", 1, 8), ",").alias("codes_head"),
        F.round(
            F.aggregate(sq_err, F.lit(0.0), lambda acc, x: acc + x)
            / F.lit(EMBED_DIM),
            10,
        ).alias("mse"),
    )


# --------------------------------------------------------------------
# ANN over the quantized store: the search half of int8_quantize.
# Queries and corpus both run on int8-RECONSTRUCTED vectors, which is
# exactly what a production scan over a quantized index computes —
# recall degrades only by the quantization error (test-bounded vs the
# exact float path).
# --------------------------------------------------------------------

_Q_RECON_CTE = f"""
recon AS (
  SELECT vec_id,
         list_transform(xs, x -> mn + round((x - mn) / scale) * scale) AS rv
  FROM (
    SELECT vec_id, xs, list_min(xs) AS mn,
           (list_max(xs) - list_min(xs)) / 255 AS scale
    FROM (SELECT vec_id, {_Q_ELEMS} AS xs FROM embeddings)
  )
)
"""

INT8_TOPK_SQL = f"""
WITH {_Q_RECON_CTE},
q AS (SELECT vec_id AS query_id, rv AS qv FROM recon WHERE vec_id < 5),
sims AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         round({_sql_dot('q.qv', 'e.rv')}
               / ({_sql_norm('q.qv')} * {_sql_norm('e.rv')}), 4) AS cosine
  FROM recon e CROSS JOIN q
  WHERE e.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, cosine, rn FROM (
  SELECT query_id, neighbor_id, cosine,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rn
  FROM sims
) WHERE rn <= 3
"""


@register("int8_topk", INT8_TOPK_SQL, tags=("llm", "similarity", "quantize"))
def q_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-3 on the int8-reconstructed store (5
    query vectors, self-matches excluded). Same plan shape as
    `embedding_topk` — broadcast queries, one narrow scored pass, a
    per-query top-k window — with the dequantization fused into the
    scan projection (map-only, codegen'd arithmetic; at scale the
    codes stream from a store 1/4 the size of the float one)."""
    from crane_spark.llm.similarity import brute_force_topk

    emb = table(spark, sf_dir, "embeddings")
    xs = F.transform("embedding", lambda x: x.cast("double"))
    spans = emb.select(
        "vec_id",
        xs.alias("xs"),
        F.array_min(xs).alias("mn"),
        ((F.array_max(xs) - F.array_min(xs)) / F.lit(255)).alias("scale"),
    )
    recon = spans.select(
        "vec_id",
        F.transform(
            "xs",
            lambda x: F.col("mn")
            + F.round((x - F.col("mn")) / F.col("scale")) * F.col("scale"),
        ).alias("embedding"),
    )
    return brute_force_topk(
        recon.filter(F.col("vec_id") < 5), recon, k=3
    ).select("query_id", "neighbor_id", "cosine", "rn")


# --------------------------------------------------------------------
# Data mixing: rebalance the corpus to equal per-source shares
# --------------------------------------------------------------------

MIXING_SQL = f"""
WITH counts AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
m AS (SELECT min(n_docs) AS n_min FROM counts),
kept AS (
  SELECT d.lang, count(*) AS n_kept
  FROM documents d
  JOIN counts c ON d.lang = c.lang
  CROSS JOIN m
  WHERE {sql_hash_bucket('doc_id', 'mix')}
        < CAST(floor(65536.0 * m.n_min / c.n_docs) AS BIGINT)
  GROUP BY d.lang
)
SELECT c.lang, CAST(c.n_docs AS BIGINT) AS n_docs,
       CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept
FROM counts c LEFT JOIN kept k ON c.lang = k.lang
"""


@register("data_mixing", MIXING_SQL, tags=("llm", "sampling", "mixing"))
def q_data_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-share language mixing: each language keeps n_min/n_lang
    of its documents (the largest downsample-only rates that equalize
    the mix), selected by content hash so the blend is
    layout-independent and stable across incremental rebuilds.
    Per-group counts are one tiny aggregate broadcast back onto the
    scan — the corpus itself never shuffles (see
    llm/sampling.equal_mixture_sample)."""
    from crane_spark.llm.sampling import equal_mixture_sample

    docs = table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    mixed = equal_mixture_sample(docs, "doc_id", "lang", salt="mix")
    kept = mixed.groupBy("lang").agg(F.count(F.lit(1)).alias("k"))
    return counts.join(kept, "lang", "left").select(
        "lang",
        "n_docs",
        F.coalesce(F.col("k"), F.lit(0)).cast("long").alias("n_kept"),
    )


KMEANS_STEP_SQL = f"""
WITH c AS (SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings WHERE vec_id < 8),
v AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 8),
sims AS (
  SELECT v.vec_id, c.centroid_id, v.embedding,
         round({_sql_dot('v.embedding', 'c.cv')}
               / ({_sql_norm('v.embedding')} * {_sql_norm('c.cv')}), 4) AS cosine
  FROM v CROSS JOIN c
),
assigned AS (
  SELECT vec_id, centroid_id, embedding,
         row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, centroid_id) AS rn
  FROM sims
),
comp AS (
  SELECT centroid_id, CAST(u.dim AS BIGINT) AS dim, CAST(u.val AS DOUBLE) AS val
  FROM (
    SELECT centroid_id,
           unnest(list_transform(range(1, len(embedding) + 1),
                  i -> {{'dim': i, 'val': embedding[i]}})) AS u
    FROM assigned WHERE rn = 1
  )
  WHERE u.dim <= 8
)
SELECT centroid_id, dim,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(round(CAST(sum(CAST(round(val, 6) AS DECIMAL(28,6))) AS DOUBLE)
                  / count(*), 6) AS DOUBLE) AS centroid_val
FROM comp
GROUP BY centroid_id, dim
"""


@register("kmeans_step", KMEANS_STEP_SQL, tags=("llm", "similarity", "iterative", "clustering"))
def q_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full k-means training iteration, distributed: assign every
    vector to its max-cosine centroid (broadcast centroids — the E
    step), then recompute each centroid as the per-dimension mean of
    its members (the M step; first 8 dims shown). The mean's sum runs
    over 6-decimal DECIMAL so the new centroids are identical on any
    partitioning — the property that makes distributed k-means
    converge identically to a single-node reference run. Per-dim
    means come from ONE posexplode + hash-agg (map-side partials);
    the driver loop repeats this plan to train (cf.
    pagerank_iterations for lineage control)."""
    from crane_spark.llm.similarity import ivf_assign

    emb = table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    vectors = emb.filter(F.col("vec_id") >= 8)
    member_vecs = ivf_assign(vectors, centroids).select("vec_id", "centroid_id").join(
        vectors, "vec_id"
    )
    comp = member_vecs.select(
        "centroid_id", F.posexplode("embedding").alias("pos0", "valf")
    ).select(
        "centroid_id",
        (F.col("pos0") + 1).cast("long").alias("dim"),
        F.col("valf").cast("double").alias("val"),
    ).filter(F.col("dim") <= 8)
    n = F.count(F.lit(1))
    return comp.groupBy("centroid_id", "dim").agg(
        n.cast("long").alias("n_members"),
        F.round(
            F.sum(F.round("val", 6).cast("decimal(28,6)")).cast("double") / n, 6
        ).alias("centroid_val"),
    )


PREFIX_JACCARD_SQL = """
WITH d AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(string_split(text,' '))),
                        i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1])) AS sh
  FROM documents
  WHERE len(string_split(text,' ')) >= 2
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS i,
         len(a.sh) + len(b.sh)
           - len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS u
  FROM d a JOIN d b ON a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(i AS BIGINT) AS n_common,
       CAST(i AS DOUBLE) / u AS jaccard
FROM pairs WHERE 3 * i >= 2 * u
"""


@register("prefix_jaccard_join", PREFIX_JACCARD_SQL, tags=("llm", "dedup", "similarity"))
def q_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT similarity self-join over the WHOLE corpus (2-gram
    Jaccard >= 2/3) via AllPairs/PPJoin prefix filtering — the
    lossless complement to `minhash_lsh_pairs`: the oracle states the
    quadratic all-pairs definition; the engine touches only pairs
    whose rarity-ordered shingle prefixes collide. Integer threshold
    arithmetic (3*inter >= 2*union) keeps the boundary decision
    float-free in both engines. The threshold is the pruning lever:
    prefix length is m - ceil(t*m) + 1, so t=2/3 indexes a third of
    each set where t=1/2 would index half — on this corpus's dense
    synthetic vocabulary (every 2-gram is common) that is the
    difference between bucket joins and a near-cross-join."""
    return prefix_filter_jaccard_pairs(
        table(spark, sf_dir, "documents"), shingle_n=2, t_num=2, t_den=3
    )


# Sampled twin for the BIG-rung oracle: the all-pairs DuckDB
# definition is deliberately quadratic (that's what makes it a
# trustworthy oracle), so at sf1 (50k docs -> 1.25B candidate pairs
# ORACLE-side) it cannot run as-is. The twin restricts BOTH engines
# to the same deterministic 1/89 doc slice (~sf0.01 density drawn
# FROM the sf1 data, replicas included), which keeps the engine code
# path identical (same regime gate, same pipeline) while the oracle
# stays tractable at any rung. DuckDB rejects a CTE shadowing the
# view it reads, so the slice gets its own CTE name and the body's
# table references are rewritten onto it.
PREFIX_JACCARD_SAMPLED_SQL = (
    "WITH documents_s AS (SELECT * FROM documents WHERE doc_id % 89 = 0),"
    + PREFIX_JACCARD_SQL.replace("FROM documents", "FROM documents_s")
    .strip()
    .removeprefix("WITH")
)


@register(
    "prefix_jaccard_sampled",
    PREFIX_JACCARD_SAMPLED_SQL,
    tags=("llm", "dedup", "similarity", "sampled"),
)
def q_prefix_jaccard_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`prefix_jaccard_join` on a deterministic 1/89 doc_id slice —
    the sampled oracle twin that keeps the exact similarity join
    hash-verified at rungs where the quadratic all-pairs oracle
    definition is intractable oracle-side (see SCALE.md)."""
    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 89 == 0)
    return prefix_filter_jaccard_pairs(docs, shingle_n=2, t_num=2, t_den=3)


GOPHER_SQL = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
m AS (
  SELECT doc_id,
         len(toks) AS n,
         list_sum(list_transform(toks, x -> len(x))) AS chars,
         len(list_distinct(toks)) AS dis,
         list_max(list_transform(list_distinct(toks),
                   t -> len(list_filter(toks, x -> x = t)))) AS top_cnt,
         len(list_filter(toks, x -> x IN {SQL_STOPWORDS})) AS stop_cnt
  FROM t
)
SELECT count(*) AS n_docs,
       count(*) FILTER (WHERE n < 20 OR n > 1000) AS fail_len,
       count(*) FILTER (WHERE 3 * n > chars OR chars > 10 * n) AS fail_word_len,
       count(*) FILTER (WHERE stop_cnt < 2) AS fail_stopwords,
       count(*) FILTER (WHERE 5 * dis < 2 * n) AS fail_ttr,
       count(*) FILTER (WHERE 5 * top_cnt > n) AS fail_dominance,
       count(*) FILTER (WHERE NOT (n < 20 OR n > 1000)
                          AND NOT (3 * n > chars OR chars > 10 * n)
                          AND stop_cnt >= 2
                          AND 5 * dis >= 2 * n
                          AND 5 * top_cnt <= n) AS n_keep
FROM m
"""


@register("gopher_quality_report", GOPHER_SQL, tags=("llm", "text", "quality"))
def q_gopher_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level Gopher-style quality gate report: per-rule failure
    counts and the overall keep count, in ONE scan (conditional
    aggregation over per-doc derived metrics; the only shuffle is the
    one-row final agg). Rules are the subset meaningful on
    unpunctuated text — token-count bounds, mean-word-length bounds,
    required-stopword count, type-token ratio, and top-token
    dominance — each stated in integer arithmetic so the pass/fail
    boundary can never float-drift between engines."""
    docs = fan_out(table(spark, sf_dir, "documents"))
    toks = tokens("text")
    t = docs.select(F.col("doc_id"), toks.alias("toks"))
    n = F.size("toks")
    chars = F.aggregate(
        F.transform(F.col("toks"), F.length),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    dis = F.size(F.array_distinct("toks"))
    top_cnt = F.array_max(
        F.transform(
            F.array_distinct("toks"),
            lambda tkn: F.size(F.filter(F.col("toks"), lambda x: x == tkn)),
        )
    )
    stop_cnt = F.size(
        F.filter(F.col("toks"), lambda x: x.isin(*STOPWORDS))
    )
    m = t.select(
        n.alias("n"),
        chars.alias("chars"),
        dis.alias("dis"),
        top_cnt.alias("top_cnt"),
        stop_cnt.alias("stop_cnt"),
    )
    fail_len = (F.col("n") < 20) | (F.col("n") > 1000)
    fail_wl = (3 * F.col("n") > F.col("chars")) | (F.col("chars") > 10 * F.col("n"))
    fail_stop = F.col("stop_cnt") < 2
    fail_ttr = 5 * F.col("dis") < 2 * F.col("n")
    fail_dom = 5 * F.col("top_cnt") > F.col("n")
    cnt = lambda c: F.count(F.when(c, 1))  # noqa: E731
    return m.agg(
        F.count(F.lit(1)).alias("n_docs"),
        cnt(fail_len).alias("fail_len"),
        cnt(fail_wl).alias("fail_word_len"),
        cnt(fail_stop).alias("fail_stopwords"),
        cnt(fail_ttr).alias("fail_ttr"),
        cnt(fail_dom).alias("fail_dominance"),
        cnt(~fail_len & ~fail_wl & ~fail_stop & ~fail_ttr & ~fail_dom).alias("n_keep"),
    )


MIPS_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
sims AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         round({_sql_dot('q.qv', 'e.embedding')}, 4) AS dot
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, dot, rn FROM (
  SELECT query_id, neighbor_id, dot,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, neighbor_id) AS BIGINT) AS rn
  FROM sims
) WHERE rn <= 3
"""


@register("mips_topk", MIPS_SQL, tags=("llm", "similarity", "mips"))
def q_mips_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum-inner-product top-3 (recommendation scoring: magnitude
    matters, so no normalization — a vector with large norm can beat a
    better-aligned small one, which cosine top-k deliberately ignores).
    Same broadcast scatter + per-query heap plan as the cosine path.
    The LSH scale path for MIPS is the standard augmentation
    reduction (append sqrt(M^2-|v|^2) as an extra coordinate, then
    cosine-LSH applies; see embedding_srp_lsh)."""
    from crane_spark.llm.similarity import dot as _dot
    from crane_spark.tables import fan_out as _fan_out

    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    c = _fan_out(emb).select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
    )
    scored = c.join(
        F.broadcast(q), F.col("query_id") != F.col("neighbor_id")
    ).select(
        "query_id",
        "neighbor_id",
        F.round(_dot(F.col("qv"), F.col("cv")), 4).alias("dot"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("dot"), F.asc("neighbor_id"))
    return scored.withColumn("rn", F.row_number().over(w).cast("long")).filter(
        F.col("rn") <= 3
    )


JL_DIM = 16

JL_SQL = f"""
WITH signs AS (
  SELECT j, i,
         CASE WHEN strpos('02468ace', substring(md5(j || ':' || i), 1, 1)) > 0
              THEN 1 ELSE -1 END AS s
  FROM (SELECT UNNEST(range(0, {JL_DIM})) AS j),
       (SELECT UNNEST(range(1, {EMBED_DIM + 1})) AS i)
),
elems AS (
  SELECT vec_id, CAST(i AS INT) AS i, CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS v
  FROM embeddings, (SELECT UNNEST(range(1, {EMBED_DIM + 1})) AS i)
)
SELECT e.vec_id, CAST(signs.j AS BIGINT) AS j,
       CAST(round(SUM(CAST(round(e.v * signs.s, 9) AS DECIMAL(28,9))), 4) AS DOUBLE) AS proj
FROM elems e JOIN signs ON e.i = signs.i
GROUP BY e.vec_id, signs.j
"""


@register("jl_projection", JL_SQL, tags=("llm", "similarity", "compression"))
def q_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection 64-d -> 16-d with a
    deterministic md5-derived +-1 matrix (the float sibling of the
    int8 quantizer: 4x store compression that approximately preserves
    pairwise distances, test_llm asserts the JL ratio bound). The
    projection is stated relationally — explode elements, join the
    1024-row sign matrix, sum per (vec, j) — so it is one broadcast
    join plus one map-side-combined aggregate at any corpus size, and
    the summation runs through the decimal idiom to stay order-free."""
    emb = fan_out(table(spark, sf_dir, "embeddings"))
    elems = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding")).alias("p", "vf"),
    ).select(
        "vec_id", (F.col("p") + 1).alias("i"), F.col("vf").cast("double").alias("v")
    )
    signs = (
        spark.range(JL_DIM)
        .withColumnRenamed("id", "j")
        .crossJoin(spark.range(1, EMBED_DIM + 1).withColumnRenamed("id", "i"))
        .select(
            "j",
            "i",
            F.when(
                F.instr(
                    F.lit("02468ace"),
                    F.substring(F.md5(F.concat_ws(":", "j", "i")), 1, 1),
                )
                > 0,
                1,
            )
            .otherwise(-1)
            .alias("s"),
        )
    )
    contrib = F.round(F.col("v") * F.col("s"), 9).cast("decimal(28,9)")
    return (
        elems.join(F.broadcast(signs), "i")
        .groupBy("vec_id", "j")
        .agg(F.round(F.sum(contrib), 4).cast("double").alias("proj"))
        .select("vec_id", F.col("j").cast("long").alias("j"), "proj")
    )


GROUPED_SPLIT_SQL = f"""
WITH tagged AS (
  SELECT user_id, event_id,
         CASE WHEN {sql_hash_bucket('user_id', 'gsplit')} < 13107
              THEN 'test' ELSE 'train' END AS split
  FROM events
)
SELECT split,
       count(DISTINCT user_id) AS n_users,
       count(*) AS n_events
FROM tagged GROUP BY split
"""


@register("grouped_split_events", GROUPED_SPLIT_SQL, tags=("llm", "sampling", "split"))
def q_grouped_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-aware 80/20 split: membership hashes the GROUP key
    (user_id), so every event of a user lands in the same split — the
    guard against train/test contamination through correlated rows
    that a row-level split (`train_test_split`) cannot give. Pure
    map-side tagging; the only shuffle is the count-distinct."""
    from crane_spark.llm.sampling import hash_bucket as _hash_bucket

    events = table(spark, sf_dir, "events")
    split = F.when(_hash_bucket("user_id", "gsplit") < 13107, "test").otherwise(
        "train"
    )
    return (
        events.select("user_id", split.alias("split"))
        .groupBy("split")
        .agg(
            F.count_distinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


DIM_STATS_SQL = f"""
WITH elems AS (
  SELECT CAST(i AS INT) AS dim, CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS v
  FROM embeddings, (SELECT UNNEST(range(1, {EMBED_DIM + 1})) AS i)
)
SELECT dim,
       count(*) AS n,
       CAST(round(CAST(SUM(CAST(round(v, 6) AS DECIMAL(28,6))) AS DOUBLE)
                  / count(*), 4) AS DOUBLE) AS mean_v,
       CAST(round(sqrt(
         (CAST(SUM(CAST(round(v * v, 6) AS DECIMAL(38,6))) AS DOUBLE)
          - CAST(SUM(CAST(round(v, 6) AS DECIMAL(28,6))) AS DOUBLE)
            * CAST(SUM(CAST(round(v, 6) AS DECIMAL(28,6))) AS DOUBLE) / count(*))
         / (count(*) - 1)), 4) AS DOUBLE) AS std_v,
       CAST(round(min(v), 4) AS DOUBLE) AS min_v,
       CAST(round(max(v), 4) AS DOUBLE) AS max_v
FROM elems GROUP BY dim
"""


@register("embedding_dim_stats", DIM_STATS_SQL, tags=("llm", "similarity", "stats", "profile"))
def q_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-store profiling: per-dimension mean/std/min/max across
    the corpus — the input to whitening/standardization and the drift
    check between embedding model versions. One explode + one 64-group
    aggregate with decimal-exact moments; map-side combine collapses
    the explosion before the (64-key) shuffle."""
    emb = fan_out(table(spark, sf_dir, "embeddings"))
    elems = emb.select(
        F.posexplode("embedding").alias("p", "vf")
    ).select((F.col("p") + 1).alias("dim"), F.col("vf").cast("double").alias("v"))
    n = F.count(F.lit(1))
    sx = F.sum(F.round(F.col("v"), 6).cast("decimal(28,6)")).cast("double")
    sxx = F.sum(F.round(F.col("v") * F.col("v"), 6).cast("decimal(38,6)")).cast("double")
    return elems.groupBy("dim").agg(
        n.alias("n"),
        F.round(sx / n, 4).cast("double").alias("mean_v"),
        F.round(F.sqrt((sxx - sx * sx / n) / (n - F.lit(1))), 4).cast("double").alias("std_v"),
        F.round(F.min("v"), 4).cast("double").alias("min_v"),
        F.round(F.max("v"), 4).cast("double").alias("max_v"),
    )


PURITY_SQL = f"""
WITH c AS (SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings WHERE vec_id < 10),
v AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id >= 10),
sims AS (
  SELECT v.vec_id, v.label, c.centroid_id,
         round({_sql_dot('v.embedding', 'c.cv')}
               / ({_sql_norm('v.embedding')} * {_sql_norm('c.cv')}), 4) AS cosine
  FROM v CROSS JOIN c
),
assigned AS (
  SELECT vec_id, label, centroid_id,
         row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, centroid_id) AS rn
  FROM sims
),
cells AS (SELECT centroid_id, label, count(*) AS n FROM assigned WHERE rn = 1 GROUP BY 1, 2)
SELECT centroid_id,
       CAST(SUM(n) AS BIGINT) AS n_members,
       CAST(max_by(label, n * 1000000 - label) AS BIGINT) AS majority_label,
       CAST(max(n) AS BIGINT) AS majority_n
FROM cells GROUP BY centroid_id
"""


@register("ivf_cell_purity", PURITY_SQL, tags=("llm", "similarity", "ivf", "eval"))
def q_ivf_cell_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-quality evaluation: per IVF cell, the member count
    and the majority ground-truth label (ties broken toward the
    smaller label on both engines via max_by on the composite integer
    key n*1e6 - label) — the purity diagnostic for whether the coarse quantizer
    respects label structure. Reuses the one-broadcast assignment
    pass; the evaluation itself is two tiny keyed aggregates."""
    from crane_spark.llm.similarity import ivf_assign as _ivf_assign

    emb = table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    vectors = emb.filter(F.col("vec_id") >= 10)
    assigned = _ivf_assign(vectors, centroids).join(
        emb.select("vec_id", "label"), "vec_id"
    )
    cells = assigned.groupBy("centroid_id", "label").agg(
        F.count(F.lit(1)).alias("n")
    )
    return cells.groupBy("centroid_id").agg(
        F.sum("n").cast("long").alias("n_members"),
        F.max_by("label", F.col("n") * 1000000 - F.col("label"))
        .cast("long")
        .alias("majority_label"),
        F.max("n").cast("long").alias("majority_n"),
    )


MLM_KEY = "CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR)"

MLM_SQL = f"""
WITH tok AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos, string_split(text, ' ')[CAST(i AS INT)] AS token
  FROM (SELECT doc_id, text FROM documents),
       LATERAL (SELECT UNNEST(range(1, len(string_split(text, ' ')) + 1)) AS i)
),
flagged AS (
  SELECT doc_id, pos, token,
         {sql_hash_bucket(MLM_KEY, 'mlm')} < 9830 AS masked
  FROM tok
)
SELECT doc_id,
       count(*) AS n_tokens,
       count(*) FILTER (WHERE masked) AS n_masked,
       string_agg(CASE WHEN masked THEN '[MASK]' ELSE token END, ' ' ORDER BY pos)
         AS masked_text,
       coalesce(string_agg(token, ' ' ORDER BY pos) FILTER (WHERE masked), '')
         AS targets
FROM flagged GROUP BY doc_id
"""


@register("mlm_masking", MLM_SQL, tags=("llm", "text", "training-prep"))
def q_mlm_masking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sample materialization: BERT-style masking, ~15% of
    token positions chosen by CONTENT hash (doc_id:pos), so the same
    corpus always yields the same masked dataset on any cluster — the
    reproducibility property ad-hoc RNG masking loses. One explode,
    one doc_id-keyed aggregate; text reassembles via the struct-sorted
    collect_list idiom (no second sort pass)."""
    from crane_spark.llm.sampling import hash_bucket as _hash_bucket

    docs = fan_out(table(spark, sf_dir, "documents"))
    tok = docs.select(
        "doc_id", F.posexplode(tokens("text")).alias("p", "token")
    ).select("doc_id", (F.col("p") + 1).alias("pos"), "token")
    key = F.concat(
        F.col("doc_id").cast("string"), F.lit(":"), F.col("pos").cast("string")
    )
    flagged = tok.withColumn("masked", _hash_bucket(key, "mlm") < 9830)
    out_tok = F.when(F.col("masked"), "[MASK]").otherwise(F.col("token"))
    ordered_all = F.array_sort(F.collect_list(F.struct(F.col("pos"), out_tok.alias("t"))))
    ordered_masked = F.array_sort(
        F.collect_list(F.when(F.col("masked"), F.struct(F.col("pos"), F.col("token").alias("t"))))
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.count(F.when(F.col("masked"), 1)).alias("n_masked"),
        F.array_join(F.transform(ordered_all, lambda s: s.t), " ").alias("masked_text"),
        F.array_join(F.transform(ordered_masked, lambda s: s.t), " ").alias("targets"),
    )


@register("bpe_merges", None, tags=("llm", "text", "tokenizer", "iterative"))
def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training (llm/bpe.py): 8 merge
    rounds learned from the documents corpus. Iterative argmax-loop
    algorithm (like k-means/PageRank) — no SQL oracle exists, so this
    is a rows-only contract; determinism and the canonical-corpus
    merges are asserted in tests/test_bpe.py. The corpus collapses to
    the word-frequency table in ONE scan; every iteration then runs
    on vocabulary-sized data."""
    from crane_spark.llm.bpe import bpe_train

    docs = table(spark, sf_dir, "documents")
    merges = bpe_train(docs, n_merges=8)
    return spark.createDataFrame(
        [(i, a, b, n) for i, (a, b, n) in enumerate(merges)],
        "merge_rank int, left string, right string, pair_freq long",
    )


LANG_CONFUSION_SQL = f"""
WITH p AS (
  SELECT lang,
         CASE WHEN CAST(len(list_filter(string_split(text, ' '),
                                        t -> t IN {SQL_STOPWORDS})) AS DOUBLE)
                     / greatest(len(string_split(text, ' ')), 1) >= 0.05
              THEN 'en' ELSE 'other' END AS pred_lang
  FROM documents
)
SELECT lang, pred_lang, count(*) AS n,
       CAST(round(CAST(count(*) AS DOUBLE)
                  / sum(count(*)) OVER (PARTITION BY lang), 6) AS DOUBLE) AS share_of_gold
FROM p GROUP BY lang, pred_lang
"""


@register("lang_id_confusion", LANG_CONFUSION_SQL, tags=("llm", "text", "evaluation"))
def q_lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation over the corpus: confusion matrix of the
    stopword language-ID heuristic against the gold `lang` column,
    with each cell's share of its gold class (per-class recall on the
    diagonal). The evaluation aggregate is class-cardinality-sized —
    one groupBy shuffle no matter the corpus — which is how model QA
    runs over a 100 TB corpus without sampling."""
    docs = table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    ratio = stopword_ratio(tokens("text"))
    p = docs.select(
        "lang", F.when(ratio >= 0.05, "en").otherwise("other").alias("pred_lang")
    )
    cells = p.groupBy("lang", "pred_lang").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("lang")
    return cells.select(
        "lang",
        "pred_lang",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(w), 6)
        .cast("double")
        .alias("share_of_gold"),
    )


LSH_EVAL_SQL = f"""
WITH docs0 AS (SELECT doc_id, text FROM documents WHERE doc_id < 1000),
t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM docs0),
s AS (SELECT doc_id, {_sql_shingle3('toks')} AS sh FROM t WHERE len(toks) >= 3),
sig AS (SELECT doc_id,
        {', '.join(f'{_sql_minhash(s)} AS m{s}' for s in range(N_MINHASH))}
        FROM s),
bands AS ({_BAND_SELECTS}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
  WHERE a.doc_id < b.doc_id
),
sets AS (SELECT doc_id, list_distinct(sh) AS sh FROM s),
truth AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sets a JOIN sets b ON a.doc_id < b.doc_id
  WHERE 2 * len(list_filter(a.sh, x -> list_contains(b.sh, x)))
        >= (len(a.sh) + len(b.sh) - len(list_filter(a.sh, x -> list_contains(b.sh, x))))
),
hits AS (SELECT * FROM cand SEMI JOIN truth USING (doc_a, doc_b))
SELECT (SELECT count(*) FROM cand) AS n_candidates,
       (SELECT count(*) FROM truth) AS n_true_pairs,
       (SELECT count(*) FROM hits) AS n_hits,
       CAST(round(CAST((SELECT count(*) FROM hits) AS DOUBLE)
                  / greatest((SELECT count(*) FROM cand), 1), 6) AS DOUBLE) AS precision,
       CAST(round(CAST((SELECT count(*) FROM hits) AS DOUBLE)
                  / greatest((SELECT count(*) FROM truth), 1), 6) AS DOUBLE) AS recall
"""


@register("lsh_eval", LSH_EVAL_SQL, tags=("llm", "dedup", "lsh", "evaluation"))
def q_lsh_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate-dedup quality evaluation as a first-class query:
    MinHash-LSH candidate pairs scored against the EXACT Jaccard >= 1/2
    ground truth (computed by the prefix-filtered exact join — the
    oracle states the quadratic definition). One summary row:
    candidate / truth / hit counts, precision, recall — the numbers
    that decide band/hash configuration before a 100 TB dedup run,
    computed on a bounded sample the same way a production tuning pass
    would.

    One ACTION, not five (r8 verdict #5): candidate and truth pair
    sets meet in a single full-outer join whose one aggregate yields
    all three counts (sum of each side's flag; hits = rows where both
    flags land), so the two eager pair-set checkpoints and the three
    separate count jobs are gone — the fixed floor was job-count, not
    data (3.2 s flat from sf0.001 to sf0.1).

    ONE shingle scan, not two (r9 verdict #6): both pipelines consume
    the same checkpointed (id, token) distinct shingle stream — the
    MinHash side because min() is duplicate-invariant, the exact side
    because that stream is exactly its input — and the truth side's
    vocabulary rank takes dense_index's small regime (the sizing
    aggregate already measured the vocabulary)."""
    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 1000)
    from crane_spark.llm.dedup import (
        prefix_filter_jaccard_pairs,
        shingle_tokens,
    )

    # lazy: the first action is the truth side's sizing aggregate,
    # which fully scans it (prefix_filter's checkpoint discipline)
    tok = shingle_tokens(docs, "text", "doc_id", 3).localCheckpoint(eager=False)
    cand = minhash_band_pairs(docs, shingle_n=3, pretokenized=tok).withColumn(
        "_c", F.lit(1)
    )
    truth = (
        prefix_filter_jaccard_pairs(
            docs, shingle_n=3, t_num=1, t_den=2, pretokenized=tok
        )
        .select("doc_a", "doc_b")
        .withColumn("_t", F.lit(1))
    )
    counts = (
        cand.join(truth, ["doc_a", "doc_b"], "full_outer")
        .agg(
            F.coalesce(F.sum("_c"), F.lit(0)).alias("n_candidates"),
            F.coalesce(F.sum("_t"), F.lit(0)).alias("n_true_pairs"),
            F.count(F.when(F.col("_c").isNotNull() & F.col("_t").isNotNull(), 1))
            .alias("n_hits"),
        )
    )
    ratio = lambda num, den: (  # noqa: E731 — round like the oracle
        F.round(
            F.col(num).cast("double") / F.greatest(F.col(den), F.lit(1)), 6
        ).cast("double")
    )
    return counts.select(
        "n_candidates",
        "n_true_pairs",
        "n_hits",
        ratio("n_hits", "n_candidates").alias("precision"),
        ratio("n_hits", "n_true_pairs").alias("recall"),
    )


@register("bpe_tokenize_stats", None, tags=("llm", "text", "tokenizer"))
def q_bpe_tokenize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INFERENCE side of BPE in the query surface: train 40 merges
    on the corpus vocabulary (deterministic classic order), replay
    them in order over the same vocabulary (llm/bpe.apply_merges: one
    replace per merge on the bracketed symbol strings), and report
    the tokenization outcome — how many symbols each word compresses
    to, weighted by corpus frequency. Rows-only (iterative training
    has no SQL oracle; training/apply correctness is pinned
    canonically in tests/test_bpe.py, and the apply machinery itself
    is hash-anchored by `bpe_apply_fixed`)."""
    from crane_spark.llm.bpe import apply_merges, bpe_train, word_freqs

    docs = table(spark, sf_dir, "documents")
    wf = word_freqs(docs).localCheckpoint(eager=False)
    merges = bpe_train(None, n_merges=40, words=wf)
    seqs = apply_merges(None, merges, words=wf)
    return (
        seqs.select(F.size("syms").alias("n_syms"), "freq")
        .groupBy("n_syms")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("freq").alias("n_occurrences"),
        )
        .orderBy("n_syms")
    )


# Hash-checked twin for the BPE APPLY machinery: a FIXED literal merge
# list replayed by the engine's apply vs DuckDB replaying the same list
# as nested replace() calls over \x01sym\x02-delimited symbol strings.
# A single left-to-right non-overlapping replace of
# '\x01a\x02\x01b\x02' -> '\x01ab\x02' IS the classic skip-merge pass
# for one pair (llm/bpe.py), so the nested chain IS sequential replay.
# The oracle leaves out the engine's escaping of \x01-\x03 inside a
# symbol, which is the identity on a corpus without those bytes. The
# list holds chained merges (t+a -> ta+b -> tab+l, each needing the
# one before) and never-matching pairs (no-ops must be no-ops in both
# engines).
_BPE_FIXED_MERGES: list[tuple[str, str]] = [
    ("t", "a"), ("ta", "b"), ("tab", "l"), ("tabl", "e"), ("table", "</w>"),
    ("s", "c"), ("sc", "a"), ("sca", "n"), ("scan", "</w>"),
    ("a", "</w>"), ("e", "</w>"), ("r", "o"), ("ro", "w"), ("row", "</w>"),
    ("s", "t"), ("o", "r"), ("or", "t"),
]


def _bpe_fixed_sql() -> str:
    def sym(s: str) -> str:
        return "chr(1) || '" + s + "' || chr(2)"

    expr = (
        "list_aggregate(list_transform(range(1, len(word) + 1), "
        "i -> chr(1) || word[i] || chr(2)), 'string_agg', '') "
        "|| chr(1) || '</w>' || chr(2)"
    )
    for a, b in _BPE_FIXED_MERGES:
        expr = f"replace({expr}, {sym(a)} || {sym(b)}, {sym(a + b)})"
    return f"""
WITH w AS (
  SELECT word, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE len(word) > 0 GROUP BY word
),
applied AS (SELECT word, freq, {expr} AS s FROM w)
SELECT word, freq,
  CAST(len(s) - len(replace(s, chr(1), '')) AS BIGINT) AS n_syms,
  trim(replace(s, chr(2) || chr(1), ' '), chr(1) || chr(2)) AS syms_str
FROM applied
"""


@register(
    "bpe_apply_fixed",
    _bpe_fixed_sql(),
    tags=("llm", "text", "tokenizer", "sampled"),
)
def q_bpe_apply_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`apply_merges` under a fixed literal merge table, per-word
    symbol sequences value-hashed against DuckDB's sequential-replay
    definition (see _BPE_FIXED_MERGES above for why the two are
    provably the same function). This anchors the inference half of
    the BPE family in the driver's hash harness — the symbol string
    encoding, the replace chain and the decoding back to symbols all
    sit on this path; training convergence stays pinned in
    tests/test_bpe.py and by `bpe_tokenize_stats`'s regime-equality
    tests."""
    from crane_spark.llm.bpe import apply_merges

    docs = table(spark, sf_dir, "documents")
    merges = [(a, b, 0) for a, b in _BPE_FIXED_MERGES]
    seqs = apply_merges(docs, merges)
    return seqs.select(
        "word",
        "freq",
        F.size("syms").cast("long").alias("n_syms"),
        F.concat_ws(" ", "syms").alias("syms_str"),
    )
