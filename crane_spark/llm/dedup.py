"""Document deduplication operators.

All four families are built from JVM array/string built-ins — no
Python in the hot path — so each scales as: one narrow projection per
document, then exactly one shuffle on the (small) signature key:

* exact            — sha256(text) group            (cheapest, safest)
* fingerprint      — md5(sorted distinct tokens)   (order-insensitive)
* MinHash-LSH      — per-row signature via array lambdas, shuffle on
                     band key only; candidate pairs from bucket joins
* SimHash          — 16-bit weighted bit-vote signature
* n-gram Jaccard   — exact pairwise verify for candidate sets

At 100 TB: exact/fingerprint/simhash shuffle one short row per doc;
LSH shuffles #bands rows per doc. Pair explosion is bounded by bucket
size; verify (Jaccard) runs only on LSH candidates, never all-pairs.

Deterministic hashing (md5/sha2 of strings) is used instead of seeded
xxhash so the DuckDB oracle can reproduce signatures bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from crane_spark.functions.text import gram_key, shingles, token_fingerprint, tokens
from crane_spark.tables import fan_out

N_MINHASH = 8  # minhash permutations (md5-keyed)
N_BANDS = 4  # LSH bands => 2 hashes per band
SIMHASH_BITS = 16
WINNOW_K = 8  # characters per winnowing k-gram
SPAN_SALT_BUCKETS = 32  # dup_span_ranges(skew_safe=True) salt fan-out


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group identical texts: one row per distinct sha256, with the
    surviving (minimum) id and the duplicate count."""
    return (
        docs.select(F.sha2(F.col(text_col), 256).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(F.count(F.lit(1)).alias("n_copies"), F.min(id_col).alias("keeper_doc_id"))
    )


def fingerprint_dedup(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Vocabulary-fingerprint dedup: md5 over the sorted distinct token
    set — catches word-order shuffles that exact hashing misses."""
    return (
        docs.select(token_fingerprint(text_col).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_copies"), F.min(id_col).alias("keeper_doc_id"))
    )


def tokenized(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, toks) with the token array projected in its OWN select.

    The separate projection matters: when ``split(text)`` is written
    inline inside an array-lambda expression, the interpreted lambda
    evaluator re-evaluates it per reference (no subexpression
    elimination outside codegen). Projected as a named column first,
    CollapseProject declines to merge the projects (non-cheap
    expression, multiple references), so the split runs once per row —
    measured ~1.6x on shingle-set building, far more when a filter on
    the lambda output would otherwise re-inline the whole transform.
    """
    return fan_out(docs.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), tokens(text_col).alias("toks")
    )


def shingle_sets(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", shingle_n: int = 3
) -> DataFrame:
    """(id, sh) distinct word-shingle set per document, dropping docs
    too short to have any shingle.

    The short-doc filter tests ``size(toks)`` BEFORE the shingle
    lambda, not ``size(sh)`` after it: a filter on the lambda output
    re-inlines the entire transform into the predicate (the projection
    and the filter each evaluate it — measured 5x on this step)."""
    return (
        tokenized(docs, text_col, id_col)
        .filter(F.size("toks") >= shingle_n)
        .select(
            F.col(id_col),
            F.array_distinct(shingles(F.col("toks"), shingle_n)).alias("sh"),
        )
    )


def shingle_tokens(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", shingle_n: int = 3
) -> DataFrame:
    """(id, token) DISTINCT shingle stream — the exploded twin of
    `shingle_sets` for consumers that explode the arrays anyway.
    Positions explode first and each shingle is a codegen'd
    element_at concat; the distinct is a map-side-combined hash agg.
    Building the array via a transform lambda and exploding it runs
    interpreted and measured ~5x slower — the same explode-then-reduce
    lesson as the minhash signatures (TUNING.md)."""
    d = tokenized(docs, text_col, id_col).filter(F.size("toks") >= shingle_n)
    e = d.select(
        F.col(id_col),
        F.expr(f"explode(sequence(1, size(toks) - {shingle_n - 1}))").alias("i"),
        "toks",
    )
    parts = [F.expr(f"element_at(toks, i + {k})") for k in range(shingle_n)]
    return e.select(
        F.col(id_col), F.concat_ws(" ", *parts).alias("token")
    ).distinct()


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    pretokenized: DataFrame | None = None,
) -> DataFrame:
    """(id, m0..m{k-1}) minhash signature per document; documents with
    fewer than `shingle_n` tokens are dropped (they have no shingles,
    and explode of an empty array drops the row).

    Implementation note: the min-hashes are computed by exploding
    shingles to rows and taking ``min(md5(seed || shingle))`` per doc
    in ONE hash aggregate. This keeps the md5s inside WholeStageCodegen
    (array-lambda variants evaluate interpreted, ~10x slower, and
    Catalyst's project-collapsing re-inlines the shingle construction
    into every lambda) and the map-side partial aggregation shrinks the
    shuffle to one short row per (doc, partition)."""
    # Positions explode first; each shingle is a codegen'd element_at
    # concat. Exploding the transform-lambda array instead evaluates
    # the whole lambda interpreted per row — measured ~5x slower on
    # the corpus scan (same lesson as shingle_tokens).
    #
    # `pretokenized` — a caller-shared (id, token) DISTINCT shingle
    # stream (shingle_tokens) — replaces the scan outright: min() over
    # the deduplicated stream equals min() over the multiset (min is
    # duplicate-invariant), and both builders drop the same
    # too-short docs, so signatures are bit-identical (r9 verdict #6).
    if pretokenized is not None:
        exploded = pretokenized.select(
            F.col(id_col), F.col("token").alias("shingle")
        )
    else:
        exploded = (
            tokenized(docs, text_col, id_col)
            .filter(F.size("toks") >= shingle_n)
            .select(
                F.col(id_col),
                F.expr(f"explode(sequence(1, size(toks) - {shingle_n - 1}))").alias("i"),
                "toks",
            )
            .select(
                F.col(id_col),
                F.concat_ws(
                    " ",
                    *[F.expr(f"element_at(toks, i + {k})") for k in range(shingle_n)],
                ).alias("shingle"),
            )
        )
    # Parsed server-side (r10, guide §1.2): the Column-DSL form issued
    # ~80 py4j round-trips per signature build before any data moved;
    # min(md5(concat('s:', shingle))) is the textually identical
    # expression, so plans and results are unchanged.
    mins = [
        F.expr(f"min(md5(concat('{s}:', `shingle`)))").alias(f"m{s}")
        for s in range(N_MINHASH)
    ]
    return exploded.groupBy(id_col).agg(*mins)


def minhash_bands(signatures: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Explode a signature into (id, band, band_key) rows — the only
    shuffled representation, #bands short rows per doc."""
    rows_per_band = N_MINHASH // N_BANDS
    # Parsed server-side (r10, guide §1.2; DSL form: ~25 py4j
    # round-trips per band struct). Identical structs: INT band id,
    # md5 over the '|'-joined member hashes.
    band_structs = []
    for b in range(N_BANDS):
        members = ", ".join(
            f"`m{b * rows_per_band + r}`" for r in range(rows_per_band)
        )
        band_structs.append(
            f"struct({b} AS band, md5(concat_ws('|', {members})) AS band_key)"
        )
    bands_arr = F.expr(f"array({', '.join(band_structs)})")
    return signatures.select(
        id_col, F.explode(bands_arr).alias("bk")
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key"))


def band_bucket_pairs(bands: DataFrame, id_col: str) -> DataFrame:
    """Distinct (doc_a < doc_b) id pairs that share a (band, band_key)
    bucket of ``bands``.

    Pairs are generated INSIDE each bucket (groupBy band key ->
    sorted id list -> in-array combinations) rather than via a bucket
    self-join: exactly one shuffle (on the band key), and no join
    re-computation of the bands."""
    buckets = bands.groupBy("band", "band_key").agg(
        F.sort_array(F.collect_list(id_col)).alias("ids")
    )
    pairs = F.expr(
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids) - i - 1), "
        "y -> struct(x AS doc_a, y AS doc_b))))"
    )
    return (
        buckets.filter(F.size("ids") > 1)
        .select(F.explode(pairs).alias("p"))
        .select(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .distinct()
    )


def minhash_band_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    pretokenized: DataFrame | None = None,
) -> DataFrame:
    """LSH candidate pairs: documents sharing any band bucket.
    Returns distinct (doc_a < doc_b) pairs; the signature pipeline
    runs once (`band_bucket_pairs`)."""
    bands = minhash_bands(
        minhash_signatures(
            docs, text_col, id_col, shingle_n, pretokenized=pretokenized
        ),
        id_col,
    )
    return band_bucket_pairs(bands, id_col)


def simhash_values(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, simhash) — per-document 16-bit weighted-bit-vote signature.

    Each token OCCURRENCE votes +1/-1 on each bit of the token's hash
    (first 16 bits of md5, via `conv`); the sign of each bit total is
    the signature bit. Occurrence votes sum to the same totals as
    frequency-weighted votes over distinct tokens, so the per-(id,
    token) pre-aggregation is unnecessary: map-side partial aggregation
    collapses the exploded tokens to one 16-counter row per doc per
    partition, and the ONLY shuffle moves those short rows. The md5s
    stay inside WholeStageCodegen.
    """
    h16 = F.conv(F.substring(F.md5(F.col("token")), 1, 4), 16, 10).cast("int")
    tok = fan_out(docs).select(
        F.col(id_col), F.explode(tokens(text_col)).alias("token")
    ).withColumn("h16", h16)
    # Per-bit vote aggregates and the bit-assembly sum are parsed
    # server-side (r10, guide §1.2): the Column-DSL loops issued ~10
    # py4j round-trips per bit — ~300 gateway commands before any data
    # moved. shiftright/bitwiseAND/when map 1:1 onto >>, &, CASE WHEN,
    # so the resolved trees (and results) are identical.
    votes = [
        F.expr(
            f"sum(CASE WHEN (shiftright(h16, {j}) & 1) = 1 THEN 1 ELSE -1 END)"
        ).alias(f"s{j}")
        for j in range(SIMHASH_BITS)
    ]
    bits = tok.groupBy(id_col).agg(*votes)
    sim = F.expr(
        "0 + "
        + " + ".join(
            f"(CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END)"
            for j in range(SIMHASH_BITS)
        )
    )
    return bits.select(F.col(id_col), sim.cast("long").alias("simhash"))


def simhash_groups(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """SimHash near-dup buckets: docs sharing a signature, with the
    surviving (minimum) id and the bucket size."""
    return (
        simhash_values(docs, text_col, id_col)
        .groupBy("simhash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("keeper_doc_id"))
    )


def simhash_hamming_pairs(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Near-dup pairs at Hamming distance <= 1 on the SimHash.

    Bit-flip probing, ONE-SIDED: the left side emits the signature plus
    its 16 one-bit-flip variants; the right side emits only the raw
    signature. A probe row equals a raw signature iff the pair is at
    Hamming distance exactly 0 (identity probe) or 1 (flipped probe),
    so the join admits no distance-2 pairs, each unordered pair
    surfaces exactly once per direction (the a<b filter keeps one),
    and no dedup shuffle is needed. Versus two-sided probing this
    shrinks the join to 17n x n instead of 17n x 17n and drops the
    trailing distinct — the near-match search never XOR-scans all
    pairs either way, exactly like LSH banding.

    The signature table is materialized once (localCheckpoint — at
    warehouse scale, the parquet signature index), then both join
    sides project from it.
    """
    sims = simhash_values(docs, text_col, id_col).localCheckpoint(eager=False)
    probes = F.expr(
        "array(simhash, "
        + ", ".join(f"simhash ^ {1 << j}" for j in range(SIMHASH_BITS))
        + ")"
    )
    pa = sims.select(
        F.col(id_col).alias("doc_a"),
        F.col("simhash").alias("sim_a"),
        F.explode(probes).alias("probe"),
    )
    pb = sims.select(
        F.col(id_col).alias("doc_b"),
        F.col("simhash").alias("probe"),
    )
    return (
        pa.join(pb, "probe")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("sim_a").bitwiseXOR(F.col("probe")))
            .cast("long")
            .alias("hamming"),
        )
    )


def winnow_fingerprints(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Rolling-hash document fingerprints (0-mod-p sampling).

    Slide a k-char window (k = WINNOW_K) over the text, hash every
    k-gram, and keep the ~1/16 sample whose md5 starts with '0' — a
    content-defined sample that is stable under edits outside the
    sampled grams (the winnowing/moss family). The document
    fingerprint is the md5 of the sorted sampled hashes; identical
    fingerprints => near-identical character content.

    Explode + codegen'd hash agg, same shape as minhash: one narrow
    explode, one shuffle on doc id.
    """
    k = WINNOW_K
    positions = F.explode(
        F.sequence(F.lit(1), F.greatest(F.length(text_col) - (k - 1), F.lit(1)))
    ).alias("pos")
    grams = fan_out(docs).select(F.col(id_col), F.col(text_col), positions)
    hashed = grams.select(
        id_col, F.md5(F.substring(F.col(text_col), F.col("pos"), k)).alias("h")
    )
    sampled = hashed.filter(F.substring("h", 1, 1) == "0")
    return (
        sampled.groupBy(id_col)
        .agg(
            F.md5(F.concat_ws("|", F.sort_array(F.collect_set("h")))).alias("fingerprint"),
            F.countDistinct("h").alias("n_sampled"),
        )
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("keeper_doc_id"),
            F.min("n_sampled").alias("n_sampled"),
        )
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 2,
) -> DataFrame:
    """Exact pairwise n-gram Jaccard similarity (all pairs of the given
    frame — callers pass a bounded candidate set, e.g. LSH output)."""
    d = shingle_sets(docs, text_col, id_col, shingle_n)
    a = d.select(F.col(id_col).alias("doc_a"), F.col("sh").alias("sh_a"))
    b = d.select(F.col(id_col).alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            inter.cast("long").alias("n_common"),
            (inter.cast("double") / union).alias("jaccard"),
        )
    )


def drop_duplicate_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_tokens: int = 16,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-corpus repeated-span removal (CCNet-style line dedup,
    generalized to fixed-width token spans for corpora without line
    structure): any span of ``span_tokens`` consecutive tokens (non-
    overlapping grid) that appears in >= ``min_docs`` DISTINCT
    documents is removed from every document; survivors reassemble in
    original order. Documents whose every span was removed disappear.

    Scale shape: spans explode narrow off the scan; the duplicate-span
    set comes from one sketch-sized aggregate (distinct-doc count per
    span hash, map-side combined) and is broadcast for an anti-join —
    the corpus itself never shuffles by span. The common case (few
    repeated spans) costs one broadcast; reassembly is the only wide
    op, keyed by document.
    """
    toks = F.split(F.col(text_col), " ")
    n_spans = F.ceil(F.size(toks) / F.lit(float(span_tokens))).cast("int")
    idxs = F.when(n_spans > 0, F.sequence(F.lit(0), n_spans - 1)).otherwise(
        F.array().cast("array<int>")
    )
    spans = (
        fan_out(docs)
        .select(F.col(id_col), F.explode(idxs).alias("span_idx"), toks.alias("toks"))
        .select(
            id_col,
            "span_idx",
            F.array_join(
                F.slice(F.col("toks"), F.col("span_idx") * span_tokens + 1, span_tokens),
                " ",
            ).alias("span"),
        )
        # 96-bit internal span identity (r10, guide §2.2): the hash
        # only ever groups/anti-joins spans — it never reaches output
        # (survivors reassemble from the span TEXT) — so, as with
        # _sliding_grams, injectivity over the corpus's actual spans
        # is all that matters and the 12-byte struct replaces a
        # 32-char md5 hex through both shuffles.
        .withColumn("h", gram_key("span"))
    )
    dup = (
        spans.groupBy("h")
        .agg(F.count_distinct(id_col).alias("df"))
        .filter(F.col("df") >= min_docs)
        .select("h")
    )
    # dup's size tracks corpus duplication (data-dependent, unbounded)
    # — no forced broadcast; AQE picks broadcast vs shuffled anti join
    # from the measured size. Hash-only shuffle either way.
    kept = spans.join(dup, "h", "left_anti")
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct("span_idx", "span"))),
        lambda s: s["span"],
    )
    return kept.groupBy(id_col).agg(
        F.array_join(ordered, " ").alias("text_dedup"),
        F.count(F.lit(1)).cast("long").alias("n_spans_kept"),
    )


# Dense-regime gates for the exact similarity self-join: total
# multiply-adds across the cluster (n^2 * V, blockwise) and unpacked
# per-worker matrix cells (n * V float32). Both bound memory AND the
# broadcast; corpus-scale inputs exceed either budget and take the
# indexed prefix-join path. The cell budget is MEASURED, not sized
# from memory alone: at 8.1M cells (500 docs x 16k vocab) the sparse
# path already wins by ~12%, while at 4.7M cells (5000 docs x 931
# vocab) dense wins 6x — 6M is the crossover the SCALE.md regime
# table pins on both corpus shapes at sf0.01 and sf0.1.
_DENSE_PAIR_OPS_BUDGET = 200_000_000_000
_DENSE_MATRIX_CELLS_BUDGET = 6_000_000

# Sparse-regime verify: broadcast the per-doc rank sets (values +
# offsets, ~4 B per shingle entry) when the whole table fits this many
# int32 entries (~256 MB + id/offset overhead). Above it, fall back to
# the shuffle verify join. r7: the sf10 rung measured the verify join
# at 94% of the query (282 s of 300): 172M candidate pairs each
# dragged BOTH ~400 B rank arrays through two shuffles (~138 GB) to
# confirm 25.6k true pairs; map-side verification ships bare id pairs
# (~2.7 GB) instead.
_VERIFY_BROADCAST_ENTRIES_BUDGET = 64_000_000


def _broadcast_verify_pairs(
    cand_ids: DataFrame,
    ordered: DataFrame,
    id_col: str,
    vocab_size: int,
    t_num: int,
    t_den: int,
) -> DataFrame:
    """EXACT candidate verification without shuffling rank arrays:
    collect `ordered` (id -> sorted rank array) into one compact
    (ids, offsets, values) broadcast, repartition the BARE candidate
    id pairs by doc_a, and verify each pair map-side — per doc_a a
    boolean membership mask over the rank space, per batch a fully
    vectorized ragged gather of all doc_b arrays and one
    `np.add.reduceat` for the intersection counts. All-integer inter/
    union with the same single IEEE division as the join path, so the
    output is bit-identical to it (tested both ways).

    Scale shape: the verify join's cost is candidates x array bytes
    ACROSS THE NETWORK twice; this path's is candidates x 16 bytes
    plus one broadcast of the rank table (sum(m) entries — gated by
    `_VERIFY_BROADCAST_ENTRIES_BUDGET`; corpus-scale inputs exceed it
    and keep the join). CPU is one vectorized mask lookup per shingle
    occurrence per candidate — C speed, no per-pair Python."""
    import numpy as np
    import pandas as pd

    spark = ordered.sparkSession
    pdf = ordered.toPandas()
    order = np.argsort(pdf[id_col].to_numpy(), kind="stable")
    ids = pdf[id_col].to_numpy()[order]
    arrs = pdf["arr"].to_numpy()[order]
    n_docs = len(ids)
    lens = np.fromiter((len(a) for a in arrs), dtype=np.int64, count=n_docs)
    # int32 on purpose: ranks are < 2^31 by the vocab_size guard in
    # prefix_filter_jaccard_pairs, and the ENTRIES budget is sized for
    # 4-byte entries — int64 here would double the broadcast (and each
    # Python worker's unpickled copy) right at the gate boundary.
    values = (
        np.concatenate(arrs).astype(np.int32)
        if n_docs
        else np.array([], dtype=np.int32)
    )
    offs = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    bc = spark.sparkContext.broadcast((ids, offs, values))
    vtype = ordered.schema[id_col].dataType.simpleString()
    mask_size = vocab_size + 2  # one_based ranks

    def verify(batches):
        ids_, offs_, vals_ = bc.value
        mask = np.zeros(mask_size, dtype=bool)
        for cpdf in batches:
            if len(cpdf) == 0:
                continue
            outs = []
            for a_val, grp in cpdf.groupby("doc_a", sort=False):
                ia = int(np.searchsorted(ids_, a_val))
                arr_a = vals_[offs_[ia] : offs_[ia + 1]]
                ma = int(offs_[ia + 1] - offs_[ia])
                mask[arr_a] = True
                b_ids = grp["doc_b"].to_numpy()
                idxs = np.searchsorted(ids_, b_ids)
                starts = offs_[idxs]
                ls = offs_[idxs + 1] - starts
                csum = np.concatenate(([0], np.cumsum(ls)[:-1]))
                total = int(ls.sum())
                pos = (
                    np.arange(total)
                    - np.repeat(csum, ls)
                    + np.repeat(starts, ls)
                )
                inter = np.add.reduceat(mask[vals_[pos]], csum).astype(np.int64)
                mask[arr_a] = False
                union = ma + ls - inter
                keep = t_den * inter >= t_num * union
                if keep.any():
                    outs.append(
                        pd.DataFrame(
                            {
                                "doc_a": np.repeat(a_val, int(keep.sum())),
                                "doc_b": b_ids[keep],
                                "n_common": inter[keep],
                                "jaccard": inter[keep] / union[keep],
                            }
                        )
                    )
            if outs:
                yield pd.concat(outs, ignore_index=True)

    return cand_ids.repartition("doc_a").mapInPandas(
        verify, f"doc_a {vtype}, doc_b {vtype}, n_common bigint, jaccard double"
    )


def _dense_bitset_pairs(
    tok: DataFrame,
    id_col: str,
    vocab_size: int,
    t_num: int,
    t_den: int,
) -> DataFrame:
    """Exact Jaccard self-join for the DENSE-vocabulary regime: the
    (id, token) pair stream becomes an n x V bit-matrix directly (no
    per-doc array assembly); the packed matrix broadcasts and every
    task computes an exact intersection-count block as a single
    matmul (popcount-by-GEMM), then applies the identical integer
    threshold. Output is bit-identical to the sparse path: n_common
    is an exact integer count and jaccard the same two-integer double
    division.

    The token->column bijection is a driver-side ``pd.factorize`` over
    the ALREADY-collected pair stream: intersection counts are
    invariant to column permutation, so no distributed rank build
    (dense_index + broadcast join) is needed — dropping it cut the
    dense end-to-end ~25% again on top of the r6 number (the collect
    is the same either way, bounded by the cell budget below).

    Scale shape: parallelism is by ROW BLOCK (n^2/blocks pairs per
    task, zero shuffle, zero pair materialization); the gate above
    keeps the broadcast and per-task arithmetic bounded — the (id,
    token) collect is <= n x V rows by distinctness. Intersection
    counts are <= the max set size <= vocab_size, and the gate requires
    vocab_size <= 2^24, so float32 GEMM accumulation stays integer-
    exact by construction (np.rint is then lossless)."""
    import numpy as np
    import pandas as pd

    spark = tok.sparkSession
    pdf = tok.select(id_col, "token").toPandas()
    ids = np.sort(pdf[id_col].unique())
    n = len(ids)
    pos = {v: i for i, v in enumerate(ids)}
    cols, uniques = pd.factorize(pdf["token"])
    if len(uniques) > vocab_size:
        raise AssertionError(
            "dense path observed more tokens than the gate-sizing pass "
            f"({len(uniques)} > {vocab_size}) — non-deterministic input"
        )
    bits = np.zeros((n, vocab_size), dtype=np.uint8)
    bits[pdf[id_col].map(pos).to_numpy(), cols] = 1
    bc = spark.sparkContext.broadcast((ids, np.packbits(bits, axis=1)))
    # Keep blocks >= ~256 rows: each task pays a Python-worker round
    # trip plus a full matrix unpack, so tiny inputs must not schedule
    # one sliver per core (measured ~1s of pure dispatch at n=500).
    n_blocks = max(1, min(n // 256, spark.sparkContext.defaultParallelism * 2))
    bs = -(-n // n_blocks)
    vtype = tok.schema[id_col].dataType.simpleString()

    # Fused-threshold arithmetic stays int32-exact only while
    # (t_den + 2*t_num) * 2^24 < 2^31; ordinary thresholds (1/2, 2/3,
    # 9/10) are far inside it, extreme ratios (99/100) take the wide
    # int64 form. r10 optimization: the int64 formulation allocated six
    # full-block temporaries (rint copy, int64 inter, 2-op union,
    # td*inter, tn*union) — ~70 MB of memory traffic per 264x5000
    # block, which SATURATED memory bandwidth when every core ran a
    # block task concurrently (measured 19 x 0.13 s of compute taking
    # 4-6 s wall, reproduced with plain multiprocessing — guide §5).
    # The fused form rewrites td*i >= tn*(sa+sb-i) as
    # (td+tn)*i - tn*sb >= tn*sa, runs in int32 with in-place ops
    # (~4x less traffic), and converts to int64 only for survivors.
    fused_i32 = (t_den + 2 * t_num) * (1 << 24) < (1 << 31)

    def gen(batches):
        bids, packed = bc.value
        a = np.unpackbits(packed, axis=1)[:, :vocab_size].astype(np.float32)
        sizes = a.sum(axis=1).astype(np.int32)
        at = a.T
        col = np.arange(n)[None, :]
        for pdf in batches:
            for blk in pdf["id"]:
                s = int(blk) * bs
                e = min(n, s + bs)
                if s >= e:
                    continue
                g = a[s:e] @ at
                np.rint(g, out=g)
                if fused_i32:
                    inter = g.astype(np.int32)
                    v = (t_den + t_num) * inter
                    v -= t_num * sizes[None, :]
                    keep = v >= (t_num * sizes[s:e])[:, None]
                    keep &= np.arange(s, e)[:, None] < col
                else:
                    inter = g.astype(np.int64)
                    union = (
                        sizes[s:e, None].astype(np.int64)
                        + sizes[None, :]
                        - inter
                    )
                    keep = (t_den * inter >= t_num * union) & (
                        np.arange(s, e)[:, None] < col
                    )
                ii, jj = np.nonzero(keep)
                iv = inter[ii, jj].astype(np.int64)
                uv = sizes[ii + s].astype(np.int64) + sizes[jj] - iv
                yield pd.DataFrame(
                    {
                        "doc_a": bids[ii + s],
                        "doc_b": bids[jj],
                        "n_common": iv,
                        "jaccard": iv / uv,
                    }
                )

    # range(start, end, step, numPartitions) lays one block id per
    # partition DIRECTLY — the former .repartition(n_blocks) paid a
    # round-robin Exchange (an extra stage-job + its sort-before-
    # repartition) to reach the same one-task-per-block layout (r11,
    # guide §2.4: an accidental exchange on the block driver).
    return spark.range(0, n_blocks, 1, n_blocks).mapInPandas(
        gen, f"doc_a {vtype}, doc_b {vtype}, n_common bigint, jaccard double"
    )


def verify_jaccard_pairs(
    pairs: DataFrame,
    sets_a: DataFrame,
    sets_b: DataFrame,
    t_num: int,
    t_den: int,
    id_col: str = "doc_id",
    set_col: str = "sh",
) -> DataFrame:
    """Exact Jaccard verify of candidate id pairs: join ``pairs``'
    doc_a/doc_b ids to their sets in ``sets_a``/``sets_b`` ((id_col,
    set_col) frames of non-empty distinct arrays) and keep the pairs
    with Jaccard >= t_num/t_den, tested in integers
    (``t_den*inter >= t_num*union``) so no double rounding can flip a
    decision at the threshold. Returns (doc_a, doc_b, n_common,
    jaccard)."""
    a, b = "doc_a", "doc_b"
    j = pairs.join(
        sets_a.select(F.col(id_col).alias(a), F.col(set_col).alias("_sa")), a
    ).join(sets_b.select(F.col(id_col).alias(b), F.col(set_col).alias("_sb")), b)
    inter = F.size(F.array_intersect("_sa", "_sb"))
    union = F.size("_sa") + F.size("_sb") - inter
    return j.filter(F.lit(t_den) * inter >= F.lit(t_num) * union).select(
        a,
        b,
        inter.cast("long").alias("n_common"),
        (inter.cast("double") / union).alias("jaccard"),
    )


def prefix_filter_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 2,
    t_num: int = 1,
    t_den: int = 2,
    pretokenized: DataFrame | None = None,
) -> DataFrame:
    """EXACT set-similarity self-join with AllPairs/PPJoin prefix
    filtering: every pair with shingle-Jaccard >= t_num/t_den, no
    approximation — the lossless counterpart to MinHash-LSH.

    Why it scales:

    * Shingles are INTERNED to dense integer ranks ordered by global
      rarity (document frequency, then shingle text). Sets become
      int arrays whose plain ascending sort IS the canonical rarity
      order — per-doc struct sorts, string join keys, and string
      array intersections all collapse to integer ops (measured 2x
      end-to-end over the string formulation; the vocabulary-sized
      rank assignment is one small window, never corpus-sized).
    * A pair with J >= t must share a rank within the first
      m - ceil(t*m) + 1 of each side (prefix filter), and only
      occurrences passing PPJoin's length filter (t*|a| <= |b| <=
      |a|/t) and positional filter (1 + min(ma-pa, mb-pb) >= the
      minimum overlap ceil(t/(1+t)*(ma+mb))) generate a candidate —
      all lossless, all integer arithmetic.
    * Candidate generation shuffles ONLY (rank, id, pos, m); the
      arrays stay out of the pair join and its distinct, joining
      back exactly once per VERIFIED candidate side (carrying them
      through the join moved each array once per candidate instead
      of once per doc — measured 40x worse on a dense corpus).

    Thresholds stay integer end-to-end (t_den*inter >= t_num*union),
    so the >= decision can never float-drift.

    Regime adaptivity: prefix filtering wins when the vocabulary is
    LARGE relative to the corpus (rare shingles exist, prefixes rarely
    collide). When the vocabulary is SMALL (every shingle is common —
    template-heavy corpora, short alphabets), prefixes all collide and
    candidate generation degenerates toward all-pairs through a
    shuffle. In that dense regime the sets are better treated as
    bitmaps over the vocabulary: broadcast the packed bit-matrix and
    compute exact intersection counts blockwise with a BLAS matmul —
    no shuffle, no pair materialization, same exact output
    (`_dense_bitset_pairs`). The gate is sized from the measured
    counts (pair-ops and broadcast-bytes budgets), so corpus-scale
    inputs always take the indexed sparse path.
    """
    from crane_spark.operators.indexing import dense_index

    # One materialization feeds BOTH the vocabulary aggregate and the
    # signature build (the shingle extraction is the expensive scan;
    # without the checkpoint it runs twice). The exploded builder is
    # ~5x the array-lambda form (see shingle_tokens). LAZY checkpoint
    # on purpose (r8 verdict #5): the sizing aggregate right below is
    # always the first action, so materialization rides that job
    # instead of paying its own.
    # `pretokenized` — a (id, token) DISTINCT shingle stream the
    # caller already built (shingle_tokens) and checkpointed — lets a
    # consumer that runs BOTH this exact join and the MinHash pipeline
    # over the same docs (lsh_eval) pay the shingle scan once (r9
    # verdict #6).
    tok = (
        pretokenized
        if pretokenized is not None
        else shingle_tokens(docs, text_col, id_col, shingle_n).localCheckpoint(
            eager=False
        )
    )
    # Gate sizing first, in ONE job over the checkpointed tokens (the
    # separate distinct-doc count job this replaces paid a full pass).
    sizes = tok.agg(
        F.count_distinct("token").alias("v"),
        F.count_distinct(F.col(id_col)).alias("n"),
        # total (id, token) rows == the ranked-entry count the verify-
        # regime gate needs below (every tok row joins exactly one
        # vocab rank), folded here so it never costs its own job
        F.count(F.lit(1)).alias("e"),
    ).first()
    vocab_size, n_docs = int(sizes["v"]), int(sizes["n"])
    n_entries = int(sizes["e"])
    if vocab_size >= 2**31:
        # The int cast below would silently WRAP past 2^31 entries and
        # corrupt the prefix-filter total order (ADVICE r3) — fail
        # loudly instead; widening `rank` (and the signature arrays)
        # to long is the supported change when a corpus gets there.
        raise ValueError(
            f"shingle vocabulary has {vocab_size} entries; int ranks "
            "hold only < 2^31 — widen rank to long for this corpus"
        )

    def ranked_tokens(vocab):
        v = vocab.select("token", F.col("rank").cast("int").alias("rank"))
        return tok.join(F.broadcast(v), "token").select(F.col(id_col), "rank")

    if (
        0 < n_docs
        and n_docs * n_docs * vocab_size <= _DENSE_PAIR_OPS_BUDGET
        and n_docs * vocab_size <= _DENSE_MATRIX_CELLS_BUDGET
        # float32 GEMM accumulation is integer-exact only while the
        # per-pair intersection count (<= max set size <= vocab_size)
        # stays inside float32's 2^24 contiguous-integer range; a huge
        # vocabulary with tiny n could pass the cell budget yet break
        # exactness, so gate it out explicitly.
        and vocab_size <= 2**24
    ):
        # The dense path builds the bitmap straight from (id, token)
        # pairs — the per-doc array assembly (collect_list shuffle +
        # sort) exists only for the prefix machinery and is skipped
        # entirely (measured ~25% off the dense end-to-end). It also
        # needs no RARITY order — intersection counts are invariant to
        # the column permutation — so since r7 the bijection is a
        # driver-side factorize over the (bounded, already-collected)
        # pair stream inside _dense_bitset_pairs; the distributed
        # dense_index build + broadcast join this replaced cost
        # ~1.5 s cold / 0.8 s warm per run at sf0.1 for nothing the
        # GEMM could observe.
        return _dense_bitset_pairs(tok, id_col, vocab_size, t_num, t_den)
    # Sparse regime: vocabulary-sized RARITY rank assignment as a dense
    # int (1..V), built by the two-level bucketed construction — NO
    # single-partition sort anywhere, so a 100 TB shingle vocabulary
    # (billions of tokens) ranks in parallel. The major order is dfreq
    # (rarity — what the prefix filter needs); within a dfreq the
    # hash-bucket/token order is an arbitrary deterministic tiebreak,
    # exactly as `token` alone was. rank stays int: the per-doc
    # signature arrays sort/intersect as plain ints (measured 2x over
    # the string formulation).
    vocab = dense_index(
        tok.groupBy("token").agg(F.count(F.lit(1)).alias("dfreq")),
        tiebreak="token",
        major="dfreq",
        out="rank",
        one_based=True,
        checkpoint=True,  # input is a tokenize+count aggregate
        # the sizing aggregate above already measured the vocabulary:
        # small vocabularies take dense_index's one-window regime
        # (bit-identical ranks, no construction jobs — r9 verdict #6)
        n_rows=vocab_size,
    )
    ranked = ranked_tokens(vocab)
    # lazy: both consumers' first action fully scans it (the broadcast
    # regime's toPandas, or the join regime's single verify action)
    ordered = (
        ranked.groupBy(id_col)
        .agg(F.sort_array(F.collect_list("rank")).alias("arr"))
    ).localCheckpoint(eager=False)
    m = F.size("arr")
    # p = m - ceil(t*m) + 1, all-integer
    ceil_tm = (F.lit(t_num) * m + F.lit(t_den - 1)).cast("long") / F.lit(t_den)
    p = (m - F.floor(ceil_tm) + 1).cast("int")
    pref = ordered.select(
        F.col(id_col),
        F.size("arr").alias("m"),
        F.posexplode(F.slice("arr", F.lit(1), p)).alias("pos0", "rank"),
    ).select(F.col(id_col), "m", (F.col("pos0") + 1).alias("pos"), "rank")
    a = pref.select(
        F.col(id_col).alias("doc_a"), F.col("m").alias("ma"), F.col("pos").alias("pa"), "rank"
    )
    b = pref.select(
        F.col(id_col).alias("doc_b"), F.col("m").alias("mb"), F.col("pos").alias("pb"), "rank"
    )
    alpha = F.expr(
        f"({t_num} * (ma + mb) + {t_num + t_den - 1}) div {t_num + t_den}"
    )
    ubound = F.lit(1) + F.least(
        F.col("ma") - F.col("pa"), F.col("mb") - F.col("pb")
    )
    # Candidate reduction is a bare 2-id distinct ON PURPOSE. PPJoin's
    # aggregated positional filter (groupBy (doc_a, doc_b) carrying
    # cnt/max_pa/max_pb/ma/mb, filter cnt + min(remaining) >= alpha)
    # was measured at the sf10 rung in r7: it halves candidates
    # (172M -> 85M, lossless) but the aggregation state makes the
    # candidate shuffle rows ~2.5x wider, and end-to-end time came out
    # FLAT (206.9 s vs 206.5 s) — the broadcast verify is cheap enough
    # that candidate count no longer dominates; shuffle BYTES do. The
    # per-occurrence ubound filter below is nearly free (prunes before
    # the exchange) and stays.
    cand_ids = (
        a.join(b, ["rank"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(
            (F.lit(t_num) * F.col("ma") <= F.lit(t_den) * F.col("mb"))
            & (F.lit(t_num) * F.col("mb") <= F.lit(t_den) * F.col("ma"))
            & (ubound >= alpha)
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    # Verification regime (r7, measured at the sf10 rung): candidates
    # can outnumber true pairs by ~7000x on dense-vocabulary corpora,
    # and the shuffle verify join pays candidates x array-bytes across
    # the network TWICE (94% of the sf10 runtime). When the rank table
    # fits the broadcast budget, verify map-side over bare id pairs
    # instead; beyond it (true corpus scale) the join remains — its
    # cost there is proportional to candidates, which rarity-ordered
    # prefixes DO prune on genuinely sparse corpus-scale vocabularies.
    # n_entries (sum of per-doc array sizes == tok row count) comes
    # from the single sizing aggregate above — no extra job here.
    if n_entries <= _VERIFY_BROADCAST_ENTRIES_BUDGET:
        return _broadcast_verify_pairs(
            cand_ids, ordered, id_col, vocab_size, t_num, t_den
        )
    return verify_jaccard_pairs(
        cand_ids, ordered, ordered, t_num, t_den, id_col=id_col, set_col="arr"
    )


# --------------------------------------------------------------------
# Maximal duplicated-span ranges (suffix-array-style dedup)
# --------------------------------------------------------------------


def _sliding_grams(
    docs: DataFrame, text_col: str, id_col: str, L: int
) -> DataFrame:
    """(id, p, h): 96-bit hash of every SLIDING L-token gram with its
    0-based start position. Docs shorter than L produce no rows
    (`sequence` DESCENDS when end < start — it never returns empty —
    so the degenerate case is filtered before the sequence is built).

    `h` is struct(xxhash64(gram), hash(gram)) — an INTERNAL grouping
    key that never reaches query output (spans are reported by token
    position), so only injectivity over the corpus's actual grams
    matters, exactly as with the md5 hex it replaced. 96 independent
    bits put the expected number of colliding gram pairs at ~6e-4 for
    a 10^13-gram (100 TB-class) stream. Versus md5-hex the key is
    12 bytes instead of a 32-char string (r10: query shuffle write
    11.3 -> 7.0 MB at sf0.1; skew-safe 20.6 -> 13.2) and hashing
    skips the hex round-trip
    (xx64+hash aggregate measured 0.87 s vs md5 1.36 s isolated)."""
    toks = tokens(text_col)
    n = F.size(toks)
    pos = F.when(n >= L, F.sequence(F.lit(0), n - L)).otherwise(
        F.array().cast("array<int>")
    )
    gram = F.array_join(F.slice("toks", F.col("p0") + 1, L), " ")
    return (
        docs.select(F.col(id_col), F.explode(pos).alias("p0"), toks.alias("toks"))
        .select(
            id_col,
            F.col("p0").cast("long").alias("p"),
            gram_key(gram).alias("h"),
        )
    )


def dup_span_ranges(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    L: int = 8,
    skew_safe: bool = False,
) -> DataFrame:
    """MAXIMAL duplicated-span detection at arbitrary alignment — the
    relational form of suffix-array training-data dedup (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better") at
    resolution ``L`` tokens: every sliding L-gram shared by >= 2
    documents is an anchor; overlapping/adjacent anchor hits inside a
    document merge into maximal [span_start, span_end) token ranges by
    a gaps-and-islands pass.

    Two regimes over the duplicated-gram test, identical output
    (both compute `min(doc_id) != max(doc_id)` per gram hash):

    * ``skew_safe=False`` (default): ONE gram scan; the test is a
      window over the h-partition. Fastest on ordinary duplication
      profiles (measured 2.3x end-to-end at sf0.1), but a single
      DOMINANT gram — boilerplate shared by millions of docs — lands
      every occurrence in one window partition that one task must
      sort; spilling bounds memory but not that task's wall clock,
      and AQE cannot split window partitions.
    * ``skew_safe=True``: the salted two-level min/max. Level 1
      aggregates (h, salt=hash(id) % SPAN_SALT_BUCKETS) so no reducer
      key ever receives more than 1/SPAN_SALT_BUCKETS of a dominant
      gram's occurrences REGARDLESS of partial-aggregation
      effectiveness; level 2 folds the <= SPAN_SALT_BUCKETS partial
      rows per h into the dup verdict; survivors semi-join back
      against a second gram scan (join skew is AQE-splittable, unlike
      window skew). Costs that second scan — the price of removing
      the single-task bottleneck, and the regime a corpus-scale
      caller picks (TUNING.md).
    """
    from pyspark.sql import Window

    grams = _sliding_grams(docs, text_col, id_col, L)
    if skew_safe:
        partial = grams.groupBy(
            "h", F.pmod(F.hash(F.col(id_col)), F.lit(SPAN_SALT_BUCKETS)).alias("_s")
        ).agg(F.min(id_col).alias("_mn"), F.max(id_col).alias("_mx"))
        dup = (
            partial.groupBy("h")
            .agg((F.min("_mn") != F.max("_mx")).alias("_dup"))
            .filter(F.col("_dup"))
            .select("h")
        )
        hits = grams.join(dup, "h", "left_semi").select(id_col, "p")
    else:
        wh = Window.partitionBy("h")
        hits = (
            grams.select(
                id_col,
                "p",
                (F.min(id_col).over(wh) != F.max(id_col).over(wh)).alias("_dup"),
            )
            .filter(F.col("_dup"))
            .drop("_dup")
        )
    w = Window.partitionBy(id_col).orderBy("p")
    prev_end = F.max(F.col("p") + L).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = hits.select(
        id_col,
        "p",
        F.when(prev_end.isNull() | (F.col("p") > prev_end), F.lit(1))
        .otherwise(F.lit(0))
        .alias("brk"),
    )
    islands = flagged.select(
        id_col, "p", F.sum("brk").over(w).cast("long").alias("island")
    )
    return islands.groupBy(id_col, "island").agg(
        F.min("p").alias("span_start"),
        (F.max("p") + L).alias("span_end"),
        F.count(F.lit(1)).alias("n_grams"),
    )
