"""Embedding similarity search over array<float> columns.

Two tiers, as a 100 TB ANN pipeline needs:

* brute_force_topk — exact cosine top-k: broadcast the (small) query
  set against the candidate corpus; one pass, no index. The
  correctness baseline and the right answer whenever |queries| is
  small relative to the corpus.
* ivf_assign — the IVF building block: assign every vector to its
  nearest centroid. At scale the corpus is partitioned by centroid id
  (cluster-prune at query time: probe only the closest cells), turning
  an O(N) scan into O(N/cells * probes).

All math is JVM higher-order functions over double-cast arrays
(functions.vectors) — deterministic order, no Python, no shuffle for
the score computation itself. Cosines are rounded to 4 decimals and
ranked on the rounded value with an id tiebreaker so results are
reproducible across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from crane_spark.functions.vectors import dot, to_double_vec, vec_norm
from crane_spark.tables import fan_out

ROUND_DIGITS = 4


def _with_double_vec(df: DataFrame, vec_col: str, out: str) -> DataFrame:
    return df.withColumn(out, to_double_vec(vec_col))


def _normed(
    df: DataFrame, vec_col: str, id_col: str, id_out: str, vec_out: str, norm_out: str
) -> DataFrame:
    """(id, double-vector, norm) with each expression in its OWN
    projection step. Inlined into one select, CollapseProject would
    substitute the float->double transform into every element of the
    norm lambda (interpreted eval, no subexpression elimination) and a
    downstream score would re-derive the norm per PAIR; staged like
    this, each vector is cast once and normed once, and the pair score
    is a plain dot / (n_a * n_b)."""
    return (
        df.select(F.col(id_col).alias(id_out), F.col(vec_col))
        .select(id_out, to_double_vec(vec_col).alias(vec_out))
        .select(id_out, vec_out, vec_norm(vec_out).alias(norm_out))
    )


def brute_force_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k of each query against all candidates
    (excluding self-matches on id). Queries are broadcast."""
    q = _normed(queries, vec_col, id_col, "query_id", "qv", "qn")
    c = _normed(fan_out(candidates), vec_col, id_col, "neighbor_id", "cv", "cn")
    sim = F.round(
        dot("qv", "cv") / (F.col("qn") * F.col("cn")), ROUND_DIGITS
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= k)
    )


def cosine_near_dup_pairs(
    vectors: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_id_col: str = "centroid_id",
    assigned: DataFrame | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, IVF-bucketed.

    All-pairs cosine is O(N^2) — unusable on a real corpus. Instead:
    assign every vector to its nearest centroid (one broadcast pass),
    then compare pairs only WITHIN a cell. Recall is bounded by the
    cell partition (near-identical vectors land in the same cell);
    cost is sum over cells of |cell|^2 instead of N^2.
    Returns (vec_a < vec_b, cosine) with cosine >= threshold.
    ``assigned`` lets callers that already computed the cell
    assignment (e.g. `semantic_dedup_keep`) skip the second pass.
    """
    if assigned is None:
        assigned = ivf_assign(vectors, centroids, vec_col, id_col, centroid_id_col)
    v = _with_double_vec(vectors, vec_col, "v").select(F.col(id_col), "v")
    cell = assigned.select(id_col, centroid_id_col).join(v, id_col)

    # Within-cell pair scoring is a grouped-map GEMM: each cell's
    # vectors stack into an (n x d) matrix, normalize rows once, and
    # one BLAS matmul yields every pairwise cosine — Arrow-batched
    # numpy, ~2 orders faster than per-pair interpreted array lambdas,
    # and the per-cell work is exactly how a 100 TB corpus partitions
    # (cells >> cores; no cross-cell traffic). Raw dots come back to
    # the JVM and are rounded/thresholded there, keeping the rounding
    # semantics identical to the other similarity operators.
    id_type = cell.schema[id_col].dataType.simpleString()

    def cell_pairs(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values(id_col)
        mat = np.array(pdf["v"].tolist(), dtype=np.float64)
        n = len(mat)
        if n < 2:
            return pd.DataFrame({"vec_a": pdf[id_col][:0], "vec_b": pdf[id_col][:0],
                                 "raw": np.zeros(0)})
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
        sims = mat @ mat.T
        ia, ib = np.triu_indices(n, 1)
        ids = pdf[id_col].to_numpy()
        return pd.DataFrame({"vec_a": ids[ia], "vec_b": ids[ib], "raw": sims[ia, ib]})

    pairs = cell.groupBy(centroid_id_col).applyInPandas(
        cell_pairs, f"vec_a {id_type}, vec_b {id_type}, raw double"
    )
    return (
        pairs.select(
            "vec_a", "vec_b", F.round("raw", ROUND_DIGITS).alias("cosine")
        )
        .filter(F.col("cosine") >= threshold)
    )


def semantic_dedup_keep(
    vectors: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_id_col: str = "centroid_id",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023):
    cluster the embedding space (IVF cells stand in for the k-means
    partition), then inside each cell drop every vector that has a
    near-duplicate (cosine >= threshold) with a LOWER id — the greedy
    deterministic keeper policy: survivors are exactly the vectors not
    dominated by any earlier vector in their cell.

    Returns one row per vector: (vec_id, centroid_id, kept 1/0).
    Shape at scale: one broadcast assignment pass, per-cell pair
    scoring (the `cosine_near_dup_pairs` GEMM), and the drop set
    shuffles bare ids only. The policy is order-free: "dominated by a
    lower id" needs no sequential scan, so it parallelizes where true
    greedy chaining would not.
    """
    assigned = ivf_assign(vectors, centroids, vec_col, id_col, centroid_id_col)
    pairs = cosine_near_dup_pairs(
        vectors, centroids, threshold, vec_col, id_col, centroid_id_col,
        assigned=assigned,
    )
    dropped = pairs.select(F.col("vec_b").alias(id_col)).distinct().withColumn(
        "_dropped", F.lit(1)
    )
    return (
        assigned.select(id_col, centroid_id_col)
        .join(dropped, id_col, "left")
        .select(
            id_col,
            centroid_id_col,
            F.when(F.col("_dropped").isNull(), F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("kept"),
        )
    )


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_id_col: str = "centroid_id",
) -> DataFrame:
    """Assign each vector to its nearest (max-cosine) centroid.
    Centroids broadcast; ties break on centroid id.

    The argmax is an AGGREGATE, not a window (r8 re-plan): per-vector
    "best (cosine desc, id asc)" is max(struct(cosine, -id)) for
    numeric ids, which partial-aggregates map-side — the exchange
    carries n one-row partials instead of sorting all n*|centroids|
    scored rows through a window partition (at 200k x 58 that window
    shuffled 11.6M rows twice inside the routed init; measured as the
    dominant init term). Identical output by construction: the struct
    max picks exactly the row row_number-over-(cosine desc, id asc)
    picked, on the same rounded cosines. Non-numeric centroid ids
    (can't negate) keep the window form."""
    from pyspark.sql.types import NumericType

    v = _normed(fan_out(vectors), vec_col, id_col, id_col, "vv", "vn")
    c = _normed(centroids, vec_col, centroid_id_col, centroid_id_col, "cv", "cn")
    sim = F.round(
        dot("vv", "cv") / (F.col("vn") * F.col("cn")), ROUND_DIGITS
    )
    scored = v.crossJoin(F.broadcast(c)).select(
        id_col, centroid_id_col, sim.alias("cosine")
    )
    if isinstance(centroids.schema[centroid_id_col].dataType, NumericType):
        best = scored.groupBy(id_col).agg(
            F.max(
                F.struct(
                    F.col("cosine"), (-F.col(centroid_id_col)).alias("_nc")
                )
            ).alias("_b")
        )
        return best.select(
            id_col,
            (-F.col("_b._nc"))
            .cast(centroids.schema[centroid_id_col].dataType)
            .alias(centroid_id_col),
            F.col("_b.cosine").alias("cosine"),
        )
    w = Window.partitionBy(id_col).orderBy(F.desc("cosine"), F.asc(centroid_id_col))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(id_col, centroid_id_col, "cosine")
    )


def ivf_probe_topk(
    queries: DataFrame,
    candidates: DataFrame,
    centroids: DataFrame,
    k: int = 3,
    probes: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_id_col: str = "centroid_id",
    assigned: DataFrame | None = None,
) -> DataFrame:
    """ANN top-k via IVF cell probing — the scale path that replaces
    brute force once the corpus outgrows a full scan.

    Candidates are assigned to their nearest cell once (an index-build
    step; at warehouse scale, a parquet table partitioned by cell).
    Each query probes its `probes` nearest cells and re-ranks exactly
    within them: cost O(|corpus|/cells * probes) per query instead of
    O(|corpus|). Recall < 1 by construction — a neighbor whose cell
    isn't probed is missed — which is the standard IVF tradeoff.

    ``assigned`` ((id, centroid_id)) lets callers serve from a
    PERSISTED index (e.g. the streaming ingest store) without paying
    the assignment pass again — the index is data, not session state.

    Scores are dot products of pre-normalized vectors, rounded to 4
    decimals with id tiebreakers (deterministic across engines).
    """
    cand_cells = (
        assigned
        if assigned is not None
        else ivf_assign(candidates, centroids, vec_col, id_col, centroid_id_col)
    )
    cn = _with_double_vec(candidates, vec_col, "cv").select(
        F.col(id_col), vec_norm("cv").alias("cnrm"), "cv"
    )
    # Checkpoint BEFORE the normalizing transform: CollapseProject
    # would otherwise inline the norm aggregate into the per-element
    # lambda (d x d interpreted ops per vector).
    cand_raw = (
        cand_cells.select(id_col, centroid_id_col)
        .join(cn, id_col)
        # lazy (r11): materializes inside the query's own action
        .localCheckpoint(eager=False)
    )
    cand = cand_raw.select(
        F.col(id_col).alias("neighbor_id"),
        centroid_id_col,
        F.transform("cv", lambda x: x / F.col("cnrm")).alias("cvn"),
    )

    q = _normed(queries, vec_col, id_col, "query_id", "qv", "qnrm")
    c = _normed(centroids, vec_col, centroid_id_col, centroid_id_col, "ctv", "ctn")
    qsim = F.round(
        dot("qv", "ctv") / (F.col("qnrm") * F.col("ctn")), ROUND_DIGITS
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("qcos"), F.asc(centroid_id_col))
    probed = (
        q.crossJoin(F.broadcast(c))
        .select("query_id", "qv", "qnrm", centroid_id_col, qsim.alias("qcos"))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= probes)
        .select(
            "query_id",
            centroid_id_col,
            F.transform("qv", lambda x: x / F.col("qnrm")).alias("qvn"),
        )
    )

    sim = F.round(dot("qvn", "cvn"), ROUND_DIGITS)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        cand.join(F.broadcast(probed), centroid_id_col)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim.alias("cosine"))
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= k)
    )


def hashed_embeddings(
    docs: DataFrame,
    dim: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Feature-hashed text embeddings (the hashing trick): every token
    maps to one of ``dim`` buckets by md5 prefix with an md5-derived
    sign, per-doc signed counts assemble into a dense L2-normalized
    array<float> — a model-free embedding computed entirely in the
    engine, which closes the text -> vector -> ANN loop without any
    external encoder: the output schema matches the `embeddings` table
    and feeds brute_force_topk / ivf_probe_topk / knn_graph_build
    directly.

    Why it's sound: signed feature hashing is an unbiased JL-style
    projection of the bag-of-words vector (public literature:
    Weinberger et al., "Feature Hashing for Large Scale Multitask
    Learning"), so cosine over hashed vectors approximates token-set
    cosine — near-duplicate texts land near cosine 1 (tested).

    Scale shape: explode -> (doc, bucket) hash-agg (map-side combined,
    <= dim short rows per doc) -> per-doc assembly; signed counts are
    INTEGERS summed in double, so the aggregation is order-independent
    without the decimal routing. All md5 arithmetic is the engine's
    cross-engine-stable idiom (sampling.hash_bucket)."""
    from crane_spark.functions.text import tokens

    tok = (
        fan_out(docs)
        .select(F.col(id_col), F.explode(tokens(text_col)).alias("token"))
        .filter(F.col("token") != "")
    )
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("token")), 1, 4), 16, 10).cast("long"),
        F.lit(dim),
    )
    sign = F.when(
        F.pmod(
            F.conv(
                F.substring(F.md5(F.concat(F.lit("s:"), F.col("token"))), 1, 2), 16, 10
            ).cast("long"),
            F.lit(2),
        )
        == 0,
        F.lit(1.0),
    ).otherwise(F.lit(-1.0))
    cells = (
        tok.select(F.col(id_col), bucket.alias("b"), sign.alias("s"))
        .groupBy(id_col, "b")
        .agg(F.sum("s").alias("w"))
    )
    assembled = (
        cells.groupBy(id_col)
        .agg(F.map_from_entries(F.collect_list(F.struct("b", "w"))).alias("m"))
        .select(
            F.col(id_col),
            F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda i: F.coalesce(F.try_element_at("m", i.cast("long")), F.lit(0.0)),
            ).alias("v"),
        )
    )
    nrm = vec_norm("v")
    return assembled.select(
        F.col(id_col).alias("vec_id"),
        F.when(
            nrm > 0, F.transform("v", lambda x: (x / nrm).cast("float"))
        )
        .otherwise(F.transform("v", lambda x: x.cast("float")))
        .alias("embedding"),
    )
