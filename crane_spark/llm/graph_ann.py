"""Graph-based ANN: distributed k-NN-graph construction (NN-Descent)
plus greedy beam search — the navigable-graph family (HNSW and
kin) re-expressed for a shared-nothing engine.

True HNSW insertion is inherently sequential (every insert greedily
descends the graph built so far), which shards poorly. The standard
distributed substitute keeps the two properties that matter —
a neighborhood graph whose edges approximate each point's true
nearest neighbors, and sublinear search by greedy expansion — while
replacing sequential insertion with NN-DESCENT (Dong et al., WWW'11,
public literature): start from a cheap blocked approximation, then
iterate "a neighbor of my neighbor is probably my neighbor", each
round one self-join + exact re-score + per-node top-k. Every step is
a DataFrame op (joins, windows, JVM HOF cosines from
functions.vectors); convergence is geometric in practice.

Search is frontier expansion over the edge table: seed each query
with `entry` well-spread nodes, then `hops` rounds of (frontier join
edges -> score new candidates -> keep beam best), accumulating the
scored set; top-k of the accumulation is the answer. Each hop touches
only edge partitions reachable from the frontier — at 100 TB the
edge table is bucketed by source node so a hop is a co-located join,
and queries batch through the same hop loop together.

Contrast with IVF (llm.similarity): IVF prunes by a global partition
(cells) and pays recall at cell boundaries; the graph path follows
local geometry and degrades more gracefully on clustered data, at
the cost of building/storing ~k edges per point. Both exist here
because a real corpus pipeline tiers them (IVF to route, graph to
refine within a routed shard).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from crane_spark.functions.vectors import to_double_vec, vec_norm
from crane_spark.llm.similarity import ROUND_DIGITS, ivf_assign
from crane_spark.operators.caching import release_local_checkpoint
from crane_spark.operators.indexing import dense_index
from crane_spark.tables import fan_out

# score = rounded cosine of pre-normalized vectors, id tiebreaks —
# identical determinism contract to llm.similarity.

# Flat-init eval count above which the hierarchically routed init
# pays for its extra stages (measured crossover between n=20k flat-
# faster and n=200k routed-3.4x-faster; see knn_graph_build).
_ROUTED_INIT_EVAL_THRESHOLD = 30_000_000

# Ceiling on the routed init's anchor-matrix broadcast (c = n^(2/3)
# rows x dim x 8 bytes, shipped to every executor by _fold_dot_rows).
# SCALE.md's decomposition puts the crossing at n ~ 100M 32-dim
# vectors (~110 MB). Past it the build ROUTES THROUGH the third
# routing level (r9 verdict #2): `_routed_assign(shuffle_anchors=
# True)` keeps the anchor matrix distributed and meets vectors
# per-super in a cogroup shuffle — bit-identical assignments, no
# broadcast that grows with c. The r8-r9 loud-fail gate became a
# regime switch. Tests force a tiny ceiling to exercise both sides,
# the same pattern as _ROUTED_INIT_EVAL_THRESHOLD's crossover tests.
_ANCHOR_BROADCAST_CEILING_BYTES = 128 << 20

# Below this n the init/seed checkpoints are created LAZY: their
# materialization rides the next eager checkpoint's job (one fewer
# action + its AQE stage jobs — the sf0.001 floor was job count, r8
# verdict #4). Above it they stay eager: a lazy checkpoint referenced
# several times in the next round's plan can race its first
# materialization and recompute the (there, expensive) init per
# reference. 20k sits well under the routed-init crossover, where
# init compute is measured trivial next to scheduling.
# r11 measured REJECTION of the next step (checkpoint-FREE fusion of
# the whole query into one adaptive execution): the duplicated plan
# references grow the tree to ~350 KB / 362 Exchange nodes, AQE's
# stage cache dedups them back to the SAME ~45 runtime jobs the lazy
# checkpoints already produce (the checkpoint RDD is the dedup either
# way), and Catalyst pays for the tree on every pass — paired
# sessions: cold 38.9/23.7/13.9 s vs 10.9/12.4/11.7 s checkpointed,
# steady flat. Reverted; the lazy-checkpoint form stands.
_LAZY_INIT_CKPT_MAX_N = 20_000


def _normalized(vectors: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    v = fan_out(vectors).select(F.col(id_col), to_double_vec(vec_col).alias("dv"))
    v = v.select(id_col, "dv", vec_norm("dv").alias("nrm"))
    return v.select(
        id_col, F.transform("dv", lambda x: x / F.col("nrm")).alias("nv")
    )


def _spread_sample(
    df: DataFrame, id_col: str, m: int, n: int, stats=None
) -> DataFrame:
    """Deterministic spread sample of ~m rows covering the id space,
    with NO sort over the table (the old rank-strided form ran
    row_number over an unpartitioned Window — one task sorting every
    vector id).

    Primary path (numeric ids): stride over the id VALUE range — one
    min/max aggregate, then a map-side modulo filter keeping ids at
    residue 0 of stride = span/m. For dense ids this reproduces the
    rank-strided sample exactly (every ~n/m-th id); for moderately
    sparse ids it still spreads by VALUE, which is the navigability
    property the blocked init and the search entry set need (a
    hash-random sample of m nodes misses whole regions with
    coupon-collector probability — measured as a 0.8 -> 0.5 recall
    drop on clustered fixtures).

    Fallback (non-numeric or so sparse the value stride starves):
    hash-strided sample trimmed in hash order — spread in
    distribution, never empty. Every ordered step (TakeOrdered) runs
    over the ~m-row sample, never the table.

    Cost/bias contract (ADVICE r3): the stride rounds UP, so at most
    m residue values exist in the span and the trailing limit(m) can
    never drop high-id residues (the old floor stride kept up to 2m-1
    rows and the ascending trim systematically shaved coverage off
    the top of the id range); and the dense-enough decision uses the
    EXPECTED kept count n/stride from the same single min/max/count
    aggregate instead of a second count() job over the filtered
    table. For uniform-ish id layouts the estimate equals the old
    measured count; a pathologically clustered id space can overshoot
    it and starve the value stride, which costs entry-set coverage,
    not correctness — the recall tests pin the floor.

    ``stats`` — a precomputed (min_id, max_id, n_rows) triple for
    ``df`` — skips the aggregate job entirely: callers that already
    ran a sizing aggregate over the same frame (knn_graph_build,
    graph_search_topk) fold the three stats into it (r8 verdict #4:
    the sf0.001 floor was job count)."""
    from pyspark.sql.types import NumericType

    if isinstance(df.schema[id_col].dataType, NumericType):
        lo, hi, n_rows = (
            stats
            if stats is not None
            else df.agg(F.min(id_col), F.max(id_col), F.count(F.lit(1))).first()
        )
        if lo is not None:
            if int(n_rows) <= m:  # whole table fits the sample
                return df.orderBy(id_col).limit(m)
            span = int(hi) - int(lo) + 1
            stride = max(1, -(-span // max(1, m)))
            est = int(n_rows) // stride
            if est * 2 >= m:
                vs = df.filter(
                    F.pmod(F.col(id_col) - F.lit(lo), F.lit(stride)) == 0
                )
                # The n/stride expectation assumes a uniform-ish id
                # layout; a clustered id space can overshoot it and
                # silently starve the entry set (ADVICE r4/r5). When
                # the estimate lands within 2x of the density
                # threshold, spend one count() on the filtered table
                # and apply the SAME gate to the measured density —
                # comfortably dense layouts (est >= m) still skip the
                # extra job.
                if est < m:
                    kept = vs.count()
                    if kept * 2 < m:
                        pass  # measured-starved: fall through to hash
                    else:
                        return vs.orderBy(id_col).limit(m)
                else:
                    return vs.orderBy(id_col).limit(m)
    h = F.xxhash64(F.col(id_col))
    stride = max(1, n // max(1, 2 * m))
    return (
        df.filter(F.pmod(h, F.lit(stride)) == 0)
        .orderBy(h, F.col(id_col))
        .limit(m)
    )


def _pair_cos(a: str, b: str):
    """JVM left-to-right dot of two normalized-vector columns,
    rounded for deterministic ranking. An Arrow-vectorized einsum
    variant was MEASURED SLOWER end-to-end at this workload (6.6 s ->
    7.3 s for build+search): the per-stage Python-worker round-trips
    outweigh the interpreted-HOF arithmetic, because the cost here is
    dominated by the topk window shuffles and candidate distincts,
    not the dot products. At genuinely pair-heavy scales the grouped-
    GEMM pattern of similarity.cosine_near_dup_pairs is the switch to
    make — per CELL, not per pair row. Assembled as one parsed
    expression (r10): the resolved tree is the identical fold —
    `0.0D` IS F.lit(0.0) — built in one gateway call instead of ~40."""
    return F.expr(
        f"round(aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, "
        f"(acc, x) -> acc + x), {ROUND_DIGITS})"
    )


def _topk_edges(scored: DataFrame, k: int, dedup: bool = False) -> DataFrame:
    """Keep each src's k best (cosine desc, dst asc) — the pruning
    that bounds the graph at k edges/node. The window form measured
    FASTER here than the aggregate-collect top-k pattern
    (`topk_per_group_agg`): with ~k*n candidate rows per round the
    dominant cost is the shuffle either way, and the window avoids
    materializing per-group arrays (8.0 s -> 6.6 s end-to-end).

    ``dedup=True`` accepts a candidate MULTISET (r10, the c9536f8
    fusion applied to the build loop): duplicate (src, dst) rows carry
    bit-identical cosines (every occurrence is scored by the same
    _pair_cos join), so dense_rank ranks each distinct (cosine, dst)
    once — the top-k SELECTION equals row_number over the deduped set
    — and the trailing distinct collapses the surviving duplicates
    WITHOUT an exchange: the window's hash(src) partitioning already
    clusters every (src, dst, cosine) group, so the aggregate runs
    partition-local (verified in the plan: no Exchange between Window
    and HashAggregate). This removes the standalone distinct exchange
    the callers paid before scoring; the cost is re-scoring duplicate
    pairs (map-side, dup factor ~ paths-per-pair <= 2 in practice) in
    exchange for one fewer shuffle-stage barrier per round."""
    w = Window.partitionBy("src").orderBy(F.desc("cosine"), F.asc("dst"))
    if dedup:
        return (
            scored.withColumn("rn", F.dense_rank().over(w))
            .filter(F.col("rn") <= k)
            .select("src", "dst", "cosine")
            .distinct()
        )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("src", "dst", "cosine")
    )


def _fold_dot_rows(
    nv: DataFrame,
    bc,
    id_col: str,
    out_col: str,
    grouped: bool = False,
):
    """(id, {out_col}, dot) for every (vector, block-row) pair — dots
    computed per Arrow batch as 'acc += v[:, j] * c[:, j]' ascending j
    from 0.0, i.e. the SAME float64 operation sequence as _pair_cos's
    fold-left aggregate, so scores are bit-identical to the HOF path
    while evaluating ~100x faster (the HOF measured ~100us per dot at
    sf10 — per-element interpreted expression trees; this is one
    vectorized multiply-add per dimension per batch). Rounding and
    argmax stay SPARK-side on the emitted rows: replicating Spark's
    BigDecimal half-up rounding in numpy is exactly the
    shortest-decimal-string trap SCALE.md's sf1 section documents.

    ``bc`` is a SparkContext broadcast of (block_ids, block_mat,
    groups), created — and DESTROYED after the consuming plan
    materializes — by the caller: one shared broadcast per
    _routed_assign instead of one per stage, so repeated graph builds
    in a long-lived session don't accumulate executor broadcast
    blocks (ADVICE r8). ``grouped`` says whether groups is non-None
    (the nv frame then carries a ``_grp`` column restricting each
    vector to one sub-block — the per-super local-anchor pass). The
    block (anchor matrix) is a broadcast-sized index structure by
    design — c = n^(2/3) rows; ~110 MB of float64 at n = 100M
    vectors, the ceiling `knn_graph_build` gates on."""
    import numpy as np
    import pandas as pd

    vtype = nv.schema[id_col].dataType.simpleString()
    group_cols = ["_grp"] if grouped else []

    def gen(batches):
        ids_all, mat_all, grp = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.stack(pdf["nv"].to_numpy())
            if grp is None:
                sel = [(np.arange(len(pdf)), np.arange(len(ids_all)))]
            else:
                sel = []
                g = pdf["_grp"].to_numpy()
                for gid in pd.unique(g):
                    cols = grp.get(gid)
                    if cols is None or len(cols) == 0:
                        continue
                    sel.append((np.nonzero(g == gid)[0], cols))
            for rows, cols in sel:
                m = v[rows]
                c = mat_all[cols]
                acc = np.zeros((m.shape[0], c.shape[0]))
                for j in range(m.shape[1]):
                    acc += m[:, j, None] * c[None, :, j]
                ii, jj = np.meshgrid(
                    np.arange(m.shape[0]), np.arange(c.shape[0]), indexing="ij"
                )
                yield pd.DataFrame(
                    {
                        id_col: pdf[id_col].to_numpy()[rows][ii.ravel()],
                        out_col: ids_all[cols][jj.ravel()],
                        "_dot": acc.ravel(),
                    }
                )

    cols = [id_col, "nv", *group_cols]
    return nv.select(*cols).mapInPandas(
        gen, f"{id_col} {vtype}, {out_col} {vtype}, _dot double"
    )


def _argmax_rounded(scored: DataFrame, id_col: str, out_col: str) -> DataFrame:
    """Per-id best (rounded cosine desc, {out_col} asc) as a map-side-
    combinable aggregate — max(struct(round(dot), -out_col)) picks
    exactly the row a row_number window over the same ordering picks,
    without sorting the full pair stream (numeric out_col ids)."""
    return (
        scored.groupBy(id_col)
        .agg(
            F.max(
                F.struct(
                    F.round(F.col("_dot"), ROUND_DIGITS).alias("_cos"),
                    (-F.col(out_col)).alias("_nc"),
                )
            ).alias("_b")
        )
        .select(id_col, (-F.col("_b._nc")).alias(out_col))
    )


def _cogroup_local_pairs(
    with_grp: DataFrame, anchors: DataFrame, id_col: str
) -> DataFrame:
    """Third routing level (r9 verdict #2): per-super LOCAL argmax
    candidates WITHOUT broadcasting the global anchor matrix. Vectors
    (id, nv, _grp=super_id) cogroup with their super's anchor rows
    (_grp, centroid_id, cnv) — a shuffle on super_id, each task
    holding ONE super's ~c/s-row sub-matrix — and emit near-max
    (id, centroid_id, _dot) rows for Spark-side rounding + argmax.

    Bit-identical to the broadcast path by construction:

    * dots use the SAME float64 fold order as _fold_dot_rows
      ('acc += v[:, j] * c[:, j]' ascending j from 0.0), so values
      match bit-for-bit;
    * rounding and the argmax tiebreak stay SPARK-side on the emitted
      rows (`_argmax_rounded`), never replicated in numpy — the
      shortest-decimal-string trap SCALE.md documents;
    * the near-max filter (dot >= max - 2*10^-ROUND_DIGITS) can never
      drop the post-rounding winner: rounding to the 10^-d grid is
      monotone, so a candidate more than one grid step below the raw
      max cannot round-tie with it; the margin doubles the step for
      float slack. Typical emission is 1-2 rows per vector — the same
      order as the broadcast path's post-argmax output, while the
      per-task acc matrix is CHUNKED to ~64 MB.

    Memory per task: cogroup applyInPandas materializes ONE super's
    whole group — its ~c/s anchor rows plus its routed vectors
    (~n/s on spread routing; ~1.4 GB at the n=100M/dim=32 design
    point) — while the acc matrix is explicitly chunked to ~64 MB.
    No driver or broadcast structure grows with c. The residual skew
    exposure is a corpus whose vectors overwhelmingly route to ONE
    super (the group then approaches n rows — the generic
    applyInPandas group-materialization bound); the spread-sampled
    supers make that a degenerate-geometry case, and the remedy is
    more supers (route_supers scales with c^(1/2) by default)."""
    import numpy as np
    import pandas as pd

    vtype = with_grp.schema[id_col].dataType.simpleString()
    margin = 2 * 10.0 ** (-ROUND_DIGITS)

    def fn(vdf: pd.DataFrame, adf: pd.DataFrame) -> pd.DataFrame:
        if len(vdf) == 0 or len(adf) == 0:
            return pd.DataFrame(
                {
                    id_col: np.array([], dtype=np.int64),
                    "centroid_id": np.array([], dtype=np.int64),
                    "_dot": np.array([], dtype=np.float64),
                }
            )
        c = np.stack(adf["cnv"].to_numpy())
        a_ids = adf["centroid_id"].to_numpy()
        v_ids = vdf[id_col].to_numpy()
        v = np.stack(vdf["nv"].to_numpy())
        chunk = max(1, (64 << 20) // (8 * c.shape[0]))
        outs = []
        for lo in range(0, v.shape[0], chunk):
            m = v[lo : lo + chunk]
            acc = np.zeros((m.shape[0], c.shape[0]))
            for j in range(m.shape[1]):
                acc += m[:, j, None] * c[None, :, j]
            keep = acc >= acc.max(axis=1, keepdims=True) - margin
            ii, jj = np.nonzero(keep)
            outs.append(
                pd.DataFrame(
                    {
                        id_col: v_ids[lo : lo + chunk][ii],
                        "centroid_id": a_ids[jj],
                        "_dot": acc[keep],
                    }
                )
            )
        return pd.concat(outs, ignore_index=True)

    return (
        with_grp.select(id_col, "nv", "_grp")
        .groupBy("_grp")
        .cogroup(anchors.select("_grp", "centroid_id", "cnv").groupBy("_grp"))
        .applyInPandas(fn, f"{id_col} {vtype}, centroid_id {vtype}, _dot double")
    )


def _routed_assign(
    nv: DataFrame,
    vectors: DataFrame,
    centroids: DataFrame,
    supers: DataFrame,
    vec_col: str,
    id_col: str,
    shuffle_anchors: bool = False,
) -> DataFrame:
    """Two-level routed cell assignment: anchors (`centroids`) route
    to their nearest super, vectors route super-first and then argmax
    over that super's local anchors. Returns (id, centroid_id) with
    EVERY input vector present.

    No-orphan invariant, pinned STRUCTURALLY: an anchor that IS a
    super routes to itself. Without this, two distinct supers whose
    cosine rounds to 1.0 at ROUND_DIGITS tie in ivf_assign and the
    min-id choice routes the larger-id super's anchor AWAY, leaving
    that super with zero anchors — any vector whose own
    (differently-tied) argmax routes to it would then be silently
    DROPPED by the inner join below, losing its blocked init edges
    (regression-tested in tests/test_graph_ann.py). Self-routing
    guarantees every super cell holds at least its own anchor, so the
    join is lossless for all of v2s's range (supers ⊆ centroids).

    Requires a NUMERIC id column (the position map and the negated-id
    argmax tiebreak are integer arithmetic); `knn_graph_build` keeps
    non-numeric-id tables on the flat ivf_assign init, which supports
    any orderable id type (ADVICE r8). The returned frame is
    localCheckpointed so the anchor-matrix broadcasts can be
    destroyed before returning — without the barrier a downstream
    consumer would evaluate against destroyed broadcasts.

    ``shuffle_anchors=True`` is the THIRD routing level (r9 verdict
    #2): past the anchor-broadcast ceiling only the SUPER matrix
    (s = c^(1/2) rows, always tiny) is collected and broadcast; the
    full anchor matrix never touches the driver, and the per-super
    local argmax runs as a cogroup shuffle join against per-super
    anchor sub-matrices (`_cogroup_local_pairs`). Assignments are
    bit-identical to the broadcast level (same dots, same Spark-side
    rounding/argmax) — parity-tested both ways."""
    import numpy as np

    spark = nv.sparkSession
    anch_nv = nv.join(
        F.broadcast(centroids.select(F.col("centroid_id").alias(id_col))), id_col
    )
    if shuffle_anchors:
        # collect ONLY the supers' rows (s = sqrt(c), ~500 at n=100M);
        # the c-row anchor matrix stays distributed
        s_pdf = (
            nv.join(
                F.broadcast(supers.select(F.col("super_id").alias(id_col))),
                id_col,
            )
            .select(id_col, "nv")
            .toPandas()
            .sort_values(id_col)
        )
        s_ids = s_pdf[id_col].to_numpy()
        s_mat = np.stack(s_pdf["nv"].to_numpy())
        a_ids = a_mat = None
    else:
        # Anchor normalized-vector matrix, collected once: c = n^(2/3)
        # rows — a broadcast-sized index structure by design, same
        # class as the centroid broadcasts every IVF path already
        # makes (the _fold_dot_rows docstring carries the size
        # ceiling; knn_graph_build routes past it to shuffle_anchors).
        anch_pdf = anch_nv.select(id_col, "nv").toPandas().sort_values(id_col)
        a_ids = anch_pdf[id_col].to_numpy()
        a_mat = np.stack(anch_pdf["nv"].to_numpy())
        s_id_set = {r["super_id"] for r in supers.select("super_id").collect()}
        s_sel = np.nonzero(np.isin(a_ids, np.array(sorted(s_id_set))))[0]
        s_ids, s_mat = a_ids[s_sel], a_mat[s_sel]
    bc_s = spark.sparkContext.broadcast((s_ids, s_mat, None))

    # anchors -> supers (c x s dots), Spark-side round + argmax
    c2s = _argmax_rounded(
        _fold_dot_rows(anch_nv, bc_s, id_col, "super_id"),
        id_col,
        "super_id",
    ).select(F.col(id_col).alias("centroid_id"), "super_id")
    self_ids = supers.select(
        F.col("super_id").alias("centroid_id"),
        F.col("super_id").alias("_self"),
    )
    c2s = c2s.join(F.broadcast(self_ids), "centroid_id", "left").select(
        "centroid_id",
        F.coalesce("_self", "super_id").alias("super_id"),
    )

    # vectors -> supers (n x s dots)
    v2s = _argmax_rounded(
        _fold_dot_rows(nv, bc_s, id_col, "super_id"), id_col, "super_id"
    )

    with_grp = nv.join(
        v2s.select(id_col, F.col("super_id").alias("_grp")), id_col
    )
    if shuffle_anchors:
        # third level: per-super anchor sub-matrices meet their
        # vectors in a cogroup shuffle — no global anchor broadcast
        anchors_g = anch_nv.select(
            F.col(id_col).alias("centroid_id"), F.col("nv").alias("cnv")
        ).join(
            F.broadcast(c2s.select("centroid_id", F.col("super_id").alias("_grp"))),
            "centroid_id",
        )
        pairs = _cogroup_local_pairs(with_grp, anchors_g, id_col)
        assigned = _argmax_rounded(pairs, id_col, "centroid_id").localCheckpoint(
            eager=True
        )
        bc_s.destroy()
        return assigned
    # vectors -> their super's local anchors (n x ~c/s dots): the
    # super -> anchor-indices map is c rows, collected like the matrix
    grp: dict = {}
    pos = {int(v): i for i, v in enumerate(a_ids)}
    for r in c2s.collect():
        grp.setdefault(int(r["super_id"]), []).append(pos[int(r["centroid_id"])])
    grp = {k: np.array(sorted(v)) for k, v in grp.items()}
    bc_a = spark.sparkContext.broadcast((a_ids, a_mat, grp))
    assigned = _argmax_rounded(
        _fold_dot_rows(with_grp, bc_a, id_col, "centroid_id", grouped=True),
        id_col,
        "centroid_id",
    ).localCheckpoint(eager=True)
    for bc in (bc_s, bc_a):
        bc.destroy()
    return assigned


def normalized_vectors(
    vectors: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """(id, nv) unit-norm double arrays, checkpointed once — the
    shared input for knn_graph_build + graph_search_topk pipelines
    (pass it as ``prenormalized`` to both to normalize the table one
    time instead of once per stage). Lazy (r11): the caller's sizing
    aggregate (or the pipeline's first action) materializes it inside
    its own job; the stored blocks feed every later reference."""
    return _normalized(vectors, vec_col, id_col).localCheckpoint(eager=False)


def knn_graph_build(
    vectors: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    init_cells: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    prenormalized: DataFrame | None = None,
    reliable_every: int = 0,
    id_stats=None,
) -> DataFrame:
    """Build an approximate k-NN edge table (src, dst, cosine) by
    NN-Descent. ``id_stats`` — a precomputed (min_id, max_id, n) for
    the vector table — skips the sizing job, the `prenormalized`
    pattern applied to stats (build+search pipelines size the same
    table twice otherwise). ``reliable_every=N`` swaps every Nth round's edge
    checkpoint for a durable ``df.checkpoint()`` (bounded replay after
    executor loss; bit-identical graph — operators/caching.py).

    Init: IVF-style blocking — assign vectors to ``init_cells``
    deterministic centroids (a value-strided spread sample, so the anchors
    cover the id range) and take exact within-cell top-k — UNIONED
    with k hash-pseudo-random partners per node. The random half is
    load-bearing, not decoration: NN-Descent's convergence argument
    assumes a diverse init, and a purely blocked start can strand a
    small group whose true neighborhood is scattered across cells in
    a closed mutual-neighbor set that neighbor-of-neighbor expansion
    never escapes (observed on clustered fixtures). xxhash64(src, j)
    partners are deterministic, so builds reproduce bit-for-bit.
    Each refinement round
    then joins the graph with itself (neighbors-of-neighbors), adds
    REVERSE edges (u is a candidate neighbor of its own neighbors —
    the half of NN-Descent that repairs asymmetric cells), re-scores
    exactly, and re-prunes to top-k. Rounds are localCheckpointed:
    iterative lineage growth is the classic Spark failure mode.

    Scale shape per round: candidate generation is one self-join on
    dst (shuffle by node id, fan-out <= k^2 per node), scoring joins
    the (id, normalized-vector) table twice by id — broadcastable
    while vectors fit, bucketed-join co-location beyond that.
    """
    from pyspark.sql.types import NumericType

    # _routed_assign needs numeric ids (position map + negated-id
    # argmax tiebreak); non-numeric-id tables stay on the flat
    # ivf_assign init, which supports any orderable id — correct at
    # every n, slower past the routed crossover (ADVICE r8: the old
    # gate crashed string-id builds once n crossed it).
    numeric_id = isinstance(vectors.schema[id_col].dataType, NumericType)
    # One sizing job for n AND the spread sample's stats (numeric
    # ids); the separate count() + min/max jobs were pure floor.
    if id_stats is not None:
        n = int(id_stats[2])
    elif numeric_id:
        id_stats = vectors.agg(
            F.min(id_col), F.max(id_col), F.count(F.lit(1))
        ).first()
        n = int(id_stats[2])
    else:
        n = vectors.count()
    # Init regime gate (r7, both sides MEASURED at the ladder rungs).
    # The flat init costs ~2*n^1.5 cosine evaluations (assignment n*c
    # + in-cell pairs n^2/c, balanced at c=sqrt(n)); the sf10 rung
    # caught that cost arriving (x10 factor ~28, 340-415 s at n=200k).
    # HIERARCHICALLY ROUTED assignment (below) moves the balance to
    # c=n^(2/3): assignment ~2*n^(7/6), pairs ~n^(4/3) — measured
    # 109 s at n=200k (3.4x). But routing adds ~6 fixed stages
    # (two ivf_assigns + a local argmax join), ~15-20 s of overhead
    # that dwarfs the evals it saves on SMALL tables: at n=20k the
    # routed build measured 33.4 s vs 14.4 s flat, at n=2k 21.6 s vs
    # 6.5 s. Gate on the flat path's eval count: route only once
    # 2*n^1.5 clears the measured crossover (~30M evals, n ~ 100k).
    routed = 2 * n**1.5 > _ROUTED_INIT_EVAL_THRESHOLD and numeric_id
    if init_cells is None:
        # c balances each regime's assignment term against in-cell
        # pairs: sqrt(n) flat, n^(2/3) routed. The max(24, 4k)
        # occupancy floor keeps small builds at the cell density the
        # clustered-fixture recall tests pin.
        ideal = round(n ** (2 / 3)) if routed else int(n**0.5)
        init_cells = max(1, min(int(ideal), n // max(24, 4 * k)))
    centroids = _spread_sample(
        vectors, id_col, init_cells, n, stats=id_stats
    ).select(F.col(id_col).alias("centroid_id"), vec_col)
    # `prenormalized` lets a caller that both builds and searches (the
    # usual pairing) normalize + checkpoint the vector table ONCE —
    # (id, nv) with unit-norm arrays, from normalized_vectors().
    nv = (
        prenormalized
        if prenormalized is not None
        else _normalized(vectors, vec_col, id_col).localCheckpoint(eager=False)
    )
    route_supers = int(init_cells**0.5)
    if routed and route_supers >= 8:
        # Two-level routed assignment: anchors route to sqrt(c)
        # SUPER-anchors, each vector routes to its nearest super first
        # (n*s evaluations) and then argmaxes only over that super's
        # ~c/s anchors — O(n*(s + c/s)) instead of the flat n*c scan.
        # Both levels are the same deterministic rounded-cosine +
        # min-id argmax as ivf_assign, so builds reproduce bit-for-bit.
        # Routing may pick a near- rather than globally-nearest anchor;
        # init blocking only needs locality, and the hash-random
        # partner half plus the refinement rounds own recall (tests
        # pin it).
        # Anchor-broadcast ceiling: the two-level routed init ships
        # the full c x dim anchor matrix to every executor. Past the
        # ceiling (SCALE.md: ~n=100M at dim=32) the build no longer
        # refuses (the r8-r9 gate) — it routes through the THIRD
        # level, `shuffle_anchors`, which keeps the anchor matrix
        # distributed and meets vectors per-super in a cogroup
        # shuffle; assignments are bit-identical either way. dim comes
        # from one head() row of the already-checkpointed nv frame
        # (bounded, no table scan).
        dim = len(nv.select("nv").head()["nv"])
        anchor_bytes = init_cells * dim * 8
        shuffle_anchors = anchor_bytes > _ANCHOR_BROADCAST_CEILING_BYTES
        if shuffle_anchors:
            import logging

            logging.getLogger(__name__).info(
                "knn_graph_build routed init: anchor matrix %d MB > "
                "%d MB ceiling; using the shuffle-side third routing "
                "level (per-super anchor sub-matrices).",
                anchor_bytes >> 20,
                _ANCHOR_BROADCAST_CEILING_BYTES >> 20,
            )
        supers = _spread_sample(centroids, "centroid_id", route_supers, init_cells).select(
            F.col("centroid_id").alias("super_id"), vec_col
        )
        assigned = _routed_assign(
            nv,
            vectors,
            centroids,
            supers,
            vec_col,
            id_col,
            shuffle_anchors=shuffle_anchors,
        )
    else:
        assigned = ivf_assign(vectors, centroids, vec_col, id_col).select(
            id_col, "centroid_id"
        )

    sv = nv.select(F.col(id_col).alias("src"), F.col("nv").alias("sv"))
    dv = nv.select(F.col(id_col).alias("dst"), F.col("nv").alias("dv"))

    # blocked half: all pairs within an init cell
    cell = assigned.select(id_col, "centroid_id")
    in_cell = (
        cell.select(F.col("centroid_id"), F.col(id_col).alias("src"))
        .join(
            cell.select(F.col("centroid_id"), F.col(id_col).alias("dst")),
            "centroid_id",
        )
        .select("src", "dst")
    )
    # random half: k deterministic hash partners per node, resolved
    # through a dense 0..n-1 index so arbitrary id spaces work. The
    # index is the two-level bucketed construction (operators/indexing)
    # — parallel per-bucket ranks + bounded offset cumsum — because any
    # deterministic bijection onto 0..n-1 serves partner resolution;
    # the old row_number-over-everything sorted the whole vector table
    # in one task. When the id space is ALREADY dense 0..n-1 (free to
    # detect from the sizing stats), the identity bijection serves and
    # the index build + resolution join disappear (r8 verdict #4:
    # job-count floor) — a different-but-equally-valid deterministic
    # partner set; graph quality is pinned by the recall tests, and
    # the sampled oracle twin is edge-set-invariant by construction.
    dense_ids = (
        id_stats is not None
        and id_stats[0] is not None
        and int(id_stats[0]) == 0
        and int(id_stats[1]) == n - 1
    )
    src_j = nv.select(F.col(id_col).alias("src")).crossJoin(
        nv.sparkSession.range(k).withColumnRenamed("id", "_j")
    )
    pix = F.pmod(F.xxhash64(F.col("src"), F.col("_j")), F.lit(n))
    if dense_ids:
        id_type = nv.schema[id_col].dataType.simpleString()
        rand = src_j.select("src", pix.cast(id_type).alias("dst"))
    else:
        # n is already measured: small non-dense id spaces take the
        # one-window regime (bit-identical bijection, r10)
        idx = dense_index(nv.select(id_col), tiebreak=id_col, out="_ix", n_rows=n)
        rand = (
            src_j.select("src", pix.alias("_pix"))
            .join(
                idx.select(F.col(id_col).alias("dst"), F.col("_ix").alias("_pix")),
                "_pix",
            )
            .select("src", "dst")
        )
    # Candidates go straight to scoring — no standalone distinct
    # (r10, the c9536f8 fusion applied to the build): both halves are
    # scored by the SAME _pair_cos join, so duplicate pairs carry
    # bit-identical cosines and _topk_edges(dedup=True) absorbs them
    # inside the top-k window's own exchange. One shuffle barrier
    # replaces two; the cost is re-scoring the (small) rand∩in_cell
    # overlap map-side.
    init_scored = (
        in_cell.union(rand)
        .filter(F.col("src") != F.col("dst"))
        .join(sv, "src")
        .join(dv, "dst")
        .select("src", "dst", _pair_cos("sv", "dv").alias("cosine"))
    )
    # Small-n lazy regime (r8 verdict #4, the same discipline as
    # graph_search_topk's hop chain): init and round checkpoints go
    # lazy, materializing inside the consumer's single action, and
    # releases are skipped (a lazy frame is part of its successor's
    # lineage). reliable_every > 0 opts out — durable round
    # checkpoints exist precisely to be materialized on schedule.
    lazy_loop = n <= _LAZY_INIT_CKPT_MAX_N and reliable_every == 0
    edges = _topk_edges(init_scored, k, dedup=True).localCheckpoint(
        eager=not lazy_loop
    )
    if routed and route_supers >= 8 and not lazy_loop:
        # the routed assignment's checkpoint (see _routed_assign's
        # broadcast-lifetime barrier) has no consumer once the init
        # edges are materialized. The release is gated on the EAGER
        # regime explicitly (ADVICE r9): under lazy_loop (reachable
        # when _ROUTED_INIT_EVAL_THRESHOLD is tuned/monkeypatched
        # below _LAZY_INIT_CKPT_MAX_N) `edges` is lazy and `assigned`'s
        # blocks are still in its lineage — releasing them only works
        # by the accident of AQE materializing downstream stages, and
        # a stage retry would hit CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND.
        release_local_checkpoint(assigned)
    from crane_spark.operators.caching import loop_checkpoint

    for rnd in range(1, n_iter + 1):
        # neighbors-of-neighbors (u -> v -> w gives candidate u -> w)
        hop = (
            edges.select(F.col("src"), F.col("dst").alias("mid"))
            .join(
                edges.select(F.col("src").alias("mid"), F.col("dst")),
                "mid",
            )
            .select("src", "dst")
        )
        # Only the hop multiset pays the scoring joins (r10): the
        # stored edge cosine IS the re-score bit-for-bit — _pair_cos's
        # fold multiplies element-wise (commutative per term) in the
        # same ascending-j order from 0.0, so cos(a,b) == cos(b,a) at
        # the bit level and REVERSE edges reuse it too. The round's
        # standalone distinct is gone: duplicates across hop/rev/self
        # all carry that same bit-identical cosine, and
        # _topk_edges(dedup=True) collapses them inside the top-k
        # exchange. Per round this removes the distinct's shuffle
        # barrier AND drops 2kn rows from the scoring joins.
        hop_scored = (
            hop.filter(F.col("src") != F.col("dst"))
            .join(sv, "src")
            .join(dv, "dst")
            .select("src", "dst", _pair_cos("sv", "dv").alias("cosine"))
        )
        # rev + self edges in ONE branch via inline (not two alias-swap
        # projections): the swap projection's alias constraints
        # (src' <=> dst etc.) hit an upstream Catalyst crash in
        # UnionBase.rewriteConstraints ("key not found: dst#N") when
        # the round result is EAGERLY checkpointed (reliable_every > 0,
        # or n past the lazy ceiling) — the generator output carries no
        # equality constraints, so the union's constraint rewrite never
        # sees a swapped attribute. Same rows, same cosines.
        rev_self = edges.select(
            F.inline(
                F.array(
                    F.struct("src", "dst", "cosine"),
                    F.struct(
                        F.col("dst").alias("src"),
                        F.col("src").alias("dst"),
                        F.col("cosine"),
                    ),
                )
            )
        )
        scored = hop_scored.union(rev_self)
        if lazy_loop:
            nxt_edges = _topk_edges(scored, k, dedup=True).localCheckpoint(
                eager=False
            )
        else:
            nxt_edges = loop_checkpoint(
                _topk_edges(scored, k, dedup=True), rnd, reliable_every
            )
            # the superseded round's stored copy has no consumer left —
            # free it now rather than when a driver GC notices (ADVICE r3)
            release_local_checkpoint(edges)
        edges = nxt_edges
    return edges


def graph_search_topk(
    queries: DataFrame,
    vectors: DataFrame,
    edges: DataFrame,
    k: int = 3,
    beam: int = 8,
    hops: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    entry_nodes: DataFrame | None = None,
    prenormalized: DataFrame | None = None,
    reliable_every: int = 0,
    id_stats=None,
) -> DataFrame:
    """ANN top-k by beam search over a k-NN graph: seed each query
    with max(4, sqrt(n)) strided-sample nodes (deterministic and spread
    across the id range — a refined k-NN graph keeps mostly LOCAL
    edges, so navigability depends on the entry set covering the
    space the way HNSW's upper layers do; the count follows the same
    coverage law as the build's anchor count, and a production
    deployment would pass the build's cell anchors — the
    IVF-route-then-graph-refine tiering), then expand
    ``hops`` rounds of frontier-neighbors, keeping the ``beam`` best
    scored nodes per query as the next frontier and accumulating
    everything scored; the answer is the accumulation's top-k
    (self-matches excluded). Returns (query_id, neighbor_id, cosine,
    rn) — schema-compatible with brute_force_topk / ivf_probe_topk so
    recall harnesses swap implementations freely.

    ``prenormalized`` shares the build's normalized-vector checkpoint
    (see normalized_vectors) so build+search pipelines normalize the
    table once instead of twice."""
    nv = (
        prenormalized
        if prenormalized is not None
        else _normalized(vectors, vec_col, id_col).localCheckpoint(eager=False)
    )
    qv = _normalized(queries, vec_col, id_col).select(
        F.col(id_col).alias("query_id"), F.col("nv").alias("qv")
    )

    if entry_nodes is not None:
        # IVF-route tiering: the caller supplies geometric cover
        # nodes (e.g. the build's cell anchors) by id; their
        # normalized vectors come from the vector table. n stays
        # unknown UNLESS the caller also passed id_stats (the build's
        # sizing triple) — then the small-n lazy regime below applies
        # exactly as in the strided-entry path (r10: the sampled twin
        # ran every hop eager for want of a declared n).
        n = int(id_stats[2]) if id_stats is not None else None
        entries = entry_nodes.select(F.col(id_col).alias("node")).join(
            nv.select(F.col(id_col).alias("node"), F.col("nv").alias("dv")),
            "node",
        )
    else:
        from pyspark.sql.types import NumericType

        # one sizing job covering both n and the sample stats (see
        # _spread_sample's `stats` contract); `id_stats` (the build's
        # triple, passed through like `prenormalized`) skips it
        if id_stats is not None:
            n = int(id_stats[2])
        elif isinstance(nv.schema[id_col].dataType, NumericType):
            id_stats = nv.agg(
                F.min(id_col), F.max(id_col), F.count(F.lit(1))
            ).first()
            n = int(id_stats[2])
        else:
            n = nv.count()
        entry = max(4, int(n**0.5))
        entries = _spread_sample(nv, id_col, entry, n, stats=id_stats).select(
            F.col(id_col).alias("node"), F.col("nv").alias("dv")
        )
    scored0 = qv.crossJoin(F.broadcast(entries)).select(
        "query_id", "qv", F.col("node"), _pair_cos("qv", "dv").alias("cosine")
    )
    # Small-n regime (r8 verdict #4: the floor is job count, not
    # data): the per-hop checkpoints go LAZY and the whole hop chain
    # materializes inside the final action's single job — each hop's
    # frame is still a LogicalRDD whose blocks persist at first
    # computation, so the 2^hops plan references share blocks after
    # the race window, which is trivially cheap at this size. Releases
    # are SKIPPED in this regime: a lazy hop frame is part of its
    # successor's lineage, and unpersisting an eager predecessor
    # before a lazy successor materializes would drop the only copy
    # (the ContextCleaner reclaims these small frames when the py4j
    # refs go). With caller-supplied entry_nodes n is unknown unless
    # id_stats declares it — undeclared stays on the eager/release
    # discipline, which large n needs anyway.
    lazy_loop = (
        n is not None
        and n <= _LAZY_INIT_CKPT_MAX_N
        and reliable_every == 0
    )
    seen = scored0.select("query_id", "node", "cosine").localCheckpoint(
        eager=not lazy_loop
    )
    from crane_spark.operators.caching import loop_checkpoint

    wq = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("node"))
    frontier = (
        seen.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= beam)
        .select("query_id", "node")
    )

    dvt = nv.select(F.col(id_col).alias("node"), F.col("nv").alias("dv"))
    for hop in range(1, hops + 1):
        # Candidates go straight to scoring — no distinct, no
        # seen-anti-join (r9). Both existed to avoid re-scoring, but a
        # hop's candidate multiset is bounded by queries x beam x k
        # regardless of corpus size, while the anti-join SHUFFLED the
        # (growing) seen set every hop: the dedup-by-aggregate below
        # absorbs duplicates and re-scored seen nodes in the one
        # exchange the accumulation already needed. Cosines are
        # deterministic per (query, node), so max() over re-scores is
        # the stored value — results bit-identical to the anti-join
        # form (sampled twin + recall tests pin it).
        cand = frontier.join(
            edges.select(F.col("src").alias("node"), F.col("dst")), "node"
        ).select("query_id", F.col("dst").alias("node"))
        newly = (
            cand.join(dvt, "node")
            .join(qv, "query_id")
            .select("query_id", "node", _pair_cos("qv", "dv").alias("cosine"))
        )
        # ONE exchange per hop (r11, guide §2.4): repartitioning the
        # union by query_id FIRST lets the (query_id, node) aggregate
        # run complete (hash(q) clusters every (q, n) group), and the
        # beam window + the final top-k window — both partitioned by
        # query_id — then need NO further exchange. The groupBy-first
        # form paid two exchanges per hop (hash(q, n) for the
        # aggregate, hash(q) for the window). Cost: the map-side
        # partial aggregate is lost, but the union is queries x
        # accumulated-candidates rows (bounded by entry + hops*beam*k
        # per query — never corpus-sized), and intra-hop duplicates
        # are <= beam*k per query, so the exchange carries at most
        # that many extra rows. Rows and cosines are identical: same
        # groups, same max().
        merged = (
            seen.union(newly)
            .repartition("query_id")
            .groupBy("query_id", "node")
            .agg(F.max("cosine").alias("cosine"))
        )
        if lazy_loop:
            nxt_seen = merged.localCheckpoint(eager=False)
        else:
            nxt_seen = loop_checkpoint(merged, hop, reliable_every)
            release_local_checkpoint(seen)
        seen = nxt_seen
        frontier = (
            seen.withColumn("rn", F.row_number().over(wq))
            .filter(F.col("rn") <= beam)
            .select("query_id", "node")
        )

    return (
        seen.filter(F.col("query_id") != F.col("node"))
        .select(
            "query_id", F.col("node").alias("neighbor_id"), "cosine"
        )
        .withColumn(
            "rn",
            F.row_number()
            .over(
                Window.partitionBy("query_id").orderBy(
                    F.desc("cosine"), F.asc("neighbor_id")
                )
            )
            .cast("long"),
        )
        .filter(F.col("rn") <= k)
    )
