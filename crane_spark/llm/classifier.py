"""Distributed training of a document-quality classifier: logistic
regression by full-batch gradient descent, where every iteration is
ONE aggregate over the corpus.

This is the workhorse model class of real corpus curation (fastText /
logistic quality filters a la CCNet, FineWeb-style classifier gates):
cheap text statistics in, a calibrated keep/drop score out. The Spark
shape is the `kmeans_step` registry query's, iterated by a driver
loop: model state (a handful of weights) lives on the driver and
BROADCASTS into the plan as a literal; the corpus
never moves — each iteration computes the gradient with a decimal-
summed hash aggregate (order-independent, bit-reproducible on any
partitioning — the same guarantee every money aggregate in this engine
makes), and only (dim+1) scalars come back to the driver. 100 TB of
documents train at one corpus scan per iteration with zero shuffle
beyond the aggregate's partial/final split.

Features are JVM-side expressions (no Python in the scan); the
sigmoid/gradient arithmetic is plain codegen'd math. Determinism: per-
row gradient contributions are rounded to a 1e-9 grid before the
decimal sum, so training runs are bit-identical regardless of
parallelism (pinned by test).

Reference lineage: the reference has no model training at all; this is
north-star gap-fill (SURVEY.md §2.2, LLM extensions).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crane_spark.functions.text import tokens
from crane_spark.tables import fan_out

GRID = 9  # decimal places of the per-row rounding grid


#: dimensionality of quality_features' output (bias + 4 statistics) —
#: statically known, so training over these features can skip the
#: first()-row sizing job (see logreg_train's `dim`).
QUALITY_FEATURES_DIM = 5


def quality_features(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep=(),
) -> DataFrame:
    """(id, features array<double>) — cheap, scan-local text
    statistics: [bias, log1p(n_tokens), mean token length, stopword
    ratio, digit ratio]. All codegen'd expressions; one pass.

    ``keep`` — extra (name, Column) pairs evaluated IN the same scan
    and carried alongside the features: the training label rides the
    featurize projection instead of joining back to the source table
    by id (r10, guide §2.2: the join shipped every feature row through
    an exchange just to attach a column the scan could compute)."""
    d = fan_out(docs).select(
        F.col(id_col),
        F.col(text_col),
        tokens(text_col).alias("toks"),
        *[c.alias(nm) for nm, c in keep],
    )
    n_toks = F.size("toks").cast("double")
    stop = F.size(
        F.filter(
            "toks",
            lambda t: t.isin("the", "a", "an", "and", "or", "of", "to", "in", "is"),
        )
    ).cast("double")
    chars = F.length(F.col(text_col)).cast("double")
    digits = chars - F.length(F.regexp_replace(F.col(text_col), "[0-9]", "")).cast(
        "double"
    )
    return d.select(
        F.col(id_col),
        F.array(
            F.lit(1.0),
            F.log1p(n_toks),
            F.when(n_toks > 0, (chars - n_toks + 1) / n_toks).otherwise(0.0),
            F.when(n_toks > 0, stop / n_toks).otherwise(0.0),
            F.when(chars > 0, digits / chars).otherwise(0.0),
        ).alias("features"),
        *[nm for nm, _c in keep],
    )


def logreg_train(
    data: DataFrame,
    n_iter: int = 20,
    lr: float = 0.5,
    features_col: str = "features",
    label_col: str = "label",
    reliable: bool = False,
    dim: int | None = None,
    keep_cols: tuple[str, ...] = (),
):
    """Full-batch logistic regression; returns (weights, per-iteration
    mean log-loss). ``data`` is (features array<double>, label 0/1).

    Per iteration: broadcast w as a literal array, compute
    p = sigmoid(w.x) per row, and aggregate the per-dimension
    gradient sum((p - y) * x_d) plus the log-loss — one job, dim+1
    scalars collected. The driver applies w -= lr * grad / n.

    Features are STANDARDIZED internally (one extra aggregate for
    per-dimension mean/std; dimension 0 is assumed to be the bias and
    left alone): full-batch GD on raw text statistics with mixed
    scales (log-token-counts ~9 vs ratios ~0.1) is so ill-conditioned
    that any lr large enough to move the small dimensions oscillates
    the big ones (observed divergence on the fixture corpus). The
    returned weights are FOLDED BACK to raw-feature space
    (w_d/std_d, bias -= sum w_d*mean_d/std_d), so `logreg_score`
    serves on raw features with no scaling state to carry.

    The loop's only executor-storage dependency is the standardized
    input pinned below — weights live on the driver — so durability
    here is a single switch, not a cadence: ``reliable=True`` pins the
    input with a durable ``df.checkpoint()`` instead of
    localCheckpoint (identical rows; training is bit-identical), and a
    lost executor recomputes scans from the checkpoint files instead
    of killing the train (operators/caching.py docstring).

    r10 (guide §1.2/§2.4 — the query's floor was job count x per-job
    scheduling, not arithmetic): the pipeline pays exactly ONE scan of
    the input expressions. RAW (features, label) rows are pinned
    FIRST; the sizing/moments jobs and every iteration read the pinned
    blocks instead of re-running the featurize scan (previously: one
    scan each for the head job, the moments job, and the checkpoint).
    The standardization is folded into the per-iteration expressions —
    the same (x_i - mean_i) / std_i float64 division the stored-array
    form precomputed, applied to the same values, so every margin,
    gradient and loss is bit-identical (pinned by the reproducibility
    test). ``dim`` declares a statically-known feature dimensionality
    (e.g. QUALITY_FEATURES_DIM) and skips the first()-row job; n now
    comes from the moments aggregate. Iterations run over a
    byte-derived coalesce of the pinned blocks (~32 MB/task, floor 1)
    so a small corpus doesn't schedule defaultParallelism tasks per
    iteration — partitioning never changes results (the decimal-grid
    sums are order-independent by contract). ``keep_cols`` pins extra
    columns (e.g. the doc id) through the checkpoint and switches the
    return to (weights, losses, pinned): serving scores the pinned
    rows instead of re-featurizing the corpus."""
    raw = data.select(
        *keep_cols,
        F.col(features_col).alias("x"),
        F.col(label_col).cast("double").alias("y"),
    )
    if reliable:
        from crane_spark.operators.caching import ensure_checkpoint_dir

        ensure_checkpoint_dir(raw.sparkSession)
        ckpt = raw.checkpoint(eager=True)
    else:
        # lazy (r11): the moments aggregate below is the first action
        # and materializes the pinned blocks inside its own job; every
        # iteration then reads the stored blocks exactly as before.
        ckpt = raw.localCheckpoint(eager=False)

    if dim is None:
        dim = len(ckpt.select(F.col("x").alias("f0")).first()["f0"])

    # r10 (guide §1.2 — plan-construction cost): every expression in
    # the moments aggregate and the iteration loop is assembled as ONE
    # server-side-parsed SQL string instead of the Column DSL. The DSL
    # forms issued ~30-40 py4j round-trips per aggregate column
    # (~9600 gateway commands for a 10-iteration train). Float
    # literals go through repr — the shortest round-trip string, which
    # Java's correctly-rounded parse returns to the identical IEEE
    # double — and the parsed trees perform the same float ops on the
    # same values, so every moment, margin, gradient and loss is
    # bit-identical (pinned by the reproducibility test and a full
    # old-vs-new output comparison at sf0.01/sf0.1).
    def _dlit(v: float) -> str:
        return f"CAST('{float(v)!r}' AS DOUBLE)"

    def _dsum(expr: str) -> str:
        return f"CAST(sum(CAST(round({expr}, {GRID}) AS DECIMAL(28,{GRID}))) AS DOUBLE)"

    def _xel(i: int) -> str:  # 1-based element of the feature array
        return f"element_at(`x`, {i})"

    stat_aggs = [F.count(F.lit(1)).alias("n")]
    for i in range(1, dim):
        xi = _xel(i + 1)
        stat_aggs.append(F.expr(_dsum(xi)).alias(f"s{i}"))
        stat_aggs.append(F.expr(_dsum(f"{xi} * {xi}")).alias(f"q{i}"))
    stats = ckpt.agg(*stat_aggs).collect()[0]
    n = int(stats["n"])
    mean = [0.0] * dim
    std = [1.0] * dim
    for i in range(1, dim):
        mean[i] = float(stats[f"s{i}"]) / n
        var = max(float(stats[f"q{i}"]) / n - mean[i] ** 2, 0.0)
        std[i] = math.sqrt(var) if var > 1e-24 else 1.0

    # ~32 MB of (x, y) doubles per iteration task; coalesce only ever
    # MERGES the pinned blocks, so a big corpus keeps its scan-derived
    # partitioning and a small one stops paying defaultParallelism
    # scheduled tasks per iteration job.
    row_bytes = 8 * dim + 24
    parts = max(1, -(-n * row_bytes // (32 << 20)))
    d = ckpt.select("x", "y").coalesce(parts)

    # Per-dimension standardized feature expressions; sc[0] is the
    # untouched bias. Referencing sc[i] directly in a gradient term is
    # the optimizer's own simplification of element_at(array(...), i)
    # — the identical float ops on the identical values.
    sc = [_xel(1)] + [
        f"(({_xel(i + 1)} - {_dlit(mean[i])}) / {_dlit(std[i])})"
        for i in range(1, dim)
    ]
    scaled_sql = f"array({', '.join(sc)})"

    w = [0.0] * dim
    losses: list[float] = []
    for _ in range(n_iter):
        w_sql = f"array({', '.join(_dlit(v) for v in w)})"
        margin = (
            f"aggregate(zip_with({w_sql}, {scaled_sql}, (a, b) -> a * b), "
            f"{_dlit(0.0)}, (acc, v) -> acc + v)"
        )
        p = f"({_dlit(1.0)} / ({_dlit(1.0)} + exp(-({margin}))))"
        resid = f"({p} - `y`)"
        # clamp keeps log() finite at saturated probabilities
        pc = f"least(greatest({p}, {_dlit(1e-12)}), {_dlit(1.0 - 1e-12)})"
        loss_term = (
            f"(-((`y` * ln({pc})) + "
            f"(({_dlit(1.0)} - `y`) * ln({_dlit(1.0)} - {pc}))))"
        )
        aggs = [
            F.expr(_dsum(f"{resid} * {sc[i]}")).alias(f"g{i}")
            for i in range(dim)
        ] + [F.expr(_dsum(loss_term)).alias("loss")]
        row = d.agg(*aggs).collect()[0]
        losses.append(float(row["loss"]) / n)
        w = [w[i] - lr * float(row[f"g{i}"]) / n for i in range(dim)]
    # fold the standardization into the weights: raw-space serving
    w_raw = [w[0] - sum(w[i] * mean[i] / std[i] for i in range(1, dim))] + [
        w[i] / std[i] for i in range(1, dim)
    ]
    if keep_cols:
        pinned = ckpt.select(*keep_cols, F.col("x").alias(features_col))
        return w_raw, losses, pinned
    return w_raw, losses


def logreg_score(
    df: DataFrame, weights: list[float], features_col: str = "features"
):
    """sigmoid(w . features) as a Column — the serving side."""
    w_lit = F.array(*[F.lit(float(v)) for v in weights])
    margin = F.aggregate(
        F.zip_with(w_lit, F.col(features_col), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-margin))


def train_language_gate(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    label_expr=None,
    n_iter: int = 15,
    lr: float = 1.0,
) -> tuple[list[float], list[float], DataFrame]:
    """End-to-end corpus gate: featurize, train against a label (by
    default: lang == 'en'), and return (weights, losses, scored docs)
    where scored docs carry `quality_score` in [0, 1]."""
    label = (
        label_expr if label_expr is not None else (F.col("lang") == "en").cast("int")
    )
    # One corpus scan end to end (r10): the label rides the featurize
    # projection (no join back to docs), dim is static so training
    # skips its sizing job, and serving scores the rows logreg_train
    # pinned instead of featurizing the corpus a second time. Same
    # (features, label) rows in, same expressions per row — weights,
    # losses and scores are bit-identical to the joined form.
    train = quality_features(docs, text_col, id_col, keep=(("label", label),))
    weights, losses, pinned = logreg_train(
        train,
        n_iter=n_iter,
        lr=lr,
        dim=QUALITY_FEATURES_DIM,
        keep_cols=(id_col,),
    )
    scored = pinned.select(
        F.col(id_col), logreg_score(pinned, weights).alias("quality_score")
    )
    return weights, losses, scored
