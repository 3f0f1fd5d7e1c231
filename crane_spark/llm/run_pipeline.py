"""The end-to-end training-corpus build as an EXECUTABLE product
feature: every stage is an operator that is individually oracle-
checked elsewhere; this module chains them, materializes each stage as
a versioned snapshot (sources/versioned.py — auditable, resumable),
and returns the per-stage survivor report.

Stages (the standard LLM preprocessing funnel, identical to the
oracle-checked `corpus_funnel` registry query — the test asserts the
stage counts EQUAL that query's output):

    1 length gate      n_chars in [lo, hi]
    2 exact dedup      first-doc-wins per md5(text)
    3 decontaminate    drop docs sharing any 8-gram with the eval set
    4 mixing           equal-share language rebalance (downsample-only)
    5 shard            stable hash deal into n_shards

The published artifacts under ``{out_root}``:

    corpus/vNNNNNN     the final sharded corpus (doc_id, text, lang,
                       source, shard)
    report/vNNNNNN     one row per stage: (stage, n_docs)

Why snapshots: a 100 TB corpus build is re-run weekly against moving
inputs; versioned immutable outputs give reproducible training runs
(pin a version), earlier builds to compare against (versioned.get),
and retention control (versioned.expire). The driver-facing numbers match
the `corpus_funnel` registry query, which states the same funnel as
one lazy plan and is hash-checked against DuckDB.
"""

from __future__ import annotations

from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

from crane_spark.functions.text import exploded_word_grams
from crane_spark.llm.sampling import HASH_SPACE, hash_bucket
from crane_spark.operators.caching import loop_checkpoint
from crane_spark.queries.corpus import N_SHARDS
from crane_spark.sources import versioned as V
from crane_spark.streaming.pipelines import _exists, _read_batches, _start_batch_store
from crane_spark.tables import table


def build_training_corpus(
    spark: SparkSession,
    sf_dir: str,
    out_root: str,
    len_lo: int = 120,
    len_hi: int = 520,
    gram_n: int = 8,
    n_shards: int = N_SHARDS,
    reliable_every: int = 0,
) -> dict[str, int]:
    """Run the funnel over ``{sf_dir}/documents.parquet`` (doc_id < 20
    standing in for the eval suite), publish the sharded corpus and the
    stage report as versioned snapshots, and return {stage: n_docs}.

    ``reliable_every`` forwards the durability cadence of
    :func:`crane_spark.operators.caching.loop_checkpoint` to the
    funnel's materialized stages (stage index = round number): with
    ``reliable_every=1`` every stage pins its rows to the
    SparkContext checkpoint directory, so an executor loss mid-build
    replays at most one stage instead of the whole funnel. Default 0
    keeps the executor-storage-only ``localCheckpoint`` — the right
    choice on ``local[*]`` where executor==driver. Outputs are
    bit-identical either way (tested)."""
    docs = table(spark, sf_dir, "documents")
    bench = (
        exploded_word_grams(docs.filter(F.col("doc_id") < 20), gram_n, [], out="g")
        .select(F.md5("g").alias("gh"))
        .distinct()
    )
    corpus = docs.filter(F.col("doc_id") >= 20)
    counts: dict[str, int] = {"0_raw": corpus.count()}

    length_ok = corpus.filter(F.col("n_chars").between(len_lo, len_hi))
    counts["1_length"] = length_ok.count()

    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    deduped = loop_checkpoint(
        length_ok.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn"),
        1,
        reliable_every,
    )
    counts["2_exact_dedup"] = deduped.count()

    contaminated = (
        exploded_word_grams(deduped, gram_n, ["doc_id"], out="g")
        .select("doc_id", F.md5("g").alias("gh"))
        .join(F.broadcast(bench), "gh", "left_semi")
        .select("doc_id")
        .distinct()
    )
    clean = loop_checkpoint(
        deduped.join(F.broadcast(contaminated), "doc_id", "left_anti"),
        2,
        reliable_every,
    )
    counts["3_decontaminated"] = clean.count()

    lang_counts = clean.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    n_min = lang_counts.agg(F.min("n").alias("m"))
    thr = lang_counts.crossJoin(F.broadcast(n_min)).select(
        "lang", F.floor(F.lit(HASH_SPACE) * F.col("m") / F.col("n")).alias("thr")
    )
    mixed = clean.join(F.broadcast(thr), "lang").filter(
        hash_bucket("doc_id", "mix") < F.col("thr")
    )
    counts["4_mixed"] = mixed.count()

    sharded = mixed.select(
        "doc_id",
        "text",
        "lang",
        "source",
        (hash_bucket("doc_id", "shard") % n_shards).cast("int").alias("shard"),
    )
    corpus_v = V.put(sharded.repartition("shard"), out_root, "corpus")
    report = spark.createDataFrame(
        sorted(counts.items()), "stage string, n_docs long"
    )
    report_v = V.put(report, out_root, "report")
    counts["_corpus_version"] = corpus_v
    counts["_report_version"] = report_v
    # both snapshots are published: free the staged copies (and, under
    # reliable_every, their durable files) — a service that rebuilds
    # corpora repeatedly in one session must not accumulate snapshots
    # per call (same lifecycle the streaming twin applies per batch)
    from crane_spark.operators.caching import (
        release_local_checkpoint,
        release_reliable_checkpoint,
    )

    for staged in (clean, deduped):
        release_reliable_checkpoint(staged)
        release_local_checkpoint(staged)
    return counts


def stream_training_corpus(
    docs,
    eval_docs,
    out_root: str,
    checkpoint: str,
    len_lo: int = 120,
    len_hi: int = 520,
    gram_n: int = 8,
    n_shards: int = N_SHARDS,
    reliable_every: int = 0,
):
    """INCREMENTAL twin of `build_training_corpus`: the same funnel
    applied per micro-batch over a documents stream, so the daily
    crawl feeds the training corpus continuously instead of via a
    weekly full rebuild.

    Per-batch semantics (each stage has the same definition as the
    batch funnel; the cross-batch state is the two persisted stores):

      1 length gate       stateless
      2 exact dedup       within batch AND against the persisted
                          md5 index (first-arrival-wins across the
                          stream's lifetime)
      3 decontaminate     against the STATIC eval-set gram hashes
                          (materialized once at start, broadcast per
                          batch)
      4 mixing            equal-share rebalance with the deterministic
                          hash threshold recomputed from CUMULATIVE
                          post-decontamination language counts — the
                          admitted mix converges to equal-share as the
                          stream grows; historic over-admission is not
                          revoked (the sink is append-only), which is
                          the honest incremental semantics: on a
                          single-batch availableNow drain the
                          thresholds equal the batch funnel's and the
                          stage counts MATCH it exactly (tested)
      5 shard             stateless hash deal

    Exactly-once: corpus/, hashes/, lang_counts/ and report/ are
    written in that order through the per-(queryId, batch) overwrite
    protocol (`streaming.pipelines._start_batch_store`), so a replayed
    batch overwrites its own directories rather than double-counting.
    hashes/, lang_counts/ and report/ rows carry their (query_id,
    batch_id), which lets a replay exclude its own earlier rows from
    the cross-batch probes. Read the corpus with `read_stream_corpus`.

    At 100 TB: the md5 index is one narrow column (bucketable); the
    gram set is eval-suite-sized and broadcasts; all other stages are
    per-batch local.

    ``reliable_every`` forwards :func:`loop_checkpoint`'s durability
    cadence to the three per-batch materialized stages (stage index =
    round number within each batch): durable checkpoint files instead
    of executor-storage-only copies, bounding mid-batch executor-loss
    replay the same way the batch funnel does. The exactly-once sink
    construction is unchanged either way.
    """

    corpus_dir = out_root + "/corpus"
    hashes_dir = out_root + "/hashes"
    report_dir = out_root + "/report"
    counts_dir = out_root + "/lang_counts"
    # the eval set is static: its gram hashes are computed ONCE here,
    # not re-read and re-deduplicated inside every micro-batch
    bench = (
        exploded_word_grams(eval_docs, gram_n, [], out="g")
        .select(F.md5("g").alias("gh"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def ingest(batch, write, qid: str, batch_id: int) -> None:
        staged = []
        try:
            _ingest_body(batch, write, qid, batch_id, staged)
        finally:
            # free whatever stages this attempt materialized — even on
            # a failed sink write, since foreachBatch retries the batch
            # with fresh checkpoints (and, under reliable_every, delete
            # the durable files: Spark never cleans reliable
            # checkpoints by default, so a long-running stream taking
            # three per micro-batch would otherwise grow the
            # checkpoint volume without bound; a batch's recovery
            # point is dead once its idempotent sinks committed — the
            # stream's own checkpoint replays the whole batch on
            # crash)
            from crane_spark.operators.caching import (
                release_local_checkpoint,
                release_reliable_checkpoint,
            )

            for frame in staged:
                release_reliable_checkpoint(frame)
                release_local_checkpoint(frame)

    def _ingest_body(batch, write, qid: str, batch_id: int, staged: list) -> None:
        spark = batch.sparkSession
        b = loop_checkpoint(
            batch.dropDuplicates(["doc_id"]), 1, reliable_every
        )
        staged.append(b)
        counts = {"0_raw": b.count()}

        length_ok = b.filter(F.col("n_chars").between(len_lo, len_hi))
        counts["1_length"] = length_ok.count()

        hashed = length_ok.withColumn("_h", F.md5("text"))
        w = Window.partitionBy("_h").orderBy("doc_id")
        deduped = (
            hashed.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        if _exists(spark, hashes_dir):
            # The hash store is keyed by (query_id, batch_id) so a crashed
            # attempt's own hashes/<qid>/batch-N (already on disk when the
            # batch replays under the same checkpoint) is excluded — otherwise
            # the replay would anti-join against itself, dedup to zero rows,
            # and overwrite corpus/<qid>/batch-N with an empty frame.
            known = (
                _read_batches(spark, hashes_dir)
                .filter(~((F.col("query_id") == qid) & (F.col("batch_id") == batch_id)))
                .select("_h")
            )
            deduped = deduped.join(known, "_h", "left_anti")
        deduped = loop_checkpoint(deduped, 2, reliable_every)
        staged.append(deduped)
        counts["2_exact_dedup"] = deduped.count()

        contaminated = (
            exploded_word_grams(deduped, gram_n, ["doc_id"], out="g")
            .select("doc_id", F.md5("g").alias("gh"))
            .join(F.broadcast(bench), "gh", "left_semi")
            .select("doc_id")
            .distinct()
        )
        clean = loop_checkpoint(
            deduped.join(F.broadcast(contaminated), "doc_id", "left_anti"),
            3,
            reliable_every,
        )
        staged.append(clean)
        counts["3_decontaminated"] = clean.count()

        # cumulative language counts = prior batches' ledger + this one
        batch_counts = clean.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
        if _exists(spark, counts_dir):
            prior = (
                _read_batches(spark, counts_dir)
                .filter(
                    ~((F.col("query_id") == qid) & (F.col("batch_id") == batch_id))
                )
                .select("lang", "n")
            )
            cum = prior.union(batch_counts).groupBy("lang").agg(F.sum("n").alias("n"))
        else:
            cum = batch_counts
        n_min = cum.agg(F.min("n").alias("m"))
        thr = cum.crossJoin(F.broadcast(n_min)).select(
            "lang", F.floor(F.lit(HASH_SPACE) * F.col("m") / F.col("n")).alias("thr")
        )
        mixed = clean.join(F.broadcast(thr), "lang").filter(
            hash_bucket("doc_id", "mix") < F.col("thr")
        )
        counts["4_mixed"] = mixed.count()

        sharded = mixed.select(
            "doc_id",
            "text",
            "lang",
            "source",
            (hash_bucket("doc_id", "shard") % n_shards).cast("int").alias("shard"),
        )
        write(sharded, corpus_dir)
        write(
            deduped.select(
                "_h",
                F.lit(qid).alias("query_id"),
                F.lit(batch_id).alias("batch_id"),
            ),
            hashes_dir,
        )
        write(
            batch_counts.select(
                F.lit(qid).alias("query_id"),
                F.lit(batch_id).alias("batch_id"),
                "lang",
                "n",
            ),
            counts_dir,
        )
        write(
            spark.createDataFrame(
                [(qid, batch_id, k, v) for k, v in sorted(counts.items())],
                "query_id string, batch_id long, stage string, n_docs long",
            ).coalesce(1),
            report_dir,
        )

    return _start_batch_store(docs, checkpoint, ingest)


def read_stream_corpus(spark: SparkSession, out_root: str):
    """(corpus, per-stage report) accumulated by `stream_training_corpus`
    across every batch and run."""
    corpus = _read_batches(spark, out_root + "/corpus")
    report = (
        _read_batches(spark, out_root + "/report")
        .groupBy("stage")
        .agg(F.sum("n_docs").alias("n_docs"))
    )
    return corpus, report
