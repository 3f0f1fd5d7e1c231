"""Structured Streaming pipelines.

The reference's whole runtime is a micro-batch streaming engine with
at-least-once replay (SURVEY.md §1.3, §2.1 op L): root batches are
re-emitted after 40 s until acked, and the master dedups stale acks by
timestamp. Everything in this module replaces that machinery with
checkpointed Structured Streaming — exactly-once, no custom code:

* batch/stream parity: each pipeline applies the SAME transform
  functions used by the batch queries (operators.topology), so the
  logical plan — and therefore the result — is identical under
  ``trigger(availableNow=True)``.
* ``availableNow`` is the drain-a-file-as-a-stream semantics of the
  reference's spout (read to EOF, then finish), with batch sizing
  via maxFilesPerTrigger instead of CRANE_BATCH_SIZE=500.
* watermarks + windows / dropDuplicates / stream-static joins are the
  gap-fill streaming surface the reference lacks.

State-store sizing: keyed state (windows, dedup, counts) lives in the
state store, partitioned by spark.sql.shuffle.partitions, which
session.py sets to the core count (SPARK_GRAFT_CPUS; 32 under
SPARK_GRAFT_MASTER without it) because each micro-batch pays one task
and one state-store commit per partition. Batch queries size their
exchanges from AQE's initial partition count instead. A stream takes
the count when it first starts and its checkpoint's offset log freezes
it: resuming an existing checkpoint keeps its old count, and changing
the count needs a new checkpoint. Watermarks bound state growth —
every stateful pipeline here REQUIRES a watermark for that reason.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from crane_spark.functions.aggregates import dsum
from crane_spark.operators.topology import wordcount
from crane_spark.sources.versioned import _fs_and_path

# stream_neardup_ingest: shingle width, and the Jaccard threshold
# t = NEARDUP_T_NUM / NEARDUP_T_DEN a near-duplicate must reach.
NEARDUP_SHINGLE_N = 3
NEARDUP_T_NUM = 1
NEARDUP_T_DEN = 2


def stream_wordcount(lines: DataFrame) -> DataFrame:
    """Streaming WordCount over a text-line stream (ops A-D as a
    stateful streaming aggregation; use outputMode('complete') to a
    memory/console sink, matching the master's final print)."""
    return wordcount(lines)


def windowed_event_stats(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    slide: str | None = None,
) -> DataFrame:
    """Tumbling event-time window with a watermark: late rows beyond
    the watermark are dropped and window state is evicted — the
    late-data story the reference doesn't have. Pass ``slide`` shorter
    than ``window`` for SLIDING (hopping) windows: each event then
    lands in window/slide overlapping buckets, state still bounded by
    the watermark."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window, slide or window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", 2).alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def stream_dedup_with_watermark(
    events: DataFrame,
    keys: list[str],
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Exactly-once-per-key within the watermark horizon
    (dropDuplicates keeps state only until the watermark passes)."""
    return events.withWatermark(ts_col, watermark).dropDuplicates([*keys, ts_col])


def stream_static_enrich(stream: DataFrame, dim: DataFrame, on, how: str = "inner") -> DataFrame:
    """Stream-static join: the static side is re-read per micro-batch
    and broadcast (dimension enrichment at stream speed)."""
    return stream.join(F.broadcast(dim), on, how)


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    watermark: str = "1 hour",
    within: str = "30 minutes",
) -> DataFrame:
    """Watermarked stream-stream inner join: right rows join left rows
    with the same key whose timestamp falls in
    ``[right_ts, right_ts + within]``. Both sides carry watermarks so
    the join state is evictable — unbounded state is the failure mode
    of stream-stream joins at scale, and the time-bound + watermark is
    what bounds it."""
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = (
        (lw[key] == rw[key])
        & (lw[left_ts] >= rw[right_ts])
        & (lw[left_ts] <= rw[right_ts] + F.expr(f"INTERVAL {within}"))
    )
    return lw.join(rw, cond, "inner")


def stream_to_parquet(
    df: DataFrame, path: str, checkpoint: str, available_now: bool = True
) -> StreamingQuery:
    """Durable exactly-once sink: parquet + checkpoint (replaces the
    reference's XOR-ack + replay, SURVEY.md §2.1 op L)."""
    writer = (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_upsert_parquet(
    df: DataFrame, root: str, name: str, checkpoint: str, key_cols: list[str]
) -> StreamingQuery:
    """foreachBatch upsert sink: each micro-batch replaces existing
    rows for its keys (read-anti-join-union; on a real deployment the
    same foreachBatch body targets Delta/Iceberg MERGE). This is the
    'iterative/merge sink' surface from SURVEY §2.2 that plain append
    sinks can't express. Read the table with ``versioned.get(spark,
    root, name)``.

    The table is the versioned dataset ``name`` under ``root``
    (sources/versioned.py): each batch reads the latest committed
    version, writes the merge as a NEW version with ``versioned.put``
    (visible only once its ``_SUCCESS`` commits), then drops the
    superseded versions with ``versioned.expire(keep_last=1)``. A crash
    before the commit leaves the previous version as the latest; a
    crash after it leaves a merge that already holds this batch, and
    the replay's upsert of the same rows is idempotent. A write that
    died before its commit leaves an uncommitted version directory;
    the stream is the dataset's only writer (one query per
    checkpoint), so each batch then deletes those numbered below the
    version it committed (``versioned.drop_uncommitted``). Key equality in
    the anti-join is NULL-SAFE, matching dropDuplicates'
    NULLs-are-equal semantics, so NULL-keyed rows upsert instead of
    duplicating forever."""
    from crane_spark.sources import versioned

    def upsert(batch: DataFrame, _batch_id: int) -> None:
        spark = batch.sparkSession
        batch = batch.dropDuplicates(key_cols)
        if versioned.versions(spark, root, name):
            existing = versioned.get(spark, root, name)
            bk = batch.select(*key_cols)
            cond = None
            for k in key_cols:
                c = existing[k].eqNullSafe(bk[k])
                cond = c if cond is None else cond & c
            keep = existing.join(bk, cond, "left_anti")
            merged = keep.unionByName(batch)
        else:
            merged = batch
        committed = versioned.put(merged, root, name)
        versioned.expire(spark, root, name, keep_last=1)
        versioned.drop_uncommitted(spark, root, name, below=committed)

    return _foreach_batch(df, checkpoint, upsert).outputMode("update").start()


def run_available_now(
    df: DataFrame,
    sink_table: str,
    output_mode: str = "complete",
    checkpoint: str | None = None,
    timeout_sec: int = 120,
) -> None:
    """Drain the stream to completion into an in-memory table (the
    console/memory sink twin of the reference's final result print,
    crane_master.py:166-169). Raises ``TimeoutError`` when the drain
    does not finish within ``timeout_sec`` — returning normally there
    would hand the caller a partially-drained table that silently
    reads as complete results."""
    writer = (
        df.writeStream.format("memory")
        .queryName(sink_table)
        .outputMode(output_mode)
        .trigger(availableNow=True)
    )
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    query = writer.start()
    try:
        finished = query.awaitTermination(timeout_sec)
        if not finished:
            raise TimeoutError(
                f"availableNow drain into {sink_table!r} still running "
                f"after {timeout_sec}s — the memory table is PARTIAL; "
                "raise timeout_sec or reduce the input"
            )
    finally:
        if query.isActive:
            query.stop()


def stream_neardup_ingest(
    docs: DataFrame,
    store_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> StreamingQuery:
    """Incremental NEAR-duplicate-free corpus ingestion (streaming
    MinHash-LSH). Each micro-batch:

    1. computes LSH band keys for its documents (llm/dedup.py: one
       codegen'd hash-agg, #bands short rows per doc);
    2. drops within-batch near-dups (band-bucket candidates verified
       by exact shingle Jaccard >= 1/2; keeper policy is the order-free
       "dominated by ANY lower id" rule shared with
       `llm.similarity.semantic_dedup_keep` — NOT sequential greedy: a
       doc that matches a lower-id doc is dropped even when that lower
       doc is itself dropped, so a transitive chain A~B~C (A!~C) keeps
       only A, and admission can depend on where micro-batch
       boundaries fall. The rule is deterministic and fully parallel,
       which is what corpus-scale ingest needs; sequential greedy
       would serialize the batch);
    3. probes the PERSISTED band index (equi-join on (band, band_key)
       — touches only colliding buckets, never the corpus), fetches
       just the candidate matches' stored texts, verifies exactly,
       and drops matched arrivals;
    4. appends survivors to the store and their bands to the index.

    Near-dup detection therefore holds across batches AND runs, with
    retry idempotence for free: a replayed batch collides with its own
    stored bands and self-verifies at J=1, so re-appends never happen
    — the at-least-once-to-exactly-once argument the reference made
    with XOR acks (crane_master.py:86-94), rebuilt on content.

    Documents with fewer than NEARDUP_SHINGLE_N tokens have NO shingles
    and therefore no bands; they take an EXACT-hash path instead: their
    band row is (band=-1, band_key=md5(text)), within-batch dedup is
    min-id-per-hash, and the cross-run probe matches on the hash but
    only drops an arrival whose matched id actually EXISTS in the doc
    store (guarding the crash window where bands committed but docs
    did not). Bands are written BEFORE docs so that a crash between
    the two appends leaves the index over-complete (harmless — the
    replay's doc-store check resolves it) rather than under-complete
    (which would let a replayed short doc re-append).

    At 100 TB: the band index is (band, band_key, id) — narrow rows,
    bucketable on band_key so the per-batch probe is a pruned scan;
    verification reads only candidate-matched documents.
    """
    from crane_spark.llm.dedup import (
        band_bucket_pairs,
        minhash_bands,
        minhash_signatures,
        shingle_sets,
        tokens,
        verify_jaccard_pairs,
    )

    docs_store = store_path + "/docs"
    index_store = store_path + "/bands"

    def ingest(batch: DataFrame, _batch_id: int) -> None:
        spark = batch.sparkSession
        ball = batch.dropDuplicates([id_col]).localCheckpoint(eager=True)
        # Split on shingle-ability: short docs (< NEARDUP_SHINGLE_N
        # tokens) have no bands and take the exact-hash path below.
        # NULL text routes to the short path too (size(NULL tokens) is
        # NULL, so without the coalesce BOTH filters would silently
        # drop the row — invisible data loss); its hash coalesces NULL
        # to '', deliberately deduping NULL-text against empty-text
        # docs.
        n_toks = F.coalesce(F.size(tokens(text_col)), F.lit(0))
        b = ball.filter(n_toks >= NEARDUP_SHINGLE_N)
        short = (
            ball.filter(n_toks < NEARDUP_SHINGLE_N)
            .withColumn("_h", F.md5(F.coalesce(F.col(text_col), F.lit(""))))
            .localCheckpoint(eager=True)
        )
        sets = shingle_sets(b, text_col, id_col, NEARDUP_SHINGLE_N).localCheckpoint(
            eager=True
        )
        bands = minhash_bands(
            minhash_signatures(b, text_col, id_col, NEARDUP_SHINGLE_N), id_col
        ).localCheckpoint(eager=True)

        # (2) within-batch: bucket pair-gen, exact verify, drop higher id
        cand = band_bucket_pairs(bands, id_col)
        dropped = (
            verify_jaccard_pairs(cand, sets, sets, NEARDUP_T_NUM, NEARDUP_T_DEN, id_col)
            .select(F.col("doc_b").alias(id_col))
            .distinct()
        )
        keep = b.join(dropped, id_col, "left_anti")

        # (2b) within-batch short docs: exact dedup, min-id keeper
        keep_short = short.join(
            short.groupBy("_h").agg(F.min(id_col).alias(id_col)),
            [id_col, "_h"],
            "left_semi",
        )

        # (3) against the persisted index: probe colliding buckets
        # only. Bands are written before docs, so the index can exist
        # while the doc store does not (crash between the appends) —
        # an absent doc store means nothing is truly ingested and
        # every index hit must resolve to "not stored, keep".
        if _exists(spark, index_store) and _exists(spark, docs_store):
            idx = spark.read.parquet(index_store)
            hits = (
                bands.join(keep.select(id_col), id_col, "left_semi")
                .join(
                    idx.select(
                        "band", "band_key", F.col(id_col).alias("doc_b")
                    ),
                    ["band", "band_key"],
                )
                .select(F.col(id_col).alias("doc_a"), "doc_b")
                .distinct()
            )
            old_docs = spark.read.parquet(docs_store).join(
                hits.select(F.col("doc_b").alias(id_col)).distinct(), id_col, "left_semi"
            )
            old_sets = shingle_sets(old_docs, text_col, id_col, NEARDUP_SHINGLE_N)
            matched = (
                verify_jaccard_pairs(
                    hits, sets, old_sets, NEARDUP_T_NUM, NEARDUP_T_DEN, id_col
                )
                .select(F.col("doc_a").alias(id_col))
                .distinct()
            )
            keep = keep.join(matched, id_col, "left_anti")

            # short docs: hash hit is proof of duplication IF the
            # matched doc really exists in the store (bands may be
            # over-complete after a bands-committed/docs-crashed run)
            stored_ids = spark.read.parquet(docs_store).select(id_col)
            short_hits = (
                short.select(F.col(id_col), F.col("_h").alias("band_key"))
                .join(
                    idx.filter(F.col("band") == F.lit(-1)).select(
                        "band_key", F.col(id_col).alias("doc_b")
                    ),
                    "band_key",
                )
                .join(
                    stored_ids.select(F.col(id_col).alias("doc_b")),
                    "doc_b",
                    "left_semi",
                )
                .select(id_col)
                .distinct()
            )
            keep_short = keep_short.join(short_hits, id_col, "left_anti")

        keep = keep.localCheckpoint(eager=True)
        keep_short = keep_short.localCheckpoint(eager=True)

        try:
            # Bands FIRST (index over-complete on crash, never under-):
            new_bands = bands.join(
                keep.select(id_col), id_col, "left_semi"
            ).unionByName(
                keep_short.select(
                    F.col(id_col),
                    F.lit(-1).alias("band"),
                    F.col("_h").alias("band_key"),
                )
            )
            new_bands.write.mode("append").parquet(index_store)
            keep.unionByName(keep_short.drop("_h")).write.mode("append").parquet(
                docs_store
            )
        finally:
            # free this batch's staged copies whether or not the sinks
            # succeeded — a failed write is retried by foreachBatch
            # with SIX fresh checkpoints, so leaking the failed
            # attempt's copies is exactly the accumulation pattern the
            # release exists to prevent (ADVICE r3)
            from crane_spark.operators.caching import release_local_checkpoint

            for staged in (keep, keep_short, bands, sets, short, ball):
                release_local_checkpoint(staged)

    return _foreach_batch(docs, checkpoint, ingest).start()


def _foreach_batch(df: DataFrame, checkpoint: str, fn) -> DataStreamWriter:
    """The start every foreachBatch sink here shares: ``fn(batch,
    batch_id)`` per micro-batch, checkpointed at ``checkpoint``, under
    ``availableNow`` (drain what is there, then stop)."""
    return (
        df.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def _exists(spark: SparkSession, uri: str) -> bool:
    """Whether ``uri`` exists, on whatever Hadoop filesystem its scheme
    names (``os.path`` sees only bare local paths)."""
    fs, path, _ = _fs_and_path(spark, uri)
    return fs.exists(path)


def _streaming_query_id(spark: SparkSession, checkpoint: str) -> str:
    """The StreamingQuery's stable id from the checkpoint's `metadata`
    file (written at query start, BEFORE batch 0; preserved across
    restarts on the same checkpoint, regenerated if the checkpoint is
    lost), read through Hadoop so any checkpoint scheme works. This is
    the txn-scoping id Delta calls `txnAppId`."""
    import json as _json

    fs, path, jvm = _fs_and_path(spark, checkpoint + "/metadata")
    stream = fs.open(path)
    try:
        text = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()
    return _json.loads(text)["id"]


def _start_batch_store(df: DataFrame, checkpoint: str, ingest) -> StreamingQuery:
    """The per-(queryId, batch) overwrite protocol of every foreachBatch
    store below. Per micro-batch, ``ingest(batch, write, qid,
    batch_id)`` runs, and each ``write(frame, store)`` it makes writes
    ``frame`` with ``mode("overwrite")`` into ``<store>/<qid>/batch-N``.

    A replayed batch (a crash between the data writes and the
    checkpoint commit re-runs it under the same query id) REPLACES its
    own directories instead of appending next to them: idempotence by
    construction, with no ledger on the correctness path. Scoping by
    queryId (from the checkpoint metadata, the id Delta calls
    txnAppId) means a REBUILT checkpoint, whose batch ids restart at 0
    but whose batch 0 may hold different data, never overwrites stale
    output: it writes under a fresh queryId. The failure direction
    after checkpoint loss is therefore at-least-once (re-delivery,
    visible across queryIds), never silent data loss. Each store keeps
    one directory per batch; read it with `_read_batches`."""
    import os

    def run(batch: DataFrame, batch_id: int) -> None:
        qid = _streaming_query_id(batch.sparkSession, checkpoint)

        def write(frame: DataFrame, store: str) -> None:
            frame.write.mode("overwrite").parquet(
                os.path.join(store, qid, f"batch-{batch_id}")
            )

        ingest(batch, write, qid, batch_id)

    return _foreach_batch(df, checkpoint, run).start()


def _read_batches(spark: SparkSession, store: str) -> DataFrame:
    """Every batch `_start_batch_store` wrote into ``store``, across
    query ids: per-batch subdirectories need a recursive file listing,
    which stays a planning-time metadata operation."""
    return spark.read.option("recursiveFileLookup", "true").parquet(store)


def stream_append_idempotent(
    df: DataFrame, path: str, checkpoint: str
) -> StreamingQuery:
    """foreachBatch parquet sink with EXACTLY-ONCE batch application:
    micro-batch N overwrites its own directory `data/<queryId>/batch-N`
    (`_start_batch_store`), so a replay replaces the batch's output
    instead of duplicating it, and a rebuilt checkpoint re-delivers
    under a fresh queryId rather than losing data. Read the sink with
    `read_idempotent_sink`.

    Contrast with `stream_to_parquet` (Spark's parquet sink has its
    own WAL/manifest) — this pattern is for destinations Spark doesn't
    manage itself."""
    data_dir = path + "/data"

    def append_once(batch: DataFrame, write, _qid: str, _batch_id: int) -> None:
        write(batch, data_dir)

    return _start_batch_store(df, checkpoint, append_once)


def read_idempotent_sink(spark: SparkSession, path: str) -> DataFrame:
    """Read everything `stream_append_idempotent` committed (all query
    ids, all batches)."""
    return _read_batches(spark, path + "/data")


def stream_vector_ingest(
    vectors: DataFrame,
    store_path: str,
    checkpoint: str,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> StreamingQuery:
    """Incremental IVF vector-index ingestion: each micro-batch of
    arriving embeddings is assigned to its nearest centroid (broadcast
    pass, llm/similarity.ivf_assign) and appended to the index store
    as (id, centroid_id, vector) rows, sorted by cell within each
    file so a probe scan prunes on parquet row-group stats. The
    centroid set is FROZEN at ingest start (standard IVF practice:
    retrain centroids offline, re-index under a new store), so every
    batch's assignment is consistent with every other's.

    Exactly-once by construction: batch N overwrites its own
    `<queryId>/batch-N` subdirectory (`_start_batch_store`), and
    `read_vector_index` dedups on id as a final guard for the
    cross-queryId re-delivery after checkpoint loss.

    Serving is `ivf_probe_topk(..., assigned=...)` over the read-back
    store — the assignment computed at ingest is REUSED, so query
    time pays only centroid-probe + in-cell re-rank. At 100 TB the
    store becomes a table partitioned/bucketed by centroid_id; the
    foreachBatch body is unchanged."""
    from crane_spark.llm.similarity import ivf_assign

    cents = centroids.localCheckpoint(eager=True)

    def ingest(batch: DataFrame, write, _qid: str, _batch_id: int) -> None:
        b = batch.dropDuplicates([id_col])
        assigned = ivf_assign(b, cents, vec_col, id_col).select(
            id_col, "centroid_id"
        )
        write(
            b.join(assigned, id_col)
            .select(id_col, "centroid_id", vec_col)
            .sortWithinPartitions("centroid_id"),
            store_path,
        )

    return _start_batch_store(vectors, checkpoint, ingest)


def read_vector_index(
    spark: SparkSession, store_path: str, id_col: str = "vec_id"
) -> DataFrame:
    """The accumulated (id, centroid_id, vector) index across every
    ingest batch and run; id-deduped so re-delivery after checkpoint
    loss can never double-count a vector."""
    return _read_batches(spark, store_path).dropDuplicates([id_col])


def stream_heavy_hitters(
    items: DataFrame,
    store_path: str,
    checkpoint: str,
    col: str = "token",
    depth: int = 4,
    width: int = 2048,
    track_per_batch: int = 64,
) -> StreamingQuery:
    """Streaming heavy hitters over an unbounded key stream with
    BOUNDED state: per micro-batch, (1) build the batch's count-min
    sketch (functions/sketches.cms_build — sketch-sized shuffle no
    matter the batch) and persist it; (2) persist the batch's
    ``track_per_batch`` most frequent keys as heavy-hitter CANDIDATES.
    Global counts are never stored per key — the persisted state is
    one 64 KB-ish sketch plus a short candidate list per batch, and
    sketches MERGE by cell-wise sum, so `read_heavy_hitters` answers
    "top keys over the whole stream so far" from sketch merges alone.

    The candidate list is the standard lossy-counting compromise: a
    key that is globally heavy must be locally frequent in at least
    some batch (a key below the per-batch track threshold in EVERY
    batch is bounded by track-rank frequency per batch), so true heavy
    hitters surface; the sketch then gives their (always >= true)
    count estimate. Exactly-once: meta/, sketch/ and cands/ are written
    through `_start_batch_store`, so replays rewrite instead of
    double-counting.

    TOTAL checkpoint loss is the one residual at-least-once window:
    re-ingestion under a fresh queryId adds second sketches for the
    same data, and counter sketches — unlike HLL — are additive, not
    union-idempotent, so estimates inflate (still never undercount
    the true stream; the direction CMS already guarantees). Contrast
    `stream_distinct_sketches`, whose HLL blobs are set-union
    idempotent and survive checkpoint loss exactly.

    Single-writer store: one running query owns ``store_path`` at a
    time (the geometry guard below is checked once per RUN, not per
    batch, so two concurrent writers with different geometries could
    race past it — the same assumption every checkpoint-owned sink
    already carries, since two queries sharing one checkpoint is
    itself undefined)."""
    import os

    from crane_spark.functions.sketches import cms_build

    # Geometry verified against the store once per RUN (first batch),
    # then cached in the closure: re-scanning the whole meta/ tree
    # (parquet listing + distinct + collect) on EVERY micro-batch adds
    # a driver round-trip that grows with stream lifetime (ADVICE r7).
    # Batches this run writes after the check match (depth, width) by
    # construction.
    geometry_ok: list[bool] = []

    def ingest(batch: DataFrame, write, _qid: str, _batch_id: int) -> None:
        spark = batch.sparkSession
        # The store is SELF-DESCRIBING: each batch writes its sketch
        # geometry to meta/, and ingest refuses to append into a store
        # built with a different (depth, width) — cell-wise sums of
        # mixed-geometry sketches are silently meaningless, and a
        # reader probing with the wrong width hashes into the wrong
        # cells and returns zeros for genuinely heavy keys.
        if not geometry_ok:
            stored = _cms_store_geometry(spark, store_path)
            if stored is not None and stored != (depth, width):
                raise ValueError(
                    f"store {store_path!r} holds depth={stored[0]}, "
                    f"width={stored[1]} sketches; refusing to append "
                    f"depth={depth}, width={width}"
                )
            geometry_ok.append(True)
        write(
            spark.createDataFrame([(depth, width)], "depth int, width int").coalesce(1),
            os.path.join(store_path, "meta"),
        )
        write(
            cms_build(batch, col, depth, width).coalesce(1),
            os.path.join(store_path, "sketch"),
        )
        cands = (
            batch.groupBy(col)
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.desc("n"), F.asc(col))
            .limit(track_per_batch)
            .select(col)
        )
        write(cands.coalesce(1), os.path.join(store_path, "cands"))

    return _start_batch_store(items, checkpoint, ingest)


def _cms_store_geometry(
    spark: SparkSession, store_path: str
) -> tuple[int, int] | None:
    """(depth, width) recorded in the store's meta/ dir; None for an
    empty store. Raises on a store holding MIXED
    geometries — their sketches must never be cell-wise merged."""
    meta_dir = store_path + "/meta"
    if not _exists(spark, meta_dir):
        return None
    rows = (
        _read_batches(spark, meta_dir)
        .select("depth", "width")
        .distinct()
        .collect()
    )
    if not rows:
        return None
    if len(rows) > 1:
        raise ValueError(
            f"store {store_path!r} holds sketches of MIXED geometries "
            f"{sorted((r['depth'], r['width']) for r in rows)} — "
            "cell-wise merging them is meaningless; re-ingest with one"
        )
    return rows[0]["depth"], rows[0]["width"]


def read_heavy_hitters(
    spark: SparkSession,
    store_path: str,
    top_n: int = 10,
    col: str = "token",
) -> DataFrame:
    """Top keys across every ingested batch and run: merge all batch
    sketches (cell-wise sum — one sketch-sized aggregate), probe the
    deduplicated candidate set, rank by estimate with a key tiebreak.

    Sketch geometry comes only from the store's own meta/ records
    (written by `stream_heavy_hitters` with every batch), so a reader
    can never probe with the wrong (depth, width) — mismatched hashing
    returns silent zeros for genuinely heavy keys. A store without
    meta/ raises."""
    from crane_spark.functions.sketches import cms_estimate

    stored = _cms_store_geometry(spark, store_path)
    if stored is None:
        raise FileNotFoundError(
            f"no sketch geometry under {store_path!r}/meta — not a "
            "stream_heavy_hitters store, or nothing ingested yet"
        )
    depth, width = stored

    sketch = (
        _read_batches(spark, store_path + "/sketch")
        .groupBy("row", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    cands = _read_batches(spark, store_path + "/cands").dropDuplicates([col])
    return (
        cms_estimate(cands, sketch, col, depth, width)
        .orderBy(F.desc("est_count"), F.asc(col))
        .limit(top_n)
    )


def stream_distinct_sketches(
    keyed: DataFrame,
    store_path: str,
    checkpoint: str,
    key_col: str,
    group_col: str | None = None,
    lg_k: int = 14,
) -> StreamingQuery:
    """Streaming cardinality with bounded state: each micro-batch
    aggregates its keys into native HLL sketch blobs
    (`hll_sketch_agg`, one ~2^lg_k-byte blob per group) persisted in
    replay-idempotent `_start_batch_store` directories —
    the distinct-count sibling of `stream_heavy_hitters`'s frequency
    sketches. `read_distinct_counts` answers "distinct keys so far,
    per group" by `hll_union_agg` over the stored blobs: sketch-count
    rows touched, the raw stream never rescanned. HLL union is SET
    idempotence — re-delivered data after total checkpoint loss
    changes nothing (unlike additive counter sketches), so this store
    is exactly-once under every failure mode. Exact per-key state
    (what dropDuplicates-based counting would keep) grows with
    cardinality; this state grows with #groups x #batches only."""

    def ingest(batch: DataFrame, write, _qid: str, _batch_id: int) -> None:
        g = [group_col] if group_col else []
        write(
            batch.groupBy(*g)
            .agg(F.hll_sketch_agg(key_col, F.lit(lg_k)).alias("sk"))
            .coalesce(1),
            store_path,
        )

    return _start_batch_store(keyed, checkpoint, ingest)


def read_distinct_counts(
    spark: SparkSession, store_path: str, group_col: str | None = None
) -> DataFrame:
    """Distinct-count estimates from the accumulated sketch store:
    union the blobs per group and estimate."""
    df = _read_batches(spark, store_path)
    g = [group_col] if group_col else []
    agg = df.groupBy(*g).agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_distinct")
    )
    return agg
