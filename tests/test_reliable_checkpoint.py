"""Durable-checkpoint cadence for iterative loops (round 6, verdict
item 1): with ``reliable_every=N`` every Nth round's lineage cut is a
REAL ``df.checkpoint()`` (replayable after executor loss) instead of
an executor-storage-only localCheckpoint. The contract under test:
outputs are BIT-IDENTICAL with the flag on or off, and the reliable
rounds actually write to the checkpoint directory."""

from __future__ import annotations

import os

import pyspark.sql.functions as F

from crane_spark.operators.caching import ensure_checkpoint_dir, loop_checkpoint


def _edges(spark, n=400):
    # two chains + a ring -> non-trivial components and pagerank mass
    return spark.range(n).select(
        (F.col("id") % 97).alias("src"),
        ((F.col("id") * 31 + 7) % 97).alias("dst"),
    )


def test_loop_checkpoint_reliable_rounds_write_checkpoint_files(spark):
    df = spark.range(100).select(F.col("id"), (F.col("id") * 2).alias("v"))
    ckdir = ensure_checkpoint_dir(spark)
    before = sum(len(fs) for _, _, fs in os.walk(ckdir))
    local = loop_checkpoint(df, round_no=1, reliable_every=2)  # off-round
    durable = loop_checkpoint(df, round_no=2, reliable_every=2)  # on-round
    after = sum(len(fs) for _, _, fs in os.walk(ckdir))
    assert after > before, "reliable round must write checkpoint files"
    assert sorted(r["v"] for r in local.collect()) == sorted(
        r["v"] for r in durable.collect()
    )
    # reliable frames are release-safe (storage no-op, files stay)
    from crane_spark.operators.caching import release_local_checkpoint

    release_local_checkpoint(durable)
    assert durable.count() == 100  # still readable: backed by disk files


def test_pagerank_bit_identical_with_reliable_cadence(spark):
    from crane_spark.operators.topology import pagerank_iterations

    e = _edges(spark)
    base = {
        r["vid"]: r["rank"]
        for r in pagerank_iterations(e, iterations=9).collect()
    }
    rel = {
        r["vid"]: r["rank"]
        for r in pagerank_iterations(e, iterations=9, reliable_every=1).collect()
    }
    assert base == rel  # exact float equality: identical plans, rows


def test_bpe_delta_and_batched_bit_identical_with_reliable_cadence(spark):
    from crane_spark.llm.bpe import _initial_symbols, _pair_counts, _bpe_train_delta, bpe_train

    docs = spark.createDataFrame(
        [("the cat sat on the mat and the cat ran",), ("a cat and a hat",)] * 3,
        "text string",
    )
    # batched loop (exact=False skips the local path)
    m0 = bpe_train(docs, n_merges=12, exact=False)
    m1 = bpe_train(docs, n_merges=12, exact=False, reliable_every=1)
    assert m0 == m1 and len(m0) == 12
    # delta loop, called directly (the distributed-exact regime)
    from crane_spark.llm.bpe import word_freqs

    words = word_freqs(docs, "text").localCheckpoint(eager=True)
    seqs = _initial_symbols(words).localCheckpoint(eager=True)
    counts0 = {
        (r["a"], r["b"]): int(r["n"]) for r in _pair_counts(seqs).collect()
    }
    d0 = _bpe_train_delta(seqs, dict(counts0), 10)
    d1 = _bpe_train_delta(seqs, dict(counts0), 10, reliable_every=2)
    assert d0 == d1 and len(d0) == 10


def test_knn_build_and_logreg_bit_identical_with_reliable(spark):
    from crane_spark.llm.classifier import logreg_train
    from crane_spark.llm.graph_ann import knn_graph_build

    vecs = spark.range(80).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[
                (F.cos(F.col("id") * (i + 1) * 0.37) + 1.5).cast("double")
                for i in range(6)
            ]
        ).alias("embedding"),
    )
    g0 = sorted(map(tuple, knn_graph_build(vecs, k=4, n_iter=2).collect()))
    g1 = sorted(
        map(tuple, knn_graph_build(vecs, k=4, n_iter=2, reliable_every=1).collect())
    )
    assert g0 == g1

    data = spark.range(200).select(
        F.array(
            F.lit(1.0),
            (F.col("id") % 13).cast("double"),
            (F.col("id") % 7).cast("double") / 7.0,
        ).alias("features"),
        ((F.col("id") % 3) == 0).cast("int").alias("label"),
    )
    w0, l0 = logreg_train(data, n_iter=5)
    w1, l1 = logreg_train(data, n_iter=5, reliable=True)
    assert w0 == w1 and l0 == l1


def test_checkpoint_dir_fallback_is_local_only():
    """The temp-dir fallback is sound ONLY when executors share the
    driver's filesystem; on a cluster master an unset checkpoint dir
    must raise instead of silently writing driver-local files the
    executors can never read back (fake durability)."""
    import pytest

    from crane_spark.operators.caching import (
        _local_fallback_allowed,
        ensure_checkpoint_dir,
    )

    for m in ("local", "local[4]", "local[*]", "local[2,3]"):
        assert _local_fallback_allowed(m), m
    for m in (
        "spark://host:7077",
        "yarn",
        "k8s://https://host:6443",
        "local-cluster[2,1,1024]",  # separate executor processes
        "",
        None,
    ):
        assert not _local_fallback_allowed(m), m

    class FakeSC:
        master = "spark://host:7077"

        def getCheckpointDir(self):
            return None

    class FakeSpark:
        sparkContext = FakeSC()

    with pytest.raises(RuntimeError, match="setCheckpointDir"):
        ensure_checkpoint_dir(FakeSpark())


def test_build_training_corpus_reliable_cadence(spark, sf_dir, tmp_path, monkeypatch):
    """r6 verdict item 3: the production entry point forwards
    `reliable_every` to every materialized funnel stage. With
    reliable_every=1 each stage writes REAL durable checkpoint files
    (observed at release time), frees them once both snapshots are
    published (a service rebuilding corpora in one session must not
    accumulate snapshots per call), and the published corpus + stage
    counts are bit-identical to the default (localCheckpoint-only)
    run."""
    import crane_spark.operators.caching as C
    from crane_spark.llm.run_pipeline import build_training_corpus
    from crane_spark.sources import versioned as V

    base = build_training_corpus(spark, sf_dir, str(tmp_path / "a"))

    ckdir = ensure_checkpoint_dir(spark).removeprefix("file:")
    before = sum(len(fs) for _, _, fs in os.walk(ckdir))
    real = C.release_reliable_checkpoint
    released = []

    def spy(df):
        f = df._jdf.queryExecution().analyzed().rdd().getCheckpointFile()
        if f.isDefined():
            p = f.get().removeprefix("file:")
            released.append((p, os.path.exists(p)))
        real(df)

    monkeypatch.setattr(C, "release_reliable_checkpoint", spy)
    rel = build_training_corpus(
        spark, sf_dir, str(tmp_path / "b"), reliable_every=1
    )
    after = sum(len(fs) for _, _, fs in os.walk(ckdir))
    # two loop_checkpoint stages (dedup, decontaminate), both on-round:
    # durable files existed while the funnel ran, gone once published
    assert len(released) == 2
    assert all(existed for _, existed in released)
    assert not any(os.path.exists(p) for p, _ in released)
    assert after <= before, "published runs must not accumulate snapshots"

    assert {k: v for k, v in base.items() if not k.startswith("_")} == {
        k: v for k, v in rel.items() if not k.startswith("_")
    }
    a = V.get(spark, str(tmp_path / "a"), "corpus")
    b = V.get(spark, str(tmp_path / "b"), "corpus")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_stream_training_corpus_reliable_cadence(spark, sf_dir, tmp_path, monkeypatch):
    """Streaming twin: `reliable_every` reaches the per-batch stages
    (3 loop_checkpoint calls per micro-batch, each writing REAL
    durable files), the drained corpus matches the batch funnel
    exactly, and — because a batch's recovery point is dead once its
    idempotent sinks committed — every durable file is DELETED by
    batch end, so a long-running stream's checkpoint volume stays
    bounded instead of growing three snapshots per micro-batch."""
    import crane_spark.operators.caching as C
    from crane_spark.llm.run_pipeline import (
        build_training_corpus,
        read_stream_corpus,
        stream_training_corpus,
    )
    from crane_spark.tables import table

    batch_counts = build_training_corpus(spark, sf_dir, str(tmp_path / "batch"))

    docs = table(spark, sf_dir, "documents")
    eval_docs = docs.filter(F.col("doc_id") < 20)
    src = str(tmp_path / "src")
    docs.filter(F.col("doc_id") >= 20).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(docs.schema).parquet(src)
    ckdir = ensure_checkpoint_dir(spark).removeprefix("file:")
    before = sum(len(fs) for _, _, fs in os.walk(ckdir))

    real = C.release_reliable_checkpoint
    released = []

    def spy(df):
        f = df._jdf.queryExecution().analyzed().rdd().getCheckpointFile()
        if f.isDefined():
            p = f.get().removeprefix("file:")
            released.append((p, os.path.exists(p)))
        real(df)

    monkeypatch.setattr(C, "release_reliable_checkpoint", spy)
    q = stream_training_corpus(
        stream,
        eval_docs,
        str(tmp_path / "s"),
        str(tmp_path / "ck"),
        reliable_every=1,
    )
    q.awaitTermination()
    # all three per-batch stages took a DURABLE checkpoint (files were
    # on disk at release time) and every file is gone afterwards
    assert len(released) == 3
    assert all(existed for _, existed in released)
    assert not any(os.path.exists(p) for p, _ in released)
    after = sum(len(fs) for _, _, fs in os.walk(ckdir))
    assert after <= before, "durable batch snapshots must not accumulate"

    corpus, report = read_stream_corpus(spark, str(tmp_path / "s"))
    stream_counts = {r["stage"]: r["n_docs"] for r in report.collect()}
    assert stream_counts == {
        k: v for k, v in batch_counts.items() if not k.startswith("_")
    }
    assert corpus.count() == batch_counts["4_mixed"]


def test_release_reliable_checkpoint_deletes_files_and_skips_local(spark):
    """The durable release deletes exactly the frame's rdd-N directory
    and is a safe no-op on localCheckpoint frames (so loop callers can
    release every flavor through one call pair)."""
    from crane_spark.operators.caching import (
        loop_checkpoint,
        release_reliable_checkpoint,
    )

    df = spark.range(100)
    durable = loop_checkpoint(df, round_no=1, reliable_every=1)
    f = durable._jdf.queryExecution().analyzed().rdd().getCheckpointFile()
    assert f.isDefined()
    path = f.get().removeprefix("file:")
    assert os.path.exists(path)
    assert durable.count() == 100  # consume before release
    release_reliable_checkpoint(durable)
    assert not os.path.exists(path)

    local = loop_checkpoint(spark.range(10), round_no=1, reliable_every=0)
    assert local.count() == 10
    release_reliable_checkpoint(local)  # no durable files: no-op
