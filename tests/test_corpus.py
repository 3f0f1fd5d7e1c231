"""Semantic tests for the corpus-analysis queries (queries/corpus.py):
planted contamination must be found, shards must be balanced and
stable, repetition scoring must flag a constructed repeat-heavy doc."""

from __future__ import annotations

import pyspark.sql.functions as F

from crane_spark.queries import REGISTRY


def test_planted_contamination_is_found(spark):
    bench_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (0, bench_text),  # benchmark doc (id < 20)
        (25, "prefix words " + bench_text + " suffix words"),  # contaminated
        (26, "totally different content with no overlap at all here now"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    n = 8
    grams = F.expr(
        f"transform(slice(split(text,' '), 1, size(split(text,' ')) - {n - 1}), "
        f"(x, i) -> array_join(slice(split(text,' '), i + 1, {n}), ' '))"
    )
    bench = (
        docs.filter(F.col("doc_id") < 20)
        .select(F.explode(grams).alias("g"))
        .select(F.md5("g").alias("gh"))
        .distinct()
    )
    train = (
        docs.filter(F.col("doc_id") >= 20)
        .select("doc_id", F.explode(grams).alias("g"))
        .select("doc_id", F.md5("g").alias("gh"))
    )
    hits = (
        train.join(F.broadcast(bench), "gh", "left_semi")
        .groupBy("doc_id")
        .count()
        .collect()
    )
    found = {r["doc_id"]: r["count"] for r in hits}
    # the 10-token benchmark has 3 8-grams, all inside doc 25
    assert found == {25: 3}


def test_shard_assignment_balanced_and_stable(spark, sf_dir):
    out1 = REGISTRY["shard_assign"].fn(spark, sf_dir).collect()
    out2 = REGISTRY["shard_assign"].fn(spark, sf_dir).collect()
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))  # deterministic
    by_shard = {}
    for r in out1:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    assert set(by_shard) <= set(range(16))
    n = sum(len(v) for v in by_shard.values())
    for shard, positions in by_shard.items():
        # contiguous 1..k positions within each shard
        assert sorted(positions) == list(range(1, len(positions) + 1))
        # no shard grossly over-loaded (uniform hash: ~n/16 each)
        assert len(positions) < n / 4


def test_repetition_flags_repeat_heavy_doc(spark):
    rows = [
        (1, "spam spam spam spam spam spam spam spam"),  # all-dup 2-grams
        (2, "one two three four five six seven eight"),  # all-unique 2-grams
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    grams2 = F.expr(
        "transform(slice(split(text, ' '), 1, size(split(text, ' ')) - 1), "
        "(x, i) -> concat(x, ' ', element_at(split(text, ' '), i + 2)))"
    )
    per_gram = (
        docs.select("doc_id", F.explode(grams2).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    dup = F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0))
    out = {
        r["doc_id"]: r["ratio"]
        for r in per_gram.groupBy("doc_id")
        .agg((dup.cast("double") / F.sum("cnt")).alias("ratio"))
        .collect()
    }
    assert out[1] == 1.0
    assert out[2] == 0.0


def test_connected_components_chain_and_islands(spark):
    from crane_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 20)],
        "doc_a long, doc_b long",
    )
    out = {
        r["v"]: r["component_id"]
        for r in connected_components(edges).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_dup_span_ranges_finds_shifted_passages_maximally(spark, tmp_path):
    """A 12-token passage shared at DIFFERENT offsets must come back
    as one maximal island per doc covering exactly the passage — the
    alignment case span_dedup's fixed grid cannot see."""
    from crane_spark.queries import REGISTRY

    passage = " ".join(f"p{i}" for i in range(12))  # 12 tokens, 5 sliding 8-grams
    a = "a0 a1 a2 " + passage + " a3"               # passage at tokens 3..15
    b = passage + " b0 b1"                          # passage at tokens 0..12
    c = " ".join(f"c{i}" for i in range(20))        # no duplication
    sf = str(tmp_path)
    spark.createDataFrame(
        [(1, a, "s", None), (2, b, "s", None), (3, c, "s", None)],
        "doc_id long, text string, source string, lang string",
    ).write.parquet(sf + "/documents.parquet")
    out = {
        (r["doc_id"], r["span_start"], r["span_end"], r["n_grams"])
        for r in REGISTRY["dup_span_ranges"].fn(spark, sf).collect()
    }
    assert out == {(1, 3, 15, 5), (2, 0, 12, 5)}


def test_dup_span_ranges_skew_safe_regime_identical(spark, tmp_path):
    """r6 verdict #4: the salted two-level min/max regime must produce
    EXACTLY the default window regime's spans on the shifted-passage
    fixture."""
    from crane_spark.llm.dedup import dup_span_ranges

    passage = " ".join(f"p{i}" for i in range(12))
    rows = [
        (1, "a0 a1 a2 " + passage + " a3"),
        (2, passage + " b0 b1"),
        (3, " ".join(f"c{i}" for i in range(20))),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def spans(df):
        return {
            (r["doc_id"], r["island"], r["span_start"], r["span_end"], r["n_grams"])
            for r in df.collect()
        }

    base = spans(dup_span_ranges(docs, skew_safe=False))
    assert base == {(1, 1, 3, 15, 5), (2, 1, 0, 12, 5)}
    assert spans(dup_span_ranges(docs, skew_safe=True)) == base


def test_contamination_xxhash_key_matches_md5_baseline(spark):
    """r11 (verdict #7): freeze the r10 bit-comparison that justified
    the xxhash64 LONG gram key on the contamination probe shape. The
    gram identity is internal (output is counts/ratios), so the md5
    twin — the pre-r10 formulation — must produce the identical rows
    at the fixture scale AND at sf0.1 when present (the sweep below
    runs every rung it can find)."""
    import os

    from crane_spark.functions.text import exploded_word_grams
    from crane_spark.tables import table

    def contamination(docs, key):
        toks = F.split(F.col("text"), " ")
        bench = (
            exploded_word_grams(docs.filter(F.col("doc_id") < 20), 8, [], out="g")
            .select(key("g").alias("gh"))
            .distinct()
        )
        train = exploded_word_grams(
            docs.filter(F.col("doc_id") >= 20).withColumn(
                "n_grams", (F.size(toks) - 7).cast("long")
            ),
            8,
            ["doc_id", "n_grams"],
            out="g",
        ).select("doc_id", "n_grams", key("g").alias("gh"))
        hits = train.join(F.broadcast(bench), "gh", "left_semi")
        out = hits.groupBy("doc_id").agg(
            F.count_distinct("gh").alias("n"),
            (F.count_distinct("gh").cast("double") / F.first("n_grams")).alias(
                "r"
            ),
        )
        return sorted(
            (int(x["doc_id"]), int(x["n"]), float(x["r"])) for x in out.collect()
        )

    rungs = [
        d
        for d in ("/root/testdata/sf0.001", "/root/testdata/sf0.1")
        if os.path.isdir(d)
    ]
    for sf in rungs:
        docs = table(spark, sf, "documents")
        xx = contamination(docs, F.xxhash64)
        md = contamination(docs, F.md5)
        assert xx == md, f"xxhash64/md5 contamination keys disagree at {sf}"
        assert len(xx) > 0, f"no contaminated docs found at {sf}"


def test_exploded_word_grams_tokenizes_each_row_once(spark):
    """The length guard sits inside the one projection: a counting UDF
    that produces ``text`` runs once per row. A filter on the tokens
    would be pushed below the projection and tokenize (and here call
    the UDF) twice."""
    from crane_spark.functions.text import exploded_word_grams

    calls = spark.sparkContext.accumulator(0)

    def text(i):
        calls.add(1)
        return " ".join(f"w{i}_{k}" for k in range(i % 6))

    docs = spark.range(20).select(
        F.col("id").alias("doc_id"), F.udf(text, "string")("id").alias("text")
    )
    grams = exploded_word_grams(docs, 3, ["doc_id"], out="g").collect()
    assert calls.value == 20
    assert len(grams) == sum(max(0, i % 6 - 2) for i in range(20))
    assert {r["g"] for r in grams if r["doc_id"] == 5} == {
        "w5_0 w5_1 w5_2", "w5_1 w5_2 w5_3", "w5_2 w5_3 w5_4"
    }
