"""Bloom filter, count-min sketch, and span-dedup contracts.

* Bloom: zero false negatives (guaranteed), measured false-positive
  rate within the sized bound, and losslessness of the pruned
  contamination plan vs the exact one.
* CMS: per-key estimate >= exact count always, and within the
  (2/width)*N Cormode-Muthukrishnan bound for every key here.
* span dedup: removal + reassembly semantics on constructed docs.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from crane_spark.functions.sketches import CMS_WIDTH, cms_build, cms_estimate
from crane_spark.functions.text import tokens
from crane_spark.llm.dedup import drop_duplicate_spans
from crane_spark.operators.bloom import build_bloom, filter_might_contain
from crane_spark.queries import REGISTRY
from crane_spark.tables import table


def test_bloom_no_false_negatives_and_low_fp(spark):
    keys = spark.range(0, 2000).select(F.md5(F.col("id").cast("string")).alias("h"))
    bloom = build_bloom(keys, "h", m_words=4096, k=3)
    assert filter_might_contain(keys, "h", bloom, k=3).count() == 2000

    others = spark.range(100_000, 120_000).select(
        F.md5(F.col("id").cast("string")).alias("h")
    )
    fp = filter_might_contain(others, "h", bloom, k=3).count()
    # 2000 keys * 3 bits in 262144 bits -> fill ~2.3%; fp ~ fill^3 ~ 1e-5.
    # Generous ceiling so the test is immune to hash luck.
    assert fp / 20_000 < 0.01


def test_bloom_contamination_matches_exact_plan(spark, sf_dir):
    exact = (
        REGISTRY["contamination_check"].fn(spark, sf_dir).toPandas()
        .sort_values("doc_id").reset_index(drop=True)
    )
    pruned = (
        REGISTRY["bloom_contamination"].fn(spark, sf_dir).toPandas()
        .sort_values("doc_id").reset_index(drop=True)
    )
    assert exact.equals(pruned)


def test_cms_estimate_bounds(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(tokens("text")).alias("token"))
    n_items = tok.count()
    exact = tok.groupBy("token").agg(F.count(F.lit(1)).alias("exact"))
    sketch = cms_build(tok, "token")
    est = cms_estimate(exact.select("token"), sketch, "token")
    joined = est.join(exact, "token").select("token", "est_count", "exact").collect()
    assert len(joined) > 0
    bound = 2.0 * n_items / CMS_WIDTH
    for row in joined:
        assert row["est_count"] >= row["exact"], row
        assert row["est_count"] <= row["exact"] + bound, row


def _mkdocs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_span_dedup_removes_shared_spans_and_reassembles(spark):
    shared = " ".join(f"s{i}" for i in range(16))  # one full grid span
    a_tail = " ".join(f"a{i}" for i in range(16))
    b_tail = " ".join(f"b{i}" for i in range(16))
    docs = _mkdocs(
        spark,
        [
            (1, f"{shared} {a_tail}"),
            (2, f"{shared} {b_tail}"),
            (3, shared),  # every span duplicated -> doc disappears
            (4, "unique words only"),  # short doc, one partial span
        ],
    )
    out = {
        r["doc_id"]: r
        for r in drop_duplicate_spans(docs, span_tokens=16, min_docs=2).collect()
    }
    assert set(out) == {1, 2, 4}
    assert out[1]["text_dedup"] == a_tail
    assert out[2]["text_dedup"] == b_tail
    assert out[1]["n_spans_kept"] == 1
    assert out[4]["text_dedup"] == "unique words only"


def test_span_dedup_order_preserved(spark):
    spans = [" ".join(f"w{j}_{i}" for i in range(16)) for j in range(5)]
    docs = _mkdocs(spark, [(1, " ".join(spans))])
    out = drop_duplicate_spans(docs, span_tokens=16, min_docs=2).collect()
    assert out[0]["text_dedup"] == " ".join(spans)
    assert out[0]["n_spans_kept"] == 5
