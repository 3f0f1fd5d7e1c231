"""Property-based spot checks (SURVEY.md §5): invariants that hold for
ANY input, exercised through hypothesis-generated corpora in a single
Spark job per property (many generated rows per job, not one job per
example — Spark startup would dwarf the test otherwise)."""

from __future__ import annotations

from decimal import Decimal

import pyspark.sql.functions as F
from hypothesis import given, settings
from hypothesis import strategies as st

from crane_spark.functions.aggregates import dsum
from crane_spark.operators.topology import wordcount

lines_strategy = st.lists(
    st.text(alphabet="ab x", min_size=0, max_size=30), min_size=1, max_size=25
)


@settings(max_examples=5, deadline=None)
@given(lines=lines_strategy)
def test_wordcount_conserves_tokens(lines):
    spark = _session()
    df = spark.createDataFrame([(line,) for line in lines], "value string")
    counts = wordcount(df).agg(F.sum("cnt").alias("total")).collect()[0]["total"]
    expected = sum(len(line.split(" ")) for line in lines)
    assert counts == expected


@settings(max_examples=5, deadline=None)
@given(
    vals=st.lists(
        st.decimals(
            min_value=-10**6, max_value=10**6, places=2, allow_nan=False, allow_infinity=False
        ),
        min_size=1,
        max_size=200,
    )
)
def test_dsum_is_exact(vals):
    """dsum over doubles == exact Decimal sum, regardless of order or
    partitioning — the invariant the whole oracle strategy rests on."""
    spark = _session()
    df = spark.createDataFrame([(float(v),) for v in vals], "x double").repartition(7)
    got = df.agg(dsum("x", 2).alias("s")).collect()[0]["s"]
    assert Decimal(str(got)).quantize(Decimal("0.01")) == sum(vals).quantize(
        Decimal("0.01")
    )


def _session():
    from crane_spark import get_spark

    return get_spark("crane_spark_tests")


def test_entropy_bounds_and_sampling_invariance(spark, sf_dir):
    """Three invariants over the real fixture tables in one job each:

    * token entropy is within [0, log2(n_tokens)] for every document;
    * the A-ES weighted sample is IDENTICAL under any repartitioning
      (content-hash priorities carry no layout dependence);
    * temperature mixing keeps every rate in (0, 1] and gives the
      smallest source rate exactly 1 (downsample-only contract).
    """
    import math

    from crane_spark.queries import REGISTRY

    ent = REGISTRY["token_entropy"].fn(spark, sf_dir).collect()
    assert ent, "entropy query returned no rows"
    # entropy is rounded to 5 decimals, so allow half a rounding step
    for r in ent:
        assert -1e-4 <= r["entropy"] <= math.log2(max(r["n_tokens"], 2)) + 1e-4

    base = {
        (r["doc_id"], r["rank"])
        for r in REGISTRY["weighted_sample"].fn(spark, sf_dir).collect()
    }
    from crane_spark.llm.sampling import HASH_SPACE, hash_bucket
    from crane_spark.tables import table
    import pyspark.sql.functions as F2
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents").repartition(7, "lang")
    u64 = F2.conv(
        F2.substring(
            F2.md5(F2.concat(F2.lit("ws"), F2.col("doc_id").cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    pri = docs.select(
        "doc_id",
        F2.round(
            F2.log((u64 + 1.0) / float(1 << 60)) / F2.col("n_chars").cast("double"), 9
        ).alias("priority"),
    )
    w = Window.orderBy(F2.desc("priority"), F2.asc("doc_id"))
    repart = {
        (r["doc_id"], r["rank"])
        for r in pri.withColumn("rank", F2.row_number().over(w).cast("long"))
        .filter(F2.col("rank") <= 50)
        .collect()
    }
    assert repart == base

    rates = REGISTRY["temperature_mixture"].fn(spark, sf_dir).collect()
    assert all(0.0 < r["rate"] <= 1.0 for r in rates)
    smallest = min(rates, key=lambda r: r["n_docs"])
    assert smallest["rate"] == 1.0


def test_key_queries_survive_empty_input(spark, tmp_path):
    """Engine robustness: the core query shapes must return cleanly
    (zero rows, correct schema — not divide-by-zero, not NPE) when a
    table is empty, because at 100 TB a partition-pruned scan
    routinely IS empty."""
    import os

    from crane_spark.queries import REGISTRY
    from crane_spark.tables import TABLE_NAMES, table

    empty_dir = str(tmp_path / "empty_sf")
    os.makedirs(empty_dir)
    src = "/root/testdata/sf0.001"
    for name in TABLE_NAMES:
        table(spark, src, name).limit(0).write.parquet(
            os.path.join(empty_dir, f"{name}.parquet")
        )
    for qname in (
        "wordcount",
        "q1_pricing_summary",
        "q5_local_supplier_volume",
        "top_customers_per_nation",
        "exact_dedup",
        "bm25_search",
        "token_entropy",
        "cohort_retention",
        "copurchase_pairs",
        "equidepth_histogram",
    ):
        out = REGISTRY[qname].fn(spark, empty_dir)
        assert out.count() == 0, qname
        assert len(out.schema) >= 1, qname


@settings(max_examples=5, deadline=None)
@given(
    texts=st.lists(
        st.text(alphabet="abc ", min_size=0, max_size=40), min_size=1, max_size=20
    ),
    n=st.integers(min_value=2, max_value=4),
)
def test_exploded_grams_match_lambda_shingles(texts, n):
    """The explode-first gram extraction (fast path) must produce the
    same multiset of (id, gram) rows as exploding the transform-lambda
    shingle array — for any text, gram width, and token layout
    (including empty tokens from repeated spaces)."""
    from crane_spark.functions.text import exploded_word_grams, shingles, tokens

    spark = _session()
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    fast = sorted(
        (r["doc_id"], r["gram"])
        for r in exploded_word_grams(df, n, ["doc_id"]).collect()
    )
    ref = sorted(
        (r["doc_id"], r["g"])
        for r in df.select(
            "doc_id", F.explode(shingles(tokens("text"), n)).alias("g")
        ).collect()
    )
    assert fast == ref


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9_999_999),   # price cents
            st.integers(min_value=0, max_value=100),         # discount cents
            st.integers(min_value=0, max_value=100),         # tax cents
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=25, deadline=None)
def test_units_money_products_are_exact(spark, rows):
    """Property: the fixed-point-units formulation (aggregates.units/
    usum) equals EXACT rational arithmetic for any nominally-2dp
    inputs — the doubles stored in the table are the nearest doubles
    to cents/100, and the whole revenue/charge pipeline recovers the
    exact fraction (up to one final double rounding)."""
    from fractions import Fraction

    import pyspark.sql.functions as F

    from crane_spark.functions.aggregates import revenue_units, units, usum

    data = [(pc / 100.0, dc / 100.0, tc / 100.0) for pc, dc, tc in rows]
    df = spark.createDataFrame(
        data, "l_extendedprice double, l_discount double, l_tax double"
    )
    charge_units = revenue_units() * (F.lit(100) + units("l_tax"))
    got = df.agg(
        usum(revenue_units(), 4).alias("rev"),
        usum(charge_units, 6).alias("charge"),
    ).collect()[0]

    exact_rev = sum(
        Fraction(pc, 100) * Fraction(100 - dc, 100) for pc, dc, _ in rows
    )
    exact_charge = sum(
        Fraction(pc, 100) * Fraction(100 - dc, 100) * Fraction(100 + tc, 100)
        for pc, dc, tc in rows
    )
    assert got["rev"] == float(exact_rev)
    assert got["charge"] == float(exact_charge)


@given(st.lists(st.integers(min_value=0, max_value=99_999_999), min_size=1, max_size=30))
@settings(max_examples=25, deadline=None)
def test_units_roundtrip_any_cents(spark, cents):
    """Property: units() recovers the exact integer cents from the
    stored double for EVERY possible cent value (the double nearest
    c/100 is always within 1e-9 of the grid point, far from the .5
    rounding boundary both engines would have to disagree on)."""
    from crane_spark.functions.aggregates import units

    df = spark.createDataFrame([(c / 100.0,) for c in cents], "x double")
    got = [r["u"] for r in df.select(units("x").alias("u")).collect()]
    assert sorted(got) == sorted(cents)


# --- exact BPE regime equality under arbitrary unicode corpora -------

_bpe_word = st.text(
    alphabet=st.characters(
        codec="utf-8",
        exclude_characters=" ",
        exclude_categories=("Cs",),
    ),
    min_size=1,
    max_size=6,
)


@settings(max_examples=5, deadline=None)
@given(
    words=st.lists(_bpe_word, min_size=2, max_size=12),
    n_merges=st.integers(min_value=1, max_value=10),
)
def test_bpe_delta_loop_equals_classic_on_random_unicode(words, n_merges):
    """The distributed delta loop (driver-mirrored pair counts,
    string-repr replace rounds) must reproduce classic sequential BPE
    bit-for-bit on ANY corpus — random unicode words, arbitrary merge
    depths, repetition patterns hypothesis invents. This is the
    exactness proof's empirical shadow: a wrong strict-cut rule,
    replace-semantics mismatch, or delta drift shows up here as a
    divergent merge sequence."""
    from crane_spark.llm import bpe as B

    spark = _session()
    docs = spark.createDataFrame([(" ".join(words),)], "text string")
    local = B._bpe_train_local(
        sorted(
            ((w, words.count(w)) for w in set(words)), key=lambda t: t[0]
        ),
        n_merges,
    )
    saved = B.LOCAL_VOCAB_MAX
    B.LOCAL_VOCAB_MAX = 0  # force the distributed path
    try:
        dist = B.bpe_train(docs, n_merges=n_merges)
    finally:
        B.LOCAL_VOCAB_MAX = saved
    assert dist == local
