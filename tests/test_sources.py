"""Source readers: text lines, typed CSV (permissive), ragged TSV
adjacency — the reference's input formats (FIXTURES.md group A)."""

from __future__ import annotations

import pyspark.sql.functions as F

from crane_spark.sources import (
    pagerank_edges_from_tsv,
    read_text_lines,
    twitter_rows_from_csv,
)


def test_read_text_lines(spark, tmp_path):
    p = tmp_path / "lines.txt"
    p.write_text("alpha beta\ngamma\n")
    df = read_text_lines(spark, str(p))
    assert [r["value"] for r in df.orderBy("value").collect()] == ["alpha beta", "gamma"]


def test_twitter_csv_permissive_malformed(spark, tmp_path):
    """Malformed int -> null (divergence from the reference, which
    crashes and replays forever — SURVEY.md §2.1 note)."""
    p = tmp_path / "twitter.csv"
    p.write_text("aaa,0\nbbb,99\nbad,notanint\nccc,51\n")
    df = twitter_rows_from_csv(spark, str(p))
    rows = df.orderBy("name").collect()
    assert [(r["name"], r["val"]) for r in rows] == [
        ("aaa", 0),
        ("bad", None),
        ("bbb", 99),
        ("ccc", 51),
    ]
    kept = df.filter(F.col("val") > 50).count()
    assert kept == 2  # null filtered out, not crashed


def test_pagerank_ragged_tsv(spark, tmp_path):
    p = tmp_path / "edges.tsv"
    p.write_text("1\t2\t3\n2\n3\t1\n")  # row '2' has no outlinks
    edges = pagerank_edges_from_tsv(spark, str(p))
    got = sorted((r["src"], r["dst"]) for r in edges.collect())
    assert got == [("1", "2"), ("1", "3"), ("3", "1")]


def test_orc_roundtrip_with_pushdown(spark, sf_dir, tmp_path):
    from crane_spark.sources import read_orc
    from crane_spark.tables import table

    out = str(tmp_path / "nation_orc")
    table(spark, sf_dir, "nation").write.orc(out)
    back = read_orc(spark, out)
    assert back.count() == 25
    flt = back.filter(F.col("n_regionkey") == 0).select("n_name")
    plan = flt._jdf.queryExecution().executedPlan().toString()
    # the ORC scan must receive the filter and prune to the 2 read columns
    assert "PushedFilters: [" in plan and "n_regionkey" in plan
    assert flt.count() == 5


def test_json_roundtrip(spark, tmp_path):
    import json

    p = tmp_path / "data.json"
    p.write_text(
        "\n".join(json.dumps({"id": i, "tags": ["a", "b"][: i % 3]}) for i in range(4))
    )
    df = spark.read.json(str(p))
    assert df.count() == 4
    assert df.filter(F.size("tags") == 2).count() == 1


def test_xml_roundtrip(spark, sf_dir, tmp_path):
    """Spark 4 built-in XML source: write a dimension table as XML,
    read it back with an explicit rowTag, values survive. XML is the
    classic enterprise-feed format a production ingest layer must
    accept; downstream everything is columnar."""
    from crane_spark.tables import table

    out = str(tmp_path / "nation_xml")
    nation = table(spark, sf_dir, "nation")
    nation.write.format("xml").option("rowTag", "nation").mode("overwrite").save(out)
    back = spark.read.format("xml").option("rowTag", "nation").load(out)
    assert back.count() == 25
    orig = {(r["n_nationkey"], r["n_name"]) for r in nation.collect()}
    got = {(r["n_nationkey"], r["n_name"]) for r in back.collect()}
    assert got == orig


def test_input_file_provenance(spark, tmp_path):
    """Ingest-time provenance tagging with input_file_name(): every
    row records which physical file produced it — the lineage column a
    100 TB multi-source corpus build carries from day one."""
    from pyspark.sql import functions as F

    for name, rows in {"src_a": ["x", "y"], "src_b": ["z"]}.items():
        spark.createDataFrame([(r,) for r in rows], "value string").coalesce(
            1
        ).write.mode("overwrite").text(str(tmp_path / name))
    df = (
        spark.read.text(str(tmp_path / "src_*"))
        .withColumn("src_file", F.input_file_name())
        .withColumn(
            "source", F.regexp_extract("src_file", r"(src_[ab])", 1)
        )
    )
    got = {r["value"]: r["source"] for r in df.collect()}
    assert got == {"x": "src_a", "y": "src_a", "z": "src_b"}
    counts = {r["source"]: r["n"] for r in df.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert counts == {"src_a": 2, "src_b": 1}


def test_ignore_corrupt_parquet_files(spark, tmp_path):
    """Fleet reality at 100 TB: a few corrupt files must not kill a
    scan. Default config fails loudly (correctness first); flipping
    spark.sql.files.ignoreCorruptFiles recovers every healthy row."""
    import glob

    p = str(tmp_path / "t")
    spark.range(100).repartition(4).write.parquet(p)
    victim = sorted(glob.glob(p + "/part-*.parquet"))[0]
    with open(victim, "r+b") as fh:
        fh.truncate(40)  # destroy footer + magic
    import pytest as _pytest

    with _pytest.raises(Exception):
        # fails at footer read (schema inference) or at scan — either
        # way, loudly
        spark.read.parquet(p).count()
    try:
        spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
        # explicit schema: inference itself would read the torn footer
        got = spark.read.schema("id bigint").parquet(p).count()
    finally:
        spark.conf.set("spark.sql.files.ignoreCorruptFiles", "false")
    assert got == 75  # 3 of 4 equal files survive


def test_json_corrupt_record_capture(spark, tmp_path):
    """PERMISSIVE JSON parsing lands malformed rows in a corrupt-record
    column instead of dropping them silently — the quarantine-and-audit
    pattern for untrusted feeds."""
    from pyspark.sql import types as T

    src = tmp_path / "j"
    src.mkdir()
    (src / "a.json").write_text(
        '{"id": 1, "v": "ok"}\n'
        "{this is not json}\n"
        '{"id": 3, "v": "fine"}\n'
    )
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("v", T.StringType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    df = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(str(src))
    ).cache()
    try:
        ok = {(r["id"], r["v"]) for r in df.filter("_corrupt_record IS NULL").collect()}
        bad = [r["_corrupt_record"] for r in df.filter("_corrupt_record IS NOT NULL").collect()]
        assert ok == {(1, "ok"), (3, "fine")}
        assert bad == ["{this is not json}"]
    finally:
        df.unpersist()
