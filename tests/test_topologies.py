"""Reference-parity golden tests (FIXTURES.md group A).

The three Crane topologies run over reference-shaped inputs and must
agree with a pure-Python simulator written fresh from SURVEY.md §2.1
semantics — including the boundary cases the reference data exercises
(twitter_1k selects 0 rows; pagerank rows with no outlinks emit
nothing; repeated spaces produce countable empty tokens).
"""

from __future__ import annotations

from collections import defaultdict

import pyspark.sql.functions as F

from crane_spark.operators.topology import (
    global_filter_count,
    pagerank_contributions,
    pagerank_iterations,
    wordcount,
)

WORDCOUNT_LINES = [
    "the quick brown fox",
    "the quick  brown fox",  # double space -> empty token (counted, ref semantics)
    "the the the",
    "",  # empty line -> one empty token
]

TWITTER_ROWS = [
    ("aaa", 0),
    ("bbb", 12),
    ("ccc", 51),
    ("ddd", 100),
    ("aaa", 50),  # boundary: strictly greater-than
]

PAGERANK_ROWS = [
    ("1", ["2", "3", "4"]),
    ("2", []),  # no outlinks -> contributes nothing
    ("3", ["1"]),
    ("4", ["1", "2"]),
]


def simulate_wordcount(lines: list[str]) -> dict[str, int]:
    counts: dict[str, int] = defaultdict(int)
    for line in lines:
        for tok in line.split(" "):  # ref word_count_topology.py:13
            counts[tok] += 1
    return dict(counts)


def simulate_pagerank(rows) -> dict[str, float]:
    ranks: dict[str, float] = defaultdict(float)
    for _src, urls in rows:
        weight = len(urls) + 1  # ref page_rank_topology.py:16
        for url in urls:
            ranks[url] += 1 / weight
    return dict(ranks)


def test_wordcount_matches_simulator(spark):
    lines = spark.createDataFrame([(line,) for line in WORDCOUNT_LINES], "value string")
    got = {r["token"]: r["cnt"] for r in wordcount(lines).collect()}
    assert got == simulate_wordcount(WORDCOUNT_LINES)
    assert got[""] == 2  # double space + empty line


def test_twitter_filter_boundary(spark):
    df = spark.createDataFrame(TWITTER_ROWS, "name string, val int")
    n = global_filter_count(df, F.col("val") > 50).collect()[0]["result_count"]
    assert n == 2  # 51 and 100; 50 excluded (strict >)
    zero = global_filter_count(df.filter(F.col("val") < 0), F.col("val") > 50)
    assert zero.collect()[0]["result_count"] == 0  # twitter_1k zero-row case


def test_pagerank_contributions_match_simulator(spark):
    edges = spark.createDataFrame(
        [(src, dst) for src, urls in PAGERANK_ROWS for dst in urls],
        "src string, dst string",
    )
    got = {r["url"]: r["rank"] for r in pagerank_contributions(edges).collect()}
    expected = simulate_pagerank(PAGERANK_ROWS)
    assert set(got) == set(expected)
    for url, rank in expected.items():
        assert abs(got[url] - rank) < 1e-9, url


def test_pagerank_iterations_converges(spark):
    edges = spark.createDataFrame(
        [("1", "2"), ("2", "1"), ("1", "3"), ("3", "1")], "src string, dst string"
    )
    ranks = {r["vid"]: r["rank"] for r in pagerank_iterations(edges, iterations=8).collect()}
    assert set(ranks) == {"1", "2", "3"}
    assert ranks["1"] > ranks["2"] > 0  # hub collects more rank
    assert abs(ranks["2"] - ranks["3"]) < 1e-6  # symmetric spokes
