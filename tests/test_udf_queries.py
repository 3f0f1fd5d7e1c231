"""Rows-only queries get their strong checks here: the pandas ANN path
must rank-match the JVM implementation; the HLL sketch must be within
its error bound of the exact count."""

from __future__ import annotations

import pyspark.sql.functions as F

from crane_spark.queries import REGISTRY


def test_pandas_topk_ranks_match_jvm(spark, sf_dir):
    jvm = REGISTRY["embedding_topk"].fn(spark, sf_dir).collect()
    pdk = REGISTRY["pandas_topk_cosine"].fn(spark, sf_dir).collect()
    jvm_ranked = {(r["query_id"], r["rn"]): r["neighbor_id"] for r in jvm}
    pd_ranked = {(r["query_id"], r["rn"]): r["neighbor_id"] for r in pdk}
    assert jvm_ranked == pd_ranked


def test_cogroup_apply_in_pandas(spark, sf_dir):
    """cogroup().applyInPandas: per-key merge of two grouped frames in
    pandas (orders vs events per customer) — the two-input grouped-map
    surface."""
    import pandas as pd

    from crane_spark.tables import table

    orders = table(spark, sf_dir, "orders").selectExpr(
        "o_custkey AS key", "o_totalprice AS price"
    )
    events = table(spark, sf_dir, "events").selectExpr(
        "user_id AS key", "value"
    )

    def merge(o: pd.DataFrame, e: pd.DataFrame) -> pd.DataFrame:
        key = o["key"].iloc[0] if len(o) else e["key"].iloc[0]
        return pd.DataFrame(
            {
                "key": [int(key)],
                "n_orders": [len(o)],
                "n_events": [len(e)],
                "max_price": [float(o["price"].max()) if len(o) else 0.0],
            }
        )

    out = (
        orders.groupBy("key")
        .cogroup(events.groupBy("key"))
        .applyInPandas(merge, schema="key long, n_orders long, n_events long, max_price double")
    )
    rows = {r["key"]: (r["n_orders"], r["n_events"]) for r in out.collect()}
    # cross-check against plain aggregations
    n_orders = {r["key"]: r["n"] for r in orders.groupBy("key").count().withColumnRenamed("count", "n").collect()}
    n_events = {r["key"]: r["n"] for r in events.groupBy("key").count().withColumnRenamed("count", "n").collect()}
    for key, (no, ne) in rows.items():
        assert no == n_orders.get(key, 0), key
        assert ne == n_events.get(key, 0), key


def test_observe_metrics(spark, sf_dir):
    """df.observe(): pipeline-side metrics collected during a real
    action — the observability hook for production jobs."""
    from pyspark.sql import Observation

    from crane_spark.tables import table
    import pyspark.sql.functions as F

    obs = Observation("orders_metrics")
    orders = table(spark, sf_dir, "orders").observe(
        obs,
        F.count(F.lit(1)).alias("rows_seen"),
        F.sum(F.col("o_totalprice").cast("decimal(28,2)")).cast("double").alias("revenue"),
    )
    n = orders.filter(F.col("o_totalprice") > 0).count()
    metrics = obs.get
    assert metrics["rows_seen"] == 1500
    assert n <= metrics["rows_seen"]
    assert metrics["revenue"] > 0


def test_python_udtf(spark):
    """Spark 4 Python UDTF surface: one input row -> many typed output
    rows (the reference's SplitBolt as a user-defined table function)."""
    from pyspark.sql.functions import lit, udtf

    @udtf(returnType="word: string, length: int")
    class SplitWords:
        def eval(self, text: str):
            for w in text.split(" "):
                yield (w, len(w))

    spark.udtf.register("split_words", SplitWords)
    rows = spark.sql(
        "SELECT * FROM split_words('the quick brown fox')"
    ).collect()
    assert [(r["word"], r["length"]) for r in rows] == [
        ("the", 3),
        ("quick", 5),
        ("brown", 5),
        ("fox", 3),
    ]
    # lateral-join form over a table
    spark.createDataFrame([("a bb",), ("ccc",)], "t string").createOrReplaceTempView("tt")
    n = spark.sql(
        "SELECT word FROM tt, LATERAL split_words(t)"
    ).count()
    assert n == 3


def test_approx_distinct_within_rsd(spark, sf_dir):
    """r7 differential shape: exact_customers must equal the exact
    twin and every within_bound flag (HLL++ vs exact, 2.5 sigma) must
    hold."""
    exact = {
        r["o_orderstatus"]: r["n_customers"]
        for r in REGISTRY["distinct_counts"].fn(spark, sf_dir).collect()
    }
    diff = {
        r["o_orderstatus"]: (r["exact_customers"], r["within_bound"])
        for r in REGISTRY["approx_distinct_customers"].fn(spark, sf_dir).collect()
    }
    assert set(exact) == set(diff)
    for status, n in exact.items():
        got, ok = diff[status]
        assert got == n and ok is True, status


def test_map_in_arrow_batch_iterator(spark, sf_dir):
    """mapInArrow: the zero-copy tier below mapInPandas — the UDF sees
    raw pyarrow RecordBatches (no pandas conversion), the right surface
    for byte-level / columnar-native operators at scale. Computes
    per-batch token totals and checks against the JVM aggregate."""
    import pyarrow as pa

    from crane_spark.tables import table

    docs = table(spark, sf_dir, "documents").select("doc_id", "n_chars")

    def batch_sums(batches):
        for batch in batches:
            n = batch.num_rows
            total = pa.compute.sum(batch.column("n_chars")).as_py() or 0
            yield pa.RecordBatch.from_pydict(
                {"batch_rows": pa.array([n], pa.int64()),
                 "batch_chars": pa.array([total], pa.int64())}
            )

    out = docs.mapInArrow(batch_sums, "batch_rows long, batch_chars long")
    agg = out.agg(
        F.sum("batch_rows").alias("rows"), F.sum("batch_chars").alias("chars")
    ).collect()[0]
    exact = docs.agg(
        F.count(F.lit(1)).alias("rows"), F.sum("n_chars").alias("chars")
    ).collect()[0]
    assert agg["rows"] == exact["rows"]
    assert agg["chars"] == exact["chars"]


def test_apply_in_arrow_grouped(spark):
    """Grouped-map via applyInArrow: the zero-pandas hop for grouped
    custom logic — each group arrives as a pyarrow.Table, results
    return as Arrow, no pandas conversion cost on either side."""
    import pyarrow as pa

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), ("b", 10.0)], "k string, v double"
    )

    def centered(table: pa.Table) -> pa.Table:
        v = table.column("v")
        mean = pa.compute.mean(v)
        return pa.table(
            {
                "k": table.column("k"),
                "centered": pa.compute.subtract(v, mean),
            }
        )

    out = df.groupBy("k").applyInArrow(centered, schema="k string, centered double")
    got = {(r["k"], r["centered"]) for r in out.collect()}
    assert got == {("a", -1.0), ("a", 1.0), ("b", 0.0)}


def test_arrow_optimized_python_udf(spark, sf_dir):
    """Spark 4 Arrow-optimized scalar Python UDF (useArrow=True):
    batches cross as Arrow, not pickled rows. Cross-checked against
    the JVM-side expression twin on real data."""
    from crane_spark.tables import table

    @F.udf("double", useArrow=True)
    def vowel_ratio(s: str) -> float:
        if not s:
            return 0.0
        return sum(c in "aeiou" for c in s.lower()) / len(s)

    docs = table(spark, sf_dir, "documents").limit(200)
    got = docs.select("doc_id", F.round(vowel_ratio("text"), 6).alias("r"))
    want = docs.select(
        "doc_id",
        F.round(
            (
                F.length(F.lower("text"))
                - F.length(F.translate(F.lower("text"), "aeiou", ""))
            )
            / F.length("text"),
            6,
        ).alias("r"),
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
