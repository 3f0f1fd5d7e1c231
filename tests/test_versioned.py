"""Versioned dataset snapshots — the DFS-plane analog (SURVEY.md §2.4;
ref dfs/dfs_client.py:101-173, server naming dfs/dfs_server.py:280-288).
"""

from __future__ import annotations

import pytest

from crane_spark.sources import versioned as V


@pytest.fixture()
def root(tmp_path):
    return str(tmp_path / "store")


def test_put_get_roundtrip_and_version_monotonicity(spark, root):
    df1 = spark.range(5).withColumnRenamed("id", "x")
    df2 = spark.range(9).withColumnRenamed("id", "x")
    assert V.put(df1, root, "nums") == 1
    assert V.put(df2, root, "nums") == 2
    assert V.versions(spark, root, "nums") == [1, 2]
    # latest by default, pinned version on demand (ref `get`)
    assert V.get(spark, root, "nums").count() == 9
    assert V.get(spark, root, "nums", version=1).count() == 5
    # immutability: snapshots are separate directories; v1 unchanged
    assert sorted(r["x"] for r in V.get(spark, root, "nums", 1).collect()) == list(range(5))


def test_get_versions_newest_k(spark, root):
    for n in (3, 4, 5):
        V.put(spark.range(n), root, "d")
    got = V.get_versions(spark, root, "d", 2)
    assert sorted(got) == [2, 3]
    assert got[3].count() == 5


def test_uncommitted_snapshot_is_invisible(spark, root):
    """A version directory without _SUCCESS (crashed put) never counts
    as committed — readers can't observe partial writes."""
    V.put(spark.range(3), root, "d")
    fake = f"{root}/d/v000002"
    spark.range(1).write.parquet(fake)
    fs, path, jvm = V._fs_and_path(spark, fake)
    fs.delete(jvm.org.apache.hadoop.fs.Path(fake + "/_SUCCESS"), False)
    assert V.versions(spark, root, "d") == [1]
    assert V.get(spark, root, "d").count() == 3
    # the next put must neither reuse the torn directory's number
    # (errorifexists would collide and wedge EVERY future put) nor
    # overwrite it (a concurrent writer could be mid-commit): it skips
    # the orphan and commits the next free number.
    assert V.put(spark.range(2), root, "d") == 3
    assert V.versions(spark, root, "d") == [1, 3]
    assert V.get(spark, root, "d").count() == 2
    fs2, path2, _ = V._fs_and_path(spark, fake)
    assert fs2.exists(path2), "orphan dir must be left untouched"


def test_delete_one_version_and_whole_dataset(spark, root):
    for n in (1, 2, 3):
        V.put(spark.range(n), root, "d")
    assert V.delete(spark, root, "d", version=2) == [2]
    assert V.versions(spark, root, "d") == [1, 3]
    assert V.delete(spark, root, "d", version=99) == []
    assert V.delete(spark, root, "d") == [1, 3]
    assert V.versions(spark, root, "d") == []
    with pytest.raises(FileNotFoundError):
        V.get(spark, root, "d")


def test_streaming_snapshot_publisher(spark, tmp_path, root):
    """foreachBatch + versioned.put: each micro-batch publishes the
    refreshed aggregate as a new immutable snapshot — readers always
    see a complete version while the stream keeps appending (the
    streaming analog of the reference's put-then-get workflow)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    src = str(tmp_path / "pub_src")
    schema = T.StructType(
        [T.StructField("k", T.StringType()), T.StructField("v", T.LongType())]
    )
    spark.createDataFrame([("a", 1), ("b", 2)], schema).write.mode("append").parquet(src)
    spark.createDataFrame([("a", 10)], schema).write.mode("append").parquet(src)

    counts = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .groupBy("k")
        .agg(F.sum("v").alias("total"))
    )

    def publish(batch, _bid):
        V.put(batch, root, "agg")

    q = (
        counts.writeStream.outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "pub_ck"))
        .foreachBatch(publish)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    vs = V.versions(spark, root, "agg")
    assert len(vs) >= 1
    latest = {r["k"]: r["total"] for r in V.get(spark, root, "agg").collect()}
    assert latest == {"a": 11, "b": 2}


def test_incremental_aggregate_maintenance(spark, root):
    """Partial-aggregate mergeability across snapshot versions: the
    aggregate of snapshot v2 equals merge(agg(v1), agg(delta)) — no
    re-scan of v1's rows. The decomposition (sum/count are
    commutative monoids) is what makes incremental materialized
    views correct at 100 TB; snapshots give the immutable inputs."""
    from pyspark.sql import functions as F

    base = spark.createDataFrame(
        [("a", 10), ("a", 5), ("b", 1)], "k string, v long"
    )
    delta = spark.createDataFrame([("a", 2), ("c", 7)], "k string, v long")
    V.put(base, root, "rows")
    V.put(base.unionByName(delta), root, "rows")

    def agg(df):
        return df.groupBy("k").agg(
            F.sum("v").alias("s"), F.count(F.lit(1)).alias("n")
        )

    # merge(agg(v1), agg(delta)): re-aggregate the partials
    merged = (
        agg(V.get(spark, root, "rows", version=1))
        .unionByName(agg(delta))
        .groupBy("k")
        .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
    )
    full = agg(V.get(spark, root, "rows", version=2))
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, full.collect()))


def test_expire_keeps_newest_versions(spark, root):
    for n in (1, 2, 3, 4, 5):
        V.put(spark.range(n), root, "d")
    assert V.expire(spark, root, "d", keep_last=2) == [1, 2, 3]
    assert V.versions(spark, root, "d") == [4, 5]
    assert V.get(spark, root, "d").count() == 5
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        V.get(spark, root, "d", version=2)


def test_get_versions_zero_and_negative_return_nothing(spark, root):
    """vs[-0:] slices the WHOLE list — num_versions<=0 must mean none,
    not an accidental full-history read."""
    for n in (1, 2, 3):
        V.put(spark.range(n), root, "d")
    assert V.get_versions(spark, root, "d", 0) == {}
    assert V.get_versions(spark, root, "d", -2) == {}
    assert sorted(V.get_versions(spark, root, "d", 2)) == [2, 3]


def test_put_to_file_uri_invalidates_table_handles(spark, sf_dir, tmp_path):
    """put() under a ``file://`` root drops the table() handles below
    it, as a bare path does: the root is parsed as a URI, not run
    through os.path.abspath."""
    import os
    import shutil

    from crane_spark.tables import table

    store = tmp_path / "store"
    tables_dir = store / "sf"
    tables_dir.mkdir(parents=True)
    shutil.copy(os.path.join(sf_dir, "region.parquet"), tables_dir)
    handle = table(spark, str(tables_dir), "region")
    assert table(spark, str(tables_dir), "region") is handle
    assert V.put(spark.range(3), f"file://{store}", "snap") == 1
    assert table(spark, str(tables_dir), "region") is not handle
