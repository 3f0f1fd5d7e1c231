"""Versioned dataset snapshots — the Spark-idiomatic analog of the
reference's DFS file plane.

The reference ships a versioned distributed file store with a client
CLI `put/get/delete/ls/get-versions` (`dfs/dfs_client.py:101-173`),
server-side version naming `name-vN` (`dfs/dfs_server.py:280-288`) and
3-replica placement — all of it byte-oriented and, as committed,
non-functional (SURVEY.md §2.4). Here the same *capability* is
re-expressed over datasets instead of bytes: a named dataset is a
directory of immutable parquet snapshot versions

    {root}/{name}/v000001/  (parquet files + _SUCCESS)
    {root}/{name}/v000002/  ...

on ANY Hadoop-compatible filesystem (local, HDFS, S3A, ABFS) — so
replication, durability, and placement come from the storage layer,
which is the part of the reference's DFS that Spark deployments never
re-implement.

Commit protocol: a version is visible only once its `_SUCCESS` marker
exists (written atomically by Spark's FileOutputCommitter after all
tasks finish), so readers never observe a half-written snapshot and a
crashed `put` leaves no committed garbage — the same job the
reference's ack/replay machinery did for its writes, obtained from
the committer for free. Versions are append-only and immutable;
`latest` is derived by listing, never stored, so there is no
metadata file to corrupt and concurrent readers are always consistent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

_VPREFIX = "v"
_VDIGITS = 6


def _fs_and_path(spark: SparkSession, uri: str):
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(uri)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, path, jvm


def _vdir(root: str, name: str, version: int) -> str:
    return f"{root}/{name}/{_VPREFIX}{version:0{_VDIGITS}d}"


def _listed_versions(
    spark: SparkSession, root: str, name: str, committed_only: bool
) -> list[int]:
    fs, path, jvm = _fs_and_path(spark, f"{root}/{name}")
    if not fs.exists(path):
        return []
    out = []
    for status in fs.listStatus(path):
        base = status.getPath().getName()
        if status.isDirectory() and base.startswith(_VPREFIX):
            try:
                v = int(base[len(_VPREFIX):])
            except ValueError:
                continue
            if committed_only:
                marker = jvm.org.apache.hadoop.fs.Path(
                    status.getPath(), "_SUCCESS"
                )
                if not fs.exists(marker):
                    continue
            out.append(v)
    return sorted(out)


def versions(spark: SparkSession, root: str, name: str) -> list[int]:
    """Committed version numbers of ``name``, ascending (``ls`` +
    ``get-versions`` plane, ref dfs_client.py:139-151,160-173). Only
    snapshots whose _SUCCESS marker exists count."""
    return _listed_versions(spark, root, name, committed_only=True)


def put(df: DataFrame, root: str, name: str) -> int:
    """Write a new immutable snapshot version; returns its number
    (ref `put`, dfs_client.py:101-121). The snapshot becomes visible
    atomically with the committer's _SUCCESS marker.

    The next version number is computed over ALL ``vNNNNNN``
    directories, committed or not: a crashed put leaves an
    uncommitted directory (no _SUCCESS — invisible to readers), and
    numbering from committed versions only would collide with it on
    every subsequent put, wedging the dataset. Orphans are skipped,
    never reused or deleted here (a concurrent writer may be
    mid-commit on one); `delete(name)` reclaims them with the
    dataset, and a dataset's only writer with `drop_uncommitted`."""
    spark = df.sparkSession
    existing = _listed_versions(spark, root, name, committed_only=False)
    v = (existing[-1] if existing else 0) + 1
    df.write.mode("errorifexists").parquet(_vdir(root, name, v))
    # Defensive invalidation of tables.py's reader-handle cache (r11,
    # ADVICE/verdict hardening): versions are NEW immutable dirs, so
    # no current handle can be stale, but a root that overlaps a
    # table() dir must never serve a pre-write file listing.
    from crane_spark.tables import invalidate_table_handles

    invalidate_table_handles(root)
    return v


def get(
    spark: SparkSession, root: str, name: str, version: int | None = None
) -> DataFrame:
    """Read a snapshot — latest by default, or a specific version
    (ref `get`, dfs_client.py:122-138)."""
    vs = versions(spark, root, name)
    if not vs:
        raise FileNotFoundError(f"no committed versions of {name!r} under {root}")
    if version is None:
        version = vs[-1]
    elif version not in vs:
        raise FileNotFoundError(f"{name!r} has versions {vs}, not {version}")
    return spark.read.parquet(_vdir(root, name, version))


def get_versions(
    spark: SparkSession, root: str, name: str, num_versions: int
) -> dict[int, DataFrame]:
    """The newest ``num_versions`` snapshots, keyed by version number
    (ref `get-versions num-versions`, dfs_client.py:160-173).
    ``num_versions <= 0`` returns no snapshots — the unguarded
    negative slice would silently return the FULL history for 0
    (``vs[-0:] == vs``) and the oldest versions for negatives."""
    if num_versions <= 0:
        return {}
    vs = versions(spark, root, name)[-num_versions:]
    return {v: spark.read.parquet(_vdir(root, name, v)) for v in vs}


def delete(
    spark: SparkSession, root: str, name: str, version: int | None = None
) -> list[int]:
    """Drop one version, or the whole dataset when ``version`` is None
    (ref `delete`, dfs_client.py:152-159). Returns versions removed."""
    fs, _, jvm = _fs_and_path(spark, root)
    if version is None:
        removed = versions(spark, root, name)
        fs.delete(jvm.org.apache.hadoop.fs.Path(f"{root}/{name}"), True)
        return removed
    if version not in versions(spark, root, name):
        return []
    fs.delete(jvm.org.apache.hadoop.fs.Path(_vdir(root, name, version)), True)
    return [version]


def drop_uncommitted(
    spark: SparkSession, root: str, name: str, below: int
) -> list[int]:
    """Delete the uncommitted version directories (crashed puts)
    numbered below ``below``; returns their numbers. Call it only from
    a dataset's sole writer, with the version its last put committed:
    another writer may be mid-commit on a directory this would
    remove."""
    committed = set(versions(spark, root, name))
    orphans = [
        v
        for v in _listed_versions(spark, root, name, committed_only=False)
        if v < below and v not in committed
    ]
    fs, _, jvm = _fs_and_path(spark, root)
    for v in orphans:
        fs.delete(jvm.org.apache.hadoop.fs.Path(_vdir(root, name, v)), True)
    return orphans


def expire(
    spark: SparkSession, root: str, name: str, keep_last: int
) -> list[int]:
    """Retention: delete all but the newest ``keep_last`` committed
    versions (the vacuum/expire-snapshots half of the lifecycle that
    `put`'s append-only model otherwise grows forever). Returns the
    versions removed, oldest first. Readers pinned to an expired
    version fail loudly on next read — same contract as any snapshot
    store's retention window; size ``keep_last`` to the longest
    reader/debug horizon."""
    vs = versions(spark, root, name)
    doomed = vs[:-keep_last] if keep_last > 0 else vs
    removed: list[int] = []
    for v in doomed:
        removed.extend(delete(spark, root, name, v))
    return removed
