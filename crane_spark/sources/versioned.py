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


def compact(
    spark: SparkSession,
    root: str,
    name: str,
    version: int | None = None,
    target_bytes: int = 128 * 1024 * 1024,
) -> tuple[int, int, int]:
    """OPTIMIZE-style small-file compaction: rewrite one committed
    snapshot (latest by default) as a NEW version whose parquet files
    are bin-packed toward ``target_bytes`` each. Returns
    ``(new_version, files_before, files_after)``.

    Why it exists: streaming publishers and incremental appends write
    one small file per micro-batch/task; at 100 TB that becomes
    millions of kilobyte files, and every downstream scan pays a
    per-file open plus a driver-side listing that dwarfs the read
    itself. Compaction is the storage-layer half of partition sizing
    (`spark.sql.files.maxPartitionBytes` can merge SPLITS at read
    time, but not file-open or listing overhead).

    Semantics: content-identical by construction — the rewrite is a
    pure ``coalesce`` (narrow, no shuffle, no row recomputation) of
    the immutable source snapshot into a fresh version directory, so
    the versioned-commit protocol (`_SUCCESS` gating) makes
    compaction atomic and the small-file original stays readable
    until explicitly deleted. The reference's DFS plane had no
    compaction; its versions were whole files by definition
    (dfs/dfs_server.py:280-288).
    """
    vs = versions(spark, root, name)
    if not vs:
        raise FileNotFoundError(f"no committed versions of {name!r} under {root}")
    version = vs[-1] if version is None else version
    if version not in vs:
        raise FileNotFoundError(f"{name!r} has versions {vs}, not {version}")
    src = _vdir(root, name, version)
    fs, path, jvm = _fs_and_path(spark, src)
    files = [
        s
        for s in fs.listStatus(path)
        if not s.getPath().getName().startswith("_")
    ]
    total = sum(s.getLen() for s in files)
    n_out = max(1, -(-total // target_bytes))  # ceil
    new_v = put(
        spark.read.parquet(src).coalesce(int(n_out)), root, name
    )
    return new_v, len(files), int(n_out)


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


def diff(
    spark: SparkSession,
    root: str,
    name: str,
    from_version: int,
    to_version: int,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Row-level change set between two committed snapshots. Without
    ``key_cols``: the union of rows only in ``to_version``
    (change = 'added') and rows only in ``from_version``
    (change = 'removed'), by full-row multiset comparison
    (``exceptAll``). With ``key_cols``: one row per CHANGED KEY,
    classified 'added' (key absent from from_version), 'removed' (key
    absent from to_version), or 'updated' (key present in BOTH
    versions but with different row content or multiplicity —
    detected on FULL rows, so a non-key value change is reported;
    projecting to the keys first would report an update-heavy release
    as zero changes). added/removed are derived from the two
    versions' full key sets, not from the changed-row multisets, so a
    pure multiplicity change on a duplicated key (a row present twice
    in from_version, once in to_version) classifies as 'updated', not
    falsely 'removed'. This is the audit companion
    to `get_versions` — the reference's version plane
    (dfs_client.py:160-173) could fetch old bytes but never explain
    what changed; immutable snapshot pairs make the diff a pure
    relational operation."""
    from pyspark.sql import functions as F

    newer = get(spark, root, name, to_version)
    older = get(spark, root, name, from_version)
    added_rows = newer.exceptAll(older)
    removed_rows = older.exceptAll(newer)
    if key_cols:
        # 'added'/'removed' come from the FULL versions' key sets —
        # classifying from the changed-row multisets (exceptAll output)
        # would mislabel a multiplicity-only change on a duplicated key
        # as 'removed' even though the key exists in both versions.
        keys_new = newer.select(*key_cols).distinct()
        keys_old = older.select(*key_cols).distinct()
        changed = (
            added_rows.select(*key_cols)
            .unionByName(removed_rows.select(*key_cols))
            .distinct()
        )
        added = keys_new.subtract(keys_old).withColumn("change", F.lit("added"))
        removed = keys_old.subtract(keys_new).withColumn("change", F.lit("removed"))
        updated = (
            changed.intersect(keys_new)
            .intersect(keys_old)
            .withColumn("change", F.lit("updated"))
        )
        return added.unionByName(removed).unionByName(updated)
    added = added_rows.withColumn("change", F.lit("added"))
    removed = removed_rows.withColumn("change", F.lit("removed"))
    return added.unionByName(removed)
