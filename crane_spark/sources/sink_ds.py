"""A custom Python DataSource SINK in the reference's output format.

The reference's only sink is the master's console printout
``key --- value`` once all batches ack (print_result,
/root/reference/crane_master.py:166-169). This maps it onto Spark 4's
Python DataSource writer API as a durable twin: every partition writes
its rows as ``key --- value`` lines, the driver-side commit records a
manifest (the analog of "all root batches acked -> print"), and an
abort leaves no manifest — readers ignore uncommitted output, giving
write atomicity-by-manifest on any filesystem.

A DataSourceStreamWriter provides the streaming path: per-micro-batch
files committed under a batch manifest (exactly-once with the query's
checkpoint, replacing the XOR-ack machinery).

Usage:
    spark.dataSource.register(CraneSinkDataSource)
    df.writeStream.format("crane_sink").option("path", out)...
"""

from __future__ import annotations

import json
import os
import re
import uuid

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamWriter,
    WriterCommitMessage,
)


# Committed manifests only: one ``_MANIFEST-{batchId}.json`` per micro-batch.
_MANIFEST_RE = re.compile(r"_MANIFEST-(\d+)\.json")


class _FileDone(WriterCommitMessage):
    def __init__(self, rel_path: str, n_rows: int):
        self.rel_path = rel_path
        self.n_rows = n_rows


def _commit_manifest(path: str, name: str, messages) -> None:
    """Publish a manifest atomically: write it under a temporary name
    that :data:`_MANIFEST_RE` rejects, then rename it into place, so a
    crash mid-write leaves a torn temp file readers never parse."""
    manifest = {
        "files": sorted(m.rel_path for m in messages if m is not None),
        "rows": sum(m.n_rows for m in messages if m is not None),
    }
    tmp = os.path.join(path, f".{name}.tmp")
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(manifest, fh)
    os.replace(tmp, os.path.join(path, name))


class CraneSinkStreamWriter(DataSourceStreamWriter):
    def __init__(self, options: dict):
        self.path = options["path"]

    def write(self, iterator) -> _FileDone:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        rel = f"part-{pid:05d}-{uuid.uuid4().hex[:8]}.txt"
        os.makedirs(self.path, exist_ok=True)
        n = 0
        with open(os.path.join(self.path, rel), "w", encoding="utf-8") as fh:
            for row in iterator:
                fh.write(f"{row[0]} --- {row[1]}\n")
                n += 1
        return _FileDone(rel, n)

    def commit(self, messages, batchId: int) -> None:  # noqa: N803
        _commit_manifest(self.path, f"_MANIFEST-{batchId}.json", messages)

    def abort(self, messages, batchId: int) -> None:  # noqa: N803
        pass


class CraneSinkDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "crane_sink"

    def streamWriter(self, schema, overwrite: bool) -> CraneSinkStreamWriter:  # noqa: ARG002
        return CraneSinkStreamWriter(self.options)


def read_crane_sink(path: str) -> dict[str, str]:
    """Read back committed ``key --- value`` output (manifest-gated).

    Manifests apply in commit order — ``_MANIFEST-{batchId}.json`` by
    NUMERIC batch id — so a key rewritten by a later micro-batch ends at
    its latest value (name order would put batch 10 before batch 2)."""
    manifests = []
    for name in os.listdir(path):
        m = _MANIFEST_RE.fullmatch(name)
        if m:
            manifests.append((int(m.group(1)), name))
    out: dict[str, str] = {}
    for _, name in sorted(manifests):
        with open(os.path.join(path, name), encoding="utf-8") as fh:
            for rel in json.load(fh)["files"]:
                with open(os.path.join(path, rel), encoding="utf-8") as part:
                    for line in part.read().splitlines():
                        k, _, v = line.partition(" --- ")
                        out[k] = v
    return out
