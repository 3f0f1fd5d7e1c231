"""The zipimport gate (crane_spark/_zipimport.py): an unchanged zip on
sys.path is not re-read by importlib.invalidate_caches(), a rewritten
one is, and a deleted one is dropped as the eager method drops it.
Pure Python, no Spark."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="zipimporter.invalidate_caches is lazy from 3.13"
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, body in modules.items():
            zf.writestr(f"{name}.py", body)


@pytest.fixture
def zip_on_path(tmp_path):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"crane_zt_a": "VALUE = 'a'\n"})
    sys.path.insert(0, archive)
    try:
        yield archive
    finally:
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
        for name in ("crane_zt_a", "crane_zt_b"):
            sys.modules.pop(name, None)


def test_unchanged_zip_is_not_reread_and_a_rewritten_one_is(zip_on_path):
    import crane_zt_a

    import crane_spark._zipimport as gate

    assert crane_zt_a.VALUE == "a"
    assert zipimport.zipimporter.invalidate_caches is gate._invalidate_caches
    importer = sys.path_importer_cache[zip_on_path]
    assert isinstance(importer, zipimport.zipimporter)

    importlib.invalidate_caches()  # first call after import: one read
    files = zipimport._zip_directory_cache[zip_on_path]
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert zipimport._zip_directory_cache[zip_on_path] is files
    assert importer._files is files

    before = os.stat(zip_on_path).st_mtime_ns
    _write_zip(zip_on_path, {"crane_zt_a": "VALUE = 'a'\n", "crane_zt_b": "VALUE = 'b'\n"})
    os.utime(zip_on_path, ns=(before + 2_000_000_000, before + 2_000_000_000))
    importlib.invalidate_caches()
    assert zipimport._zip_directory_cache[zip_on_path] is not files
    import crane_zt_b

    assert crane_zt_b.VALUE == "b"


def test_deleted_zip_is_dropped_like_the_eager_method(zip_on_path):
    import crane_zt_a  # noqa: F401

    import crane_spark._zipimport as gate

    # no invalidate before the delete: the gate has never stat'ed this
    # archive, but zipimport has its directory cached from the import
    importer = sys.path_importer_cache[zip_on_path]
    assert importer._files
    assert zip_on_path not in gate._read_at
    os.remove(zip_on_path)
    importlib.invalidate_caches()  # must not raise
    assert importer._files == {}
    assert zip_on_path not in zipimport._zip_directory_cache
    importlib.invalidate_caches()  # still gone: no stale reuse either
    assert importer._files == {}

    # the original method, on the same missing archive, ends the same way
    other = zipimport.zipimporter.__new__(zipimport.zipimporter)
    other.archive, other.prefix, other._files = zip_on_path, "", {"stale": None}
    gate._eager(other)
    assert other._files == importer._files
    assert zip_on_path not in zipimport._zip_directory_cache
