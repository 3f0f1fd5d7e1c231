"""The `file:` filesystem of a crane_spark session
(crane_spark/jvm/LocalFileSystem.java, built by session.get_spark):
same modes as the Hadoop default it replaces, no forked chmod per
created file, and a jar build that is reused and never seen half
written."""

from __future__ import annotations

import os
import stat
import subprocess
import sys
import threading
import zipfile

import pytest

from crane_spark import session

pytestmark = pytest.mark.skipif(session._JAVAC is None, reason="no javac next to java")

_HIVE_FS = "org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem"
_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def _hadoop_conf(spark, fs_class=None):
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    if fs_class:
        conf.set("fs.file.impl", fs_class)
        conf.set("fs.file.impl.disable.cache", "true")
    return conf


def _file_fs(spark, conf):
    jvm = spark._jvm
    return jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI("file:///"), conf)


def _procs_started() -> int:
    with open("/proc/stat") as fh:
        for line in fh:
            if line.startswith("processes "):
                return int(line.split()[1])
    raise AssertionError("no processes line in /proc/stat")


def test_session_file_scheme_is_the_nio_filesystem(spark):
    fs = _file_fs(spark, _hadoop_conf(spark))
    assert fs.getClass().getName() == "crane_spark.jvm.LocalFileSystem"
    assert (
        fs.getRawFileSystem().getClass().getName()
        == "crane_spark.jvm.LocalFileSystem$NioRawLocalFileSystem"
    )


def test_created_files_and_dirs_get_the_hive_filesystem_modes(spark, tmp_path):
    """create, mkdirs and the checkpoint manager's createAtomic, with
    default and explicit permissions, leave the same st_mode on every
    file (and .crc) as Hive's ProxyLocalFileSystem in the same JVM. The
    01777 directory takes the inherited chmod (sticky bit)."""
    jvm = spark._jvm
    hfs = jvm.org.apache.hadoop.fs
    perm = jvm.org.apache.hadoop.fs.permission.FsPermission

    def make(root, conf):
        fs = _file_fs(spark, conf)

        def path(name):
            return hfs.Path((root / name).as_uri())

        fs.create(path("plain")).close()
        fs.create(path("private")).close()
        fs.setPermission(path("private"), perm("700"))
        fs.mkdirs(path("dir/sub"))
        fs.mkdirs(path("sticky"))
        fs.setPermission(path("sticky"), perm("1777"))
        manager = getattr(jvm, _MANAGER)(path("ckpt"), conf)
        out = manager.createAtomic(path("ckpt/0"), False)
        out.write(bytearray(b"offsets"))
        out.close()
        return {
            str(p.relative_to(root)): p.lstat().st_mode for p in sorted(root.rglob("*"))
        }

    ours = make(tmp_path / "ours", _hadoop_conf(spark))
    hive = make(tmp_path / "hive", _hadoop_conf(spark, _HIVE_FS))
    assert ours == hive
    assert stat.S_IMODE(ours["private"]) == 0o700
    assert stat.S_IMODE(ours["sticky"]) == 0o1777
    assert {"plain", ".plain.crc", "ckpt/0", "ckpt/.0.crc"} <= set(ours)


@pytest.mark.skipif(not os.path.exists("/proc/stat"), reason="no /proc/stat")
def test_hundred_creates_fork_far_fewer_than_two_hundred_processes(spark, tmp_path):
    """Hadoop's RawLocalFileSystem forks chmod for each file and its
    .crc, so 100 creates start at least 200 processes without the
    class."""
    jvm = spark._jvm
    fs = _file_fs(spark, _hadoop_conf(spark))
    before = _procs_started()
    for i in range(100):
        fs.create(jvm.org.apache.hadoop.fs.Path((tmp_path / f"f{i}").as_uri())).close()
    assert _procs_started() - before < 50


def test_jar_path_is_stable_and_a_second_build_reuses_the_jar(tmp_path):
    jar = session.fs_jar_path(str(tmp_path))
    assert session.fs_jar_path(str(tmp_path)) == jar
    session.build_fs_jar(jar, session._JAVAC)
    built = os.stat(jar).st_mtime_ns
    session.build_fs_jar(jar, session._JAVAC)
    assert os.stat(jar).st_mtime_ns == built
    with zipfile.ZipFile(jar) as zf:
        assert "crane_spark/jvm/LocalFileSystem.class" in zf.namelist()


def test_racing_builds_never_expose_a_partial_jar(tmp_path, monkeypatch):
    """Two builds into an empty directory at once, with each class
    entry written slowly: whenever the jar path exists it holds both
    classes, both builds end with that jar, and no temporary file
    stays behind."""
    jar = session.fs_jar_path(str(tmp_path))
    classes = {
        "crane_spark/jvm/LocalFileSystem.class",
        "crane_spark/jvm/LocalFileSystem$NioRawLocalFileSystem.class",
    }
    slow_write = zipfile.ZipFile.write

    def write(self, *args, **kwargs):
        slow_write(self, *args, **kwargs)
        threading.Event().wait(0.3)

    monkeypatch.setattr(zipfile.ZipFile, "write", write)
    seen, errors, done = [], [], threading.Event()

    def watch():
        while not done.is_set():
            try:
                with zipfile.ZipFile(jar) as zf:
                    seen.append(set(zf.namelist()))
            except FileNotFoundError:
                pass
            except Exception as exc:  # noqa: BLE001 - a partial jar
                errors.append(exc)

    def build():
        try:
            session.build_fs_jar(jar, session._JAVAC)
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    watcher = threading.Thread(target=watch)
    builders = [threading.Thread(target=build) for _ in range(2)]
    watcher.start()
    for t in builders:
        t.start()
    for t in builders:
        t.join(timeout=120)
    done.set()
    watcher.join(timeout=10)
    assert not any(t.is_alive() for t in (*builders, watcher))
    assert errors == []
    assert seen and all(names == classes for names in seen)
    assert os.listdir(tmp_path) == [os.path.basename(jar)]


def test_fallbacks_keep_the_hadoop_default(tmp_path, monkeypatch):
    """No javac next to java leaves the class out of DEFAULT_CONF; a
    non-local master drops it from the session conf."""
    jre = tmp_path / "jre"
    (jre / "bin").mkdir(parents=True)
    (jre / "bin" / "java").touch(mode=0o755)
    probe = subprocess.run(
        [sys.executable, "-c", "from crane_spark.session import DEFAULT_CONF as c; print(sorted(c))"],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        env={**os.environ, "JAVA_HOME": str(jre)},
        capture_output=True,
        text=True,
        check=True,
    )
    assert "spark.hadoop.fs.file.impl" not in probe.stdout
    assert "spark.sql.session.timeZone" in probe.stdout

    seen = {}

    class Builder:
        def __getattr__(self, _name):
            return lambda *args: self

        def config(self, key, value):
            seen[key] = value
            return self

        def getOrCreate(self):
            return dict(seen)

    monkeypatch.setattr(session.SparkSession, "builder", Builder())
    remote = session.get_spark(master="spark://cluster:7077")
    assert "spark.hadoop.fs.file.impl" not in remote
    assert "spark.driver.extraClassPath" not in remote
    seen.clear()
    local = session.get_spark(master="local[2]")
    assert local["spark.hadoop.fs.file.impl"] == "crane_spark.jvm.LocalFileSystem"
    assert os.path.isfile(local["spark.driver.extraClassPath"])
