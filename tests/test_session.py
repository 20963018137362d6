"""The session's local file system: Hadoop's checksummed local file
system with permissions set in-process instead of by a ``chmod``
process per file and directory."""

from __future__ import annotations

import os
import stat
import subprocess

import pytest
from pyspark import SparkContext

from capgemini_himss24_fhirbulkdata_demo_spark import session


def _local_fs(spark, cls: str):
    jvm = spark._jvm
    fs = getattr(jvm, cls)()
    fs.initialize(jvm.java.net.URI("file:///"), jvm.org.apache.hadoop.conf.Configuration())
    return fs


def test_session_reads_and_writes_through_nio_local_file_system(spark):
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(
        jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration()
    )
    assert fs.getClass().getName() == session.LOCAL_FS_CLASS


@pytest.mark.parametrize("mode", [0o644, 0o600, 0o755, 0o700, 0o777, 0o1777, 0o640, 0o750], ids=oct)
def test_file_and_directory_modes_match_stock_file_system(spark, tmp_path, mode):
    """``create()``, ``mkdirs()`` and ``setPermission()`` leave the
    same ``stat`` mode as Hadoop's stock local file system, and a
    created file still gets its ``.crc`` sidecar. Hadoop applies its
    umask, which drops the sticky bit, on create and mkdirs; only
    ``setPermission`` sets that bit."""
    jvm = spark._jvm
    perm = jvm.org.apache.hadoop.fs.permission.FsPermission(mode)
    modes = {}
    for side, cls in (("stock", "org.apache.hadoop.fs.LocalFileSystem"), ("nio", session.LOCAL_FS_CLASS)):
        fs = _local_fs(spark, cls)
        assert fs.getClass().getName() == cls
        base = tmp_path / side
        out = fs.create(jvm.org.apache.hadoop.fs.Path(str(base / "f")), perm, False, 4096, 1, 1 << 20, None)
        out.write(b"x")
        out.close()
        assert fs.mkdirs(jvm.org.apache.hadoop.fs.Path(str(base / "d")), perm)
        (base / "e").mkdir(mode=0o700)
        fs.setPermission(jvm.org.apache.hadoop.fs.Path(str(base / "e")), perm)
        fs.close()
        assert (base / ".f.crc").is_file()
        modes[side] = [stat.S_IMODE(os.stat(base / n).st_mode) for n in ("f", ".f.crc", "d", "e")]
    assert modes["nio"] == modes["stock"]
    assert modes["nio"][0] == mode & 0o755  # Hadoop's default umask, 022
    assert modes["nio"][3] == mode


def test_running_jvm_without_the_class_keeps_stock_file_system(spark, monkeypatch):
    """On a JVM that cannot load the class (one launched without it on
    its classpath) the ``Class.forName`` probe keeps Hadoop's stock file
    system instead of selecting a class the JVM would fail to load."""
    assert session._local_fs_conf("local[4]", {}) == {session.FS_IMPL: session.LOCAL_FS_CLASS}
    monkeypatch.setattr(session, "LOCAL_FS_CLASS", "graft.NoSuchFileSystem")
    assert session._local_fs_conf("local[4]", {}) == {}


@pytest.mark.parametrize("master", ["local-cluster[2,1,1024]", "spark://host:7077", "yarn"])
def test_non_local_master_keeps_stock_file_system(monkeypatch, master):
    monkeypatch.setattr(SparkContext, "_active_spark_context", None)
    assert session._local_fs_conf(master, {}) == {}


def test_launch_appends_classes_to_callers_classpath(monkeypatch):
    monkeypatch.setattr(SparkContext, "_active_spark_context", None)
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setattr(session, "_compiled_local_fs", lambda: "/cache/classes")
    got = session._local_fs_conf("local[2]", {session.DRIVER_CLASSPATH: "/a.jar"})
    assert got == {session.FS_IMPL: session.LOCAL_FS_CLASS,
                   session.DRIVER_CLASSPATH: f"/a.jar{os.pathsep}/cache/classes"}


def test_compiled_classes_are_cached_on_source_and_jar(monkeypatch, tmp_path):
    """The first build compiles into the cache; a later one finds it
    without starting ``javac``."""
    monkeypatch.setattr(session.tempfile, "tempdir", str(tmp_path))
    out = session._compiled_local_fs()
    assert os.path.dirname(out) == str(tmp_path)
    assert os.path.basename(out).startswith(f"graft-local-fs-{os.getuid()}-")  # one cache per user
    assert os.path.isfile(os.path.join(out, "graft", "NioLocalFileSystem.class"))

    def no_javac(*args, **kwargs):
        raise AssertionError("compiled again")

    monkeypatch.setattr(subprocess, "run", no_javac)
    assert session._compiled_local_fs() == out
    assert os.listdir(tmp_path) == [os.path.basename(out)]


def _hand_over(out: str, how: str) -> None:
    if how == "group-writable":
        os.chmod(out, 0o770)
    elif how == "other-writable":
        os.chmod(out, 0o707)
    elif how == "other-owner":
        if os.getuid() != 0:
            pytest.skip("handing a directory to another user needs root")
        os.chown(out, 65534, 65534)
    else:  # a link, which another user could point anywhere
        os.rename(out, out + "-target")
        os.symlink(out + "-target", out)


@pytest.mark.parametrize("how", ["group-writable", "other-writable", "other-owner", "symlink"])
def test_cache_directory_another_user_could_write_is_not_used(monkeypatch, tmp_path, caplog, how):
    """The temp directory is shared and the cache name predictable: a
    directory there that another user owns or can write to (or a link)
    is neither loaded nor built over; the stock file system stays."""
    monkeypatch.setattr(session.tempfile, "tempdir", str(tmp_path))
    out = session._compiled_local_fs()
    _hand_over(out, how)

    def no_javac(*args, **kwargs):
        raise AssertionError("compiled again")

    monkeypatch.setattr(subprocess, "run", no_javac)
    with caplog.at_level("WARNING", logger=session.__name__):
        assert session._compiled_local_fs() is None
    assert "only this user can write" in caplog.text


def test_build_that_loses_the_race_leaves_the_first_in_place(monkeypatch, tmp_path):
    """Two processes building at once: the one whose rename comes
    second finds the other's classes in place, uses them and removes
    its own build."""
    monkeypatch.setattr(session.tempfile, "tempdir", str(tmp_path))

    def fake_javac(cmd, **kwargs):
        open(os.path.join(cmd[cmd.index("-d") + 1], "mine"), "w").close()

    rename = os.rename

    def lose_race(src, dst):
        os.makedirs(os.path.join(dst, "graft"))
        rename(src, dst)

    monkeypatch.setattr(subprocess, "run", fake_javac)
    monkeypatch.setattr(os, "rename", lose_race)
    out = session._compiled_local_fs()
    assert os.listdir(tmp_path) == [os.path.basename(out)]
    assert os.listdir(out) == ["graft"]


def test_jre_only_host_keeps_stock_file_system(monkeypatch, caplog):
    monkeypatch.setattr(session.shutil, "which", lambda name: None)
    with caplog.at_level("WARNING", logger=session.__name__):
        assert session._compiled_local_fs() is None
    assert "no javac" in caplog.text
