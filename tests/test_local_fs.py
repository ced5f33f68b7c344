"""The fork-free ``file://`` filesystem against Hadoop's stock one.

``get_spark`` registers ``sparkgraft.fs`` (``jvm/spark-graft.jar``)
for ``file://``. Its RawLocalFileSystem overrides ``setPermission`` and
``getFileLinkStatus``; each override must give what the stock method
gives on the same paths.
"""

from __future__ import annotations

import os
import shutil
import stat
import subprocess
import zipfile

import pyspark
import pytest
from py4j.protocol import Py4JJavaError
from pyspark import SparkContext

from aws_healthcare_etl_pipeline_spark import session

JVM_DIR = os.path.join(os.path.dirname(session.__file__), "jvm")


@pytest.fixture(scope="module")
def fs_pair(spark):
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    uri = jvm.java.net.URI("file:///")
    stock = jvm.org.apache.hadoop.fs.RawLocalFileSystem()
    ours = jvm.sparkgraft.fs.ForkFreeRawLocalFileSystem()
    stock.initialize(uri, conf)
    ours.initialize(uri, conf)
    return jvm, stock, ours


def test_session_uses_the_fork_free_classes(spark):
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    fs = jvm.org.apache.hadoop.fs
    local = fs.FileSystem.getLocal(conf)
    assert local.getClass().getName() == "sparkgraft.fs.ForkFreeLocalFileSystem"
    assert local.getRaw().getClass().getName() == "sparkgraft.fs.ForkFreeRawLocalFileSystem"
    ctx = fs.FileContext.getLocalFSFileContext(conf)
    assert ctx.getDefaultFileSystem().getClass().getName() == "sparkgraft.fs.ForkFreeLocalFs"
    # the stream checkpoint still goes through FileContext, now over our class
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
    mgr = manager.create(fs.Path("file:///tmp"), conf)
    assert mgr.getClass().getSimpleName() == "FileContextBasedCheckpointFileManager"


def test_running_jvm_without_the_jar_keeps_the_stock_filesystem(monkeypatch):
    class NoSuchClass:  # py4j resolves a name it cannot load to a package
        def __getattr__(self, name):
            return self

    assert set(session._jar_conf()) == {
        "spark.driver.extraClassPath",
        "spark.executor.extraClassPath",
        "spark.hadoop.fs.file.impl",
        "spark.hadoop.fs.AbstractFileSystem.file.impl",
        "spark.sql.extensions",
    }
    monkeypatch.setattr(SparkContext, "_jvm", NoSuchClass())
    assert session._jar_conf() == {}


def _perm(jvm, mode: int):
    return jvm.org.apache.hadoop.fs.permission.FsPermission(f"{mode:04o}")


@pytest.mark.parametrize("mode", [0o644, 0o600, 0o755, 0o700, 0o000])
def test_set_permission_matches_stock(fs_pair, tmp_path, mode):
    jvm, stock, ours = fs_pair
    modes = []
    for name, fs in (("stock", stock), ("ours", ours)):
        for kind in ("file", "dir"):
            p = tmp_path / f"{name}_{kind}"
            p.mkdir() if kind == "dir" else p.write_text("x")
            fs.setPermission(jvm.org.apache.hadoop.fs.Path(str(p)), _perm(jvm, mode))
            modes.append(os.stat(p).st_mode)
            p.chmod(0o700)  # so pytest can clean up
    assert modes[:2] == modes[2:]
    assert [stat.S_IMODE(m) for m in modes[:2]] == [mode, mode]


def test_sticky_bit_mode_takes_the_stock_path(fs_pair, tmp_path):
    jvm, stock, ours = fs_pair
    got = []
    for name, fs in (("stock", stock), ("ours", ours)):
        p = tmp_path / name
        p.mkdir()
        fs.setPermission(jvm.org.apache.hadoop.fs.Path(str(p)), _perm(jvm, 0o1755))
        got.append(stat.S_IMODE(os.stat(p).st_mode))
    # java.nio cannot set the sticky bit: only the stock chmod gives 01755
    assert got == [0o1755, 0o1755]


def test_set_permission_on_missing_path_raises_the_stock_error(fs_pair, tmp_path):
    jvm, stock, ours = fs_pair
    errors = []
    for fs in (stock, ours):
        with pytest.raises(Py4JJavaError) as e:
            fs.setPermission(jvm.org.apache.hadoop.fs.Path(str(tmp_path / "missing")), _perm(jvm, 0o644))
        errors.append(e.value.java_exception.getClass().getName())
    assert errors[0] == errors[1]


def _link_status(jvm, fs, path: str):
    try:
        st = fs.getFileLinkStatus(jvm.org.apache.hadoop.fs.Path(path))
    except Py4JJavaError as e:
        return ("raises", e.java_exception.getClass().getName())
    target = st.getSymlink().toString() if st.isSymlink() else None
    return (st.isSymlink(), target, st.isDirectory(), st.getLen(), st.getPath().toString())


def test_file_link_status_matches_stock(fs_pair, tmp_path):
    jvm, stock, ours = fs_pair
    (tmp_path / "file").write_text("four")
    (tmp_path / "dir").mkdir()
    os.symlink(tmp_path / "file", tmp_path / "link")
    os.symlink(tmp_path / "gone", tmp_path / "dangling")
    names = ["file", "dir", "link", "dangling", "missing"]
    results = {}
    for name in names:
        for prefix in ("", "file:"):
            path = prefix + str(tmp_path / name)
            got = _link_status(jvm, stock, path), _link_status(jvm, ours, path)
            assert got[0] == got[1], (path, got)
            results[prefix + name] = got[1]
    # the cases really differ: the stock readlink sees the plain-path links
    assert results["link"][:2] == (True, "file:" + str(tmp_path / "file"))
    assert results["dangling"][0] is True
    assert results["file"][0] is False and results["dir"][2] is True
    assert results["missing"] == ("raises", "java.io.FileNotFoundException")
    # a qualified path is never read as a link, by the stock method either
    assert results["file:link"][0] is False


@pytest.mark.skipif(shutil.which("javac") is None, reason="javac not installed")
def test_committed_jar_matches_its_source(tmp_path):
    jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
    # every source of the jar: the filesystem and the SQL extension
    sources = sorted(
        os.path.join(root, n)
        for root, _, names in os.walk(os.path.join(JVM_DIR, "sparkgraft"))
        for n in names
        if n.endswith(".java")
    )
    subprocess.run(
        ["javac", "--release", "17", "-cp", os.path.join(jars, "*"), "-d", str(tmp_path), *sources],
        check=True, capture_output=True,
    )
    built = {
        os.path.relpath(os.path.join(root, n), tmp_path): open(os.path.join(root, n), "rb").read()
        for root, _, names in os.walk(tmp_path) for n in names
    }
    with zipfile.ZipFile(os.path.join(JVM_DIR, "spark-graft.jar")) as jar:
        committed = {n: jar.read(n) for n in jar.namelist() if n.endswith(".class")}
    assert sorted(committed) == sorted(built)
    for name, data in built.items():
        assert committed[name] == data, f"{name}: rebuild the jar (see session.py)"
