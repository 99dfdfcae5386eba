"""The local sessions' ``file:`` filesystem (``jvm/NioLocalFileSystem.java``):
Hadoop's local writes fork no ``chmod``, ``ls`` or ``stat``, set the same
modes as Hadoop's own local filesystem, and a read over many dirs lists
them without a Spark job."""

from __future__ import annotations

import os
import shutil
import stat
import subprocess
import sys

from pyspark.sql import types as T

from activedata_etl_spark.lake.table import SnapshotTable

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SHIMMED = ("chmod", "ls", "stat")


def bucketed_table(spark, loc: str, n_buckets: int = 16) -> SnapshotTable:
    """A table whose one base dir, written by ``write_buckets``, holds 2048
    rows over all ``n_buckets`` buckets."""
    t = SnapshotTable.create(spark, loc, T.StructType.fromDDL("k long, v string"),
                             ["k"], n_buckets=n_buckets)
    df = t.bucket_of(spark.range(2048).selectExpr(
        "id AS k", "CAST(id AS STRING) AS v", "false AS __deleted"))
    rel = t.write_buckets(df, 1)
    snap = t.snapshot()
    snap["bucket_dirs"] = {b: rel for b in t.written_buckets(rel)}
    snap["dir_versions"] = {rel: 1}
    snap.update(version=1, parent=0)
    t._commit_snapshot(snap)
    assert len(snap["bucket_dirs"]) == n_buckets
    return t


def _modes(root: str) -> dict[str, set[int]]:
    """The permission bits of the files and of the dirs under ``root``."""
    out = {"files": set(), "dirs": {stat.S_IMODE(os.stat(root).st_mode)}}
    for d, dirs, files in os.walk(root):
        out["dirs"] |= {stat.S_IMODE(os.stat(os.path.join(d, x)).st_mode)
                        for x in dirs}
        out["files"] |= {stat.S_IMODE(os.stat(os.path.join(d, x)).st_mode)
                         for x in files}
    return out


def test_table_writes_run_no_shell_command(tmp_path):
    """A fresh ``get_spark`` session writes a 16-bucket table, reads and
    compacts it with no ``chmod``, ``ls`` or ``stat`` process: shims for
    them lead the JVM's PATH and log every call.  Hadoop's stock local
    filesystem, without its native library, runs a ``chmod`` for every file
    and dir it creates (hundreds here)."""
    shims, log = tmp_path / "bin", tmp_path / "calls.log"
    shims.mkdir()
    for name in SHIMMED:
        shim = shims / name
        shim.write_text(f'#!/bin/sh\necho "{name} $*" >> {log}\n'
                        f'exec {shutil.which(name)} "$@"\n')
        shim.chmod(0o755)
    script = f"""
import sys
sys.path[:0] = [{REPO!r}, {os.path.join(REPO, "tests")!r}]
from activedata_etl_spark.session import get_spark
from test_local_fs import bucketed_table

spark = get_spark("no_shell", parallelism=2, shuffle_partitions=4)
t = bucketed_table(spark, {str(tmp_path / "lake")!r})
assert t.read().count() == 2048
t.compact()
assert t.read().count() == 2048
spark.stop()
print("ok")
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PATH"] = f"{shims}{os.pathsep}{env.get('PATH', '')}"
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run([sys.executable, "-c", script], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=600)
    assert out.returncode == 0 and out.stdout.strip().endswith("ok"), \
        out.stderr[-3000:]
    calls = log.read_text().splitlines() if log.exists() else []
    assert calls == [], (len(calls), calls[:10])


def test_set_permission_matches_stock_modes(spark, tmp_path):
    """The session's ``file:`` filesystem is the engine's class, sets exactly
    the requested bits, and the files and dirs ``write_buckets`` creates
    carry the modes Hadoop's stock local filesystem gives them."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    hfs = jvm.org.apache.hadoop.fs
    fs = hfs.FileSystem.get(jvm.java.net.URI.create("file:///"), conf)
    assert fs.getClass().getName() == "activedata_etl_spark.NioLocalFileSystem"

    probe = tmp_path / "probe"
    probe.mkdir()
    (probe / "f").write_text("x")
    for target in ("f", ""):
        for mode in (0o640, 0o755, 0o700):
            path = str(probe / target)
            fs.setPermission(hfs.Path(path),
                             jvm.org.apache.hadoop.fs.permission.FsPermission(mode))
            assert stat.S_IMODE(os.stat(path).st_mode) == mode, (path, oct(mode))

    stock = hfs.LocalFileSystem()
    stock.initialize(jvm.java.net.URI.create("file:///"), conf)
    stock.create(hfs.Path(str(tmp_path / "stock" / "f"))).close()
    stock.close()
    want = _modes(str(tmp_path / "stock"))
    umask = hfs.permission.FsPermission.getUMask(conf).toShort()
    assert want == {"files": {0o666 & ~umask}, "dirs": {0o777 & ~umask}}, want

    t = bucketed_table(spark, str(tmp_path / "lake"))
    rel = t.snapshot()["bucket_dirs"]["0"]
    assert _modes(os.path.join(t.location, rel)) == want


def test_wide_read_runs_no_listing_job(spark, tmp_path, spark_jobs):
    """Planning a read over 48 bucket dirs (past Spark's default 32-path
    parallel-listing threshold) runs no Spark job: the driver lists them."""
    t = bucketed_table(spark, str(tmp_path / "lake"), n_buckets=48)
    assert spark_jobs(t.read) == 0
    assert t.read().count() == 2048
