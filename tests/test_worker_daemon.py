"""The engine's pyspark daemon (``activedata_etl_spark/worker_daemon.py``):
a Python task no longer re-reads an unchanged zip archive, a changed one is
still read, and ``get_spark`` sessions run it from any cwd."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

from activedata_etl_spark import worker_daemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    """Invalidating an unchanged archive reads no directory; a rewritten
    archive is read once and its new module imports."""
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, {"wd_probe_a": "X = 1\n"})
    reads = []
    stock_read = zipimport._read_directory

    def counted(path):
        if path == archive:
            reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        worker_daemon.invalidate_caches)
    monkeypatch.syspath_prepend(archive)
    try:
        import wd_probe_a

        assert wd_probe_a.X == 1
        importlib.invalidate_caches()  # the first sight stamps the archive
        reads.clear()
        for _ in range(3):
            importlib.invalidate_caches()
        assert reads == []

        _write_zip(archive, {"wd_probe_a": "X = 1\n", "wd_probe_b": "Y = 2\n"})
        importlib.invalidate_caches()
        assert reads == [archive]
        import wd_probe_b

        assert wd_probe_b.Y == 2
    finally:
        for name in ("wd_probe_a", "wd_probe_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
        worker_daemon._read_at.pop(archive, None)


def test_lazy_zipimporter_keeps_stock_invalidation(tmp_path, monkeypatch):
    """A zipimporter with no eagerly read ``_files`` (CPython >= 3.13 reads
    the directory lazily) gets the stock method on every call."""
    archive = str(tmp_path / "lazy.zip")
    _write_zip(archive, {"wd_lazy": ""})
    imp = zipimport.zipimporter(archive)
    del imp._files
    calls = []
    monkeypatch.setattr(worker_daemon, "_stock_invalidate", calls.append)
    try:
        for _ in range(2):
            worker_daemon.invalidate_caches(imp)
        assert calls == [imp, imp]
        assert archive not in worker_daemon._read_at
    finally:
        zipimport._zip_directory_cache.pop(archive, None)


def test_reused_worker_keeps_pyspark_zip_directory(spark):
    """Consecutive tasks in one reused Python worker see the same cached
    directory object of pyspark.zip: the task's invalidate_caches() did not
    re-read it (pyspark's stock daemon re-reads it on every task)."""
    def probe(_):
        import os
        import zipimport

        archive = next(a for a in zipimport._zip_directory_cache
                       if a.endswith("pyspark.zip"))
        files = zipimport._zip_directory_cache[archive]
        seen = getattr(zipimport, "_wd_probe_seen", None)
        zipimport._wd_probe_seen = files  # kept alive: `is` stays exact
        return os.getpid(), None if seen is None else seen is files

    sc = spark.sparkContext
    runs = [sc.parallelize([0], 1).map(probe).collect()[0] for _ in range(12)]
    again = [same for _, same in runs if same is not None]
    assert again, f"no worker served two probe tasks: {runs}"
    assert all(again), runs


def test_worker_forks_from_a_frozen_heap(spark):
    """A Python task's worker inherits the daemon's pre-imported Arrow-UDF
    stack in the collector's permanent generation, so the ``gc.collect()``
    pyspark runs after each task no longer walks it: the frozen objects
    outnumber those a fresh interpreter holds after importing pandas and
    pyarrow (the stock daemon freezes none)."""
    def frozen(batches):
        import gc

        import pandas as pd

        for _ in batches:
            pass
        yield pd.DataFrame({"n": [gc.get_freeze_count()]})

    got = spark.range(1, numPartitions=1).mapInPandas(
        frozen, "n long").first()["n"]
    imported = subprocess.run(
        [sys.executable, "-c", "import gc, pandas, pyarrow; gc.collect(); "
         "print(len(gc.get_objects()))"],
        capture_output=True, text=True, check=True, timeout=120)
    assert got > int(imported.stdout), (got, imported.stdout)


def test_session_runs_from_a_foreign_cwd(tmp_path):
    """A ``get_spark`` session started outside the repo, with no PYTHONPATH,
    runs a by-value lambda and a package UDF: the session itself puts the
    package root on the workers' path."""
    script = f"""
import sys
sys.path.insert(0, {REPO!r})
from activedata_etl_spark.functions.normalize import _encode_doc, typed_encode_udf
from activedata_etl_spark.session import get_spark

spark = get_spark("foreign_cwd", parallelism=1, shuffle_partitions=1)
assert spark.sparkContext.parallelize(range(4), 2).map(lambda x: x * x).sum() == 14
doc = '{{"a": 1}}'
got = spark.createDataFrame([(doc,)], "js string") \\
    .select(typed_encode_udf("js")).first()[0]
assert got == _encode_doc(doc), got
spark.stop()
print("ok")
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run([sys.executable, "-c", script], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=600)
    assert out.returncode == 0 and out.stdout.strip().endswith("ok"), \
        out.stderr[-3000:]
