"""The Python worker daemon ``get_spark`` configures
(``preprocessor_spark_daemon``): its zip-cache patch on its own, in the live
session's workers, and its import footprint."""

from __future__ import annotations

import os
import subprocess
import sys
import uuid
import zipfile
import zipimport

import pandas as pd

from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

import preprocessor_spark_daemon as daemon_mod

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def _counting_reads(monkeypatch) -> list[str]:
    """Record every archive directory read by ``zipimport``."""
    reads: list[str] = []
    stock = zipimport._read_directory

    def read(archive):
        reads.append(archive)
        return stock(archive)

    monkeypatch.setattr(zipimport, "_read_directory", read)
    return reads


def _patched(monkeypatch) -> None:
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", daemon_mod.invalidate_caches)


def _unique(prefix: str) -> str:
    return f"{prefix}_{uuid.uuid4().hex}"


def test_unchanged_archive_is_read_once(tmp_path, monkeypatch):
    mod = _unique("zipmod")
    path = str(tmp_path / "lib.zip")
    _write_zip(path, {mod: "VALUE = 1\n"})
    monkeypatch.syspath_prepend(path)
    __import__(mod)
    importer = sys.path_importer_cache[path]
    _patched(monkeypatch)
    reads = _counting_reads(monkeypatch)
    importer.invalidate_caches()
    importer.invalidate_caches()
    assert reads == [path]


def test_rewritten_archive_is_reread(tmp_path, monkeypatch):
    old, new = _unique("zipold"), _unique("zipnew")
    path = str(tmp_path / "lib.zip")
    _write_zip(path, {old: "VALUE = 1\n"})
    monkeypatch.syspath_prepend(path)
    _patched(monkeypatch)
    assert __import__(old).VALUE == 1
    importer = sys.path_importer_cache[path]
    importer.invalidate_caches()
    _write_zip(path, {old: "VALUE = 1\n", new: "VALUE = 2\n"})
    importer.invalidate_caches()
    assert __import__(new).VALUE == 2


def test_missing_archive_behaves_as_stock(tmp_path, monkeypatch):
    path = str(tmp_path / "gone.zip")
    _write_zip(path, {_unique("zipgone"): "VALUE = 1\n"})
    stock_imp, patched_imp = zipimport.zipimporter(path), zipimport.zipimporter(path)
    os.remove(path)
    stock = zipimport.zipimporter.invalidate_caches
    _patched(monkeypatch)
    stock(stock_imp)
    assert stock_imp._files == {} and path not in zipimport._zip_directory_cache
    zipimport._zip_directory_cache[path] = {"stale": None}
    patched_imp.invalidate_caches()
    assert patched_imp._files == {} and path not in zipimport._zip_directory_cache
    # and again: nothing on disk to compare with, so it never skips
    reads = _counting_reads(monkeypatch)
    patched_imp.invalidate_caches()
    assert reads == [path] and patched_imp._files == {}


def test_session_workers_run_the_library_daemon(spark):
    """The live session's Python workers were forked from the daemon
    module ``get_spark`` configures, with the patch in place."""

    @pandas_udf("string")
    def patch_module(s: pd.Series) -> pd.Series:
        import zipimport

        return pd.Series([zipimport.zipimporter.invalidate_caches.__module__] * len(s))

    assert spark.conf.get("spark.python.daemon.module") == daemon_mod.__name__
    got = spark.range(1, numPartitions=1).select(patch_module(F.col("id"))).collect()
    assert got[0][0] == daemon_mod.__name__


def test_daemon_imports_nothing_beyond_pyspark_daemon():
    """Every worker forks from the daemon with its modules loaded, so the
    daemon module must load no more than the stock ``pyspark.daemon``; the
    library package in the daemon raised a benchmark's peak RSS by ~10%."""
    code = "import sys; import {}; print('\\n'.join(sys.modules))"
    env = {**os.environ, "PYTHONPATH": os.pathsep.join([REPO, os.environ.get("PYTHONPATH", "")])}

    def loaded(module: str) -> set[str]:
        # Spark starts the daemon with the worker module as its argument
        out = subprocess.run(
            [sys.executable, "-c", code.format(module), "pyspark.worker"],
            env=env, check=True, capture_output=True, text=True,
        ).stdout
        return set(out.split())

    assert loaded(daemon_mod.__name__) - loaded("pyspark.daemon") == {daemon_mod.__name__}


def test_add_py_file_reaches_workers(spark, tmp_path):
    """A zip shipped with ``addPyFile`` is importable in the reused workers."""
    mod = _unique("shipped")
    path = str(tmp_path / f"{mod}.zip")
    _write_zip(path, {mod: "def triple(x):\n    return 3 * x\n"})
    spark.sparkContext.addPyFile(path)

    @pandas_udf("long")
    def triple(s: pd.Series) -> pd.Series:
        return __import__(mod).triple(s)

    got = spark.range(4, numPartitions=2).select(triple(F.col("id"))).collect()
    assert sorted(r[0] for r in got) == [0, 3, 6, 9]
