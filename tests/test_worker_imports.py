"""The zip re-read guard (session.skip_unchanged_zip_rereads): on Python
< 3.12, ``importlib.invalidate_caches()`` re-reads a zip archive's
directory only when the archive changed, in the driver and in the Python
workers, where pyspark calls it at every task start."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from video_duplicate_finder_python_spark import session


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """→ a zip archive on ``sys.path`` holding a package ``zpkg`` with a
    module ``a``; ``zpkg`` and its modules are unloaded afterwards."""
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zpkg/__init__.py", "")
        z.writestr("zpkg/a.py", "X = 1\n")
    monkeypatch.syspath_prepend(str(archive))
    yield archive
    for name in [m for m in sys.modules if m == "ztop" or m.startswith("zpkg")]:
        del sys.modules[name]


@pytest.fixture
def read_directory_calls(monkeypatch):
    """→ list of archives ``zipimport._read_directory`` is called on,
    from the moment the fixture is used."""
    calls: list[str] = []
    stock = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return stock(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def test_unchanged_archive_is_not_reread(zip_on_path, read_directory_calls):
    if sys.version_info < (3, 12):
        assert hasattr(zipimport.zipimporter.invalidate_caches, "stock")
    importlib.import_module("zpkg.a")  # a top-level and a subpackage importer
    importlib.invalidate_caches()  # archives cached before the guard: read once
    read_directory_calls.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert read_directory_calls == []


def test_rewritten_archive_is_reread(zip_on_path, read_directory_calls):
    importlib.import_module("zpkg.a")
    importlib.invalidate_caches()
    with pytest.raises(ImportError):
        importlib.import_module("zpkg.b")
    with zipfile.ZipFile(zip_on_path, "w") as z:  # replaced in place
        z.writestr("zpkg/__init__.py", "")
        z.writestr("zpkg/a.py", "X = 1\n")
        z.writestr("zpkg/b.py", "Y = 2\n")
        z.writestr("ztop.py", "Z = 3\n")
    read_directory_calls.clear()
    importlib.invalidate_caches()
    # both importers of the archive see the new modules: one read
    assert read_directory_calls.count(str(zip_on_path)) <= 1
    assert importlib.import_module("zpkg.b").Y == 2
    assert importlib.import_module("ztop").Z == 3


def test_stock_method_kept_from_python_3_12(monkeypatch):
    method = zipimport.zipimporter.invalidate_caches
    stock = getattr(method, "stock", method)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stock)
    monkeypatch.setattr(sys, "version_info", (3, 12, 0, "final", 0))
    session.skip_unchanged_zip_rereads()
    assert zipimport.zipimporter.invalidate_caches is stock


def test_python_worker_does_not_reread_pyspark_zip(spark):
    """In a Python worker that has imported the engine (as unpickling any
    engine UDF does), a task start's ``importlib.invalidate_caches()``
    reads no zip directory, while the worker does hold zip importers
    (pyspark.zip and the spark-core jar)."""
    from pyspark.sql import functions as F

    session.warm_python_workers(spark, 2)

    @F.pandas_udf("reads long, zips long")
    def probe(s: pd.Series) -> pd.DataFrame:
        import importlib
        import sys
        import zipimport

        import video_duplicate_finder_python_spark  # noqa: F401

        importlib.invalidate_caches()  # as at the start of the next task
        calls = []
        stock = zipimport._read_directory
        zipimport._read_directory = lambda a: calls.append(a) or stock(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stock
        zips = sum(
            isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
        )
        return pd.DataFrame({"reads": [len(calls)] * len(s), "zips": [zips] * len(s)})

    got = spark.range(0, 8, 1, 4).select(probe("id").alias("r")).select("r.*").collect()
    assert all(r["zips"] > 0 for r in got), got
    assert all(r["reads"] == 0 for r in got), got
