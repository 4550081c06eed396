"""The Python-worker guard installed by ``extract.map_rows``: an unchanged
zip archive on ``sys.path`` is not re-parsed by ``importlib.invalidate_caches``
(which the Spark Python worker calls before every task), while a rewritten
one still is."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest
from pyspark.sql import functions as F

from resume_ocr_spark.operators import extract


def _write_zip(path: str, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A one-module zip on sys.path, plus a counter of its directory reads.
    Restores sys.path, sys.modules, the import caches and the method."""
    path = str(tmp_path / "zg_mods.zip")
    _write_zip(path, {"zg_first": "X = 1\n"})
    # setattr to itself: the guard's replacement is undone at teardown
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    reads = []
    orig_read = zipimport._read_directory

    def counting_read(archive):
        if archive == path:
            reads.append(archive)
        return orig_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.syspath_prepend(path)
    try:
        yield path, reads
    finally:
        for name in ("zg_first", "zg_second"):
            sys.modules.pop(name, None)
        for key in [k for k in sys.path_importer_cache if k.startswith(path)]:
            del sys.path_importer_cache[key]
        zipimport._zip_directory_cache.pop(path, None)


def test_unchanged_archive_is_not_reread(archive):
    path, reads = archive
    assert importlib.import_module("zg_first").X == 1
    extract.keep_unchanged_zip_directories()
    guard = zipimport.zipimporter.invalidate_caches
    extract.keep_unchanged_zip_directories()  # idempotent
    assert zipimport.zipimporter.invalidate_caches is guard

    importlib.invalidate_caches()  # first call records the archive's stat
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []


def test_rewritten_archive_is_reread(archive):
    path, reads = archive
    importlib.import_module("zg_first")
    extract.keep_unchanged_zip_directories()
    importlib.invalidate_caches()

    _write_zip(path, {"zg_first": "X = 1\n", "zg_second": "Y = 2\n"})
    reads.clear()
    importlib.invalidate_caches()
    assert reads
    assert importlib.import_module("zg_second").Y == 2


def test_missing_archive_falls_back_to_the_original(archive):
    path, reads = archive
    importlib.import_module("zg_first")
    extract.keep_unchanged_zip_directories()
    importlib.invalidate_caches()
    os.remove(path)
    importlib.invalidate_caches()  # stat fails: the original method runs
    assert path not in zipimport._zip_directory_cache


def test_map_rows_workers_carry_the_guard(spark):
    df = spark.range(4).select(F.col("id").cast("int").alias("x"))
    extract.map_rows(df, [], ["x"], lambda x: (x,), "y int").collect()

    def guarded(x):
        import zipimport
        method = zipimport.zipimporter.invalidate_caches
        return (getattr(method, "_keeps_unchanged", False),)

    rows = extract.map_rows(df, ["x"], ["x"], guarded,
                            "guarded boolean").collect()
    assert len(rows) == 4 and all(r.guarded for r in rows)
