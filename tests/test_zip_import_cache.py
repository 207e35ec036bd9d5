"""The zip-import cache guard installed by ``finetoo_sp_spark/__init__.py``:
``importlib.invalidate_caches()`` re-reads a zip archive's directory only
when the archive changed since that importer last read it."""

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

import finetoo_sp_spark

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="CPython 3.12 re-reads zip directories lazily; no guard is installed",
)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def zip_on_path(tmp_path):
    """A zip with module ``zipguard_a`` first on ``sys.path``; undone after."""
    archive = str(tmp_path / "zipguard.zip")
    _write_zip(archive, {"zipguard_a": "VALUE = 'a'\n"})
    sys.path.insert(0, archive)
    yield archive
    sys.path.remove(archive)
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)
    for name in ("zipguard_a", "zipguard_b"):
        sys.modules.pop(name, None)


@pytest.fixture
def reads(monkeypatch):
    """Archives whose central directory ``zipimport`` parses, in call order."""
    calls: list[str] = []
    read = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def test_unchanged_archive_is_not_reread(zip_on_path, reads):
    assert importlib.import_module("zipguard_a").VALUE == "a"
    importlib.invalidate_caches()  # the importer's first call reads and keys it
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert [a for a in reads if a == zip_on_path] == []


def test_rewritten_archive_is_reread(zip_on_path, reads):
    importlib.import_module("zipguard_a")
    importlib.invalidate_caches()
    _write_zip(
        zip_on_path, {"zipguard_a": "VALUE = 'a'\n", "zipguard_b": "VALUE = 'b'\n"}
    )
    reads.clear()
    importlib.invalidate_caches()
    assert zip_on_path in reads
    assert importlib.import_module("zipguard_b").VALUE == "b"


def test_deleted_archive_does_not_raise(zip_on_path):
    importlib.import_module("zipguard_a")
    importlib.invalidate_caches()
    os.remove(zip_on_path)
    importlib.invalidate_caches()
    assert sys.path_importer_cache[zip_on_path]._files == {}


def test_installing_twice_wraps_once():
    guard = zipimport.zipimporter.invalidate_caches
    finetoo_sp_spark._install_zip_cache_guard()
    assert zipimport.zipimporter.invalidate_caches is guard
    assert not hasattr(guard.__wrapped__, "__wrapped__")


def test_spark_workers_skip_unchanged_archives(spark, tmp_path):
    from finetoo_sp_spark.datagen import gen_pages
    from finetoo_sp_spark.extraction.extract import extract_pages

    extract_pages(gen_pages(spark, 200, partitions=4)).count()  # warm the workers

    def count_worker_reads(batches):
        """Per worker: zip importers held, and ``_read_directory`` calls made by
        one ``importlib.invalidate_caches()`` after a first, priming one."""
        import importlib
        import os
        import sys
        import zipimport

        import finetoo_sp_spark  # noqa: F401  (a reused worker already has it)

        for _ in batches:
            pass
        importlib.invalidate_caches()
        calls = []
        read = zipimport._read_directory

        def counting(archive):
            calls.append(archive)
            return read(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        finders = sys.path_importer_cache.values()
        zips = sum(isinstance(f, zipimport.zipimporter) for f in finders)
        yield pd.DataFrame({"pid": [os.getpid()], "zips": [zips], "reads": [len(calls)]})

    got = (
        spark.range(0, 4, 1, 4)
        .mapInPandas(count_worker_reads, "pid long, zips long, reads long")
        .toPandas()
    )
    assert (got["zips"] > 0).all(), got  # workers import pyspark from a zip
    assert (got["reads"] == 0).all(), got

    # Spark's include path still works: a zip added now is a new importer.
    mod = f"zipguard_pyfile_{os.getpid()}"
    archive = str(tmp_path / f"{mod}.zip")
    _write_zip(archive, {mod: "VALUE = 42\n"})
    spark.sparkContext.addPyFile(archive)

    def use_added_module(batches):
        value = importlib.import_module(mod).VALUE
        for b in batches:
            yield pd.DataFrame({"v": [value] * len(b)})

    vals = spark.range(0, 8, 1, 4).mapInPandas(use_added_module, "v long").toPandas()
    assert vals["v"].tolist() == [42] * 8
