"""The lazy zipimport backport (pdf_extractor_spark/_zipimport.py): on
Python < 3.12 ``importlib.invalidate_caches()`` re-reads a zip archive on
sys.path only when its (mtime, size) changed, once per archive however many
importers share it — in the test process and in every Spark worker that
ran a stage of this package."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import pdf_extractor_spark  # noqa: F401  (installs the backport)
from pdf_extractor_spark import _zipimport

below_312 = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="3.12+ invalidates zip caches lazily"
)


@pytest.fixture()
def zipped_pkg(tmp_path, monkeypatch):
    """A package ``<name>`` with a sub-package, imported from a zip on
    sys.path, so two zipimporters (the archive root and ``<name>/``) share
    one archive. Yields ``(archive, name, write)``."""
    name = f"zpkg_{tmp_path.name.replace('-', '_')}"
    archive = str(tmp_path / "pkg.zip")

    def write(modules: dict[str, str]) -> None:
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr(f"{name}/__init__.py", "")
            for mod, src in modules.items():
                z.writestr(f"{name}/{mod}.py", src)

    write({"old": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module(f"{name}.old").VALUE == 1
    yield archive, name, write
    for mod in [m for m in sys.modules if m.split(".")[0] == name]:
        del sys.modules[mod]
    for path in [p for p in sys.path_importer_cache if p.startswith(archive)]:
        del sys.path_importer_cache[path]
    zipimport._zip_directory_cache.pop(archive, None)
    _zipimport._stamps.pop(archive, None)


def _reads_during_invalidate(monkeypatch, archive: str) -> list[str]:
    """The reads of ``archive`` from disk during one
    ``importlib.invalidate_caches()``."""
    reads = []
    read = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read(path)

    with monkeypatch.context() as m:
        m.setattr(zipimport, "_read_directory", counting)
        importlib.invalidate_caches()
    return [p for p in reads if p == archive]


@below_312
def test_unchanged_archive_is_not_reread(zipped_pkg, monkeypatch):
    archive, name, _ = zipped_pkg
    importers = [
        f
        for p, f in sys.path_importer_cache.items()
        if p.startswith(archive) and isinstance(f, zipimport.zipimporter)
    ]
    assert len(importers) == 2
    importlib.invalidate_caches()  # stamps the archive
    assert _reads_during_invalidate(monkeypatch, archive) == []
    assert _reads_during_invalidate(monkeypatch, archive) == []
    # the importers still see the archive's directory
    files = zipimport._zip_directory_cache[archive]
    assert all(f._files is files for f in importers)
    assert importlib.import_module(f"{name}.old").VALUE == 1


@below_312
def test_rewritten_archive_is_reread_once(zipped_pkg, monkeypatch):
    archive, name, write = zipped_pkg
    importlib.invalidate_caches()
    write({"old": "VALUE = 1\n", "new": "VALUE = 2\n"})
    # a rewrite inside one mtime tick must still show: the size changed
    assert _reads_during_invalidate(monkeypatch, archive) == [archive]
    assert importlib.import_module(f"{name}.new").VALUE == 2
    assert _reads_during_invalidate(monkeypatch, archive) == []


@below_312
def test_vanished_archive_falls_back_to_stdlib(zipped_pkg, monkeypatch):
    archive, name, write = zipped_pkg
    importlib.invalidate_caches()
    os.remove(archive)
    importlib.invalidate_caches()
    assert archive not in zipimport._zip_directory_cache
    write({"back": "VALUE = 3\n"})
    assert _reads_during_invalidate(monkeypatch, archive) == [archive]
    assert importlib.import_module(f"{name}.back").VALUE == 3


def test_installs_nothing_from_312(monkeypatch):
    def stdlib(self):
        pass

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stdlib)
    monkeypatch.setattr(sys, "version_info", (3, 12, 0, "final", 0))
    _zipimport.install()
    assert zipimport.zipimporter.invalidate_caches is stdlib


@below_312
def test_spark_workers_skip_unchanged_archives(spark):
    """After an extract stage, a probe task in each worker finds the
    backport installed and ``invalidate_caches()`` reading no archive,
    although the worker imports from zip archives (pyspark, py4j)."""
    import pyarrow as pa

    from pdf_extractor_spark.operators.extract import extract_stage

    from tests.conftest import GOLDEN_DIR

    pages = spark.read.parquet(str(GOLDEN_DIR / "pages_micro.parquet"))
    assert extract_stage(pages.repartition(8)).count() == pages.count()

    schema = pa.schema(
        [
            ("pid", pa.int64()),
            ("loaded", pa.bool_()),
            ("installed", pa.bool_()),
            ("zip_importers", pa.int64()),
            ("reads", pa.int64()),
        ]
    )

    # nested, so it pickles by value and imports nothing of the package
    def probe(batches):
        for _ in batches:
            pass
        reads = []
        read = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return read(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        method = zipimport.zipimporter.invalidate_caches
        row = {
            "pid": os.getpid(),
            "loaded": "pdf_extractor_spark" in sys.modules,
            "installed": method.__module__ == "pdf_extractor_spark._zipimport",
            "zip_importers": sum(
                isinstance(f, zipimport.zipimporter)
                for f in sys.path_importer_cache.values()
            ),
            "reads": len(reads),
        }
        yield pa.RecordBatch.from_pylist([row], schema=schema)

    rows = (
        spark.range(0, 8, 1, 8)
        .mapInArrow(probe, "pid long, loaded boolean, installed boolean, "
                    "zip_importers long, reads long")
        .collect()
    )
    assert len(rows) == 8
    assert all(r.zip_importers > 0 for r in rows)
    # a worker that ran the extract stage imported the package
    assert any(r.loaded for r in rows)
    for r in rows:
        if r.loaded:
            assert r.installed and r.reads == 0, r
