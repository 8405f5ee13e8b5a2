"""The package's zipimport shim: ``importlib.invalidate_caches()``
re-reads a zip archive's directory only when the archive changed."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

import gmall_flink_0526_spark  # noqa: F401  (installs the shim)

_MODULES = {
    "zpkg/__init__.py": "",
    "zpkg/a/__init__.py": "",
    "zpkg/a/m.py": "X = 1\n",
    "zpkg/b/__init__.py": "",
    "zpkg/b/n.py": "Y = 2\n",
}


def _write_zip(path, modules) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(name, src)


@pytest.fixture
def zip_pkg(tmp_path, monkeypatch):
    """A zipped package with two subpackages on ``sys.path``, imported,
    plus a list that records every ``zipimport._read_directory`` call."""
    archive = str(tmp_path / "zpkg.zip")
    _write_zip(archive, _MODULES)
    sys.path.insert(0, archive)
    reads: list[str] = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    try:
        import zpkg.a.m  # noqa: F401
        import zpkg.b.n  # noqa: F401

        yield archive, reads
    finally:
        sys.path.remove(archive)
        for name in [m for m in sys.modules if m == "zpkg" or m.startswith("zpkg.")]:
            del sys.modules[name]
        for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
            del sys.path_importer_cache[key]
        zipimport._zip_directory_cache.pop(archive, None)


def test_unchanged_archive_is_not_reread(zip_pkg):
    archive, reads = zip_pkg
    importers = [
        i for i in sys.path_importer_cache.values() if isinstance(i, zipimport.zipimporter) and i.archive == archive
    ]
    assert len(importers) == 4  # the archive root, zpkg, zpkg.a, zpkg.b
    importlib.invalidate_caches()
    del reads[:]
    importlib.invalidate_caches()
    assert reads == []


def test_changed_archive_is_reread(zip_pkg):
    archive, _ = zip_pkg
    importlib.invalidate_caches()
    _write_zip(archive, {**_MODULES, "zpkg/a/fresh.py": "Z = 3\n"})
    importlib.invalidate_caches()
    from zpkg.a import fresh

    assert fresh.Z == 3


def test_worker_task_skips_unchanged_archives(spark):
    """On a Spark Python worker, after one invalidation (what the next
    task's set-up runs), a further one reads no archive."""

    def count_reads(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        import gmall_flink_0526_spark  # noqa: F401

        importers = [i for i in sys.path_importer_cache.values() if isinstance(i, zipimport.zipimporter)]
        importlib.invalidate_caches()
        reads = []
        read_directory = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return read_directory(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        for _ in batches:
            pass
        yield pd.DataFrame({"importers": [len(importers)], "reads": [len(reads)]})

    out = spark.range(4, numPartitions=2).mapInPandas(count_reads, "importers long, reads long").toPandas()
    assert (out["importers"] > 0).all(), out
    assert out["reads"].tolist() == [0] * len(out), out
