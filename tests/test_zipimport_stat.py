"""Stat-checked ``zipimporter.invalidate_caches`` (``_filestat``).

PySpark workers call ``importlib.invalidate_caches()`` after every task;
the package replaces the stdlib zipimporter method so an unchanged
archive keeps its directory, while a rewritten or deleted archive is
handled exactly as the stdlib does.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from flink_cep_examples_spark import _filestat


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def _importers(archive: str) -> list[zipimport.zipimporter]:
    return [
        imp
        for imp in sys.path_importer_cache.values()
        if isinstance(imp, zipimport.zipimporter) and imp.archive == archive
    ]


@pytest.fixture
def zipped(tmp_path):
    """A zip on sys.path holding module ``zst_a``, imported once."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zst_a": "VALUE = 1\n"})
    sys.path.insert(0, archive)
    try:
        import zst_a  # noqa: F401

        yield archive
    finally:
        sys.path.remove(archive)
        for name in ("zst_a", "zst_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


def test_install_is_idempotent():
    patched = zipimport.zipimporter.invalidate_caches
    assert getattr(patched, "_stat_checked", False)
    _filestat.install()
    assert zipimport.zipimporter.invalidate_caches is patched


def test_unchanged_archive_keeps_directory(zipped):
    # the first call after the importer was made re-reads: what it read
    # before is unknown; from then on an unchanged archive is not re-read
    importlib.invalidate_caches()
    importers = _importers(zipped)
    assert importers
    before = [imp._files for imp in importers]
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert all(imp._files is files for imp, files in zip(importers, before))


def test_rewritten_archive_is_reread(zipped):
    importlib.invalidate_caches()
    (imp,) = _importers(zipped)
    before = imp._files
    st = os.stat(zipped)
    _write_zip(zipped, {"zst_a": "VALUE = 1\n", "zst_b": "VALUE = 2\n"})
    # a same-second rewrite must still count: pin a distinct mtime
    os.utime(zipped, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    importlib.invalidate_caches()
    assert imp._files is not before
    assert "zst_b.py" in imp._files
    import zst_b

    assert zst_b.VALUE == 2


def test_deleted_archive_falls_through_to_stdlib(zipped):
    importlib.invalidate_caches()
    (imp,) = _importers(zipped)
    os.remove(zipped)
    importlib.invalidate_caches()
    # the stdlib method's ZipImportError branch: empty directory, no cache
    assert imp._files == {}
    assert zipped not in zipimport._zip_directory_cache


def test_worker_keeps_zip_directories(spark):
    """The package import reaches PySpark's Python workers: after it, a
    worker's per-task ``importlib.invalidate_caches()`` re-reads no
    unchanged zip."""

    def probe(batches):
        # nested, so it is pickled by value: this module is not
        # importable on the workers
        import importlib
        import sys
        import zipimport

        import pandas as pd

        import flink_cep_examples_spark  # noqa: F401  (installs the patch)

        for _ in batches:
            pass
        # the first call after install may re-read (the read it replaces
        # was unseen); the next one must keep every directory
        importlib.invalidate_caches()
        importers = [
            imp for imp in sys.path_importer_cache.values() if isinstance(imp, zipimport.zipimporter)
        ]
        before = [imp._files for imp in importers]
        importlib.invalidate_caches()
        kept = all(imp._files is files for imp, files in zip(importers, before))
        yield pd.DataFrame({"importers": [len(importers)], "kept": [kept]})

    rows = (
        spark.range(4, numPartitions=2)
        .mapInPandas(probe, "importers long, kept boolean")
        .collect()
    )
    if all(r.importers == 0 for r in rows):
        pytest.skip("the Python workers imported nothing from a zip")
    assert all(r.kept for r in rows), rows
