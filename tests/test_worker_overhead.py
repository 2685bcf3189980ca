"""Per-task fixed cost of the Python workers: ``importlib.invalidate_caches()``
(run by pyspark at the start of every task) must not re-read an unchanged
zip archive, such as the ``pyspark.zip`` the workers import pyspark from.
See ``readabilitysax_spark/zipimport_cache.py``."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport
from collections import defaultdict

import pyarrow as pa
import pytest

from readabilitysax_spark import zipimport_cache

GUARDED = (3, 10) <= sys.version_info[:2] <= (3, 12)


def _count_reads(batches):
    """One row per task: (worker pid, zip directory reads since this
    worker's first probe task, zip importers the worker holds)."""
    import readabilitysax_spark  # noqa: F401  (as any UDF of the package)

    read = zipimport._read_directory
    if not hasattr(read, "calls"):
        def counted(archive, _read=read):
            counted.calls += 1
            return _read(archive)

        counted.calls = 0
        zipimport._read_directory = read = counted
    for _ in batches:
        pass
    zips = sum(isinstance(f, zipimport.zipimporter)
               for f in sys.path_importer_cache.values())
    yield pa.RecordBatch.from_pydict(
        {"pid": [os.getpid()], "reads": [read.calls], "zips": [zips]})


def test_worker_task_does_not_reread_zip_archives(spark):
    """Twice 4 × parallelism one-row tasks: after a worker's first task
    its count stays flat (without the guard it grows by ~16 per task,
    one read of pyspark.zip per importer)."""
    n = 4 * spark.sparkContext.defaultParallelism
    probe = spark.range(0, n, 1, n).mapInArrow(
        _count_reads, "pid long, reads long, zips long")
    rows = probe.collect() + probe.collect()
    if not all(r.zips for r in rows):
        pytest.skip("workers import nothing from a zip archive")
    by_pid = defaultdict(list)
    for r in rows:
        by_pid[r.pid].append(r.reads)
    assert max(map(len, by_pid.values())) > 1  # workers were reused
    assert all(r.reads == 0 for r in rows), dict(by_pid)


def _write_zip(path, files):
    with zipfile.ZipFile(path, "w") as zf:
        for name in files:
            zf.writestr(name, f"NAME = {name!r}\n")


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip holding module ``zc_a`` and package ``zc_pkg`` (with module
    ``a``) first on sys.path; the path, the importer cache and the
    imported modules are restored afterwards."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["zc_a.py", "zc_pkg/__init__.py", "zc_pkg/a.py"])
    monkeypatch.setattr(sys, "path", [archive, *sys.path])
    monkeypatch.setattr(sys, "path_importer_cache",
                        dict(sys.path_importer_cache))
    yield archive
    for name in ("zc_a", "zc_b", "zc_pkg", "zc_pkg.a", "zc_pkg.b"):
        sys.modules.pop(name, None)


@pytest.mark.skipif(not GUARDED, reason="invalidation is lazy on this Python")
def test_invalidate_caches_skips_unchanged_archive(zip_on_path, monkeypatch):
    """Two importers share the archive (the zip, and ``zc_pkg`` in it):
    unchanged, it is not read again; changed, it is read once and both
    importers see the new entries."""
    import zc_a
    import zc_pkg.a

    assert (zc_a.NAME, zc_pkg.a.NAME) == ("zc_a.py", "zc_pkg/a.py")
    importlib.invalidate_caches()  # stamps the importers' reads
    calls = []
    read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda path: calls.append(path) or read(path))
    for _ in range(5):
        importlib.invalidate_caches()
    assert zip_on_path not in calls

    _write_zip(zip_on_path, ["zc_a.py", "zc_pkg/__init__.py", "zc_pkg/a.py",
                             "zc_b.py", "zc_pkg/b.py"])  # size and mtime
    importlib.invalidate_caches()
    assert calls.count(zip_on_path) == 1
    import zc_b
    import zc_pkg.b

    assert (zc_b.NAME, zc_pkg.b.NAME) == ("zc_b.py", "zc_pkg/b.py")


@pytest.mark.skipif(not GUARDED, reason="invalidation is lazy on this Python")
def test_install_wraps_once():
    wrapped = zipimport.zipimporter.invalidate_caches
    assert wrapped._stat_guarded  # installed by the package import
    zipimport_cache.install()
    zipimport_cache.install()
    assert zipimport.zipimporter.invalidate_caches is wrapped
    assert not hasattr(wrapped.__wrapped__, "_stat_guarded")


def test_install_is_a_noop_outside_3_10_to_3_12(monkeypatch):
    original = getattr(zipimport.zipimporter.invalidate_caches,
                       "__wrapped__", zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    for version in ((3, 9, 18), (3, 13, 0)):
        monkeypatch.setattr(sys, "version_info", version)
        zipimport_cache.install()
        assert zipimport.zipimporter.invalidate_caches is original
