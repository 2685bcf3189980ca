"""Fixed costs of the Python workers around ``pyspark.zip`` and the py4j
zip, which Spark puts first on the daemon's path. Per task:
``importlib.invalidate_caches()`` (run by pyspark at the start of every
task) must not re-read an unchanged zip archive
(``readabilitysax_spark/zipimport_cache.py``). Per daemon: the workers
fork from the package's daemon, which moves the zips behind the
installed pyspark and py4j when those hold the same source, so nothing
is compiled from a zip (``readabilitysax_spark/worker_daemon.py``)."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport
from collections import defaultdict

import py4j
import pyarrow as pa
import pyspark
import pytest

from readabilitysax_spark import zipimport_cache
from readabilitysax_spark.sources import session
from readabilitysax_spark.worker_daemon import installed_first

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


def _probe_daemon(batches):
    """One row per task: its parent's command line, the files its
    pyspark and py4j come from, its ``sys.path``."""
    import py4j
    import pyspark

    for _ in batches:
        pass
    with open(f"/proc/{os.getppid()}/cmdline", "rb") as f:
        daemon = f.read().replace(b"\0", b" ").decode()
    yield pa.RecordBatch.from_pydict(
        {"daemon": [daemon], "pyspark": [pyspark.__file__],
         "py4j": [py4j.__file__], "path": [sys.path]})


def test_workers_fork_from_the_package_daemon(spark):
    """The session's workers are forked by ``worker_daemon`` and import
    pyspark and py4j from the files this process imported, not from
    Spark's zips, which stay on their path behind the install."""
    n = spark.sparkContext.defaultParallelism
    rows = spark.range(0, n, 1, n).mapInArrow(
        _probe_daemon,
        "daemon string, pyspark string, py4j string, path array<string>",
    ).collect()
    installed = os.path.dirname(os.path.dirname(pyspark.__file__))
    for r in rows:
        assert " -m readabilitysax_spark.worker_daemon " in r.daemon, r.daemon
        assert (r.pyspark, r.py4j) == (pyspark.__file__, py4j.__file__)
        assert ".zip" not in r.pyspark + r.py4j
        zips = [i for i, p in enumerate(r.path) if p.endswith(".zip")
                and os.path.basename(p).startswith(("pyspark", "py4j"))]
        assert len(zips) == 2, r.path
        assert r.path.index(installed) < min(zips), r.path


PACKAGE_FILES = {"pyspark/__init__.py": "VERSION = '1'\n",
                 "pyspark/worker.py": "WORKER = 1\n",
                 "py4j/__init__.py": "VERSION = '2'\n"}


@pytest.fixture
def spark_zips(tmp_path):
    """(zip path, installed directory, the sys.path Spark gives the
    daemon): a zip holding pyspark and py4j first, then the install."""
    installed = tmp_path / "site-packages"
    for name, text in PACKAGE_FILES.items():
        (installed / name).parent.mkdir(parents=True, exist_ok=True)
        (installed / name).write_text(text)
    archive = str(tmp_path / "pyspark.zip")
    with zipfile.ZipFile(archive, "w") as zf:
        for name, text in PACKAGE_FILES.items():
            zf.writestr(name, text)
        zf.writestr("pyspark/zip_only.py", "")  # not compared
    return archive, installed, [archive, str(tmp_path), str(installed)]


def test_installed_first_moves_matching_zips_behind(spark_zips):
    archive, installed, path = spark_zips
    assert installed_first(path) == [path[1], str(installed), archive]


@pytest.mark.parametrize("change", ["one byte", "size", "absent package"])
def test_installed_first_keeps_order_unless_source_matches(spark_zips, change):
    """A shared file that differs in one byte at the same size, or in
    size, or an install without py4j: the zip stays first."""
    archive, installed, path = spark_zips
    worker = installed / "pyspark/worker.py"
    if change == "one byte":
        worker.write_text("WORKER = 2\n")
    elif change == "size":
        worker.write_text("WORKER = 10\n")
    else:
        (installed / "py4j/__init__.py").unlink()
        (installed / "py4j").rmdir()
    assert installed_first(path) == path


def test_python_daemon_module(tmp_path, monkeypatch):
    """``worker_daemon`` only where a daemon here finds the package."""
    monkeypatch.chdir(tmp_path)
    monkeypatch.setenv("PYTHONPATH", os.path.dirname(session._PACKAGE_DIR))
    assert (session._python_daemon_module("local[4]")
            == "readabilitysax_spark.worker_daemon")
    assert session._python_daemon_module("spark://h:7077") == "pyspark.daemon"
    monkeypatch.setenv("PYTHONPATH", str(tmp_path))
    assert session._python_daemon_module("local[4]") == "pyspark.daemon"
