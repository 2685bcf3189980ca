"""Fixed costs of the Python workers around ``pyspark.zip``, which the
daemon and its workers import pyspark from. Per task:
``importlib.invalidate_caches()`` (run by pyspark at the start of every
task) must not re-read an unchanged zip archive. Per daemon: modules
compiled from a zip once are loaded from the bytecode cache the next
time, and the workers fork from the package's daemon, which installs it.
See ``readabilitysax_spark/zipimport_cache.py``."""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import tempfile
import zipfile
import zipimport
from collections import defaultdict

import pyarrow as pa
import pytest

from readabilitysax_spark import zipimport_cache

GUARDED = (3, 10) <= sys.version_info[:2] <= (3, 12)
bytecode_cached = pytest.mark.skipif(
    not (3, 8) <= sys.version_info[:2] <= (3, 13),
    reason="no zip bytecode cache on this Python")


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
    """One row per task: its parent's command line, whether its zipimport
    compiles through the bytecode cache, zip importers it holds."""
    for _ in batches:
        pass
    with open(f"/proc/{os.getppid()}/cmdline", "rb") as f:
        daemon = f.read().replace(b"\0", b" ").decode()
    zips = sum(isinstance(f, zipimport.zipimporter)
               for f in sys.path_importer_cache.values())
    cached = getattr(zipimport._compile_source, "_bytecode_cached", False)
    yield pa.RecordBatch.from_pydict(
        {"daemon": [daemon], "cached": [cached], "zips": [zips]})


@bytecode_cached
def test_workers_fork_from_the_package_daemon(spark):
    """The session's workers are forked by ``worker_daemon``, and compile
    zip modules through the cache it installed: importing the package (as
    this test process did) does not install it, so the workers inherited
    it."""
    assert not getattr(zipimport._compile_source, "_bytecode_cached", False)
    n = spark.sparkContext.defaultParallelism
    rows = spark.range(0, n, 1, n).mapInArrow(
        _probe_daemon, "daemon string, cached boolean, zips long").collect()
    if not all(r.zips for r in rows):
        pytest.skip("workers import nothing from a zip archive")
    for r in rows:
        assert " -m readabilitysax_spark.worker_daemon " in r.daemon, r.daemon
        assert r.cached


REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MODULES = {"bc_a.py": "bc_a", "bc_c.py": "bc_c",
           "bc_pkg/__init__.py": "bc_pkg", "bc_pkg/b.py": "bc_pkg.b"}
# counts zipimport's compiles, installs the cache over the counter,
# imports MODULES from the archive in argv[1]
_IMPORT = """
import importlib, json, sys, zipimport
compiled = []
def counting(pathname, source, _compile=zipimport._compile_source):
    compiled.append(pathname)
    return _compile(pathname, source)
zipimport._compile_source = counting
from readabilitysax_spark import zipimport_cache
zipimport_cache.install_bytecode_cache()
sys.path.insert(0, sys.argv[1])
names = [importlib.import_module(m).NAME for m in sys.argv[2:]]
print(json.dumps({"compiled": len(compiled), "names": names}))
"""


def _import_fresh(archive, tmpdir):
    """Import MODULES from ``archive`` in a new interpreter whose
    ``tempfile.gettempdir()`` is ``tmpdir``: (zip compiles, NAMEs)."""
    env = dict(os.environ, TMPDIR=str(tmpdir), PYTHONPATH=REPO)
    out = subprocess.run(
        [sys.executable, "-c", _IMPORT, archive, *MODULES.values()],
        env=env, capture_output=True, text=True, check=True, cwd=tmpdir)
    got = json.loads(out.stdout)
    return got["compiled"], got["names"]


def _write_modules(archive, **edits):
    with zipfile.ZipFile(archive, "w") as zf:
        for name in MODULES:
            zf.writestr(name, edits.get(MODULES[name], f"NAME = {name!r}\n"))


@pytest.fixture
def modules_zip(tmp_path):
    """(archive, TMPDIR of the subprocesses, their cache directory)."""
    archive, tmpdir = str(tmp_path / "mods.zip"), tmp_path / "tmp"
    tmpdir.mkdir()
    _write_modules(archive)
    return archive, tmpdir, tmpdir / f"readabilitysax-spark-pyc-{os.getuid()}"


@bytecode_cached
def test_bytecode_cache_second_process_compiles_nothing(modules_zip):
    """zipimport compiles each module twice (its spec asks for the file
    name, then the module is executed); the cache serves the second
    compile at once and every compile of the next process."""
    archive, tmpdir, cache = modules_zip
    names = list(MODULES)
    assert _import_fresh(archive, tmpdir) == (len(MODULES), names)
    assert len(os.listdir(cache)) == len(MODULES)
    assert _import_fresh(archive, tmpdir) == (0, names)


@bytecode_cached
def test_bytecode_cache_recompiles_bad_entries(modules_zip):
    """A truncated entry, one of zeros and two swapped entries (each a
    valid entry, of the other's name) are compiled again, rewritten and
    never executed."""
    archive, tmpdir, cache = modules_zip
    _import_fresh(archive, tmpdir)
    paths = sorted(cache.iterdir())
    blobs = [p.read_bytes() for p in paths]
    paths[0].write_bytes(blobs[0][:len(blobs[0]) // 2])
    paths[1].write_bytes(bytes(len(blobs[1])))
    paths[2].write_bytes(blobs[3])
    paths[3].write_bytes(blobs[2])
    assert _import_fresh(archive, tmpdir) == (len(MODULES), list(MODULES))
    assert [p.read_bytes() for p in paths] == blobs
    assert _import_fresh(archive, tmpdir) == (0, list(MODULES))


@bytecode_cached
def test_bytecode_cache_serves_edited_source(modules_zip):
    """An archive rewritten in place with one module's source edited:
    that module is compiled again and runs its new code."""
    archive, tmpdir, _ = modules_zip
    _import_fresh(archive, tmpdir)
    _write_modules(archive, bc_c="NAME = 'edited'\n")
    assert _import_fresh(archive, tmpdir) == (
        1, ["bc_a.py", "edited", "bc_pkg/__init__.py", "bc_pkg/b.py"])


@bytecode_cached
@pytest.mark.parametrize("unsafe", ["group-writable", "world-writable",
                                    "symlink", "foreign-owner"])
def test_bytecode_cache_refuses_unsafe_directory(modules_zip, unsafe):
    """A cache directory others could write to (or a link to one) is not
    used: nothing is written there or loaded from it, and every process
    compiles (twice per module) and imports as without the cache."""
    archive, tmpdir, cache = modules_zip
    if unsafe == "symlink":
        target = tmpdir / "elsewhere"
        target.mkdir(mode=0o700)
        cache.symlink_to(target)
    else:
        cache.mkdir(mode=0o700)
        if unsafe == "foreign-owner":
            if os.getuid() != 0:
                pytest.skip("changing a directory's owner needs root")
            os.chown(cache, os.getuid() + 1, -1)
        else:
            cache.chmod(0o720 if unsafe == "group-writable" else 0o702)
    for _ in range(2):
        assert _import_fresh(archive, tmpdir) == (2 * len(MODULES), list(MODULES))
    assert not os.listdir(cache)


@bytecode_cached
def test_install_bytecode_cache_wraps_once(tmp_path, monkeypatch):
    def compile_source(pathname, source):
        raise AssertionError("not called")

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(zipimport, "_compile_source", compile_source)
    zipimport_cache.install_bytecode_cache()
    zipimport_cache.install_bytecode_cache()
    assert zipimport._compile_source._bytecode_cached
    assert zipimport._compile_source.__wrapped__ is compile_source
