"""Skip zip archive re-reads on ``importlib.invalidate_caches()`` when
the archive has not changed.

Every Python task a Spark worker runs starts in
``pyspark.worker_util.setup_spark_files``, which calls
``importlib.invalidate_caches()``. On CPython 3.10-3.12 every
``zipimport.zipimporter`` answers by re-parsing its archive's whole
central directory right away (3.13 drops the cached directory and reads
it again only on the next lookup). A worker that imports pyspark from
``$SPARK_HOME/python/lib/pyspark.zip`` (1,328 entries) holds one importer
per imported pyspark sub-package, so each task re-read that directory
about 16 times (~11 ms each on a 4-core host) before its UDF saw the
first row.

``install()`` runs when the package is imported, so every worker that
unpickles one of the package's UDFs has it from its first task on. On
3.10-3.12 it wraps ``zipimporter.invalidate_caches``: an archive is read
again only when its ``(st_mtime_ns, st_size)`` differs from the last
read, and all importers of one archive share that read. If ``stat``
fails, the original method runs. On any other version it does nothing.

The same zip costs every Python daemon a second, larger fixed cost:
it ships no bytecode, so each daemon Spark starts (one per
SparkContext) compiles the 98 pyspark and py4j modules it imports from
source, each twice (zipimport compiles a module to name its file, then
again to run it): 1.1-1.4 s on a 4-core host. ``install_bytecode_cache()``,
called by the package's daemon entry point ``worker_daemon``, keeps the
code objects zipimport compiles in a per-user directory and loads them
from there on the next start; the workers the daemon forks inherit it.
"""

from __future__ import annotations

import contextlib
import hashlib
import importlib.util
import marshal
import os
import stat
import sys
import tempfile
import zipimport

# archive path -> ((st_mtime_ns, st_size) taken before the read, directory)
_READS: dict[str, tuple[tuple[int, int], dict]] = {}


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches`` (once; later calls are
    no-ops), then stamp the directories of the importers that exist."""
    if not (3, 10) <= sys.version_info[:2] <= (3, 12):
        return
    cls = zipimport.zipimporter
    if getattr(cls.invalidate_caches, "_stat_guarded", False):
        return
    original = cls.invalidate_caches

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return original(self)
        stamp = (st.st_mtime_ns, st.st_size)
        seen = _READS.get(self.archive)
        if seen is None or seen[0] != stamp:
            original(self)
            # a failed read leaves the archive out of the module cache
            if zipimport._zip_directory_cache.get(self.archive) is self._files:
                _READS[self.archive] = (stamp, self._files)
        else:
            self._files = seen[1]

    invalidate_caches.__wrapped__ = original
    invalidate_caches._stat_guarded = True
    cls.invalidate_caches = invalidate_caches
    # existing importers hold reads of unknown age: read each archive
    # once now, so that every directory in use carries a stamp
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, cls):
            finder.invalidate_caches()


def _cache_dir() -> str | None:
    """The bytecode cache directory, ``readabilitysax-spark-pyc-<uid>``
    under ``tempfile.gettempdir()``, created if missing. None unless it
    is a real directory (not a link) owned by this uid with mode 0700:
    code is loaded from it, so no one else may write there."""
    path = os.path.join(tempfile.gettempdir(),
                        f"readabilitysax-spark-pyc-{os.getuid()}")
    try:
        os.mkdir(path, 0o700)
    except FileExistsError:
        pass
    except OSError:
        return None
    try:
        st = os.lstat(path)
    except OSError:
        return None
    if (not stat.S_ISDIR(st.st_mode) or st.st_uid != os.getuid()
            or stat.S_IMODE(st.st_mode) != 0o700):
        return None
    return path


def _seal(name: str, payload: bytes) -> bytes:
    """The 32 bytes an entry starts with: they bind its code to its name."""
    return hashlib.sha256(name.encode() + payload).digest()


def _write_entry(path: str, blob: bytes) -> None:
    """Write ``blob`` to ``path`` whole or not at all; errors are dropped
    (the code was compiled, only the next start loses)."""
    tmp = None
    try:
        fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path))
        with os.fdopen(fd, "wb") as f:
            f.write(blob)
        os.replace(tmp, path)
    except OSError:
        if tmp is not None:
            with contextlib.suppress(OSError):
                os.unlink(tmp)


def install_bytecode_cache() -> None:
    """Wrap ``zipimport._compile_source(pathname, source)`` (once; later
    calls are no-ops) to load code from, and store code in, ``_cache_dir()``.

    An entry is named by the sha256 of the interpreter's magic number,
    ``sys.flags.optimize``, ``pathname`` and the source bytes, so a
    changed source, archive path or interpreter never finds a stale
    entry. It holds the sha256 of its name and its marshalled code,
    then that code: an entry that is truncated, corrupt or not its
    name's is compiled again and rewritten. Without a usable cache
    directory (or on a Python outside 3.8-3.13) nothing is installed.
    """
    if not (3, 8) <= sys.version_info[:2] <= (3, 13):
        return
    compile_source = zipimport._compile_source
    if getattr(compile_source, "_bytecode_cached", False):
        return
    directory = _cache_dir()
    if directory is None:
        return
    prefix = importlib.util.MAGIC_NUMBER + str(sys.flags.optimize).encode()

    def cached_compile_source(pathname, source):
        name = hashlib.sha256(b"\0".join(
            (prefix, os.fsencode(pathname), source))).hexdigest()
        path = os.path.join(directory, name)
        try:
            with open(path, "rb") as f:
                blob = f.read()
        except OSError:
            blob = b""
        payload = blob[32:]
        if blob[:32] == _seal(name, payload):
            return marshal.loads(payload)  # the bytes this function wrote
        code = compile_source(pathname, source)
        payload = marshal.dumps(code)
        _write_entry(path, _seal(name, payload) + payload)
        return code

    cached_compile_source.__wrapped__ = compile_source
    cached_compile_source._bytecode_cached = True
    zipimport._compile_source = cached_compile_source
