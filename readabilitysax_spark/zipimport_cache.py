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
"""

from __future__ import annotations

import os
import sys
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
