"""Entry point of Spark's Python daemon (``spark.python.daemon.module``)
in sessions that ``sources.session.build_session`` builds.

Spark starts its daemon as ``python -m <module> pyspark.worker`` with
``$SPARK_HOME/python/lib/pyspark.zip`` and the py4j zip first on
``PYTHONPATH``. Those zips ship no bytecode, so the stock
``pyspark.daemon`` compiles every pyspark and py4j module it imports
from source, once per SparkContext. A pip-installed pyspark, which the
driver imports, holds the same packages with their bytecode already
compiled. This module moves the two zips behind the other ``sys.path`` entries when
that install holds the same source (``installed_first``), then runs the
stock ``pyspark.daemon`` unchanged as ``__main__``; the workers it forks
inherit the order.
"""

from __future__ import annotations

import os
import runpy
import sys
import zipfile
import zlib
from importlib.machinery import PathFinder

PACKAGES = ("pyspark", "py4j")


def _package_zip(entry: str) -> list[zipfile.ZipInfo] | None:
    """The central directory of ``entry`` if it is a zip that holds one
    of ``PACKAGES``, else None."""
    try:
        with zipfile.ZipFile(entry) as zf:
            infos = zf.infolist()
    except (OSError, zipfile.BadZipFile):
        return None
    inits = {f"{pkg}/__init__.py" for pkg in PACKAGES}
    return infos if any(i.filename in inits for i in infos) else None


def _same_source(infos: list[zipfile.ZipInfo], roots: dict[str, str]) -> bool:
    """Whether every ``.py`` file in ``infos`` that the install also holds
    (``roots``: package -> directory holding it) has the zip's size and
    CRC32 there. Files only the zip holds are not compared."""
    for info in infos:
        root = roots.get(info.filename.split("/", 1)[0])
        if root is None or not info.filename.endswith(".py"):
            continue
        try:
            with open(os.path.join(root, info.filename), "rb") as f:
                data = f.read()
        except FileNotFoundError:
            continue
        except OSError:
            return False
        if len(data) != info.file_size or zlib.crc32(data) != info.CRC:
            return False
    return True


def installed_first(path: list[str]) -> list[str]:
    """``path`` with the zips that hold pyspark or py4j moved behind its
    other entries, when those entries hold both packages as regular
    source packages whose ``.py`` files match the zips'; else ``path``.

    The zips are moved, not dropped: a top-level module only they hold
    stays importable.
    """
    zips = {entry: infos for entry in path
            if (infos := _package_zip(entry)) is not None}
    if not zips:
        return path
    rest = [entry for entry in path if entry not in zips]
    roots = {}
    for pkg in PACKAGES:
        spec = PathFinder.find_spec(pkg, rest)
        if spec is None or os.path.basename(spec.origin or "") != "__init__.py":
            return path
        roots[pkg] = os.path.dirname(os.path.dirname(spec.origin))
    if not all(_same_source(infos, roots) for infos in zips.values()):
        return path
    return rest + list(zips)


if __name__ == "__main__":
    sys.path[:] = installed_first(sys.path)
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
