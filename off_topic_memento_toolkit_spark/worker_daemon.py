"""Python worker daemon that imports pyspark from outside Spark's archives.

Spark starts the executor's Python daemon with its own archives first on
``sys.path``: ``$SPARK_HOME/python/lib/pyspark.zip``, the py4j source zip
and the spark-core jar.  Every task then calls
``importlib.invalidate_caches()`` (``pyspark.worker_util.setup_spark_files``),
and under Python 3.11 each cached ``zipimporter`` re-reads its archive's
directory: 16 importers, 110-210 ms per task on a 4-core box.

When the pyspark and py4j found on the rest of the path are the archives'
own versions, this module drops the archives from ``sys.path`` and their
importers from ``sys.path_importer_cache``, then runs Spark's daemon, whose
workers inherit the shorter path.  Otherwise it changes nothing.  It imports
nothing from pyspark before that choice, so ``session.get_spark`` names it
as ``spark.python.daemon.module``.
"""

import os
import re
import sys
import zipfile
import zipimport
from importlib.machinery import PathFinder

_VERSION = re.compile(r"""__version__\s*(?::\s*str\s*)?=\s*["']([^"']+)""")
_SPARK_PACKAGES = {"pyspark", "py4j"}


def _version(source):
    match = _VERSION.search(source)
    return match.group(1) if match else None


def _spark_archives(path):
    """The entries of ``path`` that are Spark's archives: zip files whose
    Python sources, if any, all belong to pyspark or py4j.  Empty unless
    every such package is also found on the rest of ``path`` with the
    archive's version."""
    archives, versions = [], {}
    for entry in path:
        if not zipfile.is_zipfile(entry):
            continue
        with zipfile.ZipFile(entry) as archive:
            packages = {name.split("/", 1)[0]
                        for name in archive.namelist() if name.endswith(".py")}
            if not packages <= _SPARK_PACKAGES:
                continue
            for package in packages:
                try:
                    versions[package] = _version(
                        archive.read(f"{package}/version.py").decode())
                except KeyError:
                    return []
        archives.append(entry)
    rest = [entry for entry in path if entry not in archives]
    for package, version in versions.items():
        spec = PathFinder.find_spec(package, rest)
        if version is None or spec is None \
                or not spec.submodule_search_locations:
            return []
        try:
            with open(os.path.join(spec.submodule_search_locations[0],
                                   "version.py")) as fh:
                installed = _version(fh.read())
        except OSError:
            return []
        if installed != version:
            return []
    return archives


def drop_spark_archives():
    """Remove Spark's archives from ``sys.path`` and evict their importers
    (the archive's own and its package subpaths') from
    ``sys.path_importer_cache``; returns the archives removed."""
    archives = _spark_archives(sys.path)
    if archives:
        sys.path[:] = [entry for entry in sys.path if entry not in archives]
        for key, finder in list(sys.path_importer_cache.items()):
            if isinstance(finder, zipimport.zipimporter) \
                    and finder.archive in archives:
                del sys.path_importer_cache[key]
    return archives


if __name__ == "__main__":
    drop_spark_archives()
    from pyspark.daemon import manager

    manager()
