"""Python worker daemon that does not re-read Spark's own archives per task.

``get_spark`` sets ``spark.python.daemon.module`` to this module, so Spark
starts its worker daemon as ``python -m mcp_crawl4ai_rag_spark.worker_daemon
pyspark.worker``. (``spark.python.worker.module`` would not do:
``pyspark/daemon.py`` imports a worker module only if its name starts with
``pyspark``.)

Every task begins in ``pyspark.worker_util.setup_spark_files``, which ends
with ``importlib.invalidate_caches()``. On CPython 3.11 that makes every
``zipimporter`` re-read the whole directory of its archive: about a dozen
importers over ``pyspark.zip`` (1.3k entries), two over the spark-core jar
(5.4k entries) and the py4j zip, 0.25 s or more of every task.

Before the daemon forks its workers, ``main`` swaps ``worker_util``'s
``importlib`` for ``ArchiveKeepingImportlib``. Its ``invalidate_caches``
does what CPython's ``importlib.invalidate_caches`` and
``PathFinder.invalidate_caches`` do, except that it skips each
``zipimporter`` whose archive (by realpath) was on ``sys.path`` when the
daemon started. Those archives do not change while the daemon lives, and an
archive added later (``SparkContext.addPyFile``) is still re-read, so no
import resolves differently.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport
from importlib._bootstrap_external import _NamespacePath
from importlib.machinery import PathFinder


class ArchiveKeepingImportlib:
    """Stands in for the ``importlib`` module inside ``worker_util``."""

    def __init__(self, startup_archives: frozenset):
        self.startup_archives = startup_archives
        self._kept: dict = {}  # zipimporter.archive -> realpath in startup_archives

    def __getattr__(self, name):
        return getattr(importlib, name)

    def invalidate_caches(self) -> None:
        for finder in sys.meta_path:
            if finder is PathFinder:
                self._invalidate_path_finders()
            elif hasattr(finder, "invalidate_caches"):
                finder.invalidate_caches()

    def _invalidate_path_finders(self) -> None:
        # PathFinder.invalidate_caches, less the startup archives
        for name, finder in list(sys.path_importer_cache.items()):
            if finder is None or not os.path.isabs(name):
                del sys.path_importer_cache[name]
            elif isinstance(finder, zipimport.zipimporter) and self._keeps(finder.archive):
                continue
            elif hasattr(finder, "invalidate_caches"):
                finder.invalidate_caches()
        _NamespacePath._epoch += 1

    def _keeps(self, archive: str) -> bool:
        if archive not in self._kept:
            self._kept[archive] = os.path.realpath(archive) in self.startup_archives
        return self._kept[archive]


def startup_archives() -> frozenset:
    """Realpaths of the archive files on ``sys.path``."""
    return frozenset(os.path.realpath(p) for p in sys.path if os.path.isfile(p))


def main() -> None:
    from pyspark import daemon, worker_util

    worker_util.importlib = ArchiveKeepingImportlib(startup_archives())
    daemon.manager()


if __name__ == "__main__":
    main()
