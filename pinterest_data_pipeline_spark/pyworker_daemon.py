"""Python worker daemon with lazy zip-directory invalidation.

``get_spark`` starts Python workers through this module
(``spark.python.daemon.module``) instead of ``pyspark.daemon``. Every
Python task calls ``importlib.invalidate_caches()`` before user code runs
(``pyspark.worker_util.setup_spark_files``). Before CPython 3.13,
``zipimporter.invalidate_caches`` re-reads the archive's central
directory at once, and workers import pyspark from
``$SPARK_HOME/python/lib/pyspark.zip`` through one zipimporter per
package directory (16-17 of them): as many directory reads, ~0.3 s per
task on a 4-vCPU VM. CPython 3.13 made invalidation lazy: the cached
directory is dropped, and the next lookup re-reads it once per archive.
``backport_lazy_zip_invalidation`` gives older Pythons that behaviour;
forked workers inherit it from the daemon.

The backport has a second caller: the package's ``__init__`` applies it
in every reused Python worker (``SPARK_REUSE_WORKER`` set). That reaches
the data-source planner workers, which Spark starts from the stock
``pyspark.daemon``, from their second call on, and UDF workers of a
session that does not set this daemon module. The daemon stays because
it patches UDF workers before their first task, which need not import
the package at all.

Importing this module patches nothing.
"""

from __future__ import annotations

import sys
import zipimport


def _files(self) -> dict:
    try:
        return zipimport._zip_directory_cache[self.archive]
    except KeyError:
        try:
            files = zipimport._read_directory(self.archive)
        except zipimport.ZipImportError:
            return {}
        zipimport._zip_directory_cache[self.archive] = files
        return files


def _invalidate_caches(self) -> None:
    zipimport._zip_directory_cache.pop(self.archive, None)


def backport_lazy_zip_invalidation() -> None:
    """Make ``zipimporter`` read its directory from the shared cache and
    invalidate by dropping the cache entry, as CPython 3.13 does. The
    setter is a no-op: ``__init__`` has already filled the cache."""
    zipimport.zipimporter._files = property(_files, lambda self, value: None)
    zipimport.zipimporter.invalidate_caches = _invalidate_caches


if __name__ == "__main__":
    if sys.version_info < (3, 13):
        backport_lazy_zip_invalidation()
    from pyspark.daemon import manager

    manager()
