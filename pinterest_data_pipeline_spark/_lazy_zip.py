"""CPython 3.13's lazy zip-directory invalidation, for older Pythons.

Every Python task calls ``importlib.invalidate_caches()`` before user
code runs (``pyspark.worker_util.setup_spark_files``). Before CPython
3.13, ``zipimporter.invalidate_caches`` re-reads the archive's central
directory at once, and workers import pyspark from
``$SPARK_HOME/python/lib/pyspark.zip`` through one zipimporter per
package directory (16-17 of them): as many directory reads, ~0.3 s per
task on a 4-vCPU VM. CPython 3.13 made invalidation lazy: the cached
directory is dropped, and the next lookup re-reads it once per archive.

Two callers apply the backport: ``pyworker_daemon`` before it forks
UDF workers, and the package's ``__init__`` in every reused Python
worker. This module sits apart from both so that the package import
does not import ``pyworker_daemon``, which Spark runs as ``__main__``.

Importing this module patches nothing.
"""

from __future__ import annotations

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
