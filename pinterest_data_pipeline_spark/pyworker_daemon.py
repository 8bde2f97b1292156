"""Python worker daemon with lazy zip-directory invalidation.

``get_spark`` starts Python workers through this module
(``spark.python.daemon.module``) instead of ``pyspark.daemon``. On
Python < 3.13 it applies ``_lazy_zip.backport_lazy_zip_invalidation``
(CPython 3.13's lazy invalidation: the per-task
``importlib.invalidate_caches()`` stops re-reading pyspark.zip's
directory once per zipimporter) before it forks any worker, so forked
workers inherit it.

The package's ``__init__`` applies the same backport in every reused
Python worker (``SPARK_REUSE_WORKER`` set). That reaches the
data-source planner workers, which Spark starts from the stock
``pyspark.daemon``, from their second call on, and UDF workers of a
session that does not set this daemon module. The daemon stays because
it patches UDF workers before their first task, which need not import
the package at all.

Importing this module patches nothing.
"""

from __future__ import annotations

import sys

from pinterest_data_pipeline_spark._lazy_zip import backport_lazy_zip_invalidation

if __name__ == "__main__":
    if sys.version_info < (3, 13):
        backport_lazy_zip_invalidation()
    from pyspark.daemon import manager

    manager()
