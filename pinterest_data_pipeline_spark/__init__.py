"""pinterest_data_pipeline_spark — a PySpark-native analytics engine.

A brand-new, Spark-first engine with the query and data-processing
capabilities of the reference pipeline (``d4min/pinterest-data-pipeline``,
see SURVEY.md): ingestion sources, cleaning transforms, the five canonical
analytics queries, a generic relational operator surface, a streaming slice,
and large-scale training-data extensions (dedup, similarity search,
multimodal columns, text analysis).

Everything is expressed through the public DataFrame / SQL API so Catalyst
and Tungsten handle optimization and physical execution; no RDD-level or
custom-planner code. Designed for a 1000-executor cluster over ~100 TB:
declared schemas (no inference), broadcast-eligible dimension joins,
partial aggregation, AQE, and compacted outputs.
"""

__version__ = "0.1.0"

import os as _os
import sys as _sys

# Spark sets SPARK_REUSE_WORKER in every reused Python worker (UDF and
# data-source planner workers alike) and never in the driver. Planner
# workers start from the stock pyspark.daemon and import this package when
# they unpickle engine code, so this is where their per-call
# importlib.invalidate_caches() stops re-reading pyspark.zip. The
# backport lives outside pyworker_daemon: the daemon Spark starts as
# ``python -m ...pyworker_daemon`` imports this package first, and runpy
# must not find that module already imported.
if _sys.version_info < (3, 13) and "SPARK_REUSE_WORKER" in _os.environ:
    from pinterest_data_pipeline_spark import _lazy_zip

    _lazy_zip.backport_lazy_zip_invalidation()
