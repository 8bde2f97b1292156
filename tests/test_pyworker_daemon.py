"""Python workers start from ``pyworker_daemon``: the per-task
``importlib.invalidate_caches()`` must not re-read zip directories (on
Python < 3.13 that is 17 reads of pyspark.zip per task), and a zip that
changes on disk must still import its new modules after invalidation.
Data-source planner workers start from the stock ``pyspark.daemon``;
importing the package inside a reused worker patches them too."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: where ``zipimporter.invalidate_caches`` comes from once patched
PATCHED = (
    "pinterest_data_pipeline_spark._lazy_zip"
    if sys.version_info < (3, 13) else "zipimport"
)


def test_worker_invalidate_caches_reads_no_zip_directory(spark):
    def count_reads(batches):
        import importlib
        import zipimport

        import pyarrow as pa

        read = zipimport._read_directory
        calls = []

        def counted(path):
            calls.append(path)
            return read(path)

        zipimport._read_directory = counted
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"reads": [len(calls)]})

    rows = spark.range(1, numPartitions=1).mapInArrow(count_reads, "reads long").collect()
    assert [r.reads for r in rows] == [0]


def test_backport_still_sees_modules_added_to_a_zip(tmp_path):
    code = textwrap.dedent("""
        import importlib, sys, zipfile
        from pinterest_data_pipeline_spark.pyworker_daemon import (
            backport_lazy_zip_invalidation,
        )

        backport_lazy_zip_invalidation()
        path = sys.argv[1]
        with zipfile.ZipFile(path, "w") as z:
            z.writestr("mod_a.py", "A = 1\\n")
            z.writestr("pkg/__init__.py", "")
        sys.path.insert(0, path)
        import mod_a, pkg
        with zipfile.ZipFile(path, "a") as z:
            z.writestr("mod_b.py", "B = 2\\n")
            z.writestr("pkg/sub.py", "C = 3\\n")
        importlib.invalidate_caches()
        import mod_b, pkg.sub
        print(mod_a.A + mod_b.B + pkg.sub.C)
    """)
    out = subprocess.run(
        [sys.executable, "-c", code, str(tmp_path / "lib.zip")],
        cwd=REPO, capture_output=True, text=True, timeout=60,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "6"


def test_reused_planner_worker_reads_no_zip_directory(spark):
    """``partitions()`` runs in a reused ``plan_data_source_read`` worker.
    It imports the package, as unpickling engine code does, and reports
    the ``_read_directory`` calls made since its previous call in that
    worker (-1 on the first). The source is defined here, so it pickles
    by value and its worker never imports the package for it."""
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    class ZipReadProbeReader(DataSourceReader):
        def partitions(self):
            import zipimport

            import pinterest_data_pipeline_spark  # noqa: F401

            counter = getattr(zipimport, "_probe_reads", None)
            if counter is None:
                read = zipimport._read_directory
                counter = zipimport._probe_reads = [0]

                def counted(path):
                    counter[0] += 1
                    return read(path)

                zipimport._read_directory = counted
                reads = -1
            else:
                reads, counter[0] = counter[0], 0
            return [InputPartition(reads)]

        def read(self, partition):
            yield (partition.value,)

    class ZipReadProbe(DataSource):
        @classmethod
        def name(cls):
            return "zip_read_probe"

        def schema(self):
            return "reads long"

        def reader(self, schema):
            return ZipReadProbeReader()

    spark.dataSource.register(ZipReadProbe)
    reads = [
        spark.read.format("zip_read_probe").load().collect()[0].reads
        for _ in range(4)
    ]
    assert reads[1:] == [0, 0, 0], reads


def _invalidate_caches_module(env: dict) -> str:
    out = subprocess.run(
        [sys.executable, "-c", (
            "import zipimport, pinterest_data_pipeline_spark; "
            "print(zipimport.zipimporter.invalidate_caches.__module__)"
        )],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=60,
    )
    assert out.returncode == 0, out.stderr
    return out.stdout.strip()


def test_package_import_patches_only_reused_workers():
    env = {k: v for k, v in os.environ.items() if k != "SPARK_REUSE_WORKER"}
    assert _invalidate_caches_module(env) == "zipimport"
    assert _invalidate_caches_module({**env, "SPARK_REUSE_WORKER": "1"}) == PATCHED


def test_package_import_leaves_the_daemon_module_unimported():
    """Spark runs the daemon as ``python -m ...pyworker_daemon``, which
    imports the package first with ``SPARK_REUSE_WORKER`` set: had that
    import loaded the daemon module, runpy would execute it a second
    time and warn. Running the module the same way must print no
    warning, and the package import alone must still patch."""
    env = {**os.environ, "SPARK_REUSE_WORKER": "1"}
    out = subprocess.run(
        [sys.executable, "-c", (
            "import sys, zipimport, pinterest_data_pipeline_spark; "
            "print('pinterest_data_pipeline_spark.pyworker_daemon' in sys.modules, "
            "zipimport.zipimporter.invalidate_caches.__module__)"
        )],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=60,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.split() == ["False", PATCHED]

    # pyspark.daemon's manager writes its port (4 bytes) to stdout, then
    # exits as soon as it reads EOF on stdin
    run = subprocess.run(
        [sys.executable, "-m", "pinterest_data_pipeline_spark.pyworker_daemon"],
        cwd=REPO, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        timeout=60,
    )
    assert len(run.stdout) == 4, run.stderr
    assert b"RuntimeWarning" not in run.stderr, run.stderr
