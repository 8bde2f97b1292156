"""Python workers start from ``pyworker_daemon``: the per-task
``importlib.invalidate_caches()`` must not re-read zip directories (on
Python < 3.13 that is 17 reads of pyspark.zip per task), and a zip that
changes on disk must still import its new modules after invalidation."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


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
