"""Capture the ``explain("formatted")`` plan of registered queries into
<out_dir>/<name>.txt, so that a refactor can show it is plan-neutral.
Driver-side only (plan compilation; iterative builders may run their
small driver collects).

Usage: python scripts/capture_plans.py <out_dir> [name ...]
Names default to every registered query.

Expression ids (``#123``), ``plan_id=123``, RDD ids (``RDD[12]``) and
lambda variable suffixes (``lambda x_4``) come from process-wide
counters, so they differ between two runs of the same code; all four are
normalized, and two captures of the same code then diff empty
(``diff -r before after``). The checkout's own path (state tables under
its ``spark-warehouse``) reads ``<repo>``, so two checkouts compare too.
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entry_mod  # noqa: F401  (populates registry)
from pinterest_data_pipeline_spark.plans.registry import QUERIES
from pinterest_data_pipeline_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


_COUNTERS = (
    (r"#\d+", "#N"),
    (r"plan_id=\d+", "plan_id=N"),
    (r"RDD\[\d+\]", "RDD[N]"),
    (r"lambda (\w+?)_\d+", r"lambda \1_N"),
)


def normalize(plan: str) -> str:
    plan = plan.replace(REPO, "<repo>")
    for pattern, repl in _COUNTERS:
        plan = re.sub(pattern, repl, plan)
    return plan


def main() -> None:
    out_dir = sys.argv[1]
    names = sys.argv[2:] or sorted(QUERIES)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="plan-capture")
    from pinterest_data_pipeline_spark.plans.staged_round6 import (
        ensure_embedding_band_state,
    )

    ensure_embedding_band_state(spark, SF_DIR)
    for name in names:
        try:
            df = QUERIES[name](spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # noqa: BLE001
            plan = f"ERROR building plan: {type(exc).__name__}: {exc}"
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as fh:
            fh.write(normalize(plan))
        print(f"wrote {name}.txt ({len(plan)} bytes)")
    spark.stop()


if __name__ == "__main__":
    main()
