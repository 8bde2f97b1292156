"""Capture the ``explain("formatted")`` plan of registered queries into
<out_dir>/<name>.txt, so that a refactor can show it is plan-neutral.
Driver-side only (plan compilation; iterative builders may run their
small driver collects).

A query whose construction runs barriers (a checkpoint or a driver
action, e.g. each round of an iterative operator) reads their results as
scanned RDDs, so its own plan hides the code that fed them. The plan of
each barrier's input follows the query's plan, in the order they ran.

Usage: python scripts/capture_plans.py <out_dir> [name ...]
Names default to every registered query.

Expression ids (``#123``), ``plan_id=123``, RDD ids (``RDD[12]``) and
lambda variable suffixes (``lambda x_4``) come from process-wide
counters, and an observed metric's name is a random UUID, so they differ
between two runs of the same code; all five are normalized, and two
captures of the same code then diff empty (``diff -r before after``),
but for a few plans whose Expand/Aggregate column order varies from run
to run. The checkout's own path (state tables under its
``spark-warehouse``) reads ``<repo>``, so two checkouts compare too.
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
    (r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "<uuid>"),
)


_BARRIERS = (
    "localCheckpoint", "checkpoint", "collect", "toPandas", "count",
    "first", "head", "take",
)


def explain(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def record_barrier_inputs(frame_class: type, log: list[str]) -> None:
    """Make every barrier method of ``frame_class`` append its input plan
    to ``log`` first; a barrier called inside another is not recorded."""
    depth = [0]

    def wrap(original):
        def barrier(self, *args, **kwargs):
            if not depth[0]:
                log.append(explain(self))
            depth[0] += 1
            try:
                return original(self, *args, **kwargs)
            finally:
                depth[0] -= 1

        return barrier

    for name in _BARRIERS:
        setattr(frame_class, name, wrap(getattr(frame_class, name)))


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
    barrier_inputs: list[str] = []
    # the session's DataFrame class, which overrides pyspark.sql.DataFrame
    record_barrier_inputs(type(spark.range(0)), barrier_inputs)
    for name in names:
        barrier_inputs.clear()
        try:
            plan = explain(QUERIES[name](spark, SF_DIR))
        except Exception as exc:  # noqa: BLE001
            plan = f"ERROR building plan: {type(exc).__name__}: {exc}"
        for i, barrier_plan in enumerate(barrier_inputs, 1):
            plan += f"\n== barrier input {i} ==\n{barrier_plan}"
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as fh:
            fh.write(normalize(plan))
        print(f"wrote {name}.txt ({len(plan)} bytes)")
    spark.stop()


if __name__ == "__main__":
    main()
