"""Layer spans recorded from the benchmark's own files, and the Spark event
log parser that turns one traced run into per-layer metrics.

A span is ``(kind, name, op, start, end)`` in epoch seconds. Kinds and the
layer each stands for:

- ``load``      ``sources.parquet.load_table`` (wrapped and rebound in every
                module that imported it)
- ``construct`` a ``plans`` registry builder call
- ``barrier``   ``DataFrame.localCheckpoint/checkpoint/persist/cache``
- ``action``    the Spark action that executes an operation (noop sink)
- ``sink``      a write through ``sources`` (landing write, compaction)
- ``stream``    a ``streaming.sinks`` upsert query run to completion

When tracing is on, every Spark job is tagged with the operation
(``setJobGroup``) and the innermost span kind (local property
``perfbench.phase``), so the event log attributes each job to its layer.
"""

from __future__ import annotations

import json
import statistics
import sys
import time
from collections import defaultdict
from collections.abc import Iterable
from contextlib import contextmanager

PHASE_PROPERTY = "perfbench.phase"
GROUP_PREFIX = "perfbench"
EXEC_KINDS = ("action", "sink", "stream")
BARRIER_METHODS = ("localCheckpoint", "checkpoint", "persist", "cache")
PYTHON_METRICS = {
    "time to start Python workers": "start",
    "time to initialize Python workers": "start",
    "data sent to Python workers": "sent",
    "data returned from Python workers": "returned",
}


class Tracer:
    """Spans and counters of one run. With ``enabled`` false every method
    is a pass-through, so the untraced run pays one Python call per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[tuple[str, str, str, float, float]] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.stream_batches_s: list[float] = []
        self._sc = None
        self._phase: list[str] = []
        self._op = ""

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext

    @contextmanager
    def op(self, tag: str, name: str):
        """One operation of one pass; ``tag`` is ``<pass>:<name>``."""
        self._op = tag
        if self.enabled:
            self._sc.setJobGroup(f"{GROUP_PREFIX}:{tag}", name)
        try:
            with self.span("op", name):
                yield
        finally:
            self._op = ""
            if self.enabled:
                self._sc.setLocalProperty("spark.jobGroup.id", None)

    @contextmanager
    def span(self, kind: str, name: str = ""):
        if not self.enabled:
            yield
            return
        self._phase.append(kind)
        self._sc.setLocalProperty(PHASE_PROPERTY, kind)
        start = time.time()
        try:
            yield
        finally:
            self.spans.append((kind, name, self._op, start, time.time()))
            self._phase.pop()
            self._sc.setLocalProperty(
                PHASE_PROPERTY, self._phase[-1] if self._phase else None
            )


def rebind(original, replacement) -> int:
    """Point every loaded module attribute that is ``original`` at
    ``replacement``; returns how many were rebound."""
    n = 0
    for mod in list(sys.modules.values()):
        for attr, value in list(getattr(mod, "__dict__", {}).items()):
            if value is original:
                setattr(mod, attr, replacement)
                n += 1
    return n


def wrap_load_table(tracer: Tracer, table_rows: dict[str, dict[str, int]]):
    """Wrap ``sources.parquet.load_table`` in a ``load`` span that also
    counts the rows of the table it loads (``table_rows[sf_dir][name]``).
    Call before the plan modules are imported, which bind the name at
    import; returns an ``unwrap`` function that restores the original in
    every module."""
    from pinterest_data_pipeline_spark.sources import parquet

    original = parquet.load_table

    def load_table(spark, sf_dir, name):
        tracer.counters["rows_loaded"] += table_rows.get(sf_dir, {}).get(name, 0)
        with tracer.span("load", name):
            return original(spark, sf_dir, name)

    rebind(original, load_table)
    return lambda: rebind(load_table, original)


def wrap_barriers(tracer: Tracer, dataframe_cls) -> None:
    """Wrap the barrier methods of the concrete DataFrame class in spans."""
    def wrap(method: str):
        original = getattr(dataframe_cls, method)

        def wrapper(self, *args, **kwargs):
            with tracer.span("barrier", method):
                return original(self, *args, **kwargs)

        return wrapper

    for method in BARRIER_METHODS:
        setattr(dataframe_cls, method, wrap(method))


# ----------------------------------------------------------------- event log


def _interesting(line: str) -> bool:
    return line.startswith(
        ('{"Event":"SparkListenerJobStart"', '{"Event":"SparkListenerJobEnd"',
         '{"Event":"SparkListenerTaskEnd"', '{"Event":"SparkListenerStageCompleted"')
    )


def parse_event_log(lines: Iterable[str]) -> dict:
    """Stream-parse an uncompressed Spark event log into jobs, stage→job and
    per-task metrics. Lines of other event types are skipped unparsed."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    completed_stages: set[tuple[int, int]] = set()
    for line in lines:
        if not _interesting(line):
            continue
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            jobs[jid] = {
                "id": jid,
                "submit": ev["Submission Time"] / 1000,
                "end": None,
                "group": props.get("spark.jobGroup.id") or "",
                "phase": props.get(PHASE_PROPERTY),
            }
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            completed_stages.add((info["Stage ID"], info.get("Stage Attempt ID", 0)))
        else:
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            inp = m.get("Input Metrics") or {}
            python = defaultdict(float)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                key = PYTHON_METRICS.get(acc.get("Name"))
                if key is not None:
                    python[key] += float(acc.get("Update") or 0)
            tasks.append({
                "stage": ev["Stage ID"],
                "stage_attempt": ev.get("Stage Attempt ID", 0),
                "run_ms": m.get("Executor Run Time", 0),
                "cpu_ns": m.get("Executor CPU Time", 0),
                "gc_ms": m.get("JVM GC Time", 0),
                "spill": m.get("Disk Bytes Spilled", 0),
                "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                "fetch_wait_ms": sr.get("Fetch Wait Time", 0),
                "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                "records": inp.get("Records Read", 0) + sr.get("Total Records Read", 0),
                "python": dict(python),
            })
    return {"jobs": jobs, "stage_job": stage_job, "tasks": tasks,
            "stages": completed_stages}


def _innermost(spans: list[tuple], t: float) -> tuple | None:
    best = None
    for s in spans:
        if s[3] <= t <= s[4] and (best is None or s[3] >= best[3]):
            best = s
    return best


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def layer_metrics(log: dict, spans: list[tuple], timed: set[str], passes: int) -> dict:
    """Per-layer metrics of the timed passes, per pass.

    ``spans`` come from :class:`Tracer`; ``timed`` holds the op tags of the
    timed passes. A job belongs to the timed passes when its job group is a
    timed tag, or (for jobs Spark starts on its own threads, e.g. streaming
    micro-batches) when it was submitted inside a timed op span. Its layer
    is its ``perfbench.phase`` property, else the innermost span by time.
    """
    timed_spans = [s for s in spans if s[2] in timed]
    op_spans = [s for s in timed_spans if s[0] == "op"]
    jobs = []
    for job in log["jobs"].values():
        tag = job["group"].split(":", 1)[1] if job["group"].startswith(GROUP_PREFIX + ":") else None
        if tag is None:
            owner = _innermost(op_spans, job["submit"])
            if owner is None:
                continue
            tag = owner[2]
        if tag not in timed:
            continue
        phase = job["phase"]
        if phase is None:
            inner = _innermost([s for s in timed_spans if s[2] == tag], job["submit"])
            phase = inner[0] if inner else "op"
        jobs.append({**job, "phase": phase})
    job_ids = {j["id"] for j in jobs}
    stages = {sid for sid, jid in log["stage_job"].items() if jid in job_ids}
    tasks = [t for t in log["tasks"] if t["stage"] in stages]

    def seconds(kind: str) -> float:
        return sum(s[4] - s[3] for s in timed_spans if s[0] == kind)

    def count(kind: str) -> int:
        return sum(1 for s in timed_spans if s[0] == kind)

    def jobs_in(*phases: str) -> int:
        return sum(1 for j in jobs if j["phase"] in phases)

    gap = 0.0
    for s in timed_spans:
        if s[0] in EXEC_KINDS:
            inside = [
                (max(j["submit"], s[3]), min(j["end"] or s[4], s[4]))
                for j in jobs if j["submit"] <= s[4] and (j["end"] or s[4]) >= s[3]
            ]
            gap += max(0.0, (s[4] - s[3]) - _union_length(inside))

    by_stage: dict[tuple[int, int], list[float]] = defaultdict(list)
    for t in tasks:
        by_stage[(t["stage"], t["stage_attempt"])].append(t["run_ms"])
    skews = [
        max(v) / statistics.median(v)
        for v in by_stage.values() if len(v) >= 2 and statistics.median(v) > 0
    ]
    python = defaultdict(float)
    for t in tasks:
        for k, v in t["python"].items():
            python[k] += v
    # Spark reports worker run time for Python UDFs but not for Python data
    # source scans, so take the run time of every task that moved data
    # through a Python worker.
    python_task_ms = sum(t["run_ms"] for t in tasks if t["python"].get("sent")
                         or t["python"].get("returned"))
    load_s = seconds("load")
    construct_s = seconds("construct")
    p = max(1, passes)
    return {
        "sources.load_calls": count("load") / p,
        "sources.load_s": load_s / p,
        "sources.load_jobs": jobs_in("load") / p,
        "plans.construct_s": construct_s / p,
        "plans.construct_jobs": jobs_in("construct", "barrier") / p,
        "plans.construct_nonload_s": (construct_s - load_s) / p,
        "operators.barriers": count("barrier") / p,
        "operators.barrier_s": seconds("barrier") / p,
        "exec.action_s": sum(seconds(k) for k in EXEC_KINDS) / p,
        "exec.jobs": len(jobs) / p,
        "exec.stages": sum(1 for s in log["stages"] if s[0] in stages) / p,
        "exec.tasks": len(tasks) / p,
        "exec.empty_task_frac": (
            sum(1 for t in tasks if t["records"] == 0) / len(tasks) if tasks else 0.0
        ),
        "exec.driver_gap_s": gap / p,
        "exec.executor_run_s": sum(t["run_ms"] for t in tasks) / 1e3 / p,
        "exec.executor_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9 / p,
        "exec.gc_s": sum(t["gc_ms"] for t in tasks) / 1e3 / p,
        "exec.shuffle_read_bytes": sum(t["shuffle_read"] for t in tasks) / p,
        "exec.shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks) / p,
        "exec.fetch_wait_s": sum(t["fetch_wait_ms"] for t in tasks) / 1e3 / p,
        "exec.spill_bytes": sum(t["spill"] for t in tasks) / p,
        "exec.task_skew": max(skews, default=1.0),
        "python.start_s": python["start"] / 1e3 / p,
        "python.run_s": python_task_ms / 1e3 / p,
        "python.bytes_sent": python["sent"] / p,
        "python.bytes_returned": python["returned"] / p,
    }
