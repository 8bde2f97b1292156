"""Self-tests of the benchmark harness: event-log parser, fingerprints,
seeded inputs and metric naming. No Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime as dt
import json
import os
import re
import sys
from decimal import Decimal

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import datagen  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
from fingerprint import fingerprint, normalize, same_rows  # noqa: E402


# ------------------------------------------------------------- event log


def _job_start(jid, t_ms, stages, group=None, phase=None):
    props = {}
    if group is not None:
        props["spark.jobGroup.id"] = group
    if phase is not None:
        props[tracing.PHASE_PROPERTY] = phase
    return {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t_ms,
            "Stage IDs": stages, "Properties": props}


def _task_end(stage, run_ms, records, python=()):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
        "Task Info": {"Accumulables": [{"Name": n, "Update": str(v)} for n, v in python]},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": run_ms * 1_000_000,
            "JVM GC Time": 1, "Disk Bytes Spilled": 0,
            "Shuffle Read Metrics": {"Remote Bytes Read": 10, "Local Bytes Read": 5,
                                     "Fetch Wait Time": 2, "Total Records Read": 0},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 7},
            "Input Metrics": {"Records Read": records},
        },
    }


def _log_lines(events):
    return [json.dumps(e, separators=(",", ":")) + "\n" for e in events]


def _sample_log():
    events = [
        {"Event": "SparkListenerApplicationStart", "App Name": "x"},
        # warm pass job (tag 0:q) — excluded
        _job_start(0, 500, [0], "perfbench:0:q", "action"),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 600},
        # timed pass: one load job, one action job
        _job_start(1, 1_100, [1], "perfbench:1:q", "load"),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1_200},
        _job_start(2, 2_100, [2], "perfbench:1:q", "action"),
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 2_600},
        # untagged job inside the timed op span (e.g. a streaming batch)
        _job_start(3, 2_700, [3]),
        {"Event": "SparkListenerJobEnd", "Job ID": 3, "Completion Time": 2_800},
        _task_end(0, 50, 0),
        _task_end(1, 40, 100),
        _task_end(2, 100, 10, [("time to initialize Python workers", 30),
                               ("data sent to Python workers", 64)]),
        _task_end(2, 300, 0),
        _task_end(3, 20, 5),
    ]
    for sid in range(4):
        events.append({"Event": "SparkListenerStageCompleted",
                       "Stage Info": {"Stage ID": sid, "Stage Attempt ID": 0}})
    return _log_lines(events)


def _sample_spans():
    return [
        ("op", "q", "0:q", 0.4, 0.7),
        ("action", "q", "0:q", 0.45, 0.7),
        ("op", "q", "1:q", 1.0, 3.0),
        ("construct", "q", "1:q", 1.0, 2.0),
        ("load", "t", "1:q", 1.05, 1.25),
        ("action", "q", "1:q", 2.0, 3.0),
    ]


def test_parser_skips_other_events_and_reads_jobs_and_tasks():
    log = tracing.parse_event_log(_sample_log())
    assert sorted(log["jobs"]) == [0, 1, 2, 3]
    assert log["jobs"][1]["group"] == "perfbench:1:q"
    assert log["jobs"][1]["phase"] == "load"
    assert log["jobs"][2]["end"] == pytest.approx(2.6)
    assert log["stage_job"] == {0: 0, 1: 1, 2: 2, 3: 3}
    assert len(log["tasks"]) == 5
    assert log["tasks"][2]["python"] == {"start": 30.0, "sent": 64.0}


def test_layer_metrics_attribute_jobs_to_timed_ops_and_phases():
    log = tracing.parse_event_log(_sample_log())
    m = tracing.layer_metrics(log, _sample_spans(), {"1:q"}, passes=1)
    assert m["exec.jobs"] == 3  # jobs 1, 2 and the untagged job 3
    assert m["sources.load_calls"] == 1
    assert m["sources.load_jobs"] == 1
    assert m["sources.load_s"] == pytest.approx(0.2)
    assert m["plans.construct_s"] == pytest.approx(1.0)
    assert m["plans.construct_nonload_s"] == pytest.approx(0.8)
    assert m["plans.construct_jobs"] == 0
    assert m["exec.tasks"] == 4
    assert m["exec.stages"] == 3
    assert m["exec.empty_task_frac"] == pytest.approx(0.25)
    assert m["exec.executor_run_s"] == pytest.approx(0.46)
    assert m["exec.shuffle_read_bytes"] == 60
    assert m["exec.task_skew"] == pytest.approx(300 / 200)
    assert m["python.start_s"] == pytest.approx(0.03)
    assert m["python.run_s"] == pytest.approx(0.1)  # the one task that fed Python
    assert m["python.bytes_sent"] == 64
    # action span 2.0–3.0 s holds jobs 2 (2.1–2.6) and 3 (2.7–2.8)
    assert m["exec.driver_gap_s"] == pytest.approx(0.4)


def test_layer_metrics_are_per_pass():
    log = tracing.parse_event_log(_sample_log())
    one = tracing.layer_metrics(log, _sample_spans(), {"1:q"}, passes=1)
    two = tracing.layer_metrics(log, _sample_spans(), {"1:q"}, passes=2)
    assert two["exec.jobs"] == one["exec.jobs"] / 2
    assert two["exec.task_skew"] == one["exec.task_skew"]


def test_union_length_merges_overlaps():
    assert tracing._union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert tracing._union_length([]) == 0


# ----------------------------------------------------------- fingerprint


def test_fingerprint_ignores_row_order_and_column_order():
    a = normalize(["x", "y"], [(1, "a"), (2, "b")])
    b = normalize(["y", "x"], [("b", 2), ("a", 1)])
    assert a == b
    assert fingerprint(a) == fingerprint(b)
    assert fingerprint(a)[0] == 2


def test_fingerprint_detects_a_changed_value():
    a = normalize(["x"], [(1,), (2,)])
    b = normalize(["x"], [(1,), (3,)])
    assert fingerprint(a) != fingerprint(b)
    assert not same_rows(a, b)


def test_same_rows_tolerates_float_noise_only():
    a = normalize(["v"], [(0.1 + 0.2,)])
    b = normalize(["v"], [(0.3,)])
    assert same_rows(a, b)
    assert not same_rows(a, normalize(["v"], [(0.3001,)]))


def test_spark_and_duckdb_shapes_normalize_alike():
    class Row(tuple):  # stands in for pyspark.sql.Row
        def asDict(self):
            return {"k": self[0], "v": self[1]}

    spark_side = normalize(
        ["s", "d", "ts", "arr"],
        [(Row((1, 2.5)), 3.0, dt.datetime(2024, 1, 1, 12), [1, 2])],
    )
    duck_side = normalize(
        ["arr", "d", "s", "ts"],
        [([1, 2], Decimal("3.00"), {"v": 2.5, "k": 1}, dt.datetime(2024, 1, 1, 12))],
    )
    assert same_rows(spark_side, duck_side)


def test_nan_and_none_are_values():
    a = normalize(["v"], [(float("nan"),), (None,)])
    b = normalize(["v"], [(None,), (float("nan"),)])
    assert same_rows(a, b)


# ------------------------------------------------------- seeded inputs


def test_datagen_is_deterministic_per_seed():
    a, b = datagen.build_tables(3, 0.001), datagen.build_tables(3, 0.001)
    assert all(a[k].equals(b[k]) for k in a)
    c = datagen.build_tables(4, 0.001)
    assert not a["lineitem"].equals(c["lineitem"])


def test_datagen_matches_declared_schemas():
    from pinterest_data_pipeline_spark.schemas import TESTDATA_SCHEMAS

    tables = datagen.build_tables(1, 0.001)
    assert set(tables) == set(TESTDATA_SCHEMAS)
    for name, schema in TESTDATA_SCHEMAS.items():
        assert tables[name].column_names == [f.name for f in schema.fields], name
        assert tables[name].num_rows == datagen.table_sizes(0.001)[name]


# ------------------------------------------------------- metric naming

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_reported_metrics_match_benchmark_json():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


def test_metric_names_and_units_are_well_formed():
    spec = _spec()
    names = [m["name"] for k in ("end_to_end", "per_layer") for m in spec[k]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    assert all(UNIT.match(m["unit"]) for k in ("end_to_end", "per_layer") for m in spec[k])
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values()) <= 0.25


def test_layer_metrics_cover_every_traced_name():
    log = tracing.parse_event_log(_sample_log())
    from_events = set(tracing.layer_metrics(log, _sample_spans(), {"1:q"}, 1))
    from_run = {
        "session.start_s", "session.warmup_s", "setup.warm_pass_s", "trace.workload_s",
        "trace.op_p50_s", "host.probe_s",
        "sinks.write_s", "sinks.bytes_written", "sinks.files_written",
        "sinks.bytes_per_input_byte", "streaming.batches", "streaming.batch_p50_s",
    }
    assert from_events | from_run == set(run.PER_LAYER)
    assert not from_events & from_run
