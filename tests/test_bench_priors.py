"""bench.py prior-scavenging: the 2×-regression re-run check depends on
recovering per-query timings from the driver's TRUNCATED BENCH_r*.json
tails and from the full local record; pin both paths."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from bench import load_prior_timings

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_recovers_from_truncated_driver_tail(tmp_path):
    # the driver record: our JSON line cut mid-key and embedded as a
    # STRING value (so its quotes are escaped in the raw file bytes —
    # json.dumps below produces exactly the real escaping)
    (tmp_path / "BENCH_r01.json").write_text(json.dumps({
        "n": 1, "rc": 0, "sf": 0.1, "parsed": None,
        "tail": 'r_year": 0.2148, "alpha": 0.5, "beta": 1.25, "sf": 0.1}',
    }))
    assert '\\"alpha\\"' in (tmp_path / "BENCH_r01.json").read_text()
    prior = load_prior_timings(
        str(tmp_path), {"alpha", "beta", "gamma"}, "bench_last_sf0.1.json"
    )
    assert prior == {"alpha": 0.5, "beta": 1.25}  # sf/partial keys excluded


def test_local_record_overrides_older_rounds(tmp_path):
    (tmp_path / "BENCH_r01.json").write_text('{"tail": "\\"alpha\\": 9.0"}')
    (tmp_path / "bench_last_sf0.1.json").write_text(
        json.dumps({"queries": {"alpha": 0.4, "gamma": 2.0}, "value": 3.3})
    )
    prior = load_prior_timings(
        str(tmp_path), {"alpha", "gamma"}, "bench_last_sf0.1.json"
    )
    assert prior == {"alpha": 0.4, "gamma": 2.0}


def test_missing_files_are_fine(tmp_path):
    assert load_prior_timings(str(tmp_path), {"x"}, "nope.json") == {}


def test_fold_keeps_per_query_min_of_registered_queries(tmp_path):
    record = {"queries": {"alpha": 0.4, "beta": 2.0, "gone": 5.0}}
    fresh = {"queries": {"alpha": 0.9, "beta": 1.5, "new": 0.3}, "sf": 0.1}
    (tmp_path / "fresh.json").write_text(json.dumps(fresh))
    (tmp_path / "record.json").write_text(json.dumps(record))
    subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "scripts", "fold_bench_min.py"),
            str(tmp_path / "fresh.json"),
            str(tmp_path / "record.json"),
        ],
        check=True,
        capture_output=True,
    )
    merged = json.loads((tmp_path / "record.json").read_text())
    # "gone" was deregistered: it leaves the priors instead of lingering
    assert merged["queries"] == {"alpha": 0.4, "beta": 1.5, "new": 0.3}
    assert merged["value"] == round(sum(merged["queries"].values()), 4)
