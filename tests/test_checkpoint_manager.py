"""Streaming checkpoints go through Spark's FileSystem checkpoint manager
(``session.get_spark``). The default FileContext manager forks ``readlink``
for every log and state-file rename on the local filesystem; the
FileSystem manager forks none, and a query restarted on its checkpoint
reads the offset and commit logs back through it."""

from __future__ import annotations

import json
import os
from collections import Counter

from pinterest_data_pipeline_spark.operators import cleaning
from pinterest_data_pipeline_spark.schemas import PIN_RAW
from pinterest_data_pipeline_spark.sources import json_landing
from pinterest_data_pipeline_spark.sources.fixtures import generate_raw_rows
from pinterest_data_pipeline_spark.streaming import sinks

ROWS_PER_FILE = 100


def _land_pin_files(land: str, n_files: int, first: int = 0) -> None:
    """Write files ``first`` .. ``n_files - 1`` (at most 3) of one fixture,
    ROWS_PER_FILE rows each, with distinct ``ind`` across files."""
    cols = [f.name for f in PIN_RAW.fields]
    rows = generate_raw_rows(n=3 * ROWS_PER_FILE, seed=11)[0]
    dicts = [dict(zip(cols, r)) for r in rows]
    for i in range(first, n_files):
        json_landing.write_landing_records(
            dicts[i * ROWS_PER_FILE:(i + 1) * ROWS_PER_FILE], land,
            ROWS_PER_FILE, prefix=f"f{i}",
        )


def _run_upsert(spark, land: str, target: str, checkpoint: str):
    """Run the pin upsert stream over everything landed (one file per
    micro-batch), then stop it; returns the stopped query."""
    updates = cleaning.clean_pin(json_landing.read_landing_stream(
        spark, land, PIN_RAW, max_files_per_trigger=1
    ))
    q = sinks.upsert_stream_to_parquet(updates, target, ["ind"], checkpoint)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return q


def _process_starts(spark, run, path: str) -> Counter:
    """Executables the driver JVM forks while ``run()`` runs, counted from
    a JFR recording of ``jdk.ProcessStart`` events made in-process and
    dumped to ``path``."""
    jvm = spark._jvm
    rec = jvm.jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try:
        run()
    finally:
        rec.stop()
    jpath = jvm.java.io.File(path).toPath()
    rec.dump(jpath)
    rec.close()
    events = jvm.jdk.jfr.consumer.RecordingFile.readAllEvents(jpath)
    return Counter(
        os.path.basename(e.getString("command").split()[0]) for e in events
    )


def test_upsert_stream_forks_no_readlink(spark, tmp_path):
    """A 2-batch upsert stream forked {'chmod': 40, 'readlink': 56} with the
    FileContext manager: each rename resolved links through Hadoop's
    ``FileUtil.readLink``. The ``chmod`` forks are Hadoop's
    ``RawLocalFileSystem.setPermission`` without native IO, one per
    created file or directory; the manager change must not add any."""
    land = str(tmp_path / "land")
    _land_pin_files(land, 2)
    forks = _process_starts(spark, lambda: _run_upsert(
        spark, land, str(tmp_path / "pin"), str(tmp_path / "ckpt")
    ), str(tmp_path / "forks.jfr"))
    assert sinks.read_manifest(str(tmp_path / "pin"))["batch_id"] == 1
    assert forks["readlink"] == 0, forks
    assert forks["chmod"] <= 40, forks


def test_upsert_stream_restarts_from_its_checkpoint(spark, tmp_path):
    """Stopped after two files, restarted on the same checkpoint after a
    third lands: the batch ids continue, only the new file is read, and
    the target holds every row once."""
    land, target, ckpt = (str(tmp_path / d) for d in ("land", "pin", "ckpt"))
    _land_pin_files(land, 2)
    _run_upsert(spark, land, target, ckpt)
    assert sinks.read_manifest(target)["batch_id"] == 1

    _land_pin_files(land, 3, first=2)
    q = _run_upsert(spark, land, target, ckpt)
    read = [json.loads(p.json) for p in q.recentProgress if p["numInputRows"]]
    assert [p["batchId"] for p in read] == [2]
    # one file per trigger: the file-source log moves from entry 1 to 2 only
    (source,) = read[0]["sources"]
    assert (source["startOffset"], source["endOffset"]) == (
        {"logOffset": 1}, {"logOffset": 2},
    )
    assert sinks.read_manifest(target)["batch_id"] == 2
    out = sinks.read_target(spark, target)
    assert out.count() == out.select("ind").distinct().count() == 3 * ROWS_PER_FILE
