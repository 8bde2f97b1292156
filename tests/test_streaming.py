"""Streaming slice tests: batch-vs-stream equality, watermark late-data
drop, within-watermark dedup, landing compaction."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from pinterest_data_pipeline_spark.schemas import GEO_RAW, PIN_RAW, USER_RAW
from pinterest_data_pipeline_spark.operators import cleaning
from pinterest_data_pipeline_spark.sources import json_landing
from pinterest_data_pipeline_spark.sources.fixtures import generate_raw_rows
from pinterest_data_pipeline_spark.streaming import clean_stream, windows


def _has_protobuf() -> bool:
    try:
        from google.protobuf import descriptor  # noqa: F401
        return True
    except ImportError:
        return False

_SCHEMAS = {"pin": PIN_RAW, "geo": GEO_RAW, "user": USER_RAW}
_CLEANERS = {
    "pin": cleaning.clean_pin,
    "geo": cleaning.clean_geo,
    "user": cleaning.clean_user,
}


@pytest.fixture(scope="module")
def landing_dirs(tmp_path_factory):
    """Raw fixture rows serialized as a flush.size=1-style landing zone
    (FIXTURES.md §A.5): one JSON object per file for the first 40 rows,
    the rest batched — both layouts must read identically."""
    base = tmp_path_factory.mktemp("landing")
    pin_rows, geo_rows, user_rows = generate_raw_rows(n=300, seed=100)
    dirs = {}
    for name, rows in [("pin", pin_rows), ("geo", geo_rows), ("user", user_rows)]:
        cols = [f.name for f in _SCHEMAS[name].fields]
        dicts = [dict(zip(cols, r)) for r in rows]
        d = str(base / name)
        json_landing.write_landing_records(dicts[:40], d, records_per_file=1)
        json_landing.write_landing_records(
            dicts[40:], d, records_per_file=100, prefix="bulk"
        )
        dirs[name] = d
    return dirs


@pytest.mark.parametrize("topic", ["pin", "geo", "user"])
def test_stream_equals_batch_clean(spark, landing_dirs, topic):
    """Stateless transforms ⇒ streamed cleaned rows == batch-cleaned rows
    (SURVEY.md §5.3)."""
    q = clean_stream.clean_stream_to_memory(
        spark, topic, landing_dirs[topic], f"stream_{topic}"
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    streamed = spark.sql(f"SELECT * FROM stream_{topic}").collect()
    batch = _CLEANERS[topic](
        json_landing.read_landing_json(spark, landing_dirs[topic], _SCHEMAS[topic])
    ).collect()
    key = lambda r: tuple(str(v) for v in r)
    assert sorted(map(key, streamed)) == sorted(map(key, batch))
    assert len(batch) == 300


def test_checkpointed_parquet_sink(spark, landing_dirs, tmp_path):
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = clean_stream.clean_stream(spark, "geo", landing_dirs["geo"], out, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.read.parquet(out)
    assert got.count() == 300
    assert set(got.columns) == {"ind", "country", "coordinates", "timestamp"}
    assert os.path.isdir(ckpt)


def test_watermark_drops_late_data(spark, tmp_path):
    """Append-mode tumbling counts with a 10-minute watermark: a row
    arriving after its window passed the watermark is discarded."""
    land = str(tmp_path / "events_land")
    os.makedirs(land)

    def write(name, rows):
        json_landing.write_landing_records(rows, os.path.join(land, name), 100)

    # batch 1: three rows in the 10:00 window, one at 13:00 (advances
    # the watermark far past 11:00, finalizing the 10:00 window).
    write("b1", [
        {"event_id": 1, "ts": "2024-01-01 10:00:00", "user_id": 1, "event_type": "view", "value": 1.0, "props": "{}"},
        {"event_id": 2, "ts": "2024-01-01 10:10:00", "user_id": 1, "event_type": "view", "value": 1.0, "props": "{}"},
        {"event_id": 3, "ts": "2024-01-01 10:20:00", "user_id": 2, "event_type": "view", "value": 1.0, "props": "{}"},
        {"event_id": 4, "ts": "2024-01-01 13:00:00", "user_id": 3, "event_type": "view", "value": 1.0, "props": "{}"},
    ])
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ])
    stream = json_landing.read_landing_stream(
        spark, os.path.join(land, "*"), schema, max_files_per_trigger=1
    )
    agg = windows.tumbling_counts(
        stream, "ts", ["event_type"], watermark="10 minutes"
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("wm_counts")
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: a LATE row for the already-finalized 10:00 window, plus
        # a 15:00 row to advance the watermark again.
        write("b2", [
            {"event_id": 5, "ts": "2024-01-01 10:30:00", "user_id": 9, "event_type": "view", "value": 1.0, "props": "{}"},
            {"event_id": 6, "ts": "2024-01-01 15:00:00", "user_id": 9, "event_type": "view", "value": 1.0, "props": "{}"},
        ])
        q.processAllAvailable()
    finally:
        q.stop()
    rows = {
        (str(r["window_start"]), r["n"])
        for r in spark.sql("SELECT * FROM wm_counts").collect()
    }
    # the 10:00 window emitted exactly once, with the pre-watermark count
    ten_oclock = [r for r in rows if r[0].startswith("2024-01-01 10:")]
    assert ten_oclock == [("2024-01-01 10:00:00", 3)], rows


def test_stream_dedup_within_watermark(spark, tmp_path):
    land = str(tmp_path / "dedup_land")
    json_landing.write_landing_records(
        [
            {"event_id": 1, "ts": "2024-01-01 10:00:00", "user_id": 1, "event_type": "a", "value": 1.0, "props": "{}"},
            {"event_id": 1, "ts": "2024-01-01 10:01:00", "user_id": 1, "event_type": "a", "value": 1.0, "props": "{}"},
            {"event_id": 2, "ts": "2024-01-01 10:02:00", "user_id": 2, "event_type": "b", "value": 1.0, "props": "{}"},
        ],
        land,
        100,
    )
    from pinterest_data_pipeline_spark.schemas import EVENTS

    stream = json_landing.read_landing_stream(spark, land, EVENTS)
    deduped = windows.stream_dedup_within_watermark(
        stream, ["event_id"], "ts", "1 hour"
    )
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("SELECT event_id FROM dedup_out").collect()
    assert sorted(r["event_id"] for r in got) == [1, 2]


def test_compaction_reduces_files(spark, landing_dirs, tmp_path):
    """The reference's flush.size=1 layout (one object per record,
    README.md:155) compacts to a handful of parquet files."""
    src = json_landing.read_landing_json(spark, landing_dirs["pin"], PIN_RAW)
    out = str(tmp_path / "compacted")
    json_landing.compact_to_parquet(src.coalesce(2), out)
    files = [f for f in os.listdir(out) if f.endswith(".parquet")]
    assert 0 < len(files) <= 2
    assert spark.read.parquet(out).count() == src.count()


def test_corrupt_record_quarantine(spark, tmp_path):
    """Malformed landing records must be quarantined with their raw
    bytes, not silently nulled."""
    land = str(tmp_path / "q_land")
    json_landing.write_landing_records(
        [{"ind": 1, "country": "X", "latitude": 1.0, "longitude": 2.0,
          "timestamp": "2024-01-01 00:00:00"}],
        land, 10,
    )
    with open(os.path.join(land, "bad-000000.json"), "w") as f:
        f.write('{"ind": oops not json\n')
    good, bad = json_landing.read_landing_json_quarantine(spark, land, GEO_RAW)
    assert good.count() == 1
    bad_rows = bad.collect()
    assert len(bad_rows) == 1
    assert "oops" in bad_rows[0]["_corrupt"]


def test_stateful_running_totals_across_batches(spark, tmp_path):
    """applyInPandasWithState: state must persist across micro-batches —
    the second batch's emission includes the first batch's counts."""
    from pinterest_data_pipeline_spark.schemas import EVENTS
    from pinterest_data_pipeline_spark.streaming.stateful import (
        running_totals_stream,
    )

    land = str(tmp_path / "state_land")
    json_landing.write_landing_records(
        [
            {"event_id": 1, "ts": "2024-01-01 10:00:00", "user_id": 1,
             "event_type": "view", "value": 10.0, "props": "{}"},
            {"event_id": 2, "ts": "2024-01-01 10:01:00", "user_id": 2,
             "event_type": "view", "value": 5.0, "props": "{}"},
            {"event_id": 3, "ts": "2024-01-01 10:02:00", "user_id": 3,
             "event_type": "click", "value": 1.0, "props": "{}"},
        ],
        land, 100,
    )
    stream = json_landing.read_landing_stream(
        spark, land, EVENTS, max_files_per_trigger=1
    )
    q = (
        running_totals_stream(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("state_out")
        .start()
    )
    try:
        q.processAllAvailable()
        json_landing.write_landing_records(
            [
                {"event_id": 4, "ts": "2024-01-01 10:03:00", "user_id": 4,
                 "event_type": "view", "value": 2.5, "props": "{}"},
            ],
            land, 100, prefix="late",
        )
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM state_out").collect()
    # last emission for 'view' must be cumulative: 3 events, 17.5 total
    views = [r for r in rows if r["event_type"] == "view"]
    assert views[-1]["n_events"] == 3 and views[-1]["total_value"] == 17.5, rows
    clicks = [r for r in rows if r["event_type"] == "click"]
    assert clicks[-1]["n_events"] == 1


def test_stream_stream_interval_join(spark, tmp_path):
    """Stream-stream attribution join: clicks match views by the same
    user within 30 minutes before the click."""
    from pinterest_data_pipeline_spark.schemas import EVENTS
    from pinterest_data_pipeline_spark.streaming.joins import (
        interval_join_clicks_to_views,
    )

    land_c = str(tmp_path / "clicks")
    land_v = str(tmp_path / "views")
    json_landing.write_landing_records(
        [
            {"event_id": 10, "ts": "2024-01-01 10:20:00", "user_id": 1,
             "event_type": "click", "value": 0.0, "props": "{}"},
            {"event_id": 11, "ts": "2024-01-01 12:00:00", "user_id": 1,
             "event_type": "click", "value": 0.0, "props": "{}"},
            {"event_id": 12, "ts": "2024-01-01 10:25:00", "user_id": 2,
             "event_type": "click", "value": 0.0, "props": "{}"},
        ],
        land_c, 100,
    )
    json_landing.write_landing_records(
        [
            {"event_id": 20, "ts": "2024-01-01 10:00:00", "user_id": 1,
             "event_type": "view", "value": 7.0, "props": "{}"},
            {"event_id": 21, "ts": "2024-01-01 09:00:00", "user_id": 2,
             "event_type": "view", "value": 3.0, "props": "{}"},
        ],
        land_v, 100,
    )
    clicks = json_landing.read_landing_stream(spark, land_c, EVENTS)
    views = json_landing.read_landing_stream(spark, land_v, EVENTS)
    joined = interval_join_clicks_to_views(clicks, views)
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("ssj_out")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {(r["click_id"], r["view_id"])
           for r in spark.sql("SELECT * FROM ssj_out").collect()}
    # click 10 (10:20) matches view 20 (10:00, same user, 20 min before);
    # click 11 (12:00) matches nothing (view too old);
    # click 12 (user 2, 10:25) matches nothing (view at 09:00 > 30 min gap)
    assert got == {(10, 20)}, got


def test_foreachbatch_upsert_sink(spark, tmp_path):
    """foreachBatch merge sink: later batches overwrite rows by key;
    the manifest always points at a complete version."""
    from pinterest_data_pipeline_spark.schemas import EVENTS
    from pinterest_data_pipeline_spark.streaming import sinks as ssinks

    land = str(tmp_path / "upsert_land")
    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "up_ckpt")
    json_landing.write_landing_records(
        [
            {"event_id": 1, "ts": "2024-01-01 10:00:00", "user_id": 1,
             "event_type": "view", "value": 1.0, "props": "{}"},
            {"event_id": 2, "ts": "2024-01-01 10:01:00", "user_id": 2,
             "event_type": "view", "value": 2.0, "props": "{}"},
        ],
        land, 100,
    )
    stream = json_landing.read_landing_stream(
        spark, land, EVENTS, max_files_per_trigger=1
    )
    q = ssinks.upsert_stream_to_parquet(stream, target, ["event_id"], ckpt)
    try:
        q.processAllAvailable()
        # second batch UPDATES event 1 and inserts event 3
        json_landing.write_landing_records(
            [
                {"event_id": 1, "ts": "2024-01-01 11:00:00", "user_id": 1,
                 "event_type": "view", "value": 99.0, "props": "{}"},
                {"event_id": 3, "ts": "2024-01-01 11:01:00", "user_id": 3,
                 "event_type": "click", "value": 3.0, "props": "{}"},
            ],
            land, 100, prefix="b2",
        )
        q.processAllAvailable()
    finally:
        q.stop()
    final = ssinks.read_target(spark, target)
    rows = {r["event_id"]: r["value"] for r in final.collect()}
    assert rows == {1: 99.0, 2: 2.0, 3: 3.0}, rows


def test_stream_static_enrich_matches_batch(spark, sf_dir, tmp_path):
    """Stream-static enrichment: the streamed result must equal the batch
    join on the same inputs, and unknown users must pass through with NULL
    attributes (left join, no state store)."""
    from pinterest_data_pipeline_spark.schemas import EVENTS
    from pinterest_data_pipeline_spark.sources.parquet import load_table
    from pinterest_data_pipeline_spark.streaming.joins import (
        enrich_events_with_users,
    )

    land = str(tmp_path / "enrich_land")
    records = [
        {"event_id": 1, "ts": "2024-01-01 10:00:00", "user_id": 7,
         "event_type": "view", "value": 1.5, "props": "{}"},
        {"event_id": 2, "ts": "2024-01-01 10:05:00", "user_id": 999999,
         "event_type": "click", "value": 0.5, "props": "{}"},
    ]
    json_landing.write_landing_records(records, land, 100)
    users = load_table(spark, sf_dir, "customer")

    stream = json_landing.read_landing_stream(spark, land, EVENTS)
    q = (
        enrich_events_with_users(stream, users)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("enrich_out")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    stream_rows = {
        (r["event_id"], r["user_name"], r["user_segment"])
        for r in spark.sql("SELECT * FROM enrich_out").collect()
    }
    got = {(e, un is not None, us is not None) for e, un, us in stream_rows}
    assert got == {(1, True, True), (2, False, False)}

    batch = json_landing.read_landing_json(spark, land, EVENTS)
    batch_rows = {
        (r["event_id"], r["user_name"], r["user_segment"])
        for r in enrich_events_with_users(batch, users).collect()
    }
    assert stream_rows == batch_rows


def test_rocksdb_state_store_matches_default(spark, tmp_path):
    """The RocksDB state store provider — the backend that matters at
    scale, since state lives off-heap on local disk with incremental
    checkpointing instead of filling executor heap — must produce the
    same aggregation results as the default HDFS-backed provider."""
    import json

    land = str(tmp_path / "rocks_land")
    os.makedirs(land)
    with open(os.path.join(land, "a.json"), "w") as f:
        for i in range(120):
            f.write(json.dumps({"event_type": f"t{i % 3}", "value": 1.0}) + "\n")

    def run(provider_suffix, provider=None):
        key = "spark.sql.streaming.stateStore.providerClass"
        old = spark.conf.get(key)
        if provider:
            spark.conf.set(key, provider)
        try:
            s = spark.readStream.schema("event_type string, value double").json(land)
            agg = s.groupBy("event_type").agg(F.count("*").alias("n"))
            q = (
                agg.writeStream.outputMode("update")
                .format("memory")
                .queryName(f"rocks_{provider_suffix}")
                .option("checkpointLocation", str(tmp_path / f"ck_{provider_suffix}"))
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()
            return sorted(
                (r["event_type"], r["n"])
                for r in spark.sql(f"SELECT * FROM rocks_{provider_suffix}").collect()
            )
        finally:
            spark.conf.set(key, old)

    rocksdb = run(
        "rdb",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    default = run("dflt")
    assert rocksdb == default == [("t0", 40), ("t1", 40), ("t2", 40)]


def test_stream_interval_left_join_emits_unmatched_after_watermark(spark, tmp_path):
    """Left-outer interval join: unmatched clicks must surface null-padded
    — but only once the watermark proves no qualifying view can still
    arrive, which takes later micro-batches to advance it."""
    from pinterest_data_pipeline_spark.schemas import EVENTS
    from pinterest_data_pipeline_spark.streaming.joins import (
        interval_left_join_clicks_to_views,
    )

    land_c = str(tmp_path / "lj_clicks")
    land_v = str(tmp_path / "lj_views")
    json_landing.write_landing_records(
        [
            {"event_id": 10, "ts": "2024-01-01 10:20:00", "user_id": 1,
             "event_type": "click", "value": 0.0, "props": "{}"},
            {"event_id": 11, "ts": "2024-01-01 12:00:00", "user_id": 1,
             "event_type": "click", "value": 0.0, "props": "{}"},
        ],
        land_c, 100,
    )
    json_landing.write_landing_records(
        [
            {"event_id": 20, "ts": "2024-01-01 10:00:00", "user_id": 1,
             "event_type": "view", "value": 7.0, "props": "{}"},
        ],
        land_v, 100,
    )
    clicks = json_landing.read_landing_stream(spark, land_c, EVENTS)
    views = json_landing.read_landing_stream(spark, land_v, EVENTS)
    joined = interval_left_join_clicks_to_views(clicks, views)
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("lj_out")
        .start()
    )
    try:
        q.processAllAvailable()
        matched = {
            (r["click_id"], r["view_id"])
            for r in spark.sql("SELECT * FROM lj_out").collect()
        }
        assert (10, 20) in matched
        # unmatched click 11 can't have emitted yet: watermark hasn't
        # passed 12:00 + gap
        assert all(cid != 11 for cid, _ in matched)

        # heartbeat batches must advance BOTH inputs: the query's global
        # watermark is the min over every watermarked source, so a silent
        # views stream pins it at batch-1 time forever
        for hb_id, hb_ts in ((90, "2024-01-01 16:00:00"),
                             (91, "2024-01-01 20:00:00")):
            # unique file prefixes: the file source tracks seen paths, so
            # a rewritten part-000000.json would be silently ignored
            json_landing.write_landing_records(
                [{"event_id": hb_id, "ts": hb_ts, "user_id": 9,
                  "event_type": "click", "value": 0.0, "props": "{}"}],
                land_c, 100, prefix=f"hb{hb_id}",
            )
            json_landing.write_landing_records(
                [{"event_id": hb_id + 10, "ts": hb_ts, "user_id": 9,
                  "event_type": "view", "value": 0.0, "props": "{}"}],
                land_v, 100, prefix=f"hb{hb_id}",
            )
            q.processAllAvailable()
        got = {
            (r["click_id"], r["view_id"])
            for r in spark.sql("SELECT * FROM lj_out").collect()
            if r["click_id"] < 50
        }
        assert got == {(10, 20), (11, None)}, got
    finally:
        q.stop()


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithState's Python state server requires protobuf, "
    "absent in this environment (documented in streaming/tws.py); the "
    "operator itself is plain public API and runs wherever pyspark's "
    "connect/protobuf extra is installed",
)
def test_tws_running_totals_matches_classic_stateful(spark, tmp_path):
    """transformWithStateInPandas (Spark 4 StatefulProcessor) must carry
    state across micro-batches and agree with the applyInPandasWithState
    twin's final emissions — same operator, two stateful APIs."""
    from pinterest_data_pipeline_spark.schemas import EVENTS
    from pinterest_data_pipeline_spark.streaming.tws import running_totals_tws

    land = str(tmp_path / "tws_land")
    json_landing.write_landing_records(
        [
            {"event_id": 1, "ts": "2024-01-01 10:00:00", "user_id": 1,
             "event_type": "view", "value": 10.0, "props": "{}"},
            {"event_id": 2, "ts": "2024-01-01 10:01:00", "user_id": 2,
             "event_type": "view", "value": 5.0, "props": "{}"},
            {"event_id": 3, "ts": "2024-01-01 10:02:00", "user_id": 3,
             "event_type": "click", "value": 1.0, "props": "{}"},
        ],
        land, 100,
    )
    stream = json_landing.read_landing_stream(
        spark, land, EVENTS, max_files_per_trigger=1
    )
    q = (
        running_totals_tws(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("tws_out")
        .start()
    )
    try:
        q.processAllAvailable()
        json_landing.write_landing_records(
            [
                {"event_id": 4, "ts": "2024-01-01 10:03:00", "user_id": 4,
                 "event_type": "view", "value": 2.5, "props": "{}"},
            ],
            land, 100, prefix="late",
        )
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM tws_out").collect()
    views = [r for r in rows if r["event_type"] == "view"]
    assert views[-1]["n_events"] == 3 and views[-1]["total_value"] == 17.5, rows
    clicks = [r for r in rows if r["event_type"] == "click"]
    assert clicks[-1]["n_events"] == 1 and clicks[-1]["total_value"] == 1.0


def test_available_now_backfill_processes_backlog_and_stops(spark, tmp_path):
    """Trigger.AvailableNow: drain the ENTIRE landing backlog in bounded
    micro-batches, then terminate on its own — the scheduled-backfill
    mode (the reference ran its notebook daily via its DAG; availableNow
    is the Spark-native form of that contract: catch up, then exit).
    Rate-limit options still apply per batch, so a 100 TB backlog drains
    as many bounded batches, not one giant one."""
    from pinterest_data_pipeline_spark.schemas import EVENTS

    land = str(tmp_path / "backfill_land")
    rows = [
        {"event_id": i, "ts": f"2024-01-01 10:{i:02d}:00", "user_id": i % 3,
         "event_type": "view", "value": 1.0, "props": "{}"}
        for i in range(7)
    ]
    json_landing.write_landing_records(rows, land, 100)
    stream = json_landing.read_landing_stream(
        spark, land, EVENTS, max_files_per_trigger=2  # backlog > one batch
    )
    out = str(tmp_path / "backfill_out")
    ckpt = str(tmp_path / "backfill_ckpt")
    q = (
        stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "availableNow query did not self-stop"
    got = spark.read.parquet(out)
    assert got.count() == 7
    # a second availableNow run over the same checkpoint sees no new data
    q2 = (
        json_landing.read_landing_stream(spark, land, EVENTS, max_files_per_trigger=2)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == 7  # exactly-once: no re-append


def test_streaming_materialized_view_matches_batch_rollup(spark, tmp_path):
    """Streaming materialized view: after two micro-batches, the stored
    mergeable state must equal the one-shot batch rollup over all data —
    per-batch partial merge, never a history re-scan, bit-exact sums."""
    from pinterest_data_pipeline_spark.operators.rollup_maintenance import (
        finalize_rollup,
        rollup_state,
    )
    from pinterest_data_pipeline_spark.schemas import EVENTS
    from pinterest_data_pipeline_spark.streaming.materialized_view import (
        materialized_rollup_stream,
    )
    from pinterest_data_pipeline_spark.streaming.sinks import read_target

    land = str(tmp_path / "mv_land")
    batch1 = [
        {"event_id": 1, "ts": "2024-01-01 10:00:00", "user_id": 1,
         "event_type": "view", "value": 10.0, "props": "{}"},
        {"event_id": 2, "ts": "2024-01-01 10:01:00", "user_id": 2,
         "event_type": "view", "value": 5.5, "props": "{}"},
        {"event_id": 3, "ts": "2024-01-01 10:02:00", "user_id": 3,
         "event_type": "click", "value": 1.25, "props": "{}"},
    ]
    json_landing.write_landing_records(batch1, land, 100)
    stream = json_landing.read_landing_stream(
        spark, land, EVENTS, max_files_per_trigger=1
    )
    target = str(tmp_path / "mv_target")
    q = materialized_rollup_stream(
        stream, target, ["event_type"], "value",
        checkpoint_dir=str(tmp_path / "mv_ckpt"),
    )
    try:
        q.processAllAvailable()
        batch2 = [
            {"event_id": 4, "ts": "2024-01-01 10:03:00", "user_id": 4,
             "event_type": "view", "value": 2.25, "props": "{}"},
        ]
        json_landing.write_landing_records(batch2, land, 100, prefix="late")
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        r["event_type"]: r
        for r in finalize_rollup(read_target(spark, target)).collect()
    }
    all_rows = spark.createDataFrame(
        [(r["event_type"], r["value"]) for r in batch1 + batch2],
        "event_type string, value double",
    )
    want = {
        r["event_type"]: r
        for r in finalize_rollup(
            rollup_state(all_rows, ["event_type"], "value")
        ).collect()
    }
    assert set(got) == set(want) == {"view", "click"}
    for k in want:
        for c in ("n", "sum_v", "avg_v", "min_v", "max_v"):
            assert got[k][c] == want[k][c], (k, c, got[k][c], want[k][c])


def test_vacuum_keeps_current_and_recent_versions(spark, tmp_path):
    """vacuum_versions must drop old version dirs but never the
    manifest's current pointer or the keep-window."""
    import json as _json

    from pinterest_data_pipeline_spark.streaming import sinks as s

    target = str(tmp_path / "vac")
    for i in range(5):
        d = f"{target}/v{i:010d}"
        spark.range(3).write.mode("overwrite").parquet(d)
    os.makedirs(target, exist_ok=True)
    with open(f"{target}/_MANIFEST.json", "w") as f:
        _json.dump({"current": "v0000000004", "batch_id": 4}, f)
    removed = s.vacuum_versions(target, keep=2)
    assert removed == ["v0000000000", "v0000000001", "v0000000002"]
    left = sorted(x for x in os.listdir(target) if x.startswith("v"))
    assert left == ["v0000000003", "v0000000004"]
    assert s.read_target(spark, target).count() == 3


def _vacuum_target(spark, target, current):
    import json as _json

    for i in range(5):
        spark.range(3).write.mode("overwrite").parquet(f"{target}/v{i:010d}")
    with open(f"{target}/_MANIFEST.json", "w") as f:
        _json.dump({"current": f"v{current:010d}", "batch_id": current}, f)


def test_vacuum_keep_zero_keeps_only_current(spark, tmp_path):
    """keep=0 removes every version but the manifest's current one, even
    when current is not the newest directory."""
    from pinterest_data_pipeline_spark.streaming import sinks as s

    target = str(tmp_path / "vac0")
    _vacuum_target(spark, target, current=3)
    removed = s.vacuum_versions(target, keep=0)
    assert removed == ["v0000000000", "v0000000001", "v0000000002", "v0000000004"]
    left = sorted(x for x in os.listdir(target) if x.startswith("v"))
    assert left == ["v0000000003"]
    assert s.read_target(spark, target).count() == 3


def test_vacuum_negative_keep_raises(spark, tmp_path):
    from pinterest_data_pipeline_spark.streaming import sinks as s

    target = str(tmp_path / "vacneg")
    _vacuum_target(spark, target, current=4)
    with pytest.raises(ValueError):
        s.vacuum_versions(target, keep=-1)
    assert len([x for x in os.listdir(target) if x.startswith("v")]) == 5


def test_table_changes_classifies_insert_update_delete(spark, tmp_path):
    """CDF over the versioned sink: diffing two snapshot versions yields
    exactly the inserted/updated/deleted keys, unchanged rows dropped."""
    import json as _json

    from pinterest_data_pipeline_spark.streaming import sinks as s

    target = str(tmp_path / "cdf")
    v0 = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k long, name string, v double",
    )
    v1 = spark.createDataFrame(
        [(2, "b", 25.0), (3, "c", 30.0), (4, "d", 40.0)],
        "k long, name string, v double",
    )
    v0.write.parquet(f"{target}/v0000000000")
    v1.write.parquet(f"{target}/v0000000001")
    with open(f"{target}/_MANIFEST.json", "w") as f:
        _json.dump({"current": "v0000000001", "batch_id": 1}, f)

    changes = {
        r["k"]: r
        for r in s.table_changes(
            spark, target, "v0000000000", "v0000000001", ["k"]
        ).collect()
    }
    assert set(changes) == {1, 2, 4}  # 3 unchanged → absent
    assert changes[1]["_change_type"] == "delete"
    assert changes[2]["_change_type"] == "update"
    assert changes[4]["_change_type"] == "insert"
    assert _json.loads(changes[2]["payload_json"])["v"] == 25.0
    assert _json.loads(changes[1]["payload_json"])["v"] == 10.0  # from-side
    # time travel still reads the old snapshot
    assert s.read_target_version(spark, target, "v0000000000").count() == 3


def test_materialized_view_replay_is_idempotent(spark, tmp_path):
    """Crash-replay contract: foreachBatch re-delivers a batch whose
    manifest commit already landed (checkpoint lagged the sink). The
    rollup merge is additive, so without the batch_id guard the replay
    double-counts; with it the second delivery is a no-op and a LATER
    batch still merges normally."""
    from pinterest_data_pipeline_spark.operators.rollup_maintenance import (
        finalize_rollup,
    )
    from pinterest_data_pipeline_spark.streaming.materialized_view import (
        make_rollup_batch_fn,
    )
    from pinterest_data_pipeline_spark.streaming.sinks import read_target

    target = str(tmp_path / "mv")
    os.makedirs(target, exist_ok=True)
    fn = make_rollup_batch_fn(target, ["k"], "v")
    b0 = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 5.0)], "k string, v double"
    )
    fn(b0, 0)
    snapshot = {
        r["k"]: (r["n"], r["sum_v"])
        for r in finalize_rollup(read_target(spark, target)).collect()
    }
    fn(b0, 0)  # replayed delivery of the SAME committed batch
    replayed = {
        r["k"]: (r["n"], r["sum_v"])
        for r in finalize_rollup(read_target(spark, target)).collect()
    }
    assert replayed == snapshot, "replayed batch double-counted"
    b1 = spark.createDataFrame([("a", 10.0)], "k string, v double")
    fn(b1, 1)  # a genuinely new batch still merges
    after = {
        r["k"]: (r["n"], r["sum_v"])
        for r in finalize_rollup(read_target(spark, target)).collect()
    }
    assert after["a"] == (3, 13.0) and after["b"] == (1, 5.0)
