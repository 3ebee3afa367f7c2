"""Structured Streaming tests: windowed aggregation parity with the
batch twin, stateful change detection across micro-batches, and the
file-arrival source — run on memory/file sources with processAllAvailable
(deterministic, no timers)."""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import functions as F

from webscrap_datapipeline_spark.streaming.change_detection import detect_changes_stream
from webscrap_datapipeline_spark.streaming.file_source import stream_raw_reports
from webscrap_datapipeline_spark.streaming.windows import tumbling_counts


def _write_events_json(dirpath, rows):
    os.makedirs(dirpath, exist_ok=True)
    path = os.path.join(dirpath, f"batch_{len(os.listdir(dirpath))}.json")
    with open(path, "w") as fh:
        for r in rows:
            fh.write(r + "\n")
    return path


def test_tumbling_stream_matches_batch(spark, tmp_path):
    src_dir = str(tmp_path / "events")
    _write_events_json(
        src_dir,
        [
            '{"ts": "2024-01-01T00:01:00", "event_type": "click", "value": 1.0}',
            '{"ts": "2024-01-01T00:04:00", "event_type": "click", "value": 2.0}',
            '{"ts": "2024-01-01T00:11:00", "event_type": "view", "value": 3.0}',
        ],
    )
    schema = "ts timestamp, event_type string, value double"
    stream = spark.readStream.schema(schema).json(src_dir)
    q = (
        tumbling_counts(stream, window="10 minutes", watermark="1 hour")
        .writeStream.format("memory")
        .queryName("tumbling_test")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
            for r in spark.sql("select * from tumbling_test").collect()
        }
    finally:
        q.stop()
    batch = spark.read.schema(schema).json(src_dir)
    want = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in tumbling_counts(batch).collect()
    }
    assert got == want
    assert got[(dt.datetime(2024, 1, 1, 0, 0), "click")] == (2, 3.0)


def test_stateful_change_detection_across_microbatches(spark, tmp_path):
    src_dir = str(tmp_path / "keys")
    ckpt = str(tmp_path / "ckpt")
    _write_events_json(src_dir, ['{"key": "A", "last_seen_ts": "t1"}',
                                 '{"key": "B", "last_seen_ts": "t1"}'])
    stream = spark.readStream.schema("key string, last_seen_ts string").json(src_dir)
    q = (
        detect_changes_stream(stream)
        .writeStream.format("memory")
        .queryName("cd_test")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        first = {(r["key"], r["change_kind"]) for r in spark.sql("select * from cd_test").collect()}
        assert first == {("A", "new"), ("B", "new")}

        # second micro-batch: A unchanged (dup), B changed, C new
        _write_events_json(src_dir, ['{"key": "A", "last_seen_ts": "t1"}',
                                     '{"key": "B", "last_seen_ts": "t2"}',
                                     '{"key": "C", "last_seen_ts": "t1"}'])
        q.processAllAvailable()
        allrows = {(r["key"], r["last_seen_ts"], r["change_kind"])
                   for r in spark.sql("select * from cd_test").collect()}
    finally:
        q.stop()
    assert ("B", "t2", "changed") in allrows
    assert ("C", "t1", "new") in allrows
    # A's unchanged re-observation emitted nothing new
    assert len([r for r in allrows if r[0] == "A"]) == 1


def test_jvm_monotone_exactly_once_wrapper(spark, tmp_path):
    """detect_changes_stream_monotone_exactly_once: the all-JVM
    change feed for monotone versions. It emits the exact path's change
    set without the change_kind tag, and a duplicate equal-value
    re-observation inside the watermark horizon emits NOTHING — row
    count equals the number of true changes exactly, no consumer-side
    dedupe needed."""
    from webscrap_datapipeline_spark.streaming.change_detection import (
        detect_changes_stream_monotone_exactly_once,
    )

    src_dir = str(tmp_path / "keys_once")
    ckpt = str(tmp_path / "ckpt_once")
    _write_events_json(
        src_dir,
        ['{"key": "A", "last_seen_ts": "t1", "event_ts": "2026-01-01T00:00:00"}',
         '{"key": "B", "last_seen_ts": "t1", "event_ts": "2026-01-01T00:00:01"}'],
    )
    stream = spark.readStream.schema(
        "key string, last_seen_ts string, event_ts timestamp"
    ).json(src_dir)
    q = (
        detect_changes_stream_monotone_exactly_once(stream, "event_ts", "1 hour")
        .writeStream.format("memory")
        .queryName("cd_once_test")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        # second micro-batch: A unchanged (exact duplicate pair), B
        # advanced, C new — the duplicate must emit NOTHING this time
        _write_events_json(
            src_dir,
            ['{"key": "A", "last_seen_ts": "t1", "event_ts": "2026-01-01T00:10:00"}',
             '{"key": "B", "last_seen_ts": "t2", "event_ts": "2026-01-01T00:10:01"}',
             '{"key": "C", "last_seen_ts": "t1", "event_ts": "2026-01-01T00:10:02"}'],
        )
        q.processAllAvailable()
        allrows = [(r["key"], r["last_seen_ts"])
                   for r in spark.sql("select * from cd_once_test").collect()]
    finally:
        q.stop()
    # exactly-once: the MULTISET equals the change set — 4 rows, no dups
    assert sorted(allrows) == [("A", "t1"), ("B", "t1"), ("B", "t2"), ("C", "t1")]


def test_file_source_streams_new_reports(spark, tmp_path):
    from webscrap_datapipeline_spark.sources.csv_reports import RAW_REPORT_SCHEMA

    src_dir = str(tmp_path / "downloads")
    os.makedirs(src_dir)
    header = "|".join(f.name for f in RAW_REPORT_SCHEMA.fields)
    with open(os.path.join(src_dir, "ALPHA_08132026_10-00-00.csv"), "w") as fh:
        fh.write(header + "\n")
        fh.write("R1|KING|2026-08-10|1|100.0|90.0|10.0|WEB|OPEN|1|7|N|N||00042|x\n")

    stream = stream_raw_reports(spark, src_dir, RAW_REPORT_SCHEMA)
    q = (
        stream.withColumn("src", F.input_file_name())
        .writeStream.format("memory")
        .queryName("files_test")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("select * from files_test").collect()
    finally:
        q.stop()
    assert len(rows) == 1
    assert rows[0]["Ref Code"] == "00042"  # col 14 stays string
    assert "ALPHA_08132026" in rows[0]["src"]


def test_stream_static_join_enriches_per_microbatch(spark, tmp_path):
    from webscrap_datapipeline_spark.streaming.enrich import enrich_stream

    src_dir = str(tmp_path / "ev")
    _write_events_json(src_dir, ['{"loc": "A", "v": 1.0}', '{"loc": "Z", "v": 2.0}'])
    dim = spark.createDataFrame([("A", "alpha"), ("B", "beta")], "loc string, loc_name string")
    stream = spark.readStream.schema("loc string, v double").json(src_dir)
    q = (
        enrich_stream(stream, dim, on="loc")
        .writeStream.format("memory")
        .queryName("enrich_test")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = {(r["loc"], r["loc_name"]) for r in spark.sql("select * from enrich_test").collect()}
    finally:
        q.stop()
    # matched rows enriched; unmatched survive with NULL (left outer)
    assert rows == {("A", "alpha"), ("Z", None)}


def test_streaming_dedup_within_watermark(spark, tmp_path):
    from webscrap_datapipeline_spark.streaming.enrich import dedup_stream

    src_dir = str(tmp_path / "dups")
    ckpt = str(tmp_path / "ckpt_dedup")
    _write_events_json(
        src_dir,
        [
            '{"k": "A", "ts": "2024-01-01T00:00:00", "v": 1.0}',
            '{"k": "A", "ts": "2024-01-01T00:01:00", "v": 2.0}',
            '{"k": "B", "ts": "2024-01-01T00:02:00", "v": 3.0}',
        ],
    )
    stream = spark.readStream.schema("k string, ts timestamp, v double").json(src_dir)
    q = (
        dedup_stream(stream, ["k"], ts_col="ts", watermark="10 minutes")
        .writeStream.format("memory")
        .queryName("dedup_test")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        # duplicate key in a later micro-batch, still inside the horizon
        _write_events_json(src_dir, ['{"k": "A", "ts": "2024-01-01T00:03:00", "v": 9.0}'])
        q.processAllAvailable()
        ks = sorted(r["k"] for r in spark.sql("select * from dedup_test").collect())
    finally:
        q.stop()
    assert ks == ["A", "B"]  # A emitted exactly once across micro-batches


def test_foreachbatch_sink_commit_ordering_and_idempotence(spark, tmp_path):
    from webscrap_datapipeline_spark.streaming.sinks import warehouse_append_sink

    src_dir = str(tmp_path / "inflow")
    ckpt = str(tmp_path / "ckpt_sink")
    wh = str(tmp_path / "warehouse")
    st = str(tmp_path / "state")
    _write_events_json(
        src_dir,
        [
            '{"key": "A", "ts": "2024-01-01T00:00:00", "v": 1.0}',
            '{"key": "B", "ts": "2024-01-01T00:05:00", "v": 2.0}',
        ],
    )
    sink = warehouse_append_sink(wh, st, key_col="key", ts_col="ts")
    stream = spark.readStream.schema("key string, ts timestamp, v double").json(src_dir)
    q = stream.writeStream.foreachBatch(sink).option("checkpointLocation", ckpt).start()
    try:
        q.processAllAvailable()
        _write_events_json(src_dir, ['{"key": "A", "ts": "2024-01-01T01:00:00", "v": 5.0}'])
        q.processAllAvailable()
    finally:
        q.stop()

    wh_rows = spark.read.parquet(wh)
    assert wh_rows.count() == 3
    state = {
        r["key"]: r["last_seen"]
        for r in spark.read.parquet(os.path.join(st, "current")).collect()
    }
    assert state["A"] == dt.datetime(2024, 1, 1, 1, 0)  # advanced by batch 2
    assert state["B"] == dt.datetime(2024, 1, 1, 0, 5)

    # replaying a batch id must overwrite its own partition, not append
    batch1 = spark.read.parquet(wh).filter(F.col("__batch_id") == 1)
    n_before = batch1.count()
    sink(spark.read.schema("key string, ts timestamp, v double").json(src_dir).filter(
        F.col("key") == "A").filter(F.col("ts") > "2024-01-01T00:30:00"), 1)
    assert spark.read.parquet(wh).filter(F.col("__batch_id") == 1).count() == n_before
    assert spark.read.parquet(wh).count() == 3


def test_warehouse_sink_sharded_state_table(spark, tmp_path):
    """state_shards=N (round-12, closing the round-11 state-sink scale
    note): the per-key watermark table is hash-partitioned on the key
    instead of coalesce(1)-rewritten, so the per-batch rewrite
    parallelizes while readers and merge semantics stay identical —
    same keys, same max-ts watermarks, across multiple data files."""
    from webscrap_datapipeline_spark.streaming.sinks import warehouse_append_sink

    wh = str(tmp_path / "warehouse")
    st = str(tmp_path / "state")
    sink = warehouse_append_sink(wh, st, key_col="key", ts_col="ts", state_shards=4)
    mk = lambda rows: spark.createDataFrame(rows, "key string, ts timestamp, v double")
    t = lambda h, m=0: dt.datetime(2024, 1, 1, h, m)
    sink(mk([("A", t(0), 1.0), ("B", t(0, 5), 2.0), ("C", t(0, 7), 3.0)]), 0)
    sink(mk([("A", t(1), 5.0), ("D", t(0, 9), 4.0)]), 1)

    state = {
        r["key"]: r["last_seen"]
        for r in spark.read.parquet(os.path.join(st, "current")).collect()
    }
    assert state == {"A": t(1), "B": t(0, 5), "C": t(0, 7), "D": t(0, 9)}
    data_files = [
        f
        for f in os.listdir(os.path.join(st, "current"))
        if f.endswith(".parquet")
    ]
    assert len(data_files) > 1  # the rewrite really is sharded

    import pytest

    with pytest.raises(ValueError, match="state_shards"):
        warehouse_append_sink(wh, st, key_col="key", ts_col="ts", state_shards=0)


def test_warehouse_sink_swaps_state_and_heals_a_failed_rename(spark, tmp_path, monkeypatch):
    """The sink writes each batch's state once, to the fixed sibling
    ``current.staging``, and swaps it in: no per-batch staging dir is
    left behind. A swap whose second rename fails raises, and the next
    batch restores the renamed-aside state, keeping every watermark."""
    import pytest

    from webscrap_datapipeline_spark import fsutil
    from webscrap_datapipeline_spark.streaming.sinks import warehouse_append_sink

    wh = str(tmp_path / "warehouse")
    st = str(tmp_path / "state")
    sink = warehouse_append_sink(wh, st, key_col="key", ts_col="ts")
    mk = lambda rows: spark.createDataFrame(rows, "key string, ts timestamp, v double")
    t = lambda h: dt.datetime(2024, 1, 1, h)
    state = lambda: {
        r["key"]: r["last_seen"] for r in spark.read.parquet(os.path.join(st, "current")).collect()
    }
    sink(mk([("A", t(0), 1.0), ("B", t(1), 2.0)]), 0)
    sink(mk([("A", t(2), 3.0)]), 1)
    sink(mk([("C", t(3), 4.0)]), 2)
    assert sorted(os.listdir(st)) == ["current"]
    assert state() == {"A": t(2), "B": t(1), "C": t(3)}

    real, calls = fsutil.fs_rename, []

    def fail_second(spark_, src, dst):
        calls.append((src, dst))
        return False if len(calls) == 2 else real(spark_, src, dst)

    monkeypatch.setattr(fsutil, "fs_rename", fail_second)
    with pytest.raises(IOError, match="fs_swap"):
        sink(mk([("D", t(4), 5.0)]), 3)
    monkeypatch.setattr(fsutil, "fs_rename", real)
    assert not os.path.exists(os.path.join(st, "current"))  # the crash window

    sink(mk([("D", t(4), 5.0)]), 3)  # the engine replays the failed batch
    assert state() == {"A": t(2), "B": t(1), "C": t(3), "D": t(4)}
    assert sorted(os.listdir(st)) == ["current"]


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    from webscrap_datapipeline_spark.streaming.enrich import interval_join_streams

    clicks_dir, views_dir = str(tmp_path / "clicks"), str(tmp_path / "views")
    _write_events_json(
        clicks_dir,
        [
            '{"user_id": 1, "click_ts": "2024-01-01T00:10:00", "click_id": "c1"}',
            '{"user_id": 2, "click_ts": "2024-01-01T00:30:00", "click_id": "c2"}',
            '{"user_id": 1, "click_ts": "2024-01-01T01:00:00", "click_id": "c3"}',
        ],
    )
    _write_events_json(
        views_dir,
        [
            '{"user_id": 1, "view_ts": "2024-01-01T00:05:00", "view_id": "v1"}',
            '{"user_id": 1, "view_ts": "2024-01-01T00:25:00", "view_id": "v2"}',
            '{"user_id": 2, "view_ts": "2024-01-01T00:29:00", "view_id": "v3"}',
            '{"user_id": 1, "view_ts": "2024-01-01T02:00:00", "view_id": "v4"}',
        ],
    )
    cs = "user_id int, click_ts timestamp, click_id string"
    vs = "user_id int, view_ts timestamp, view_id string"
    joined = interval_join_streams(
        spark.readStream.schema(cs).json(clicks_dir),
        spark.readStream.schema(vs).json(views_dir),
        key="user_id",
        left_ts="click_ts",
        right_ts="view_ts",
        within="10 minutes",
    )
    q = (
        joined.select("click_id", "view_id")
        .writeStream.format("memory")
        .queryName("ssj_test")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r["click_id"], r["view_id"])
            for r in spark.sql("select * from ssj_test").collect()
        }
    finally:
        q.stop()
    # c1 (00:10) matches v1 (00:05, -5m); c2 (00:30) matches v3 (00:29);
    # v2 (00:25) is 15m from c1 and 35m from c3 -> no match; v4 is 60m
    # from c3 -> no match.
    assert got == {("c1", "v1"), ("c2", "v3")}


def test_python_streaming_datasource_incremental_batches(spark, tmp_path):
    """The custom source's STREAMING face: the hotel work list drains
    in offset-tracked micro-batches (exactly-once cursor checkpointed
    by the engine), failures surfacing as status rows — the reference's
    poll-and-move loop (ST3) as a first-class readStream format."""
    from webscrap_datapipeline_spark.sources.report_datasource import register

    register(spark)
    ckpt = str(tmp_path / "ckpt_ds")
    stream = (
        spark.readStream.format("hotel_reports")
        .option("hotels", "ALPHA,BRAVO,CHARLIE,ZULU,DELTA")
        .option("batchSize", 2)
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("hotel_stream")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        rows = {r["hotel_cd"]: r for r in spark.sql("select * from hotel_stream").collect()}
    finally:
        q.stop()
    assert set(rows) == {"ALPHA", "BRAVO", "CHARLIE", "ZULU", "DELTA"}
    assert rows["ZULU"]["fetch_status"] == "error:unreachable"
    assert all(r["n_rows"] > 0 for h, r in rows.items() if h != "ZULU")


def test_watermark_drops_late_events_in_append_mode(spark, tmp_path):
    """Watermark semantics pinned end-to-end: in append mode a windowed
    aggregate emits a window only once the watermark passes its end,
    and an event arriving AFTER the watermark has passed its window is
    dropped — the bounded-state contract that lets a 100 TB/day stream
    run with finite memory. (Watermark advances between micro-batches
    from the previous batch's max event time, so the sequence below is
    deterministic under processAllAvailable.)"""
    from webscrap_datapipeline_spark.streaming.windows import tumbling_counts

    src_dir = str(tmp_path / "late_ev")
    ckpt = str(tmp_path / "ckpt_late")
    schema = "ts timestamp, event_type string, value double"
    # batch 1: one early window + an event far ahead that will push the
    # watermark beyond the early window's end
    _write_events_json(
        src_dir,
        [
            '{"ts": "2024-01-01T00:01:00", "event_type": "click", "value": 1.0}',
            '{"ts": "2024-01-01T02:00:00", "event_type": "click", "value": 1.0}',
        ],
    )
    stream = spark.readStream.schema(schema).json(src_dir)
    q = (
        tumbling_counts(stream, window="10 minutes", watermark="10 minutes")
        .writeStream.format("memory")
        .queryName("late_test")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: a late event for the long-closed 00:00 window plus a
        # fresh one; the late event must NOT change any emitted window
        _write_events_json(
            src_dir,
            [
                '{"ts": "2024-01-01T00:02:00", "event_type": "click", "value": 99.0}',
                '{"ts": "2024-01-01T02:05:00", "event_type": "click", "value": 1.0}',
            ],
        )
        q.processAllAvailable()
        # batch 3: advance watermark past 02:10 so remaining windows emit
        _write_events_json(
            src_dir,
            ['{"ts": "2024-01-01T03:00:00", "event_type": "click", "value": 1.0}'],
        )
        q.processAllAvailable()
        got = {
            r["window_start"].isoformat(): r["n_events"]
            for r in spark.sql("select * from late_test").collect()
        }
    finally:
        q.stop()
    # the 00:00 window was finalized with ONE event — the late 00:02
    # arrival (batch 2, after the watermark passed 00:10) left no trace
    assert got.get("2024-01-01T00:00:00") == 1, got
    assert "2024-01-01T02:00:00" in got


def test_available_now_trigger_drains_and_stops(spark, tmp_path):
    """Trigger.AvailableNow — the reference's hourly scheduled run as a
    streaming trigger: start, drain everything currently available
    (across as many micro-batches as needed), commit offsets, stop.
    Re-running later picks up only NEW files from the checkpoint — the
    scrape-hourly/process-incrementally contract with engine-managed
    bookkeeping instead of the state JSON."""
    src_dir = str(tmp_path / "hourly")
    ckpt = str(tmp_path / "ckpt_avnow")
    out = str(tmp_path / "avnow_out")
    _write_events_json(src_dir, ['{"key": "A", "v": 1.0}', '{"key": "B", "v": 2.0}'])
    schema = "key string, v double"

    def drain():
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)  # forces multiple micro-batches
            .json(src_dir)
            .writeStream.format("parquet")  # file sink supports resume;
            # the memory sink refuses checkpoint recovery by design
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert not q.isActive  # the trigger self-terminates when drained
        return sorted(r["key"] for r in spark.read.parquet(out).collect())

    assert drain() == ["A", "B"]
    # "next hour": two more files land; the next scheduled drain resumes
    # from the committed offset and appends ONLY the new keys
    _write_events_json(src_dir, ['{"key": "C", "v": 3.0}'])
    _write_events_json(src_dir, ['{"key": "D", "v": 4.0}'])
    assert drain() == ["A", "B", "C", "D"]


def test_probe_change_dilution_monotone_and_change_rate(spark):
    """scripts/streaming_throughput_probe._dilute: the realistic-churn
    mapping must preserve the per-key monotone contract (ts
    non-decreasing along each key's row sequence) and actually dilute —
    exactly one ts advance per ``period`` occurrences of a key — or the
    probe's O(changes·horizon) state cells would measure a different
    regime than the operators document. period=1 must stay byte-equal
    to the original worst-case mapping so historical cells compare."""
    from types import SimpleNamespace

    from scripts.streaming_throughput_probe import _dilute

    keys, period, n = 7, 3, 996
    base = spark.range(n)
    args = SimpleNamespace(keys=keys, change_period=period)
    df = base.select(
        (F.col("id") % keys).alias("k"),
        F.col("id").alias("value"),
        _dilute(F.col("id"), args).alias("ts"),
    )
    per_key = (
        df.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("occ"),
            F.count_distinct("ts").alias("n_ts"),
            # sorted-by-value ts sequence must equal its sorted self
            F.array_sort(F.collect_list(F.struct("value", "ts"))).alias("seq"),
        )
        .collect()
    )
    for r in per_key:
        # the column is a STRING, so monotonicity must hold on the
        # strings themselves, not just int(ts) — the fixed-width %019d
        # encoding makes the two orders coincide (round-8 ADVICE: bare
        # decimal strings diverge across digit-length boundaries)
        raw_seq = [s["ts"] for s in r["seq"]]
        assert raw_seq == sorted(raw_seq), "per-key RAW ts strings must be non-decreasing"
        assert all(len(s) == 19 for s in raw_seq), "fixed-width encoding"
        ts_seq = [int(s) for s in raw_seq]
        assert ts_seq == sorted(ts_seq), "per-key ts must be non-decreasing"
        # one advance per `period` occurrences (boundary key offsets
        # allow at most one extra distinct value)
        import math

        assert abs(r["n_ts"] - math.ceil(r["occ"] / period)) <= 1
    # period=1: the worst-case column — one distinct value per row, in
    # the order-preserving fixed-width encoding
    args1 = SimpleNamespace(keys=keys, change_period=1)
    worst = base.select(_dilute(F.col("id"), args1).alias("ts")).collect()
    assert [r["ts"] for r in worst] == [f"{i:019d}" for i in range(n)]


def test_incremental_near_dup_stream_matches_batch_twin(spark, tmp_path):
    """streaming/dedup_stream: each micro-batch mines candidate pairs
    against the stored LSH band index (batch-proportional cost, round-8
    VERDICT item 4). Pins: (1) per-batch pairs equal the batch twin
    `incremental_lsh_candidates` run on the same pre-batch index, (2)
    the index grows so a later batch's dup of a STREAMED doc is found,
    (3) batch replay is idempotent (pairs and index rows unchanged),
    (4) commit layout: bootstrap partition -1 plus one per batch id."""
    import json as _json

    from webscrap_datapipeline_spark.operators.dedup import (
        incremental_lsh_candidates,
    )
    from webscrap_datapipeline_spark.streaming.dedup_stream import (
        bootstrap_lsh_index,
        incremental_near_dup_sink,
    )

    t_corpus = "alpha beta gamma delta epsilon zeta eta theta"
    t_other = "one two three four five six seven eight nine"
    t_fresh = "totally different words compose this later document body"
    index_dir = str(tmp_path / "lsh_index")
    pairs_dir = str(tmp_path / "pairs")
    src_dir = str(tmp_path / "docs_in")
    ckpt = str(tmp_path / "ckpt_dedup")

    os.makedirs(src_dir, exist_ok=True)
    corpus = spark.createDataFrame(
        [("c1", t_corpus), ("c2", t_other)], "doc_id string, text string"
    )
    bootstrap_lsh_index(corpus, index_dir)
    idx_bootstrap = spark.read.parquet(index_dir)
    assert idx_bootstrap.select("__batch_id").distinct().collect()[0][0] == -1

    batch0 = [("n1", t_corpus), ("n2", t_fresh)]  # n1 dups a CORPUS doc
    batch1 = [("n3", t_fresh), ("n4", t_fresh)]  # dups of a STREAMED doc + each other
    sink = incremental_near_dup_sink(index_dir, pairs_dir)
    stream = spark.readStream.schema("doc_id string, text string").json(src_dir)
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        _write_events_json(
            src_dir, [_json.dumps({"doc_id": d, "text": t}) for d, t in batch0]
        )
        q.processAllAvailable()
        _write_events_json(
            src_dir, [_json.dumps({"doc_id": d, "text": t}) for d, t in batch1]
        )
        q.processAllAvailable()
    finally:
        q.stop()

    pairs = spark.read.parquet(pairs_dir)
    got0 = {
        (r["doc_a"], r["doc_b"])
        for r in pairs.filter(F.col("__batch_id") == 0).collect()
    }
    got1 = {
        (r["doc_a"], r["doc_b"])
        for r in pairs.filter(F.col("__batch_id") == 1).collect()
    }
    assert got0 == {("n1", "c1")}
    # n3/n4 vs the streamed n2 (index grew) + the in-batch (n3, n4) pair
    assert got1 == {("n3", "n2"), ("n4", "n2"), ("n3", "n4")}

    # batch-twin equivalence: the same pre-batch index + batch docs
    # through the BATCH operator yield exactly the batch-0 pairs
    twin = incremental_lsh_candidates(
        idx_bootstrap,
        spark.createDataFrame(batch0, "doc_id string, text string"),
        "text",
        "doc_id",
    )
    assert {(r["doc_a"], r["doc_b"]) for r in twin.collect()} == got0

    # index layout: bootstrap + one partition per batch; n docs x 8 bands
    idx = spark.read.parquet(index_dir)
    assert {r[0] for r in idx.select("__batch_id").distinct().collect()} == {-1, 0, 1}
    n_idx_rows = idx.count()
    assert n_idx_rows == (2 + 2 + 2) * 8

    # replay idempotence: re-running batch 0 overwrites its own
    # partitions, leaving totals unchanged
    sink(spark.createDataFrame(batch0, "doc_id string, text string"), 0)
    assert spark.read.parquet(pairs_dir).count() == len(got0) + len(got1)
    assert spark.read.parquet(index_dir).count() == n_idx_rows


def test_near_dup_stream_compiles_no_classes_after_its_second_batch(spark, tmp_path):
    """A live stream runs the same plans every micro-batch, so from
    batch 2 on a batch finds every generated class it needs in the
    codegen cache and compiles none. A batch id in the plan (a literal
    ``__batch_id`` column) is inlined into generated code and compiles
    new classes in every batch, forever."""
    import json as _json

    from webscrap_datapipeline_spark.streaming.dedup_stream import (
        bootstrap_lsh_index,
        incremental_near_dup_sink,
    )

    from .conftest import codegen_compiles

    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()

    def text(i):
        return " ".join(words[i % 10:] + words[: i % 10])

    index_dir = str(tmp_path / "lsh_index")
    pairs_dir = str(tmp_path / "pairs")
    src_dir = str(tmp_path / "docs_in")
    staged = str(tmp_path / "staged")
    os.makedirs(src_dir)
    bootstrap_lsh_index(
        spark.createDataFrame(
            [(f"c{i}", text(i)) for i in range(4)], "doc_id string, text string"
        ),
        index_dir,
    )
    q = (
        spark.readStream.schema("doc_id string, text string")
        .option("maxFilesPerTrigger", 1)
        .json(src_dir)
        .writeStream.foreachBatch(incremental_near_dup_sink(index_dir, pairs_dir))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    compiled = []
    try:
        for b in range(5):
            path = _write_events_json(
                staged,
                [_json.dumps({"doc_id": f"b{b}d{i}", "text": text(b + i)}) for i in range(3)],
            )
            before = codegen_compiles(spark)
            os.rename(path, os.path.join(src_dir, f"batch_{b}.json"))
            q.processAllAvailable()
            compiled.append(codegen_compiles(spark) - before)
    finally:
        q.stop()
    assert compiled[2:] == [0, 0, 0], compiled
    idx = spark.read.parquet(index_dir)
    assert {r[0] for r in idx.select("__batch_id").distinct().collect()} == {
        -1, 0, 1, 2, 3, 4
    }
    assert idx.count() == (4 + 5 * 3) * 8
    pairs = spark.read.parquet(pairs_dir)
    assert {r[0] for r in pairs.select("__batch_id").distinct().collect()} == set(range(5))


def test_lsh_bootstrap_crash_at_every_step_keeps_an_index(spark, tmp_path, monkeypatch):
    """A re-bootstrap builds the new index aside and swaps it in. The
    k-th mutating ``fsutil`` call of a clean re-bootstrap (the partition
    write included) raises, for every k. The next micro-batch then
    mines against the old corpus up to and including the swap's commit
    rename (the sink restores an index renamed aside before it reads
    the corpus) and against the new corpus after it. The next
    re-bootstrap ends at the new index with no ``.old`` or ``.staging``
    sibling left."""
    import itertools

    import webscrap_datapipeline_spark.streaming.dedup_stream as ds

    from .conftest import crash_at_every_step

    t_old = "alpha beta gamma delta epsilon zeta eta theta"
    t_new = "one two three four five six seven eight nine"
    mk = lambda rows: spark.createDataFrame(rows, "doc_id string, text string")
    old, new = mk([("c1", t_old)]), mk([("c2", t_new)])
    batch = mk([("n1", t_old), ("n2", t_new)])
    index_dir = str(tmp_path / "lsh_index")
    ds.bootstrap_lsh_index(old, index_dir)
    runs = itertools.count()

    def mined():
        pairs_dir = str(tmp_path / f"pairs_{next(runs)}")
        ds.incremental_near_dup_sink(index_dir, pairs_dir)(batch, 0)
        return {(r["doc_a"], r["doc_b"]) for r in spark.read.parquet(pairs_dir).collect()}

    def after_crash(k, commit):
        assert mined() == ({("n1", "c1")} if k <= commit else {("n2", "c2")}), k

    def settled():
        assert mined() == {("n2", "c2")}

    clean = crash_at_every_step(
        monkeypatch, [ds], index_dir, lambda: ds.bootstrap_lsh_index(new, index_dir),
        after_crash, settled,
    )
    assert len(clean) == 5, clean


def test_compact_lsh_index_preserves_mining_and_replay_contract(spark, tmp_path):
    """streaming/dedup_stream.compact_lsh_index: folding committed
    partitions into one consolidated negative-id partition (1) leaves
    the next batch's candidate pairs EXACTLY what the uncompacted index
    yields, (2) shrinks the partition layout, (3) tolerates re-runs
    (the crash-duplicate story), and (4) last_committed_batch reads the
    public checkpoint commits layout."""
    from webscrap_datapipeline_spark.streaming.dedup_stream import (
        bootstrap_lsh_index,
        compact_lsh_index,
        incremental_near_dup_sink,
        last_committed_batch,
    )

    t_a = "alpha beta gamma delta epsilon zeta eta theta"
    t_b = "one two three four five six seven eight nine"
    t_c = "totally different words compose this later document body"
    index_dir = str(tmp_path / "lsh_index")
    pairs_dir = str(tmp_path / "pairs")

    corpus = spark.createDataFrame(
        [("c1", t_a), ("c2", t_b)], "doc_id string, text string"
    )
    bootstrap_lsh_index(corpus, index_dir)
    sink = incremental_near_dup_sink(index_dir, pairs_dir)
    sink(spark.createDataFrame([("n1", t_c)], "doc_id string, text string"), 0)
    sink(spark.createDataFrame([("n2", t_c)], "doc_id string, text string"), 1)

    idx = spark.read.parquet(index_dir)
    pre_rows = {tuple(r) for r in idx.select("doc", "band", "bucket").collect()}
    assert {r[0] for r in idx.select("__batch_id").distinct().collect()} == {-1, 0, 1}

    # fold bootstrap + batches 0..1 (all "committed" in this direct-call
    # harness) into one consolidated partition
    stats = compact_lsh_index(spark, index_dir, upto_batch_id=1)
    assert stats["folded_partitions"] == 3
    assert stats["new_partition_id"] == -2
    idx2 = spark.read.parquet(index_dir)
    assert {r[0] for r in idx2.select("__batch_id").distinct().collect()} == {-2}
    # content identical up to the partition stamp
    assert {tuple(r) for r in idx2.select("doc", "band", "bucket").collect()} == pre_rows

    # the NEXT batch mines the same pairs it would have pre-compaction:
    # n3 dups t_c -> pairs with n1 and n2 (both now consolidated)
    sink(spark.createDataFrame([("n3", t_c)], "doc_id string, text string"), 2)
    got = {
        (r["doc_a"], r["doc_b"])
        for r in spark.read.parquet(pairs_dir).filter(F.col("__batch_id") == 2).collect()
    }
    assert got == {("n3", "n1"), ("n3", "n2")}

    # re-run tolerance: compacting again (now folding {-2, 2}) keeps the
    # exact same row content under a fresh epoch id
    stats2 = compact_lsh_index(spark, index_dir, upto_batch_id=2)
    assert stats2["folded_partitions"] == 2
    assert stats2["new_partition_id"] == -3
    idx3 = spark.read.parquet(index_dir)
    n3_rows = {
        tuple(r)
        for r in idx2.sparkSession.read.parquet(index_dir)
        .filter(F.col("doc") == "n3")
        .select("doc", "band", "bucket")
        .collect()
    }
    assert len(n3_rows) == 8  # n3's 8 band rows joined the fold
    assert {
        tuple(r) for r in idx3.select("doc", "band", "bucket").collect()
    } == pre_rows | n3_rows

    # a no-op fold (single qualifying partition) reports zero work
    assert compact_lsh_index(spark, index_dir, upto_batch_id=5) == {
        "folded_partitions": 0,
        "rows": 0,
        "new_partition_id": None,
    }

    # last_committed_batch reads the commits log layout
    ckpt = tmp_path / "ckpt"
    assert last_committed_batch(spark, str(ckpt)) == -1
    (ckpt / "commits").mkdir(parents=True)
    for name in ("0", "1", "7", ".8.tmp"):
        (ckpt / "commits" / name).write_text("v1")
    assert last_committed_batch(spark, str(ckpt)) == 7


def test_empty_first_batch_does_not_wedge_the_stream(spark, tmp_path):
    """round-9 review: an empty first micro-batch leaves a
    data-file-less index dir; the corpus read must use the explicit
    schema (inference over it throws and would replay-fail forever).
    The empty batch writes no partition, to the index or the pairs."""
    from webscrap_datapipeline_spark.streaming.dedup_stream import (
        incremental_near_dup_sink,
    )

    index_dir = str(tmp_path / "lsh_index")
    pairs_dir = str(tmp_path / "pairs")
    sink = incremental_near_dup_sink(index_dir, pairs_dir)
    empty = spark.createDataFrame([], "doc_id string, text string")
    sink(empty, 0)  # creates index_dir with no data files
    for d in (index_dir, pairs_dir):
        assert not os.path.exists(f"{d}/__batch_id=0"), d

    t = "alpha beta gamma delta epsilon zeta eta theta"
    sink(spark.createDataFrame([("a", t), ("b", t)], "doc_id string, text string"), 1)
    got = {
        (r["doc_a"], r["doc_b"])
        for r in spark.read.parquet(pairs_dir).filter(F.col("__batch_id") == 1).collect()
    }
    assert got == {("a", "b")}


def test_sink_compact_every_folds_inside_the_batch_thread(spark, tmp_path):
    """compact_every=2: after batch 2 runs, batches <= 1 (and the
    bootstrap) are one consolidated negative partition and mining is
    unchanged — the live-stream-safe compaction path."""
    from webscrap_datapipeline_spark.streaming.dedup_stream import (
        bootstrap_lsh_index,
        incremental_near_dup_sink,
    )

    t_a = "alpha beta gamma delta epsilon zeta eta theta"
    t_b = "one two three four five six seven eight nine"
    index_dir = str(tmp_path / "lsh_index")
    pairs_dir = str(tmp_path / "pairs")
    bootstrap_lsh_index(
        spark.createDataFrame([("c1", t_a)], "doc_id string, text string"), index_dir
    )
    sink = incremental_near_dup_sink(index_dir, pairs_dir, compact_every=2)
    mk = lambda d, t: spark.createDataFrame([(d, t)], "doc_id string, text string")
    sink(mk("n0", t_b), 0)
    sink(mk("n1", t_b), 1)
    sink(mk("n2", t_a), 2)  # triggers the fold of {-1, 0, 1}

    idx_parts = {
        r[0]
        for r in spark.read.parquet(index_dir).select("__batch_id").distinct().collect()
    }
    assert idx_parts == {-2, 2}
    # mining across the fold boundary still works: batch 3 dups both a
    # consolidated doc (n1) and a fresh one (n2)
    sink(mk("n3", t_a), 3)
    got = {
        (r["doc_a"], r["doc_b"])
        for r in spark.read.parquet(pairs_dir).filter(F.col("__batch_id") == 3).collect()
    }
    assert got == {("n3", "c1"), ("n3", "n2")}


def test_index_retention_prunes_by_newest_ingest_and_bounds_the_corpus(
    spark, tmp_path
):
    """round-11 retention (prune_lsh_index + the sink's retain_batches):
    the one per-batch cost that grows without bound is the corpus
    scan/shuffle of the mine join — retention bounds the ROW count the
    way compaction bounds the FILE count. Pins: (1) the in-sink prune
    keeps exactly the last N batches' content (a doc older than the
    window no longer pairs; a doc inside it still does); (2) folds
    write the .maxbatch age marker and a chunk is pruned only when its
    NEWEST content expired; (3) an unmarked (legacy) chunk is never
    pruned — unknown age fails safe."""
    from webscrap_datapipeline_spark.streaming.dedup_stream import (
        bootstrap_lsh_index,
        compact_lsh_index,
        incremental_near_dup_sink,
        prune_lsh_index,
    )
    from webscrap_datapipeline_spark.streaming.index_core import max_ingest_marker

    t_a = "alpha beta gamma delta epsilon zeta eta theta"
    t_b = "one two three four five six seven eight nine"
    index_dir = str(tmp_path / "lsh_index")
    pairs_dir = str(tmp_path / "pairs")
    bootstrap_lsh_index(
        spark.createDataFrame([("c1", t_a)], "doc_id string, text string"), index_dir
    )
    sink = incremental_near_dup_sink(index_dir, pairs_dir, retain_batches=2)
    mk = lambda d, t: spark.createDataFrame([(d, t)], "doc_id string, text string")
    sink(mk("n0", t_b), 0)  # window {-1, 0}: bootstrap expired? cutoff -1 -> keeps -1
    sink(mk("n1", t_a), 1)  # cutoff 0: bootstrap partition (-1) pruned
    parts = {
        r[0]
        for r in spark.read.parquet(index_dir).select("__batch_id").distinct().collect()
    }
    assert parts == {0, 1}  # bootstrap aged out of the 2-batch window
    # n2 dups BOTH c1 (bootstrap, expired) and n1 (in-window): only the
    # in-window pair is mined
    sink(mk("n2", t_a), 2)
    got = {
        (r["doc_a"], r["doc_b"])
        for r in spark.read.parquet(pairs_dir).filter(F.col("__batch_id") == 2).collect()
    }
    assert got == {("n2", "n1")}

    # (2) fold + marker: consolidate batches {1, 2} (0 was pruned at
    # batch 2's cutoff=1) and verify the chunk carries max ingest 2,
    # then expires exactly when batch 2 leaves the window
    stats = compact_lsh_index(spark, index_dir, upto_batch_id=2)
    cid = stats["new_partition_id"]
    base = index_dir.rstrip("/")
    assert max_ingest_marker(spark, base, cid) == 2
    assert prune_lsh_index(spark, index_dir, min_batch_id=2)["pruned_ids"] == []
    assert prune_lsh_index(spark, index_dir, min_batch_id=3)["pruned_ids"] == [cid]

    # (3) unmarked chunk: unknown age is never pruned
    os.makedirs(f"{base}/__batch_id=-9", exist_ok=True)
    spark.createDataFrame(
        [("x", 0, "b")], "doc string, band int, bucket string"
    ).write.mode("overwrite").parquet(f"{base}/__batch_id=-9")
    assert max_ingest_marker(spark, base, -9) is None
    assert prune_lsh_index(spark, index_dir, min_batch_id=10**6)["pruned_ids"] == []


def test_dedup_time_based_retention_prunes_by_event_time(spark, tmp_path):
    """round-12 (round-11 VERDICT item 5): retain_ts_seconds states the
    dedup window in EVENT TIME over the ``.maxts`` sidecars a
    ``ts_col``-configured sink writes. Pins: (1) the cutoff is
    stream-time (newest seen event time minus the window), never wall
    clock; (2) a doc older than the window no longer pairs while an
    in-window doc still does; (3) a fold propagates the marker; (4)
    the knob without ts_col, and with an inert maximal in-sink fold,
    fail loudly."""
    import pytest

    from webscrap_datapipeline_spark.streaming.dedup_stream import (
        compact_lsh_index,
        incremental_near_dup_sink,
    )
    from webscrap_datapipeline_spark.streaming.index_core import (
        max_ingest_ts_marker,
    )

    t_a = "alpha beta gamma delta epsilon zeta eta theta"
    t_b = "one two three four five six seven eight nine"
    index_dir = str(tmp_path / "lsh_index")
    pairs_dir = str(tmp_path / "pairs")
    sink = incremental_near_dup_sink(
        index_dir, pairs_dir, ts_col="ts", retain_ts_seconds=300.0
    )
    mk = lambda d, t, ts: spark.createDataFrame(
        [(d, t, float(ts))], "doc_id string, text string, ts double"
    )
    sink(mk("a0", t_a, 100.0), 0)
    base = index_dir.rstrip("/")
    assert max_ingest_ts_marker(spark, base, 0) == 100.0
    # stream time advances far past the window: batch 0 expires, but
    # the MINE of this batch still ran against it first (retention is
    # post-mine), so the cross-window pair is found once
    sink(mk("b1", t_a, 1000.0), 1)
    parts = {
        r[0]
        for r in spark.read.parquet(index_dir).select("__batch_id").distinct().collect()
    }
    assert parts == {1}  # maxts 100 < 1000 - 300
    got1 = {
        (r["doc_a"], r["doc_b"])
        for r in spark.read.parquet(pairs_dir).filter(F.col("__batch_id") == 1).collect()
    }
    assert got1 == {("b1", "a0")}
    # a later duplicate pairs only against the in-window copy
    sink(mk("c2", t_a, 1020.0), 2)
    got2 = {
        (r["doc_a"], r["doc_b"])
        for r in spark.read.parquet(pairs_dir).filter(F.col("__batch_id") == 2).collect()
    }
    assert got2 == {("c2", "b1")}

    # fold propagates .maxts (all sources known → max rides along)
    stats = compact_lsh_index(spark, index_dir, upto_batch_id=2)
    cid = stats["new_partition_id"]
    assert max_ingest_ts_marker(spark, base, cid) == 1020.0

    # guard rails
    with pytest.raises(ValueError, match="needs ts_col"):
        incremental_near_dup_sink(index_dir, pairs_dir, retain_ts_seconds=10.0)
    with pytest.raises(ValueError, match="retention inert"):
        incremental_near_dup_sink(
            index_dir, pairs_dir, ts_col="ts", retain_ts_seconds=10.0,
            compact_every=2,
        )


def test_time_retention_still_prunes_after_a_fold_over_an_empty_batch(spark, tmp_path):
    """An empty micro-batch writes no index partition. Had it written
    one, the partition would carry no ``.maxts`` (the batch has no
    event time), a tiered fold taking it in would stamp no ``.maxts``
    on its chunk, and time retention would keep that chunk, and every
    chunk later merged with it, for good: a doc older than the window
    would go on pairing."""
    from webscrap_datapipeline_spark.streaming.dedup_stream import (
        incremental_near_dup_sink,
    )
    from webscrap_datapipeline_spark.streaming.index_core import (
        list_batch_partitions,
        max_ingest_ts_marker,
    )

    t_a = "alpha beta gamma delta epsilon zeta eta theta"
    t_b = "one two three four five six seven eight nine"
    t_c = "red orange yellow green blue indigo violet black"
    index_dir = str(tmp_path / "lsh_index")
    pairs_dir = str(tmp_path / "pairs")
    sink = incremental_near_dup_sink(
        index_dir, pairs_dir, ts_col="ts", retain_ts_seconds=300.0,
        compact_every=2, compact_max_partitions=3,
    )
    schema = "doc_id string, text string, ts double"
    batches = [
        [("a0", t_a, 100.0)],
        [],
        [("b2", t_b, 110.0)],
        [("c3", t_c, 120.0)],
        [("d4", t_a, 1000.0)],  # mined before retention: pairs with a0
        [("e5", t_a, 1010.0)],
    ]
    for batch_id, rows in enumerate(batches):
        sink(spark.createDataFrame(rows, schema), batch_id)

    assert not os.path.exists(f"{index_dir}/__batch_id=1")
    pairs = spark.read.parquet(pairs_dir)
    got = {(r["__batch_id"], r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    assert got == {(4, "d4", "a0"), (5, "e5", "d4")}
    # batch 4's fold took in batches 0, 2 and 3; its chunk is older
    # than the window and is gone
    parts = sorted(list_batch_partitions(spark, index_dir))
    assert parts == [4, 5], parts
    assert all(
        max_ingest_ts_marker(spark, index_dir, v) >= 1010.0 - 300.0 for v in parts
    )


def test_compaction_crashed_nonatomic_publish_never_loses_rows(
    spark, tmp_path, monkeypatch
):
    """round-10 VERDICT item 5: on object stores, rename is a
    non-atomic copy+delete, so a crash mid-publish can leave a PARTIAL
    consolidated partition. compact_lsh_index's documented degradation
    contract is content-harmless-by-construction: the fold deletes the
    source partitions only AFTER the publish, so a crashed publish
    leaves every original row in place, the partial partition holds
    only DUPLICATES of surviving rows (never the sole copy of
    anything), the miner's distinct/collect_set absorbs them, and a
    re-run fold re-distincts the partial away. This test simulates the
    crash and pins all four properties."""
    import shutil

    import pytest

    from webscrap_datapipeline_spark.streaming import dedup_stream as ds

    t_a = "alpha beta gamma delta epsilon zeta eta theta"
    t_b = "one two three four five six seven eight nine"
    index_dir = str(tmp_path / "lsh_index")
    pairs_dir = str(tmp_path / "pairs")
    ds.bootstrap_lsh_index(
        spark.createDataFrame([("c1", t_a)], "doc_id string, text string"), index_dir
    )
    sink = ds.incremental_near_dup_sink(index_dir, pairs_dir)
    mk = lambda d, t: spark.createDataFrame([(d, t)], "doc_id string, text string")
    sink(mk("n0", t_b), 0)
    sink(mk("n1", t_b), 1)
    distinct_before = {
        (r["doc"], r["band"], r["bucket"])
        for r in spark.read.parquet(index_dir).select("doc", "band", "bucket").collect()
    }

    # the publish rename lives in the shared lifecycle core (round-12
    # unification) — patch it there
    from webscrap_datapipeline_spark.streaming import index_core as ic

    real_rename = ic.fs_rename

    def crash_mid_copy(spark_, src, dst):
        # object-store rename = per-file copy + delete; die after the
        # first data file lands in dst (a genuine half-published state)
        os.makedirs(dst, exist_ok=True)
        data = sorted(
            f for f in os.listdir(src) if not f.startswith(("_", "."))
        )
        assert data
        shutil.copy2(os.path.join(src, data[0]), os.path.join(dst, data[0]))
        raise RuntimeError("simulated crash mid non-atomic publish")

    monkeypatch.setattr(ic, "fs_rename", crash_mid_copy)
    with pytest.raises(RuntimeError, match="simulated crash"):
        ds.compact_lsh_index(spark, index_dir, upto_batch_id=1)
    monkeypatch.setattr(ic, "fs_rename", real_rename)

    # (1) no reader ever loses a row: originals still present, the
    # partial partition adds only duplicates
    idx = spark.read.parquet(index_dir)
    parts = {r[0] for r in idx.select("__batch_id").distinct().collect()}
    assert {-1, 0, 1} <= parts  # originals intact (delete never ran)
    distinct_after = {
        (r["doc"], r["band"], r["bucket"])
        for r in idx.select("doc", "band", "bucket").collect()
    }
    assert distinct_after == distinct_before

    # (2) mining over the half-published index is unchanged — the
    # posting-list distinct absorbs the duplicate rows
    sink(mk("n2", t_a), 2)
    got = {
        (r["doc_a"], r["doc_b"])
        for r in spark.read.parquet(pairs_dir).filter(F.col("__batch_id") == 2).collect()
    }
    assert got == {("n2", "c1")}

    # (3) re-running compaction converges: the partial chunk is folded
    # in with the originals, re-distincted, and deleted
    stats = ds.compact_lsh_index(spark, index_dir, upto_batch_id=1)
    assert stats["folded_partitions"] >= 4  # {-1, 0, 1} + the partial
    idx2 = spark.read.parquet(index_dir)
    assert {
        (r["doc"], r["band"], r["bucket"])
        for r in idx2.select("doc", "band", "bucket").collect()
    } == distinct_before | {
        (r["doc"], r["band"], r["bucket"])
        for r in idx2.filter(F.col("__batch_id") == 2)
        .select("doc", "band", "bucket")
        .collect()
    }
    # (4) and holds no duplicates afterwards
    assert idx2.count() == idx2.select("doc", "band", "bucket").distinct().count()


def test_sink_compaction_follows_non_string_doc_type(spark, tmp_path):
    """round-10 ADVICE item 1: the in-sink fold must read the plain
    index with the STREAM'S id type, not the string default — a
    long-keyed stream previously died on a parquet type conversion at
    its first compaction cadence. Pins: the fold succeeds, the folded
    index keeps doc as bigint, and mining across the fold boundary
    still finds pairs."""
    from webscrap_datapipeline_spark.streaming.dedup_stream import (
        bootstrap_lsh_index,
        incremental_near_dup_sink,
    )

    t_a = "alpha beta gamma delta epsilon zeta eta theta"
    t_b = "one two three four five six seven eight nine"
    index_dir = str(tmp_path / "lsh_index")
    pairs_dir = str(tmp_path / "pairs")
    bootstrap_lsh_index(
        spark.createDataFrame([(100, t_a)], "doc_id long, text string"), index_dir
    )
    sink = incremental_near_dup_sink(index_dir, pairs_dir, compact_every=2)
    mk = lambda d, t: spark.createDataFrame([(d, t)], "doc_id long, text string")
    sink(mk(200, t_b), 0)
    sink(mk(201, t_b), 1)
    sink(mk(202, t_a), 2)  # fold of {-1, 0, 1} — crashed pre-fix

    idx = spark.read.parquet(index_dir)
    assert dict(idx.dtypes)["doc"] == "bigint"
    assert {r[0] for r in idx.select("__batch_id").distinct().collect()} == {-2, 2}
    sink(mk(300, t_a), 3)
    got = {
        (r["doc_a"], r["doc_b"])
        for r in spark.read.parquet(pairs_dir).filter(F.col("__batch_id") == 3).collect()
    }
    assert got == {(300, 100), (300, 202)}


def test_tiered_compaction_bounds_fold_width_and_clamps_to_checkpoint(
    spark, tmp_path
):
    """round-10 (VERDICT items 4/6 + round-9 ADVICE): (1) with
    ``checkpoint_dir`` given, compact_lsh_index CLAMPS upto_batch_id to
    the checkpoint's committed watermark — a maintenance caller cannot
    fold a replayable batch; (2) ``max_fold_partitions=K`` folds only
    the K oldest batch partitions (bounded fold width — no whole-corpus
    rewrite in one cadence); (3) chunk merging is size-tiered and
    bounded by ``chunk_merge_at``; (4) index CONTENT survives every
    fold shape and mining stays exact."""
    from webscrap_datapipeline_spark.streaming.dedup_stream import (
        bootstrap_lsh_index,
        compact_lsh_index,
        incremental_near_dup_sink,
    )

    texts = [
        "alpha beta gamma delta epsilon zeta eta theta",
        "one two three four five six seven eight nine",
        "red orange yellow green blue indigo violet shades",
        "north south east west up down left right center",
        "apple pear plum grape mango papaya kiwi lime",
        "stone iron bronze silver gold platinum copper tin",
    ]
    index_dir = str(tmp_path / "lsh_index")
    pairs_dir = str(tmp_path / "pairs")
    bootstrap_lsh_index(
        spark.createDataFrame(
            [("c1", texts[0]), ("c2", texts[1])], "doc_id string, text string"
        ),
        index_dir,
    )
    sink = incremental_near_dup_sink(index_dir, pairs_dir)
    for i in range(6):  # batches 0..5, all distinct texts
        sink(
            spark.createDataFrame(
                [(f"n{i}", texts[i] + f" tail{i}")], "doc_id string, text string"
            ),
            i,
        )
    pre_rows = {
        tuple(r)
        for r in spark.read.parquet(index_dir)
        .select("doc", "band", "bucket")
        .collect()
    }

    # (1) clamp: checkpoint committed only batches 0 and 1 -> an
    # upto=99 request folds just {-1, 0, 1}
    ckpt = tmp_path / "ckpt"
    (ckpt / "commits").mkdir(parents=True)
    for name in ("0", "1"):
        (ckpt / "commits" / name).write_text("v1")
    stats = compact_lsh_index(
        spark, index_dir, upto_batch_id=99, checkpoint_dir=str(ckpt)
    )
    assert stats["folded_partitions"] == 3
    assert stats["new_partition_id"] == -2
    parts = lambda: {
        r[0]
        for r in spark.read.parquet(index_dir)
        .select("__batch_id")
        .distinct()
        .collect()
    }
    assert parts() == {-2, 2, 3, 4, 5}

    # (2) tiered fold K=3: only the 3 oldest batch partitions fold;
    # the existing chunk (-2) is NOT re-absorbed
    stats = compact_lsh_index(
        spark, index_dir, upto_batch_id=5, max_fold_partitions=3
    )
    assert stats["folded_partitions"] == 3  # {2, 3, 4}
    assert stats["new_partition_id"] == -3
    assert "merged_chunks" not in stats  # 2 chunks < default chunk_merge_at
    assert parts() == {-3, -2, 5}

    # (3) chunk merge at threshold 2: batch tier has only {5} (no fold
    # of a single partition), chunks {-2, -3} merge into one
    stats = compact_lsh_index(
        spark,
        index_dir,
        upto_batch_id=5,
        max_fold_partitions=3,
        chunk_merge_at=2,
    )
    assert stats["folded_partitions"] == 0
    assert stats["merged_chunks"] == 2
    assert stats["chunk_partition_id"] == -4
    assert parts() == {-4, 5}

    # (4) content identical through every fold shape, and mining across
    # the folded layout is exact: n6 dups n5's text
    assert {
        tuple(r)
        for r in spark.read.parquet(index_dir)
        .select("doc", "band", "bucket")
        .collect()
    } == pre_rows
    sink(
        spark.createDataFrame(
            [("n6", texts[5] + " tail5")], "doc_id string, text string"
        ),
        6,
    )
    got = {
        (r["doc_a"], r["doc_b"])
        for r in spark.read.parquet(pairs_dir)
        .filter(F.col("__batch_id") == 6)
        .collect()
    }
    assert got == {("n6", "n5")}


def test_fs_rename_rejects_cross_scheme_and_fs_dir_size_counts_bytes(
    spark, tmp_path
):
    """round-9 ADVICE: fs_rename is same-FileSystem only — an explicit
    foreign-scheme dst raises instead of failing opaquely inside the
    src FS; fs_dir_size totals bytes recursively (the size-tiered
    compaction picker's input)."""
    import pytest as _pytest

    from webscrap_datapipeline_spark.fsutil import fs_dir_size, fs_rename

    src = tmp_path / "a"
    src.mkdir()
    (src / "f1.bin").write_bytes(b"x" * 100)
    sub = src / "sub"
    sub.mkdir()
    (sub / "f2.bin").write_bytes(b"y" * 23)
    assert fs_dir_size(spark, str(src)) == 123
    assert fs_dir_size(spark, str(tmp_path / "missing")) == 0

    with _pytest.raises(ValueError, match="same-FileSystem only"):
        fs_rename(spark, str(src), "s3a://bucket/elsewhere")
    # unqualified same-FS rename still works
    assert fs_rename(spark, str(src), str(tmp_path / "b"))
    assert fs_dir_size(spark, str(tmp_path / "b")) == 123


def test_regime1_mine_broadcasts_bounded_batch_no_corpus_shuffle(spark, tmp_path):
    """round-11 two-regime pin (SCALE.md): a batch index inside the
    broadcast envelope must mine as a BroadcastHashJoin of the BATCH
    against a plain corpus SCAN — zero Exchange on the corpus side of
    the join. This is the plan the single plain index layout rests on
    (a bounded batch has no corpus shuffle to elide); if a planner
    change ever degrades a bounded batch to a corpus-shuffling SMJ,
    this pin flags the layout for re-measurement."""
    from webscrap_datapipeline_spark.operators.dedup import (
        incremental_lsh_candidates_from_index,
        lsh_band_index,
        minhash_signatures,
    )
    from webscrap_datapipeline_spark.streaming.dedup_stream import (
        bootstrap_lsh_index,
    )

    index_dir = str(tmp_path / "idx")
    corpus = spark.range(2000).selectExpr(
        "concat('c', id) as doc_id",
        "concat('w1x', id, ' w2x', id, ' w3x', id, ' w4x', id) as text",
    )
    bootstrap_lsh_index(corpus, index_dir)
    batch = spark.range(50).selectExpr(
        "concat('n', id) as doc_id",
        "concat('w1x', id, ' w2x', id, ' w3x', id, ' w4x', id) as text",
    )
    new_idx = lsh_band_index(minhash_signatures(batch, "text", "doc_id")).localCheckpoint(
        eager=True
    )
    mined = incremental_lsh_candidates_from_index(
        spark.read.parquet(index_dir).filter(F.col("__batch_id") < 10**9), new_idx
    )
    mined.collect()  # AQE finalizes the adaptive plan
    plan = mined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:2000]
    # the corpus side of the JOIN must not shuffle: the only hash
    # Exchanges allowed are the posting-list groupBys/distinct, which
    # sit above the join, not under its corpus input. Pin by structure:
    # no SortMergeJoin (its corpus-side Exchange is regime 2's cost).
    assert "SortMergeJoin" not in plan, plan[:2000]


def test_round11_review_guards_markers_and_stale_catalog(spark, tmp_path):
    """Round-11 review fix, pinned: retention combined with an in-sink
    MAXIMAL fold is rejected on both streaming sinks — the fold
    re-marks all content fresh every cadence, so partition-granular
    retention would silently never prune (inert-retention). Both sinks
    share one guard (`index_core.check_sink_retention`)."""
    import pytest

    from webscrap_datapipeline_spark.streaming.ann_stream import (
        incremental_ann_sink,
    )
    from webscrap_datapipeline_spark.streaming.dedup_stream import (
        incremental_near_dup_sink,
    )

    # the inert combination fails loudly at sink construction
    with pytest.raises(ValueError, match="inert"):
        incremental_near_dup_sink(
            str(tmp_path / "i"), str(tmp_path / "p"),
            compact_every=2, retain_batches=3,
        )
    with pytest.raises(ValueError, match="inert"):
        incremental_ann_sink(
            str(tmp_path / "a"), dim=4, compact_every=2, retain_batches=3
        )
    with pytest.raises(ValueError, match="retain_ts_seconds .* inert"):
        incremental_ann_sink(
            str(tmp_path / "a"), dim=4, compact_every=2,
            ts_col="ts", retain_ts_seconds=60.0,
        )
    # tiered fold + retention remains the supported pairing
    incremental_near_dup_sink(
        str(tmp_path / "i"), str(tmp_path / "p"),
        compact_every=2, compact_max_partitions=4, retain_batches=3,
    )
