"""Structured Streaming path: batch/stream parity, watermark late-data
eviction, stateful per-key operator, exactly-once merge sink.

The DuckDB oracle can't express streaming semantics (SURVEY.md §7.4), so
these are the deterministic goldens that back the rows-only checks.
"""

from __future__ import annotations

import datetime as dt

import pytest

from pyspark.sql import functions as F

from f1_data_pipeline_spark.sources import load_table
from f1_data_pipeline_spark.streaming import stateful, structured, windows


def _rows_set(df, cols):
    return {tuple(r[c] for c in cols) for r in df.collect()}


@pytest.fixture(scope="module")
def events_stream_dir(spark, sf_dir, tmp_path_factory):
    """sf0.001 events rewritten as normal µs-timestamp parquet (the ns→long
    legacy read path doesn't apply to readStream with an explicit schema)."""
    out = str(tmp_path_factory.mktemp("events_stream"))
    load_table(spark, sf_dir, "events").coalesce(2).write.mode("overwrite").parquet(out)
    return out


def test_stream_batch_parity_tumbling(spark, sf_dir, events_stream_dir, tmp_path):
    batch = windows.tumbling_agg(load_table(spark, sf_dir, "events"), "1 hour")
    streamed = structured.stream_snapshot(
        spark,
        events_stream_dir,
        lambda df: windows.tumbling_agg(df, "1 hour"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        query_name="tumbling_parity",
    )
    cols = ["window_start", "window_end", "event_type", "n_events", "total_value"]
    assert _rows_set(streamed, cols) == _rows_set(batch, cols)


def test_watermark_drops_late_rows(spark, tmp_path):
    """Append mode + watermark: a row arriving in a later micro-batch with
    event time older than (max event time − watermark) is dropped — the
    streaming form of the reference's 2-day late-race buffer."""
    src = tmp_path / "src"
    src.mkdir()

    def mk(name, rows):
        spark.createDataFrame(
            rows, structured.EVENTS_STREAM_SCHEMA
        ).coalesce(1).write.mode("overwrite").parquet(str(src / name))

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def ev(i, minutes, user=1):
        return (i, t0 + dt.timedelta(minutes=minutes), user, "click", 1.0, None)

    import time

    # batch 1 advances event time to 03:00 (watermark 02:00 at batch end);
    # batch 2 evicts + emits the closed 00:00 window; batch 3 carries a row
    # at 00:30 — older than the watermark AND its state gone → dropped.
    # (Spark only drops late rows once the window state is evicted, which
    # happens at end-of-batch — hence the committing middle batch.)
    mk("b1", [ev(0, 5), ev(1, 180)])
    time.sleep(1.1)
    mk("b2", [ev(2, 185)])
    time.sleep(1.1)
    mk("b3", [ev(3, 30), ev(4, 190)])

    stream = structured.read_event_stream(
        spark, str(src) + "/b*", watermark="1 hour", max_files_per_trigger=1
    )
    agg = windows.tumbling_agg(stream, "1 hour")
    out = structured.run_available_now(
        agg, str(tmp_path / "ckpt"), output_mode="append", query_name="late_drop"
    )
    # the 00:00 window closed with only its on-time row; the late 00:30 row
    # produced no output and did not reopen the window.
    closed = [r for r in out.collect() if r["window_start"] == t0]
    assert len(closed) == 1 and closed[0]["n_events"] == 1


def test_stateful_user_profile(spark, events_stream_dir, tmp_path):
    stream = structured.read_event_stream(
        spark, events_stream_dir, watermark=None
    )
    profiles = stateful.user_profile_stream(stream)
    out = structured.run_available_now(
        profiles, str(tmp_path / "ckpt"), output_mode="update", query_name="profiles"
    )
    # update mode may emit a row per (user, micro-batch); the final row per
    # user carries the full running totals — compare against batch truth.
    latest = (
        out.groupBy("user_id").agg(F.max("n_events").alias("n_events")).collect()
    )
    truth = {
        r["user_id"]: r["n"]
        for r in spark.read.parquet(events_stream_dir)
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    got = {r["user_id"]: r["n_events"] for r in latest}
    assert got == truth


def test_merge_sink_idempotent(spark, events_stream_dir, tmp_path):
    """foreachBatch MERGE target equals batch dedup result, and re-running
    the whole stream over the same input leaves the target unchanged."""
    target = str(tmp_path / "target")

    def run(ckpt):
        stream = structured.read_event_stream(spark, events_stream_dir, watermark=None)
        q = structured.start_merge_sink(
            stream,
            target,
            keys=["event_id"],
            checkpoint_dir=str(tmp_path / ckpt),
        )
        q.awaitTermination(300)

    run("ckpt1")
    first = _rows_set(spark.read.parquet(target), ["event_id", "user_id"])
    run("ckpt2")  # fresh checkpoint → full replay → MERGE must be a no-op
    second = _rows_set(spark.read.parquet(target), ["event_id", "user_id"])
    truth = _rows_set(spark.read.parquet(events_stream_dir), ["event_id", "user_id"])
    assert first == truth and second == truth


def test_as_of_join_golden(spark):
    """Deterministic golden for the union-window as-of join, including the
    equal-timestamp tie (quote at probe ts matches) and no-quote null."""
    t = dt.datetime(2024, 1, 1)

    def s(sec):
        return t + dt.timedelta(seconds=sec)

    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    quotes = spark.createDataFrame(
        [(1, s(10), 1, "click", 0.0, None), (2, s(20), 1, "click", 0.0, None),
         (3, s(5), 2, "click", 0.0, None)],
        schema,
    )
    probes = spark.createDataFrame(
        [(10, s(15), 1, "purchase", 0.0, None),   # → quote 1
         (11, s(20), 1, "purchase", 0.0, None),   # tie → quote 2
         (12, s(4), 2, "purchase", 0.0, None),    # before any quote → null
         (13, s(9), 3, "purchase", 0.0, None)],   # user with no quotes → null
        schema,
    )
    got = {
        r["probe_id"]: (r["quote_id"], r["lag_seconds"])
        for r in windows.as_of_join(probes, quotes).collect()
    }
    assert got == {10: (1, 5), 11: (2, 0), 12: (None, None), 13: (None, None)}


def test_stream_batch_parity_session_window(spark, sf_dir, events_stream_dir, tmp_path):
    """Session windows are the hardest stateful case (sessions merge as
    events arrive); availableNow drain must converge to the batch answer."""
    batch = windows.session_agg(load_table(spark, sf_dir, "events"), "5 minutes")
    streamed = structured.stream_snapshot(
        spark,
        events_stream_dir,
        lambda df: windows.session_agg(df, "5 minutes"),
        checkpoint_dir=str(tmp_path / "ckpt_sess"),
        query_name="session_parity",
    )
    cols = ["session_start", "session_end", "user_id", "n_events", "total_value"]
    assert _rows_set(streamed, cols) == _rows_set(batch, cols)


def test_foreachbatch_windowed_merge_materialized_view(
    spark, sf_dir, events_stream_dir, tmp_path
):
    """Streaming materialized view: windowed agg in update mode merged into
    a parquet table per micro-batch — converges to the batch aggregate."""
    target = str(tmp_path / "mv")
    stream = structured.read_event_stream(
        spark, events_stream_dir, watermark="2 days", max_files_per_trigger=1
    )
    agg = windows.tumbling_agg(stream, "1 hour")
    from f1_data_pipeline_spark.operators import sinks

    def merge_batch(batch, _id):
        sinks.merge_upsert(
            batch.sparkSession, batch, target,
            ["window_start", "window_end", "event_type"],
        )

    q = (
        agg.writeStream.outputMode("update")
        .foreachBatch(merge_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt_mv"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    batch_truth = windows.tumbling_agg(load_table(spark, sf_dir, "events"), "1 hour")
    cols = ["window_start", "window_end", "event_type", "n_events", "total_value"]
    assert _rows_set(spark.read.parquet(target), cols) == _rows_set(batch_truth, cols)


def test_stateful_timeout_evicts_idle_keys(spark, tmp_path):
    """ProcessingTimeTimeout: a key absent from later micro-batches times
    out, emits its final evicted=true row, and its state is removed."""
    import time

    src = tmp_path / "src_timeout"
    src.mkdir()
    t0 = dt.datetime(2024, 1, 1)

    def mk(name, rows):
        spark.createDataFrame(
            rows, structured.EVENTS_STREAM_SCHEMA
        ).coalesce(1).write.mode("overwrite").parquet(str(src / name))

    # user 1 appears only in batch 1; user 2 in both
    mk("b1", [(0, t0, 1, "click", 1.0, None), (1, t0, 2, "click", 1.0, None)])
    time.sleep(1.2)
    mk("b2", [(2, t0 + dt.timedelta(minutes=1), 2, "click", 1.0, None)])
    time.sleep(1.2)
    mk("b3", [(3, t0 + dt.timedelta(minutes=2), 2, "click", 1.0, None)])

    stream = structured.read_event_stream(
        spark, str(src) + "/b*", watermark=None, max_files_per_trigger=1
    )
    profiles = stateful.user_profile_stream(stream, timeout_ms=1)
    out = structured.run_available_now(
        profiles, str(tmp_path / "ckpt_to"), output_mode="update",
        query_name="timeout_profiles", timeout_sec=20,
    )
    rows = out.collect()
    evicted_u1 = [r for r in rows if r["user_id"] == 1 and r["evicted"]]
    assert len(evicted_u1) == 1
    assert evicted_u1[0]["n_events"] == 1  # final totals preserved on eviction
    # the active user kept accumulating, never evicted mid-stream
    u2 = max(
        (r for r in rows if r["user_id"] == 2 and not r["evicted"]),
        key=lambda r: r["n_events"],
    )
    assert u2["n_events"] == 3


def test_stream_stream_interval_join_parity(spark, sf_dir, events_stream_dir, tmp_path):
    """True stream-stream join (watermarks on both sides, event-time
    interval condition) must equal the batch range_join on the same data."""
    ev = load_table(spark, sf_dir, "events")
    batch_truth = windows.range_join(
        ev.filter(F.col("event_type") == "purchase"),
        ev.filter(F.col("event_type") == "click"),
        "10 minutes",
    )
    s_probes = structured.read_event_stream(
        spark, events_stream_dir, watermark="2 days"
    ).filter(F.col("event_type") == "purchase")
    s_quotes = structured.read_event_stream(
        spark, events_stream_dir, watermark="2 days"
    ).filter(F.col("event_type") == "click")
    joined = windows.stream_stream_interval_join(s_probes, s_quotes, "10 minutes")
    out = structured.run_available_now(
        joined, str(tmp_path / "ckpt_ssj"), output_mode="append", query_name="ssj"
    )
    cols = ["probe_id", "user_id", "probe_ts", "quote_id", "quote_ts"]
    assert _rows_set(out, cols) == _rows_set(batch_truth, cols)


def test_stream_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark: a key re-arriving in a later
    micro-batch inside the watermark horizon is dropped; state stays
    bounded to the horizon (the streaming form of exact dedup)."""
    src = tmp_path / "src_dedup"
    src.mkdir()
    t0 = dt.datetime(2024, 1, 1)

    def mk(name, rows):
        spark.createDataFrame(
            rows, structured.EVENTS_STREAM_SCHEMA
        ).coalesce(1).write.mode("overwrite").parquet(str(src / name))

    mk("b1", [(1, t0, 10, "click", 1.0, None), (2, t0, 11, "click", 1.0, None)])
    mk("b2", [(1, t0 + dt.timedelta(minutes=1), 10, "click", 99.0, None),  # dup id
              (3, t0 + dt.timedelta(minutes=2), 12, "click", 1.0, None)])

    stream = structured.read_event_stream(
        spark, str(src) + "/b*", watermark="1 day", max_files_per_trigger=1
    )
    out = structured.run_available_now(
        windows.stream_dedup(stream, ["event_id"]),
        str(tmp_path / "ckpt_dedup"),
        output_mode="append",
        query_name="dedup_stream",
    )
    rows = out.collect()
    assert sorted(r["event_id"] for r in rows) == [1, 2, 3]  # dup dropped


def test_merge_sink_partition_scoped_and_manifest_commits(spark, tmp_path):
    """Bounded-rewrite streaming MERGE: one micro-batch per day-file, each
    committed via one manifest flip per batch — it converges to the same
    rows as a full batch MERGE, and the manifest version count proves
    per-batch commits. Manifest is the only partitioned commit mode."""
    import datetime as dt

    from f1_data_pipeline_spark.operators import sinks

    src = str(tmp_path / "bydays")
    days = ["2024-03-01", "2024-03-02", "2024-03-03"]
    all_rows = []
    for di, day in enumerate(days):
        rows = [
            (
                di * 1000 + i,
                dt.datetime.fromisoformat(f"{day}T0{i}:00:00"),
                i % 7,
                "click",
                float(i),
                "{}",
                day,
            )
            for i in range(6)
        ]
        all_rows += rows
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string, day string",
        ).coalesce(1).write.mode("append").parquet(src)

    schema = spark.read.parquet(src).schema
    expected = {(r[0], r[6], r[4]) for r in all_rows}

    def run(target, ckpt, **sink_kwargs):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = structured.start_merge_sink(
            stream, target, keys=["event_id"],
            checkpoint_dir=str(tmp_path / ckpt), **sink_kwargs,
        )
        q.awaitTermination(300)
        q.stop()

    retired = "rename"  # the removed directory-swap commit mode
    with pytest.raises(ValueError, match="unknown commit mode"):
        run(str(tmp_path / "t_rename"), "ck_rename", partition_col="day",
            commit=retired)

    t_man = str(tmp_path / "t_manifest")
    run(t_man, "ck_manifest", partition_col="day")
    got_m = {
        (r["event_id"], r["day"], r["value"])
        for r in sinks.read_manifest_table(spark, t_man).collect()
    }
    assert got_m == expected
    # one atomic manifest commit per micro-batch (3 day-files → 3 versions)
    assert sinks.read_manifest(t_man)["version"] == 3
