"""Structured Streaming wiring: sources, watermarks, sinks, run helpers.

Maps the reference's scheduled-batch-plus-watermark control plane
(/root/reference/metadata.py:244-341 — the 2-day late-race buffer; the
idempotent upsert sinks at loaders/__init__.py:254-272) onto native
Structured Streaming: `withWatermark` is the buffer, checkpoints are the
sync_status table, and foreachBatch+MERGE is the exactly-once sink.

Scale notes: file sources list incrementally (maxFilesPerTrigger bounds a
micro-batch); state store size is governed by the watermark horizon — a
2-day watermark on a 1-hour window keeps ~48 windows of state per key, not
unbounded history.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from f1_data_pipeline_spark.operators import sinks

EVENTS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_event_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType = EVENTS_STREAM_SCHEMA,
    max_files_per_trigger: int | None = None,
    watermark: str | None = "2 days",
    ts_col: str = "ts",
) -> DataFrame:
    """File-based event stream with an event-time watermark.

    The watermark default mirrors the reference's `buffer_days=2` late-data
    policy (metadata.py:244): rows later than max(event time) − 2 days are
    dropped from open aggregations instead of reopening them.
    """
    reader = spark.readStream.schema(schema).format("parquet")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.load(path)
    if watermark is not None:
        df = df.withWatermark(ts_col, watermark)
    return df


def run_available_now(
    stream_df: DataFrame,
    checkpoint_dir: str,
    output_mode: str = "complete",
    query_name: str = "snapshot",
    timeout_sec: int = 300,
) -> DataFrame:
    """Drain all available input through a streaming query into an
    in-memory table and return it as a DataFrame (test/snapshot helper —
    the streaming analog of the reference's run-once cron invocation,
    f1_pipeline.yml:9-11)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_sec):
        # a query with armed processing-time timeouts keeps scheduling
        # batches to fire them and never self-terminates under
        # availableNow — the input is long since drained, stop it
        q.stop()
    spark = stream_df.sparkSession
    return spark.table(query_name)


def start_merge_sink(
    stream_df: DataFrame,
    target_path: str,
    keys: list[str],
    checkpoint_dir: str,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    partition_col: str | None = None,
    commit: str = "manifest",
    check_moved_keys: bool = True,
) -> StreamingQuery:
    """Exactly-once-effect sink: per micro-batch, MERGE the batch into the
    target table keyed on `keys` (reference upsert semantics A7;
    idempotent under micro-batch replay because MERGE is).

    Rewrite amplification is the scale hazard of a streaming MERGE into
    plain parquet: the default full-table `merge_upsert` rewrites
    O(table) per micro-batch, so an N-batch run costs N table rewrites
    (measured ~N× the one-batch plan, SCALE_NOTES "Streaming vs batch").
    Pass `partition_col` (e.g. the event date every batch naturally
    clusters on) to bound each micro-batch to its touched partitions: the
    target is then a manifest table written by `merge_upsert_manifest`
    (immutable prefixes + one atomic manifest-object flip per batch) —
    read it back with `read_manifest_table`, not a plain parquet read.
    `commit` accepts only "manifest", the one partitioned commit protocol.

    `check_moved_keys=False` skips the guard scan of UNTOUCHED partitions'
    key columns (the one per-batch cost that grows with table size, not
    batch size). Safe exactly when the source guarantees a key's partition
    value never changes — e.g. an event stream where the partition column
    is derived from the keyed row itself (day = to_date(ts) for a unique
    event_id); leave it on for feeds that may re-assign keys.
    """
    if commit != "manifest":
        raise ValueError(f"unknown commit mode {commit!r}")
    if partition_col is not None:
        # pre-warm the manifest commit path's lazy imports BEFORE the
        # first micro-batch: the footer-stats reader (pyarrow.parquet)
        # alone costs several hundred ms of import time, which otherwise
        # lands entirely inside batch 1's latency (round-7 bench:
        # batch_secs[0] 2.6 s vs ~1.5 s steady state). Driver-side and
        # once per sink, not per batch.
        import pyarrow.parquet  # noqa: F401

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        out = transform(batch_df) if transform is not None else batch_df
        if partition_col is None:
            sinks.merge_upsert(out.sparkSession, out, target_path, list(keys))
        else:
            sinks.merge_upsert_manifest(
                out.sparkSession, out, target_path, list(keys), partition_col,
                check_moved_keys=check_moved_keys,
                count_rows=False,  # foreachBatch discards the return value
            )

    return (
        stream_df.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def start_scd2_sink(
    stream_df: DataFrame,
    target_path: str,
    keys: list[str],
    checkpoint_dir: str,
    ts_col: str = "effective_ts",
    track_cols: list[str] | None = None,
    partition_col: str | None = None,
    on_late: str = "skip",
) -> StreamingQuery:
    """Streaming dimension maintenance: per micro-batch, `scd2_merge`
    the batch into the versioned dimension at `target_path` — attribute
    changes close the current row and open a new version, so downstream
    point-in-time joins see history instead of the reference's
    overwrite-upsert. Replay-idempotent: a replayed micro-batch
    classifies every key unchanged (version identity is (key,
    valid_from)), so crash/restart never duplicates versions.

    `on_late` defaults to "skip" here (the batch verb defaults to
    "error"): in a stream, one stale message must not wedge the query
    forever — skipped-late counts surface in scd2_merge's return, which
    foreachBatch discards, so monitor via the dimension itself. NOTE:
    within ONE micro-batch only each key's LATEST version lands (B4
    dedup semantics); intermediate versions arriving in the same batch
    are skipped by design — shrink the trigger interval if every
    intermediate version matters."""
    from f1_data_pipeline_spark.operators.scd import scd2_merge

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        scd2_merge(
            batch_df.sparkSession, batch_df, target_path, list(keys),
            ts_col=ts_col, track_cols=track_cols,
            partition_col=partition_col, on_late=on_late,
        )

    return (
        stream_df.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def start_matview_sink(
    stream_df: DataFrame,
    source_path: str,
    keys: list[str],
    checkpoint_dir: str,
    partition_col: str,
    rollup_target: str,
    group_cols: list[str],
    aggs: dict,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    check_moved_keys: bool = False,
) -> StreamingQuery:
    """Continuous aggregate: per micro-batch, MERGE the batch into the
    manifest-committed source table, then incrementally refresh the
    partition-aligned rollup (operators/matview.refresh_rollup) — the
    streaming composition of the manifest sink and the CDC-driven
    materialized view, as one sink.

    Exactly-once end to end without coordination between the two steps:
    the MERGE is idempotent under micro-batch replay, and the refresh is
    watermark-driven (the consumed source version commits atomically
    with the rollup data), so any crash/replay interleaving converges —
    a replayed batch re-merges to the same table state and the refresh
    either no-ops (already consumed) or recomputes exactly the touched
    partitions. Per-batch cost ∝ the batch's partitions for the merge
    plus the changed partitions for the refresh; neither grows with
    table size (the bounded shape SCALE_NOTES measures).

    `check_moved_keys=False` is the default here for the same reason as
    `start_merge_sink`'s flag: event streams derive the partition from
    the keyed row, so keys can't change partitions."""

    from f1_data_pipeline_spark.operators import matview

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        out = transform(batch_df) if transform is not None else batch_df
        sinks.merge_upsert_manifest(
            out.sparkSession, out, source_path, list(keys), partition_col,
            check_moved_keys=check_moved_keys, count_rows=False,
        )
        # an all-filtered FIRST batch merges nothing and creates no source
        # table — nothing to refresh yet (refresh_rollup would raise on
        # the missing manifest and kill the query)
        if sinks.read_manifest(source_path) is not None:
            matview.refresh_rollup(
                out.sparkSession, source_path, rollup_target,
                list(group_cols), aggs,
            )

    return (
        stream_df.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_snapshot(
    spark: SparkSession,
    events_dir: str,
    transform: Callable[[DataFrame], DataFrame],
    checkpoint_dir: str,
    watermark: str | None = "2 days",
    output_mode: str = "complete",
    query_name: str = "stream_snapshot",
    **reader_kwargs: Any,
) -> DataFrame:
    """readStream → transform → drain to memory. The declarative contract:
    `transform` is the same function the batch path uses (windows.py)."""
    stream = read_event_stream(
        spark, events_dir, watermark=watermark, **reader_kwargs
    )
    return run_available_now(
        transform(stream), checkpoint_dir, output_mode, query_name
    )
