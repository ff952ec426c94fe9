"""Structured Streaming facade over the export pipeline.

``run_export_stream`` is the streaming-native form of the poll loop
(SURVEY §7.2 step 7): a ``readStream`` source, a processing-time
trigger (≙ PollingIntervalSeconds), and a ``foreachBatch`` that runs
the same envelope → multi-sink fan-out → DLQ path as the poller.

Commit semantics (T2): the checkpoint's offset log is the watermark —
Spark commits the epoch only after ``foreachBatch`` returns, and
inside the batch we persist dead letters *before* returning, giving
the reference's at-least-once contract (watermark advances despite
per-sink failures; a crash mid-batch replays the whole batch, and the
DLQ's (source_key, hash) dedup absorbs the replay). The batch max
version is additionally mirrored into the StateStore so the
dashboard/state surface matches the reference's ``LastVersions``.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from trignis_spark.config import EnvironmentConfig, TrackingObject
from trignis_spark.deadletter import DeadLetterStore
from trignis_spark.operators import changefeed as cf
from trignis_spark.sinks.base import ExportContext, RetryPolicy, Sink
from trignis_spark.state import StateStore
from trignis_spark.streaming.poller import export_distributed, export_envelopes

log = logging.getLogger("trignis_spark.structured")


def make_export_batch_fn(
    env: EnvironmentConfig,
    obj: TrackingObject,
    sinks: list[Sink],
    state: StateStore,
    dlq: DeadLetterStore,
    retry: RetryPolicy | None = None,
    df_sinks=None,  # list[DataFrameSink] — executor-parallel destinations
):
    """The foreachBatch body, on the poller's two export routines:
    distributed DataFrame sinks first (e.g. a MirrorTableSink turns the
    stream into a continuously-maintained materialized view; only they
    need the (watermark, count) aggregate), then the chunked envelope
    fan-out with its dead letters, then the watermark mirror — the
    epoch max. An epoch without rows writes nothing."""
    retry = retry or RetryPolicy(
        attempts=env.retry_count, delay_seconds=env.retry_delay_seconds
    )
    df_sinks = df_sinks or []
    df_names = frozenset(d.name for d in df_sinks)

    def export_batch(batch_df: DataFrame, epoch_id: int) -> None:
        ctx = ExportContext(
            environment=env.name,
            database=obj.database,
            object_name=obj.name,
            key=f"{env.name}/{obj.name}/epoch-{epoch_id}",
        )
        ordered = batch_df.orderBy(cf.VERSION)
        new_wm = None
        if df_sinks:
            agg = batch_df.agg(
                F.max(cf.VERSION).alias("wm"), F.count(F.lit(1)).alias("n")
            ).first()
            if agg["n"] == 0:
                return
            new_wm = agg["wm"]
            export_distributed(ordered, df_sinks, ctx, dlq, 0, new_wm, agg["n"], "Diff")
        if sinks or new_wm is None:
            _, last_version, _ = export_envelopes(
                ordered, env.max_records_per_batch, "Diff", 0, sinks, ctx,
                retry, dlq, skip_dlq=df_names,
            )
            new_wm = last_version if new_wm is None else new_wm
        if new_wm is not None:
            state.set_last_version(env.name, obj.name, new_wm)

    return export_batch


def run_export_stream(
    stream_df: DataFrame,
    env: EnvironmentConfig,
    obj: TrackingObject,
    sinks: list[Sink],
    state: StateStore,
    dlq: DeadLetterStore,
    checkpoint_dir: str,
    trigger_seconds: int | None = None,
    available_now: bool = False,
    retry: RetryPolicy | None = None,
    df_sinks=None,
):
    """Start the streaming export query. ``available_now=True`` drains
    everything pending then stops (test/backfill mode); otherwise the
    processing-time trigger plays the polling interval."""
    writer = (
        stream_df.writeStream.foreachBatch(
            make_export_batch_fn(env, obj, sinks, state, dlq, retry, df_sinks)
        )
        .option("checkpointLocation", checkpoint_dir)
        .queryName(f"export-{env.name}-{obj.name}")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(
            processingTime=f"{trigger_seconds or env.polling_interval_seconds} seconds"
        )
    return writer.start()


def windowed_rate_stats(stream_df: DataFrame, window: str = "1 minute",
                        watermark_delay: str = "2 minutes") -> DataFrame:
    """T3: event-time windowed aggregation with late-data watermarking —
    per-window change counts by operation (the streaming analog of the
    monitor's windowed conditional counts)."""
    return (
        stream_df.withColumn("event_time", F.col("ts"))
        .withWatermark("event_time", watermark_delay)
        .groupBy(F.window("event_time", window), F.col(cf.OPERATION))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def session_window_stats(
    stream_df: DataFrame,
    gap: str = "30 minutes",
    watermark_delay: str = "10 minutes",
    user_col: str = "user_key",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Native session-window aggregation — the streaming twin of the
    batch gaps-and-islands sessionizer (``operators/sessions.py``) using
    ``F.session_window`` so Spark manages the merge/expire state: a
    session closes when the event-time watermark passes its end + gap,
    giving bounded state at any stream length."""
    return (
        stream_df.withWatermark(ts_col, watermark_delay)
        .groupBy(
            F.session_window(F.col(ts_col), gap).alias("session"),
            F.col(user_col),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col(value_col).cast("decimal(20,6)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            user_col,
            F.col("session.start").alias("session_start"),
            F.col("session.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def streaming_dedup(
    stream_df: DataFrame,
    keys: list[str],
    event_time_col: str = "ts",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup with bounded state: duplicates of (keys)
    are suppressed across micro-batches; the event-time watermark lets
    Spark drop dedup state older than the delay, so state size tracks
    the window, not the stream's lifetime. The streaming twin of the
    batch content-hash dedup (D1)."""
    return stream_df.withWatermark(event_time_col, watermark_delay).dropDuplicates(
        [*keys, event_time_col]
    )


def streaming_dedup_within_watermark(
    stream_df: DataFrame,
    keys: list[str],
    event_time_col: str = "ts",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Streaming dedup where the *keys alone* are the identity: a
    replayed row with the same keys but a different event time is still
    a duplicate (the reference's content-hash D1 semantics — identity
    does not include arrival time). Native
    ``dropDuplicatesWithinWatermark`` keeps the state bounded by the
    watermark delay without smuggling the timestamp into the key, which
    ``streaming_dedup`` has to do. Use this form when duplicates can
    arrive with drifted timestamps (e.g. re-extracted change batches
    where the extraction time rides along)."""
    return stream_df.withWatermark(
        event_time_col, watermark_delay
    ).dropDuplicatesWithinWatermark(keys)
