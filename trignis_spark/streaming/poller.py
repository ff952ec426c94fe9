"""The poll pipeline: one change-feed cycle per tracking object.

Re-implements the reference's hot path
(``ChangeTrackingBackgroundService.cs:327-606``, SURVEY §3.2) on
DataFrames:

  read watermark → decide mode (seed / full / incremental) → bounded
  incremental scan → envelope → fan-out to every sink (failures
  independent, dead-lettered) → advance watermark.

Consistency contract (SURVEY §1.4 + §7.4):
- the watermark advances after the export *attempt*, even when some
  destinations failed — each failure is persisted to the DLQ first
  (write-ordering: DLQ before state), so replays cannot be lost;
- if the read or envelope step throws, nothing advances and the same
  rows are re-fetched next cycle (at-least-once);
- during seed, rows returned by a misbehaving source are discarded with
  a warning and only the probed version is stored.

Two export paths:
- **envelope path** (``sinks``): the batch streams to the driver in
  version-ordered chunks of at most ``max_records_per_batch`` rows
  (``iter_envelope_chunks``), each chunk one JSON envelope — the
  reference's unit of export, with the batch-split cap applied at the
  poll level so the driver's residency is bounded regardless of batch
  size. That iteration is the poll's one Spark action: the watermark is
  the last exported row's version and the count the sum of the chunk
  lengths; a batch yielding no chunk is an empty poll, no state written.
  Full syncs route to the distributed path when one is configured;
- **distributed path** (``df_sinks``): the batch never leaves the
  executors — ``DataFrameSink``s write it partition-parallel and only
  the (watermark, count) aggregate reaches the driver; failures
  dead-letter a replayable version-range *manifest* instead of rows
  (``sinks/spark_file.py``). Use this for 100 TB initial syncs and
  large backfills. Only this path runs the aggregate: the manifest and
  the sidecar metadata need both values before any write.
"""

from __future__ import annotations

import json
import logging
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trignis_spark.config import EnvironmentConfig, TrackingObject
from trignis_spark.deadletter import DeadLetterStore
from trignis_spark.operators import changefeed as cf
from trignis_spark.sinks.base import ExportContext, RetryPolicy, Sink, SinkFailure
from trignis_spark.sinks.spark_file import DataFrameSink, batch_manifest
from trignis_spark.state import PauseStore, StateStore

log = logging.getLogger("trignis_spark.poller")


@dataclass
class CycleResult:
    object_name: str
    mode: str  # "seed" | "full" | "sync" | "paused" | "empty"
    exported_rows: int = 0
    new_watermark: int | None = None
    failures: list[SinkFailure] = field(default_factory=list)


def envelope_json(
    batch_rows: list[dict], sync_version: int, sync_type: str, reason_code: int = 0
) -> str:
    """Serialize the change-batch envelope (FIXTURES F4)."""
    return json.dumps(
        {
            "Metadata": {
                "Sync": {
                    "Version": sync_version,
                    "Type": sync_type,
                    "ReasonCode": reason_code,
                }
            },
            "Data": batch_rows,
        },
        default=str,
        separators=(",", ":"),
    )


def iter_envelope_chunks(ordered: DataFrame, max_records: int):
    """Stream a version-ordered batch to the driver in bounded chunks.

    The reference splits >MaxRecordsPerBatch payloads into sequential
    batches inside the HTTP sink (``ExportService.cs:106-129``); here the
    same cap is enforced *at the poll level* so no collect-based sink —
    and no Full initial sync — can ever materialize the whole batch on
    the driver. ``toLocalIterator(prefetchPartitions=False)`` fetches one
    partition at a time, so driver residency is O(max_records + one
    partition), independent of batch size. Shuffle outputs of the sort
    are reused across the per-partition jobs (same RDD lineage), so the
    upstream scan is not recomputed per chunk.
    """
    chunk: list[dict] = []
    for row in ordered.toLocalIterator(prefetchPartitions=False):
        chunk.append(row.asDict(recursive=True))
        if len(chunk) >= max_records:
            yield chunk
            chunk = []
    if chunk:
        yield chunk


def export_fanout(
    payload: str,
    sinks: list[Sink],
    ctx: ExportContext,
    retry: RetryPolicy,
    breakers: dict[str, object] | None = None,
) -> list[SinkFailure]:
    """T6 + T7 + T8: deliver one payload to every sink; failures are
    independent per destination (``ExportService.cs:51-154``)."""
    failures: list[SinkFailure] = []
    for sink in sinks:
        try:
            breaker = (breakers or {}).get(sink.name)
            if breaker is not None:
                breaker.run(retry.run, sink.write, payload, ctx)
            else:
                retry.run(sink.write, payload, ctx)
        except Exception as e:  # noqa: BLE001 — every sink failure is recorded
            retryable = getattr(e, "retryable", True)
            failures.append(SinkFailure(sink.name, str(e), retryable))
    return failures


def dead_letter(dlq: DeadLetterStore, ctx: ExportContext, sink_name: str,
                data: str, error: str) -> None:
    dlq.save(
        source_key=f"{ctx.environment}/{ctx.object_name}/{sink_name}",
        tracking_object_name=ctx.object_name, environment_name=ctx.environment,
        database_name=ctx.database, data=data, error_message=error,
    )


def export_envelopes(
    ordered: DataFrame, max_records: int, sync_type: str, reason_code: int,
    sinks: list[Sink], ctx: ExportContext, retry: RetryPolicy,
    dlq: DeadLetterStore, skip_dlq: frozenset[str] = frozenset(),
) -> tuple[int, int | None, list[SinkFailure]]:
    """The envelope path, one Spark action: each version-ordered chunk is
    one envelope (its own monotone max version) fanned out to every sink;
    a failed delivery dead-letters that chunk's payload, so replay
    granularity matches what was sent. Returns ``(exported,
    last_version, failures)`` — ``last_version`` is the last exported
    row's version (``None`` if there was no row), which the caller
    commits as the watermark only now, after every dead letter is
    durable (DLQ before watermark: a crash between the two re-fetches).
    Sinks in ``skip_dlq`` already dead-lettered a manifest."""
    exported, last_version = 0, None
    failures: list[SinkFailure] = []
    for chunk in iter_envelope_chunks(ordered, max_records):
        last_version = chunk[-1][cf.VERSION]
        payload = envelope_json(chunk, last_version, sync_type, reason_code)
        chunk_failures = export_fanout(payload, sinks, ctx, retry)
        for fail in chunk_failures:
            if fail.sink_name not in skip_dlq:
                dead_letter(dlq, ctx, fail.sink_name, payload, fail.error)
        failures += chunk_failures
        exported += len(chunk)
    return exported, last_version, failures


def export_distributed(
    ordered: DataFrame, df_sinks: list[DataFrameSink], ctx: ExportContext,
    dlq: DeadLetterStore, from_version: int, to_version: int, rows: int,
    sync_type: str, reason_code: int = 0,
) -> list[SinkFailure]:
    """The distributed path: every ``DataFrameSink`` writes the batch
    executor-side; a failure dead-letters the replayable version-range
    manifest, not the rows — replay re-scans the range from the source."""
    metadata = {"Sync": {"Version": to_version, "Type": sync_type,
                         "ReasonCode": reason_code}}
    manifest = batch_manifest(ctx, from_version, to_version, rows)
    failures: list[SinkFailure] = []
    for dfs in df_sinks:
        try:
            dfs.write_df(ordered, ctx, metadata)
        except Exception as e:  # noqa: BLE001
            failures.append(SinkFailure(dfs.name, str(e), True))
            dead_letter(dlq, ctx, dfs.name, manifest, str(e))
    return failures


class PollPipeline:
    """One environment's poller: objects processed sequentially (like the
    reference); environments run concurrently under the Orchestrator."""

    def __init__(
        self,
        spark: SparkSession,
        env: EnvironmentConfig,
        source_fn,  # (spark, TrackingObject) -> outbox DataFrame
        sinks: list[Sink],
        state: StateStore,
        dlq: DeadLetterStore,
        pauses: PauseStore | None = None,
        retry: RetryPolicy | None = None,
        min_valid_version_fn=None,  # (TrackingObject) -> int, S7 probe
        horizon_fn=None,  # (spark, TrackingObject) -> int | None, P3 probe
        df_sinks: list[DataFrameSink] | None = None,
    ):
        self.spark = spark
        self.env = env
        self.source_fn = source_fn
        self.sinks = sinks
        self.df_sinks = df_sinks or []
        self.state = state
        self.dlq = dlq
        self.pauses = pauses
        self.retry = retry or RetryPolicy(
            attempts=env.retry_count, delay_seconds=env.retry_delay_seconds
        )
        self.min_valid_version_fn = min_valid_version_fn
        self.horizon_fn = horizon_fn

    # -- one cycle ---------------------------------------------------------

    def run_cycle(self) -> list[CycleResult]:
        results = []
        commit = getattr(self.source_fn, "commit", None)
        for obj in self.env.tracking_objects:
            if self.pauses is not None and self.pauses.is_paused(
                self.env.name, obj.name
            ):
                results.append(CycleResult(obj.name, "paused"))
                continue
            results.append(self.poll_object(obj))
            if commit is not None:
                # sources with staged state (snapshot diff) promote it only
                # after the export attempt — a crash earlier re-emits
                commit(obj)
        return results

    def poll_object(self, obj: TrackingObject) -> CycleResult:
        last = self.state.get_last_version(self.env.name, obj.name)

        # mode decision (ChangeTrackingBackgroundService.cs:447-480)
        if last is None:
            outbox = self.source_fn(self.spark, obj)
            if obj.initial_sync_mode == "Full":
                return self._full_sync(obj, outbox)
            return self._seed(obj, outbox)

        from_version = last
        reason = 0
        if self.min_valid_version_fn is not None:
            from_version, reason = cf.min_valid_version_reset(
                last, self.min_valid_version_fn(obj)
            )
            if reason == 1:
                log.warning(
                    "%s/%s: watermark %d below min valid version — full resync",
                    self.env.name, obj.name, last,
                )
                return self._full_sync(
                    obj, self.source_fn(self.spark, obj), reason_code=1
                )

        # incremental: probe the horizon first so pushdown-capable sources
        # (JdbcOutboxSource) carry `version > wm AND xact_id < horizon`
        # inside the generated source SQL instead of post-read filters
        horizon = (
            self.horizon_fn(self.spark, obj) if self.horizon_fn is not None else None
        )
        if getattr(self.source_fn, "supports_pushdown", False):
            outbox = self.source_fn(
                self.spark, obj, from_version=from_version, horizon=horizon
            )
        else:
            outbox = self.source_fn(self.spark, obj)
        return self._sync(obj, outbox, from_version, horizon)

    # -- modes -------------------------------------------------------------

    def _seed(self, obj: TrackingObject, outbox: DataFrame) -> CycleResult:
        """S6: store current max version, export nothing; discard any rows."""
        row = outbox.agg(
            F.coalesce(F.max(cf.VERSION), F.lit(0)).alias("v"),
            F.count(F.lit(1)).alias("n"),
        ).first()
        if row["n"] > 0:
            log.warning(
                "%s/%s: source returned %d rows during seed; discarding",
                self.env.name, obj.name, row["n"],
            )
        self.state.set_last_version(self.env.name, obj.name, row["v"])
        return CycleResult(obj.name, "seed", 0, row["v"])

    def _full_sync(
        self, obj: TrackingObject, outbox: DataFrame, reason_code: int = 0
    ) -> CycleResult:
        batch = cf.full_snapshot(outbox)
        return self._export(obj, batch, sync_type="Full", reason_code=reason_code,
                            default_version=0)

    def _sync(
        self,
        obj: TrackingObject,
        outbox: DataFrame,
        from_version: int,
        horizon: int | None = None,
    ) -> CycleResult:
        # outbox_scan re-applies the version/horizon predicates — a no-op
        # for pushdown sources (Catalyst folds them), load-bearing for
        # plain DataFrame sources
        batch = cf.outbox_scan(outbox, from_version, horizon)
        return self._export(obj, batch, sync_type="Diff", default_version=from_version)

    # -- export + commit ---------------------------------------------------

    def _export(
        self,
        obj: TrackingObject,
        batch: DataFrame,
        sync_type: str,
        default_version: int,
        reason_code: int = 0,
    ) -> CycleResult:
        ctx = ExportContext(environment=self.env.name, database=obj.database,
                            object_name=obj.name, key=f"{self.env.name}/{obj.name}")
        ordered = batch.orderBy(cf.VERSION)
        mode = "full" if sync_type == "Full" else "sync"
        failures: list[SinkFailure] = []

        if self.df_sinks:
            # distributed path: the manifest and the sidecar metadata need
            # (watermark, count) before any write, so only this path runs
            # the aggregate — executor-side; the rows stay there
            agg = batch.agg(
                F.coalesce(F.max(cf.VERSION), F.lit(default_version)).alias("wm"),
                F.count(F.lit(1)).alias("n"),
            ).first()
            new_wm, n_rows = agg["wm"], agg["n"]
            if n_rows == 0:
                return CycleResult(obj.name, "empty", 0, default_version)
            failures = export_distributed(
                ordered, self.df_sinks, ctx, self.dlq, default_version,
                new_wm, n_rows, sync_type, reason_code,
            )
            if not self.sinks or sync_type == "Full":
                # Full syncs route to the distributed path automatically:
                # a snapshot through a collect-based envelope sink is the
                # one shape that grows with table size, not change rate
                if self.sinks:
                    log.info(
                        "%s/%s: full sync routed to distributed sinks; "
                        "%d envelope sink(s) skipped",
                        self.env.name, obj.name, len(self.sinks),
                    )
                self.state.set_last_version(self.env.name, obj.name, new_wm)
                return CycleResult(obj.name, mode, n_rows, new_wm, failures)

        # envelope path: the ordered chunk iteration is the only Spark
        # action — at most max_records_per_batch rows on the driver at a
        # time, and the watermark is the version of the last row exported
        # (the batch max), not a separate earlier query's answer
        exported, last_version, sent_failures = export_envelopes(
            ordered, self.env.max_records_per_batch, sync_type, reason_code,
            self.sinks, ctx, self.retry, self.dlq,
            skip_dlq=frozenset(d.name for d in self.df_sinks),
        )
        if not self.df_sinks:
            if last_version is None:
                return CycleResult(obj.name, "empty", 0, default_version)
            new_wm = last_version
        self.state.set_last_version(self.env.name, obj.name, new_wm)
        return CycleResult(obj.name, mode, exported, new_wm,
                           failures + sent_failures)
