"""End-to-end poll-cycle semantics: seed/full modes, watermark advance,
per-destination failure independence, DLQ capture, replay routing."""

import json
import uuid

import pytest
from pyspark.sql import functions as F

from trignis_spark.config import EnvironmentConfig, TrackingObject
from trignis_spark.deadletter import DeadLetterStore
from trignis_spark.sinks.base import RetryPolicy
from trignis_spark.sinks.memory import MemorySink
from trignis_spark.state import PauseStore, StateStore, obj_scope
from trignis_spark.streaming.poller import PollPipeline
from trignis_spark.streaming.replay import DeadLetterReplayer

OUTBOX_SCHEMA = (
    "version long, xact_id long, operation string, user_key long, value double"
)


def make_outbox(spark, rows):
    return spark.createDataFrame(rows, OUTBOX_SCHEMA)


def outbox_rows(n, start=1):
    return [
        (start + i, start + i, "I" if i % 3 == 0 else "U", i % 5, float(i))
        for i in range(n)
    ]


@pytest.fixture
def rig(spark, tmp_path):
    class Rig:
        def __init__(self):
            self.state = StateStore(str(tmp_path / "state"))
            self.dlq = DeadLetterStore(str(tmp_path / "dlq"))
            self.pauses = PauseStore(str(tmp_path / "pauses"))
            self.sink = MemorySink("primary")
            self.rows = outbox_rows(10)
            self.env = EnvironmentConfig(
                name="e1",
                tracking_objects=(
                    TrackingObject(name="obj", table_name="t", initial_sync_mode="Full"),
                ),
            )

        def pipeline(self, sinks=None, env=None, **kw):
            return PollPipeline(
                spark,
                env or self.env,
                source_fn=lambda s, o: make_outbox(s, self.rows),
                sinks=sinks or [self.sink],
                state=self.state,
                dlq=self.dlq,
                pauses=self.pauses,
                retry=RetryPolicy(attempts=2, delay_seconds=0, sleep=lambda _: None),
                **kw,
            )

    return Rig()


def test_full_sync_then_incremental(rig):
    p = rig.pipeline()
    [r1] = p.run_cycle()
    assert r1.mode == "full" and r1.exported_rows == 10
    assert rig.state.get_last_version("e1", "obj") == 10
    payload = json.loads(rig.sink.payloads[0][0])
    assert payload["Metadata"]["Sync"]["Type"] == "Full"
    assert [d["version"] for d in payload["Data"]] == list(range(1, 11))  # ordered

    # no new rows → empty diff, watermark unchanged
    [r2] = p.run_cycle()
    assert r2.mode == "empty" and rig.state.get_last_version("e1", "obj") == 10

    # new rows → incremental diff from the watermark
    rig.rows += outbox_rows(5, start=11)
    [r3] = p.run_cycle()
    assert r3.mode == "sync" and r3.exported_rows == 5
    assert rig.state.get_last_version("e1", "obj") == 15
    diff = json.loads(rig.sink.payloads[1][0])
    assert diff["Metadata"]["Sync"]["Type"] == "Diff"
    assert [d["version"] for d in diff["Data"]] == [11, 12, 13, 14, 15]


def test_seed_mode_discards_rows(rig):
    env = EnvironmentConfig(
        name="e1",
        tracking_objects=(
            TrackingObject(name="obj", table_name="t", initial_sync_mode="Incremental"),
        ),
    )
    p = rig.pipeline(env=env)
    [r] = p.run_cycle()
    assert r.mode == "seed" and r.exported_rows == 0
    assert rig.sink.payloads == []  # nothing exported during seed
    assert rig.state.get_last_version("e1", "obj") == 10  # version stored
    rig.rows += outbox_rows(3, start=11)
    [r2] = p.run_cycle()
    assert r2.mode == "sync" and r2.exported_rows == 3  # history skipped


def test_failed_sink_deadletters_but_watermark_advances(rig):
    bad = MemorySink("bad", always_fail=True)
    p = rig.pipeline(sinks=[rig.sink, bad])
    [r] = p.run_cycle()
    assert [f.sink_name for f in r.failures] == ["bad"]
    assert len(rig.sink.payloads) == 1  # good sink delivered
    assert rig.state.get_last_version("e1", "obj") == 10  # advanced anyway
    rows = rig.dlq.rows()
    assert len(rows) == 1 and rows[0]["source_key"] == "e1/obj/bad"
    # same payload re-failing is deduplicated by (source_key, hash)
    rig.state.reset("e1", "obj")
    p.run_cycle()
    assert len(rig.dlq.rows()) == 1


def test_transient_sink_recovers_via_retry(rig):
    flaky = MemorySink("flaky", fail_times=1)
    p = rig.pipeline(sinks=[flaky])
    [r] = p.run_cycle()
    assert r.failures == [] and len(flaky.payloads) == 1
    assert flaky.attempts == 2


def test_pause_skips_cycle(rig):
    rig.pauses.pause(obj_scope("e1", "obj"))
    p = rig.pipeline()
    [r] = p.run_cycle()
    assert r.mode == "paused" and rig.sink.payloads == []
    assert rig.state.get_last_version("e1", "obj") is None
    rig.pauses.resume(obj_scope("e1", "obj"))
    [r2] = p.run_cycle()
    assert r2.mode == "full"


def test_min_valid_version_forces_resync(rig):
    p = rig.pipeline(min_valid_version_fn=lambda o: 100)
    rig.state.set_last_version("e1", "obj", 50)  # below min valid → aged out
    [r] = p.run_cycle()
    assert r.mode == "full"
    payload = json.loads(rig.sink.payloads[0][0])
    assert payload["Metadata"]["Sync"]["ReasonCode"] == 1


def test_horizon_defers_inflight_rows(rig):
    rig.state.set_last_version("e1", "obj", 0)
    p = rig.pipeline(horizon_fn=lambda s, o: 8)  # xact_id < 8 visible
    [r] = p.run_cycle()
    assert r.exported_rows == 7 and rig.state.get_last_version("e1", "obj") == 7
    # horizon moves on → deferred rows arrive next cycle, in order
    p2 = rig.pipeline(horizon_fn=lambda s, o: 100)
    [r2] = p2.run_cycle()
    assert r2.exported_rows == 3
    assert rig.state.get_last_version("e1", "obj") == 10


def test_replay_delivers_and_deletes(rig):
    bad = MemorySink("bad", fail_times=999)  # fails during capture
    p = rig.pipeline(sinks=[bad])
    p.run_cycle()
    assert len(rig.dlq.rows()) == 1
    bad.fail_times = 0  # endpoint recovered
    replayer = DeadLetterReplayer(
        rig.dlq, {"e1": rig.env}, sinks_for_env=lambda n: [bad]
    )
    outcomes = replayer.sweep()
    assert [o.status for o in outcomes] == ["delivered"]
    assert rig.dlq.rows() == []
    assert len(bad.payloads) == 1


def test_replay_failure_backs_off_then_unroutable_parks(rig):
    bad = MemorySink("bad", always_fail=True)
    p = rig.pipeline(sinks=[bad])
    p.run_cycle()
    replayer = DeadLetterReplayer(
        rig.dlq, {"e1": rig.env}, sinks_for_env=lambda n: [bad]
    )
    [o] = replayer.sweep()
    assert o.status == "failed"
    assert rig.dlq.rows()[0]["attempts"] == 1

    # environment vanished from config → unroutable, parked
    replayer2 = DeadLetterReplayer(rig.dlq, {}, sinks_for_env=lambda n: [])
    [o2] = replayer2.sweep(now=rig.dlq.rows()[0]["next_attempt"])
    assert o2.status == "unroutable"
    next_at = rig.dlq.rows()[0]["next_attempt"]
    assert (next_at - rig.dlq.rows()[0]["timestamp"]).days >= 300  # parked ~1y


def test_envelope_masks_survive_roundtrip(rig, spark):
    """I/U/D + $changed fidelity through export: null-with-mask vs
    null-without-mask must be distinguishable in the payload."""
    df = spark.createDataFrame(
        [
            (1, "U", ["value"], None, "kept-null-cleared"),
            (2, "U", ["value"], 5.0, None),
        ],
        "version long, operation string, changed array<string>, value double, props string",
    )
    p = PollPipeline(
        spark,
        rig.env,
        source_fn=lambda s, o: df,
        sinks=[rig.sink],
        state=rig.state,
        dlq=rig.dlq,
        retry=RetryPolicy(attempts=1, delay_seconds=0, sleep=lambda _: None),
    )
    p.run_cycle()
    data = json.loads(rig.sink.payloads[0][0])["Data"]
    by_v = {d["version"]: d for d in data}
    # row 1: value is None AND 'value' in changed → cleared to NULL
    assert by_v[1]["value"] is None and "value" in by_v[1]["changed"]
    # row 2: props None but NOT in changed → "unchanged" marker preserved
    assert by_v[2]["props"] is None and "props" not in by_v[2]["changed"]


def test_distributed_export_skips_driver_collect(rig, spark, tmp_path):
    """Only DataFrame sinks configured: the batch is written
    executor-parallel with an envelope sidecar; no row ever reaches a
    driver-side payload."""
    import json as _json
    import os

    from trignis_spark.sinks.spark_file import PartitionedFileSink

    dfs = PartitionedFileSink(
        "dist", path_template=str(tmp_path / "out" / "{object}"),
        fmt="parquet", partition_by=("operation",),
    )
    p = PollPipeline(
        spark, rig.env,
        source_fn=lambda s, o: make_outbox(s, rig.rows),
        sinks=[], df_sinks=[dfs],
        state=rig.state, dlq=rig.dlq,
        retry=RetryPolicy(attempts=1, delay_seconds=0, sleep=lambda _: None),
    )
    [r] = p.run_cycle()
    assert r.mode == "full" and r.exported_rows == 10
    assert rig.state.get_last_version("e1", "obj") == 10
    out_dir = str(tmp_path / "out" / "obj")
    back = spark.read.parquet(out_dir)
    assert back.count() == 10
    assert {d for d in os.listdir(out_dir) if d.startswith("operation=")}
    sidecar = _json.load(open(out_dir + "/_envelope.json"))
    assert sidecar["Metadata"]["Sync"] == {
        "Version": 10, "Type": "Full", "ReasonCode": 0,
    }


def test_distributed_export_failure_deadletters_manifest(rig, spark, tmp_path):
    import json as _json

    from trignis_spark.sinks.spark_file import DataFrameSink

    class Failing(DataFrameSink):
        name = "broken"

        def write_df(self, batch, ctx, metadata):
            raise IOError("object store down")

    p = PollPipeline(
        spark, rig.env,
        source_fn=lambda s, o: make_outbox(s, rig.rows),
        sinks=[], df_sinks=[Failing()],
        state=rig.state, dlq=rig.dlq,
        retry=RetryPolicy(attempts=1, delay_seconds=0, sleep=lambda _: None),
    )
    [r] = p.run_cycle()
    assert [f.sink_name for f in r.failures] == ["broken"]
    assert rig.state.get_last_version("e1", "obj") == 10  # still advances
    [row] = rig.dlq.rows()
    manifest = _json.loads(row["data"])
    # the DLQ holds a replayable version-range manifest, not the rows
    assert manifest["distributed"] is True
    assert (manifest["from_version"], manifest["to_version"]) == (0, 10)
    assert manifest["rows"] == 10


def test_envelope_path_driver_residency_is_bounded(rig, spark):
    """A batch far larger than max_records_per_batch streams through the
    envelope path in bounded chunks: every payload holds at most
    max_records rows, versions stay globally ordered across chunks, the
    union is complete, and the watermark is the global max."""
    rig.rows = outbox_rows(537)
    env = EnvironmentConfig(
        name="e1",
        max_records_per_batch=100,
        tracking_objects=(
            TrackingObject(name="obj", table_name="t", initial_sync_mode="Full"),
        ),
    )
    p = rig.pipeline(env=env)
    [r] = p.run_cycle()
    assert r.mode == "full" and r.exported_rows == 537
    sizes = [len(json.loads(pl)["Data"]) for pl, _ in rig.sink.payloads]
    assert max(sizes) <= 100 and sizes == [100] * 5 + [37]
    versions = [
        d["version"] for pl, _ in rig.sink.payloads
        for d in json.loads(pl)["Data"]
    ]
    assert versions == list(range(1, 538))  # globally ordered, complete
    # each chunk's envelope version is its own (monotone) max; the stored
    # watermark is the global max
    chunk_wms = [
        json.loads(pl)["Metadata"]["Sync"]["Version"]
        for pl, _ in rig.sink.payloads
    ]
    assert chunk_wms == sorted(chunk_wms) and chunk_wms[-1] == 537
    assert rig.state.get_last_version("e1", "obj") == 537


def test_envelope_chunk_failures_deadletter_per_chunk(rig):
    """A sink that fails only on the second chunk dead-letters just that
    chunk's payload; the watermark still advances to the global max."""
    class FailSecond(MemorySink):
        def __init__(self):
            super().__init__("flaky")

        def write(self, payload, ctx):
            if json.loads(payload)["Data"][0]["version"] == 101:
                raise IOError("chunk 2 down")
            super().write(payload, ctx)

    rig.rows = outbox_rows(250)
    env = EnvironmentConfig(
        name="e1",
        max_records_per_batch=100,
        retry_count=1,
        tracking_objects=(
            TrackingObject(name="obj", table_name="t", initial_sync_mode="Full"),
        ),
    )
    sink = FailSecond()
    p = rig.pipeline(sinks=[sink], env=env)
    [r] = p.run_cycle()
    assert len(r.failures) == 1
    assert rig.state.get_last_version("e1", "obj") == 250
    [row] = rig.dlq.rows()
    lost = json.loads(row["data"])
    assert [d["version"] for d in lost["Data"]] == list(range(101, 201))


def test_full_sync_routes_to_distributed_when_available(rig, spark, tmp_path):
    """Full syncs skip collect-based envelope sinks automatically when a
    distributed sink is configured; incremental diffs still use both."""
    from trignis_spark.sinks.spark_file import PartitionedFileSink

    dfs = PartitionedFileSink(
        "dist", path_template=str(tmp_path / "out" / "{object}"), fmt="parquet",
    )
    p = rig.pipeline(df_sinks=[dfs])
    [r] = p.run_cycle()
    assert r.mode == "full" and r.exported_rows == 10
    assert rig.sink.payloads == []  # envelope sink skipped on Full
    assert spark.read.parquet(str(tmp_path / "out" / "obj")).count() == 10
    # incremental diff goes through both paths
    rig.rows += outbox_rows(4, start=11)
    [r2] = p.run_cycle()
    assert r2.mode == "sync" and r2.exported_rows == 4
    assert len(rig.sink.payloads) == 1


def _count_jobs(spark, fn):
    """Run ``fn`` under a fresh job group; return (spark jobs, fn())."""
    sc = spark.sparkContext
    group = f"test-poller-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def test_envelope_poll_is_one_action(rig, spark):
    """The envelope path runs only the ordered chunk iteration: no
    separate (watermark, count) aggregate before it."""
    from trignis_spark.streaming.structured import make_export_batch_fn

    p = rig.pipeline()
    p.run_cycle()  # full sync
    rig.rows += outbox_rows(5, start=11)
    busy, [r] = _count_jobs(spark, p.run_cycle)
    assert r.mode == "sync" and r.exported_rows == 5
    assert busy <= 3
    empty, [r2] = _count_jobs(spark, p.run_cycle)
    assert r2.mode == "empty" and empty <= 2

    body = make_export_batch_fn(
        rig.env, rig.env.tracking_objects[0], [rig.sink], rig.state, rig.dlq,
        retry=RetryPolicy(attempts=1, delay_seconds=0, sleep=lambda _: None),
    )
    epoch = make_outbox(spark, outbox_rows(5, start=16))
    foreach, _ = _count_jobs(spark, lambda: body(epoch, 0))
    assert foreach <= busy
    assert rig.state.get_last_version("e1", "obj") == 20


def test_distributed_path_manifest_bounds_on_diff(rig):
    """With df_sinks configured the (watermark, count) aggregate still
    runs first: a failed distributed write dead-letters the exact
    version range and row count of the incremental batch."""
    from trignis_spark.sinks.spark_file import DataFrameSink

    class Failing(DataFrameSink):
        name = "broken"

        def write_df(self, batch, ctx, metadata):
            raise IOError("object store down")

    rig.state.set_last_version("e1", "obj", 4)
    p = rig.pipeline(df_sinks=[Failing()])
    [r] = p.run_cycle()
    assert r.mode == "sync" and r.exported_rows == 6 and r.new_watermark == 10
    assert [f.sink_name for f in r.failures] == ["broken"]
    [row] = rig.dlq.rows()
    manifest = json.loads(row["data"])
    assert (manifest["from_version"], manifest["to_version"]) == (4, 10)
    assert manifest["rows"] == 6
    assert rig.state.get_last_version("e1", "obj") == 10
