"""The poll contract checked byte for byte against a pure-Python model.

``model_poll`` restates what one poll of one object must produce — the
envelope payloads each sink receives, the dead-letter rows, the
``CycleResult`` fields and the stored watermark — over plain lists, with
no Spark and no program code. Each case runs the real ``PollPipeline``
(or the Structured Streaming ``foreachBatch`` body) on the same rows and
compares the outputs as strings.
"""

import json

import pytest

from trignis_spark.config import EnvironmentConfig, TrackingObject
from trignis_spark.deadletter import DeadLetterStore
from trignis_spark.sinks.base import RetryPolicy
from trignis_spark.sinks.memory import MemorySink
from trignis_spark.sinks.spark_file import DataFrameSink
from trignis_spark.state import StateStore
from trignis_spark.streaming.poller import PollPipeline
from trignis_spark.streaming.structured import make_export_batch_fn

COLS = ("version", "xact_id", "operation", "user_key", "value")
SCHEMA = "version long, xact_id long, operation string, user_key long, value double"
DF_ERROR = "object store down"


def rows_upto(n):
    return [(v, v, "IUD"[v % 3], v % 5, v / 4) for v in range(1, n + 1)]


def model_poll(rows, last, max_records, sinks, df_sinks=()):
    """One poll in plain Python. ``sinks``/``df_sinks`` are (name, fails)
    pairs; ``last`` is the stored watermark (None → Full sync). Returns
    (payloads per sink, DLQ (source_key, data) rows, CycleResult fields,
    stored watermark)."""
    if last is None:
        sync_type, from_version = "Full", 0
        batch = [dict(zip(COLS, r), operation="I") for r in rows]
    else:
        sync_type, from_version = "Diff", last
        batch = [dict(zip(COLS, r)) for r in rows if r[0] > last]
    batch.sort(key=lambda d: d["version"])
    payloads = {name: [] for name, _ in sinks}
    dlq, failures = [], []
    if not batch:
        return payloads, dlq, ("empty", 0, from_version, []), last
    wm = batch[-1]["version"]
    result_mode = "full" if sync_type == "Full" else "sync"
    for name, fails in df_sinks:
        if fails:
            manifest = {"environment": "e1", "object": "obj",
                        "from_version": from_version, "to_version": wm,
                        "rows": len(batch), "distributed": True}
            failures.append((name, DF_ERROR))
            dlq.append((f"e1/obj/{name}", json.dumps(manifest, separators=(",", ":"))))
    if df_sinks and (not sinks or sync_type == "Full"):
        return payloads, dlq, (result_mode, len(batch), wm, failures), wm
    for i in range(0, len(batch), max_records):
        chunk = batch[i:i + max_records]
        envelope = {"Metadata": {"Sync": {"Version": chunk[-1]["version"],
                                          "Type": sync_type, "ReasonCode": 0}},
                    "Data": chunk}
        payload = json.dumps(envelope, separators=(",", ":"))
        for name, fails in sinks:
            if fails:
                failures.append((name, f"{name}: injected permanent failure"))
                dlq.append((f"e1/obj/{name}", payload))
            else:
                payloads[name].append(payload)
    return payloads, dlq, (result_mode, len(batch), wm, failures), wm


class RecordingDFSink(DataFrameSink):
    def __init__(self, name, fails):
        self.name, self.fails, self.writes = name, fails, []

    def write_df(self, batch, ctx, metadata):
        if self.fails:
            raise IOError(DF_ERROR)
        self.writes.append((metadata, [r["version"] for r in batch.collect()]))


class CountingState(StateStore):
    def __init__(self, root):
        super().__init__(root)
        self.writes = 0

    def set_last_version(self, env, obj, version):
        self.writes += 1
        super().set_last_version(env, obj, version)


CASES = {
    "full": dict(n=10, last=None, max_records=4, sinks=[("a", False)]),
    "incremental": dict(n=17, last=10, max_records=4, sinks=[("a", False)]),
    "empty": dict(n=10, last=10, max_records=4, sinks=[("a", False)]),
    "exact_multiple": dict(n=12, last=None, max_records=4, sinks=[("a", False)]),
    "failing_sink": dict(n=13, last=3, max_records=4,
                         sinks=[("a", False), ("down", True)]),
    "df_and_envelope_diff": dict(n=15, last=10, max_records=2, sinks=[("a", False)],
                                 df_sinks=[("dist", False), ("broken", True)]),
    "df_full_skips_envelopes": dict(n=9, last=None, max_records=4,
                                    sinks=[("a", False)], df_sinks=[("dist", False)]),
}


@pytest.mark.parametrize("case", list(CASES))
def test_poll_matches_model(spark, tmp_path, case):
    c = CASES[case]
    rows = rows_upto(c["n"])
    state = CountingState(str(tmp_path / "state"))
    dlq = DeadLetterStore(str(tmp_path / "dlq"))
    if c["last"] is not None:
        state.set_last_version("e1", "obj", c["last"])
        state.writes = 0
    sinks = [MemorySink(name, always_fail=fails) for name, fails in c["sinks"]]
    df_sinks = [RecordingDFSink(name, fails) for name, fails in c.get("df_sinks", ())]
    env = EnvironmentConfig(
        name="e1", max_records_per_batch=c["max_records"],
        tracking_objects=(TrackingObject(name="obj", table_name="t"),),
    )
    p = PollPipeline(
        spark, env, source_fn=lambda s, o: s.createDataFrame(rows, SCHEMA),
        sinks=sinks, df_sinks=df_sinks, state=state, dlq=dlq,
        retry=RetryPolicy(attempts=1, delay_seconds=0, sleep=lambda _: None),
    )
    [r] = p.run_cycle()

    payloads, dlq_rows, result, stored = model_poll(
        rows, c["last"], c["max_records"], c["sinks"], c.get("df_sinks", ())
    )
    for sink in sinks:
        assert [pl for pl, _ in sink.payloads] == payloads[sink.name]
    assert [(d["source_key"], d["data"]) for d in dlq.rows()] == dlq_rows
    assert (r.mode, r.exported_rows, r.new_watermark,
            [(f.sink_name, f.error) for f in r.failures]) == result
    assert state.get_last_version("e1", "obj") == stored
    if r.mode == "empty":
        assert state.writes == 0
        return
    if payloads["a"]:  # the stored watermark is the last envelope's version
        assert stored == json.loads(payloads["a"][-1])["Metadata"]["Sync"]["Version"]
    for dfs in df_sinks:
        if not dfs.fails:
            [(metadata, versions)] = dfs.writes
            assert metadata["Sync"]["Version"] == stored
            assert versions == sorted(v for v, *_ in rows if v > (c["last"] or 0))


def test_foreach_batch_body_matches_model(spark, tmp_path):
    """The Structured Streaming body shares the poller's envelope
    routine: same payloads, same dead letters, watermark = epoch max."""
    rows = [r for r in rows_upto(17) if r[0] > 6]
    state = StateStore(str(tmp_path / "state"))
    dlq = DeadLetterStore(str(tmp_path / "dlq"))
    sinks = [MemorySink("a"), MemorySink("down", always_fail=True)]
    env = EnvironmentConfig(
        name="e1", max_records_per_batch=3,
        tracking_objects=(TrackingObject(name="obj", table_name="t"),),
    )
    body = make_export_batch_fn(
        env, env.tracking_objects[0], sinks, state, dlq,
        retry=RetryPolicy(attempts=1, delay_seconds=0, sleep=lambda _: None),
    )
    body(spark.createDataFrame(rows, SCHEMA), 7)

    payloads, dlq_rows, _, stored = model_poll(
        rows, 0, 3, [("a", False), ("down", True)]
    )
    assert [pl for pl, _ in sinks[0].payloads] == payloads["a"]
    assert [(d["source_key"], d["data"]) for d in dlq.rows()] == dlq_rows
    assert state.get_last_version("e1", "obj") == stored == 17
    last = json.loads(payloads["a"][-1])["Metadata"]["Sync"]["Version"]
    assert last == stored
