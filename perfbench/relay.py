"""The relay workloads: ``relay_backlog`` and ``relay_outage``.

Each drives one environment through the relay's public entry points:
``PollPipeline.run_cycle`` over per-object parquet outboxes written with
``append_outbox_files`` and read with ``read_outbox``, envelopes fanned
out to a ``FileSink`` and a benchmark-owned recording sink, and (on
``relay_outage``) a third sink, listed first, that is down for part of
the run and whose dead letters ``DeadLetterReplayer.sweep`` replays
between cycles.

The recording sink is last in the fan-out, so its receipt time is a
row's delivery to the last healthy sink. Everything runs on the calling
thread; Spark's own threads are the only others.
"""

from __future__ import annotations

import datetime as dt
import os
import time
import traceback
from collections import Counter

import numpy as np

from trignis_spark.config import EnvironmentConfig, TrackingObject
from trignis_spark.deadletter import DeadLetterStore
from trignis_spark.sinks.base import RetryPolicy
from trignis_spark.sinks.file import FileSink
from trignis_spark.sources.parquet_outbox import read_outbox
from trignis_spark.state import StateStore
from trignis_spark.streaming.poller import PollPipeline
from trignis_spark.streaming.replay import DeadLetterReplayer

from perfbench import checks
from perfbench.common import (RecordingSink, SwitchableSink, cpu_seconds, fresh_dir, log,
                              median, peak_rss_mb)
from perfbench.gen import Arrivals, Outbox
from perfbench.trace import Traced, Tracer

ENV = "bench"
#: relay_outage's tracked objects and their share of the arrivals (one idle)
OBJECTS = ("orders", "payments", "refunds", "audit")
SHARES = (0.6, 0.3, 0.1, 0.0)
ARRIVAL_RATE = 300.0  # rows/s over all objects
HISTORY_ROWS = 300  # per object, drained by the initial Full sync in set-up
RETRY_ATTEMPTS, RETRY_DELAY_S = 3, 0.05
#: relay_outage: outage episodes per run, and the cycles each one lasts
EPISODES, DOWN_CYCLES = 2, 2
#: relay_outage: cycles start on this grid. It is longer than a cycle, so
#: a run makes a fixed number of cycles over a fixed number of rows.
POLL_INTERVAL_S = 3.0
#: relay_backlog: the Full sync's outbox, then each incremental append
BACKLOG_ROWS, BACKLOG_FILES = 30_000, 30
APPEND_ROWS, APPEND_FILES = 30_000, 30


class Relay:
    """One environment's relay plus the sinks and stores it writes."""

    def __init__(self, spark, work: str, objects, rng, tracer: Tracer, traced: bool,
                 with_down_sink: bool):
        self.spark = spark
        self.tracer = tracer
        self.outbox = Outbox(os.path.join(work, "outbox"), objects, rng)
        self.file_root = os.path.join(work, "out", "file")
        self.recorder = RecordingSink("recorder")
        self.file = FileSink("file", self.file_root + "/{environment}/{object}/{timestamp}-{guid}.json")
        self.down = SwitchableSink("down") if with_down_sink else None
        self.state_root = os.path.join(work, "state")
        self.state = StateStore(self.state_root)
        self.dlq = DeadLetterStore(self.state_root)
        self.env = EnvironmentConfig(
            name=ENV,
            tracking_objects=tuple(
                TrackingObject(name=o, table_name=o, initial_sync_mode="Full") for o in objects
            ),
            retry_count=RETRY_ATTEMPTS,
            retry_delay_seconds=RETRY_DELAY_S,
        )
        sinks = ([self.down] if self.down else []) + [self.file, self.recorder]

        def source_fn(spark_, obj):
            return read_outbox(spark_, self.outbox.path(obj.name))

        state, dlq, retry = self.state, self.dlq, None
        if traced:
            tr = tracer
            state = Traced(self.state, tr, {"get_last_version": "state.get",
                                            "set_last_version": "state.set"})
            dlq = _TracedDLQ(self.dlq, tr, os.path.join(self.state_root, "dead_letters.parquet"))
            sinks = [Traced(s, tr, {"write": f"sinks.{s.name}.write"}) for s in sinks]
            source_fn = tr.wrap("sources.plan", source_fn)
            retry = RetryPolicy(attempts=RETRY_ATTEMPTS, delay_seconds=RETRY_DELAY_S,
                                sleep=tr.wrap("sinks.retry_wait", time.sleep))
        self.pipe = PollPipeline(spark, self.env, source_fn, sinks, state, dlq, retry=retry)
        self.replayer = DeadLetterReplayer(dlq, {ENV: self.env}, lambda _env: sinks)
        if traced:
            self._trace_poll_object()
        self.cycles: list[tuple[float, float, bool, float]] = []  # (start, wall, traced, cpu)
        self.calls = 0
        self.errors = 0
        self.exported = 0
        self.lag_rows: list[int] = []

    def _trace_poll_object(self) -> None:
        inner, tr = self.pipe.poll_object, self.tracer

        def poll_object(obj):
            with tr.span("poller.poll_object", jobs=True) as s:
                res = inner(obj)
                if s is not None:
                    s.attrs.update(mode=res.mode, rows=res.exported_rows)
                return res

        self.pipe.poll_object = poll_object

    def cycle(self, traced: bool, generated: int | None = None) -> float:
        """One ``run_cycle``; returns its wall time."""
        self.tracer.on = traced
        if traced and generated is not None:
            self.lag_rows.append(generated - self.exported)
        t0, c0 = time.perf_counter(), cpu_seconds(self.spark)
        self.calls += 1
        try:
            with self.tracer.span("poller.run_cycle"):
                results = self.pipe.run_cycle()
            self.exported += sum(r.exported_rows for r in results)
        except Exception:  # noqa: BLE001 — counted as a failed call
            self.errors += 1
            log(f"run_cycle failed:\n{traceback.format_exc()}")
        wall = time.perf_counter() - t0
        self.cycles.append((t0, wall, traced, cpu_seconds(self.spark) - c0))
        self.tracer.on = False
        self._compact()
        return wall

    def sweep(self, traced: bool) -> list:
        """One replay sweep with ``now`` past any backoff."""
        self.tracer.on = traced
        now = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None) + dt.timedelta(hours=7)
        self.calls += 1
        try:
            with self.tracer.span("replay.sweep") as s:
                outcomes = self.replayer.sweep(now=now)
                if s is not None:
                    s.attrs.update(attempted=len(outcomes),
                                   delivered=sum(o.status == "delivered" for o in outcomes))
        except Exception:  # noqa: BLE001 — counted as a failed call
            self.errors += 1
            log(f"sweep failed:\n{traceback.format_exc()}")
            outcomes = []
        self.tracer.on = False
        self._compact()
        return outcomes

    def _compact(self) -> None:
        self.recorder.compact()
        if self.down is not None:
            self.down.compact()

    def dlq_empty(self) -> bool:
        return not self.dlq.rows()


class _TracedDLQ(Traced):
    """Dead-letter store proxy: times ``save`` and records the store's
    row count and file size after each one."""

    def __init__(self, inner: DeadLetterStore, tracer: Tracer, path: str):
        super().__init__(inner, tracer, {})
        self._path = path
        self._rows = len(inner.rows())

    def save(self, *args, **kwargs):
        with self._tracer.span("deadletter.save") as s:
            stored = self._inner.save(*args, **kwargs)
        self._rows += bool(stored)
        if s is not None:
            s.attrs.update(rows=self._rows, bytes=os.path.getsize(self._path))
        return stored

    def delete(self, dlq_id):
        removed = self._inner.delete(dlq_id)
        self._rows -= bool(removed)
        return removed


def _setup(spark, work: str, rng, tracer, traced, workload: str) -> Relay:
    """Build the relay with its inputs and drain what precedes the
    measured phase. The first cycles pay the JVM's and Python's start-up
    costs, which therefore land in set-up: the history's Full sync on
    relay_outage, and a throwaway object's on relay_backlog, whose own
    Full sync is measured."""
    run = fresh_dir(work)
    if workload == "relay_backlog":
        warm = Relay(spark, os.path.join(run, "warmup"), OBJECTS[:1], rng, Tracer(), False, False)
        warm.outbox.append(OBJECTS[0], [np.nan] * HISTORY_ROWS, files=2)
        warm.cycle(False)
        warm.outbox.append(OBJECTS[0], [np.nan] * HISTORY_ROWS, files=2)
        warm.cycle(False)
        relay = Relay(spark, run, OBJECTS[:1], rng, tracer, traced, False)
        relay.outbox.append(OBJECTS[0], [np.nan] * BACKLOG_ROWS, files=BACKLOG_FILES)
    else:
        relay = Relay(spark, run, OBJECTS, rng, tracer, traced, True)
        for o in OBJECTS:
            relay.outbox.append(o, [np.nan] * HISTORY_ROWS, files=2)
        relay.cycle(False)  # initial Full sync of the history
    return relay


def run(spark, workload: str, seed: int, seconds: float, trace: bool, work: str,
        cpu0: float) -> dict:
    """Set up, measure for ``seconds`` and check one relay workload.
    ``cpu0`` is this process's CPU time before the Spark session
    started; set-up is measured in CPU time from there."""
    tracer = Tracer(spark)
    rng = np.random.default_rng(seed)
    t0 = time.perf_counter()
    relay = _setup(spark, os.path.join(work, "run"), rng, tracer, trace, workload)
    setup_cpu = cpu_seconds(spark) - cpu0
    log(f"setup {time.perf_counter() - t0:.2f}s wall, {setup_cpu:.2f} CPU-s with the session")

    if workload == "relay_backlog":
        res = _run_backlog(relay, seconds, trace)
    else:
        res = _run_outage(relay, rng, seconds, trace)
    log("cycles " + " ".join(f"{w:.2f}/{c:.2f}" for _, w, _, c in relay.cycles))
    rss_mb = peak_rss_mb()  # before the checks parse the FileSink's files
    out = _report(relay, tracer, res, setup_cpu, trace)
    out["end_to_end"]["driver_rss_mb"] = rss_mb
    return out


def _traced_cycle(trace: bool, i: int) -> bool:
    """The traced run alternates traced and untraced cycles, so its
    untraced cycles are the reference for ``trace.overhead_ratio``."""
    return trace and i % 2 == 0


def _run_outage(relay: Relay, rng, seconds: float, trace: bool) -> dict:
    """Cycle ``k`` starts ``k * POLL_INTERVAL_S`` after the start, or at
    once if the one before ran late. The cycles fall into ``EPISODES``
    equal slots; each opens with ``DOWN_CYCLES`` cycles while the first
    sink is down, then recovers it and stays healthy until the slot
    ends. Paced so, the CPU the cycles use follows the cost of a cycle:
    cycles run back to back would use about the window times the CPU
    share of the loop, whatever a cycle costs."""
    per_episode = max(int(seconds / POLL_INTERVAL_S / EPISODES), DOWN_CYCLES + 1)
    n = EPISODES * per_episode
    t_start = time.perf_counter()
    t_end = t_start + n * POLL_INTERVAL_S  # arrivals stop here
    arrivals = Arrivals(rng, OBJECTS, ARRIVAL_RATE, SHARES, n * POLL_INTERVAL_S + 1)
    arrivals.start(t_start)
    history = relay.exported
    recovery: list[float] = []

    def wait(k: int) -> None:
        time.sleep(max(0.0, t_start + k * POLL_INTERVAL_S - time.perf_counter()))

    def cycle(k: int) -> None:
        wait(k)
        arrivals.release(relay.outbox, min(time.perf_counter(), t_end))
        relay.cycle(_traced_cycle(trace, k), history + arrivals.released())

    for k in range(n):
        phase = k % per_episode
        relay.down.down = phase < DOWN_CYCLES
        if phase != DOWN_CYCLES:
            cycle(k)
            continue
        # the sink came back. Recovery ends when its dead letters are
        # replayed and a cycle has delivered every row created before it
        # came back; sweeps run between cycles.
        wait(k)
        t0 = time.perf_counter()
        relay.sweep(_traced_cycle(trace, k))
        cycle(k)
        while not relay.dlq_empty() and relay.sweep(_traced_cycle(trace, k)):
            pass
        recovery.append(time.perf_counter() - t0)
    cycle(n)  # delivers the rest, released up to t_end
    return {"t_start": t_start, "recovery": recovery}


def _run_backlog(relay: Relay, seconds: float, trace: bool) -> dict:
    obj = OBJECTS[0]
    t_start = time.perf_counter()
    relay.outbox.created[obj] = [t_start] * relay.outbox.max_version(obj)
    relay.cycle(_traced_cycle(trace, 0), relay.outbox.max_version(obj))  # Full sync
    drains = []
    i = 1
    while time.perf_counter() < t_start + seconds:
        # retention: drained files go, so every drain scans the same outbox
        relay.outbox.purge(obj)
        t_append = time.perf_counter()
        relay.outbox.append(obj, [t_append] * APPEND_ROWS, files=APPEND_FILES)
        drains.append(relay.cycle(_traced_cycle(trace, i), relay.outbox.max_version(obj)))
        i += 1
    return {"t_start": t_start, "recovery": drains}


def _report(relay: Relay, tracer: Tracer, res: dict, setup_cpu: float, trace: bool) -> dict:
    """Check the outputs and compute every metric."""
    outbox = relay.outbox
    top = {o: outbox.max_version(o) for o in outbox.created}
    rec = relay.recorder.compact()
    poll_key = lambda o: f"{ENV}/{o}"  # noqa: E731
    healthy = {"recorder": rec, "file": checks.parse_file_sink(relay.file_root)}
    if relay.down is not None:
        healthy["down"] = relay.down.compact()

    problems = checks.order_problems(rec, poll_key)
    missing = {name: checks.missing_rows(d, top) for name, d in healthy.items()}
    problems += [f"{n}: {m} rows missing" for n, m in missing.items() if m]
    for o, v in top.items():
        wm = relay.state.get_last_version(ENV, o)
        if wm != v:
            problems.append(f"{o}: watermark {wm} != max generated version {v}")
    if relay.down is not None and not relay.dlq_empty():
        problems.append("dead-letter store not empty at the end")
    poll = [d for d in rec if d.key == poll_key(d.obj)]
    problems += checks.self_check(poll, top)

    # delivery latency: first receipt at the recorder minus creation
    first = checks.first_receipt(rec, top)
    lat = [
        (first[o][v] - c) * 1000.0
        for o, created in outbox.created.items()
        for v, c in enumerate(created, start=1)
        if not np.isnan(c) and not np.isnan(first[o][v])
    ]
    measured = [(w, c, tr) for s, w, tr, c in relay.cycles if s >= res["t_start"]]
    untraced = [(w, c) for w, c, tr in measured if not tr]
    rows_measured = sum(1 for c in outbox.created.values() for x in c if not np.isnan(x))

    # gated: CPU time barely moves with the CPU a shared machine leaves over
    end_to_end = {
        "setup_s": setup_cpu,
        "cpu_s_per_krow": sum(c for _, c in untraced) / (rows_measured / 1000.0),
        "epoch_cpu_s_p50": median(c for _, c in untraced),
    }
    # wall-clock relay figures, reported by the traced run over all its
    # cycles (traced and untraced alike)
    relay_wall = {
        "delivery_ms_p50": median(lat),
        "delivery_ms_p90": float(np.percentile(lat, 90)) if lat else 0.0,
        "drain_rows_per_s": rows_measured / max(sum(w for w, _, _ in measured), 1e-9),
        "epoch_s_p50": median(w for w, _, _ in measured),
        "recovery_s": median(res["recovery"]),
    }
    sinks_rows = len(healthy) * sum(top.values())
    attempted = relay.calls + sinks_rows
    failed = relay.errors + sum(missing.values())
    layer = {**relay_wall, **_layer_metrics(relay, tracer, healthy["file"])} if trace else {}
    return {"end_to_end": end_to_end, "per_layer": layer, "attempted": attempted,
            "failed": failed, "problems": problems, "tracer": tracer}


def _layer_metrics(relay: Relay, tracer: Tracer, file_deliveries) -> dict:
    polls = tracer.named("poller.poll_object")
    busy = [s for s in polls if s.attrs.get("mode") != "empty"]
    empty = [s for s in polls if s.attrs.get("mode") == "empty"]
    state = tracer.by_prefix("state.")
    saves = tracer.named("deadletter.save")
    sweeps = tracer.named("replay.sweep")
    rows = sum(s.attrs["rows"] for s in busy)
    replay_attempted = sum(s.attrs["attempted"] for s in sweeps)
    replay_delivered = sum(s.attrs["delivered"] for s in sweeps)
    file_rows = sum(len(d.versions) for d in file_deliveries)
    walls = {tr: [w for _, w, t, _ in relay.cycles if t == tr] for tr in (True, False)}
    down = relay.down
    return {
        "poller.cycle_s_p50": median(s.duration for s in busy),
        "poller.empty_cycle_s_p50": median(s.duration for s in empty),
        "poller.jobs_per_cycle": median(s.attrs["jobs"] for s in busy),
        "poller.jobs_per_empty_cycle": median(s.attrs["jobs"] for s in empty),
        "poller.tasks_per_cycle": median(s.attrs["tasks"] for s in busy),
        "poller.self_s_per_krow": sum(s.self_s for s in busy) / max(rows / 1000.0, 1e-9),
        "poller.envelopes": sum(
            1 for s in tracer.named("sinks.recorder.write")
            if s.parent is not None and s.parent.name == "poller.poll_object"
        ),
        "sources.plan_s_p50": median(s.duration for s in tracer.named("sources.plan")),
        "sources.outbox_files": relay.outbox.file_count(),
        "sources.lag_rows_p50": median(relay.lag_rows),
        "sources.lag_rows_max": max(relay.lag_rows, default=0),
        "state.calls": median(Counter(id(s.parent.parent) for s in state).values()),
        "state.s_per_call_p50": median(s.duration for s in state),
        "sinks.file.write_s_p50": median(s.duration for s in tracer.named("sinks.file.write")),
        "sinks.file.bytes_per_row": sum(d.nbytes for d in file_deliveries) / max(file_rows, 1),
        "sinks.down.attempts": down.attempts if down else 0,
        "sinks.down.failures": down.failures if down else 0,
        "sinks.retry_wait_s": sum(s.duration for s in tracer.named("sinks.retry_wait")),
        "deadletter.saves": len(saves),
        "deadletter.save_s_p50": median(s.duration for s in saves),
        "deadletter.save_s_max": max((s.duration for s in saves), default=0.0),
        "deadletter.rows_max": max((s.attrs["rows"] for s in saves), default=0),
        "deadletter.bytes_max": max((s.attrs["bytes"] for s in saves), default=0),
        "replay.sweeps": len(sweeps),
        "replay.sweep_s_p50": median(s.duration for s in sweeps),
        "replay.delivered": replay_delivered,
        "replay.delivered_ratio": replay_delivered / replay_attempted if replay_attempted else 0.0,
        "spark.jobs": sum(s.attrs["jobs"] for s in polls),
        "spark.tasks": sum(s.attrs["tasks"] for s in polls),
        "trace.overhead_ratio": median(walls[True]) / max(median(walls[False]), 1e-9),
    }
