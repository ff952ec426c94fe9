"""Shared pieces: benchmark-owned sinks, statistics, the work directory
and the Spark session every workload runs on."""

from __future__ import annotations

import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time

from trignis_spark.sinks.base import ExportContext, Sink, TransientSinkError

from perfbench.checks import Delivery, parse_envelope


class RecordingSink(Sink):
    """Keeps every payload with its receipt time and export key. It does
    not parse payloads on the write path. ``compact``, called between
    cycles outside their timing, parses what has arrived into
    ``Delivery`` records and drops the payload strings, so the memory
    the sink holds does not grow with the number of cycles a run fits."""

    def __init__(self, name: str):
        self.name = name
        self.log: list[tuple[float, str, str, str]] = []
        self.deliveries: list[Delivery] = []

    def write(self, payload: str, ctx: ExportContext) -> None:
        self.log.append((time.perf_counter(), ctx.key, ctx.object_name, payload))

    def compact(self) -> list[Delivery]:
        """Every delivery so far, in receipt order."""
        self.deliveries += [Delivery(t, key, obj, *parse_envelope(p))
                            for t, key, obj, p in self.log]
        self.log = []
        return self.deliveries


class SwitchableSink(RecordingSink):
    """A recording sink that raises ``TransientSinkError`` while ``down``."""

    def __init__(self, name: str):
        super().__init__(name)
        self.down = False
        self.attempts = 0
        self.failures = 0

    def write(self, payload: str, ctx: ExportContext) -> None:
        self.attempts += 1
        if self.down:
            self.failures += 1
            raise TransientSinkError(f"{self.name}: injected outage")
        super().write(payload, ctx)


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def peak_rss_mb() -> float:
    """Peak resident set of this (the Python driver) process, in MiB."""
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def cpu_seconds(spark) -> float:
    """CPU time used so far by this process plus the Spark JVM it started."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/stat", encoding="ascii") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    jvm_ticks = int(fields[11]) + int(fields[12])  # utime + stime
    return time.process_time() + jvm_ticks / os.sysconf("SC_CLK_TCK")


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def start_spark(work: str):
    """Local session from the engine's own builder, with every location
    it writes (warehouse, shuffle/spill, JVM temp) inside ``work``.

    The JVM compiles with C1 only. With tiered C2 compilation the driver
    JVM burned 1.5-3.5 extra CPU-seconds per outage cycle for its first
    ~30 cycles, which is the whole measured window, and cycle times
    swung with the CPU left over (4-vCPU VM: 2.1-4.5 s per cycle with
    C2, 1.8-2.5 s with C1 only)."""
    from trignis_spark.session import get_spark

    local = fresh_dir(os.path.join(work, "spark-local"))
    tmp = fresh_dir(os.path.join(work, "tmp"))
    os.environ["SPARK_LOCAL_DIRS"] = local
    spark = get_spark(
        "perfbench",
        extra={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:TieredStopAtLevel=1",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _children() -> dict[int, list[int]]:
    """Parent pid -> pids of its live children, from ``/proc``."""
    tree: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat", encoding="ascii") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            tree.setdefault(ppid, []).append(int(entry))
    return tree


def _descendants(pid: int) -> list[int]:
    tree, out, todo = _children(), [], [pid]
    while todo:
        kids = tree.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _end_orphans(pids: list[int], timeout: float) -> None:
    """SIGTERM, then SIGKILL, processes that are not our children, and
    poll until none of them runs."""
    for sig, wait_s in ((signal.SIGTERM, timeout), (signal.SIGKILL, timeout)):
        live = [p for p in pids if _running(p)]
        if not live:
            return
        for p in live:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + wait_s
        while any(_running(p) for p in live) and time.monotonic() < deadline:
            time.sleep(0.05)


def stop_spark(spark=None, timeout: float = 30.0) -> None:
    """Stop the session, then end the JVM that PySpark launched and every
    process under it, and wait until each has exited.

    ``spark.stop()`` alone leaves the gateway JVM running until this
    Python process exits; the JVM then notices its closed stdin and
    shuts down on its own, after the benchmark has already returned.
    Here stdin is closed explicitly and the JVM is waited for (killed
    after ``timeout``). Works with ``spark=None`` too, for a session
    whose start failed after the JVM was launched."""
    from pyspark import SparkContext

    try:
        if spark is not None:
            spark.stop()
    finally:
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            below = _descendants(proc.pid)
            try:
                gateway.shutdown()
            except Exception:  # the JVM may already be gone
                pass
            try:
                proc.stdin.close()
            except (OSError, AttributeError):
                pass
            try:
                proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
            _end_orphans(below, timeout)
        SparkContext._gateway = None
        SparkContext._jvm = None


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)
