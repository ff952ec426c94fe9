"""Relay benchmark for trignis-spark.

    python3 perfbench/run.py --workload relay_outage --seed 1 --seconds 30 --trace 0

Runs one workload (see ``BENCHMARK.json`` and ``perfbench/README.md``)
on a local Spark session with one core per CPU of this process, from
the repository root. Inputs come from ``--seed`` only. The work
directory ``.perfbench_work/`` and the span dumps under
``.perfbench_out/`` stay inside the checkout.

Standard error gets the progress log and an environment echo; the last
line of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer ones with ``--trace 1``). The exit code is 1 when a
correctness check fails and 2 when the program cannot be run at all.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("relay_backlog", "relay_outage")


def _parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _catalog() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def main(argv=None) -> int:
    args = _parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import pyspark

        import trignis_spark
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(trignis_spark.__file__).startswith(ROOT + os.sep):
        print("perfbench: trignis_spark is not this checkout's", file=sys.stderr)
        return 2

    cpus = len(os.sched_getaffinity(0))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cpus))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)

    from perfbench.common import fresh_dir, log, start_spark, stop_spark

    # A SIGTERM unwinds through the finally below, so the JVM is ended too.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    fresh_dir(work)
    os.environ["TMPDIR"] = fresh_dir(os.path.join(work, "pytmp"))
    spark = None
    try:
        t0, cpu0 = time.perf_counter(), time.process_time()
        spark = start_spark(work)
        session_s = time.perf_counter() - t0
        log(json.dumps({
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "cpus": cpus,
            "master": spark.sparkContext.master, "pyspark": pyspark.__version__,
            "python": platform.python_version(),
        }))
        from perfbench import relay

        log(f"session {session_s:.2f}s")
        res = relay.run(spark, args.workload, args.seed, args.seconds,
                        bool(args.trace), work, cpu0)
        for t in spark.catalog.listTables():
            spark.sql(f"DROP TABLE IF EXISTS {t.name}")
    finally:
        try:
            stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        res["tracer"].dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json"))
    catalog = _catalog()
    if args.trace:
        wanted, values = catalog["per_layer"], res["per_layer"]
    else:
        wanted, values = catalog["end_to_end"], res["end_to_end"]
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
               for m in wanted}
    for p in res["problems"]:
        log(f"CHECK FAILED: {p}")
    attempted, failed = res["attempted"], res["failed"]
    log(f"failed_ratio={failed / attempted:.6f} ({failed}/{attempted})")
    correct = not res["problems"] and failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
