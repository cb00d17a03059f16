#!/usr/bin/env python3
"""Run one benchmark workload against the tickerlake checkout in the cwd.

    python3 perfbench/run.py --workload split_rebuild --seed 1 --seconds 5 --trace 0

One process, one client, closed loop: each timed operation starts when the
previous one has returned. Spark runs at ``local[N]`` with N the CPUs this
process may use. Inputs come from ``--seed``; every operation's output is
checked, untimed, and a failed check counts as a failed operation.

Stdout ends with one JSON line:
``{"correct", "attempted", "failed", "metrics"}``, where ``metrics`` holds
the end-to-end metrics of BENCHMARK.json (``--trace 0``) or its per-layer
metrics (``--trace 1``), each as ``{"value", "unit"}``. The line before it
is a detail record: per-workload timings with sample counts, host
conditions, failures and, when traced, every per-call layer figure.

Everything the run writes goes under ``.perfbench_work/`` in the cwd and is
removed at exit. Exits 2, printing no result, when the cwd holds no
``tickerlake_spark`` package.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

WORKLOADS = ("headline_queries", "split_rebuild")


class Run:
    """What a workload needs from the harness: its arguments, a private work
    directory, a Spark session it can start once, and the clock that
    started when the process did."""

    def __init__(self, args: argparse.Namespace, work: str, t_start: float) -> None:
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.t_start = t_start
        self.cores = len(os.sched_getaffinity(0))
        self.spark = None
        self.event_log_dir = os.path.join(work, "eventlog")

    def start_spark(self):
        from tickerlake_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work}/tmp",
        }
        if self.trace:
            os.makedirs(self.event_log_dir)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": f"file://{self.event_log_dir}",
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        self.spark = get_spark(app_name=f"perfbench-{self.workload}", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop_spark(self) -> None:
        """Stop the session and its JVM, and wait for the JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None


def _parse(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _isolate(work: str) -> None:
    """Keep every temporary file of Python, Spark and the JVM under ``work``
    and size the local Spark session to this process's CPUs."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)


def main(argv: list[str] | None = None) -> int:
    t_start = time.perf_counter()
    args = _parse(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "tickerlake_spark", "__init__.py")):
        print(f"perfbench: no tickerlake_spark package in {root}", file=sys.stderr)
        return 2
    sys.path[:0] = [root, os.path.join(root, "tests")]
    import tickerlake_spark

    if not os.path.abspath(tickerlake_spark.__file__).startswith(root + os.sep):
        print(f"perfbench: tickerlake_spark imported from outside {root}", file=sys.stderr)
        return 2

    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    run = Run(args, work, t_start)
    try:
        _isolate(work)
        from perfbench import workloads

        detail, result = getattr(workloads, args.workload)(run)
    finally:
        run.stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail, sort_keys=True))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
