#!/usr/bin/env python
"""Count the Python-worker sessions of one benchmark crawl unit.

A session is one task's run of PySpark's worker loop in a Python worker:
it pays PySpark's per-task set-up (``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``, which on Python 3.11 re-reads the
``pyspark.zip`` directory once per cached zipimporter) before the UDF body
runs. This script runs one crawl unit of a ``perfbench`` workload (crawl to
the end, then resume a fresh engine on the store) with this file as
``spark.python.daemon.module``, and prints per UDF: the sessions, their
CPU seconds, and the CPU seconds spent in ``invalidate_caches``. Sessions
that run a plain RDD function (a list-backed ``createDataFrame`` frame, for
one) are grouped as ``RDD.map``.

Usage::

    python scripts/pyworker_sessions.py [--workload crawl_rounds] [--seed 11] [--json out.json]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from collections import defaultdict

LOG_ENV = "PYWORKER_SESSIONS_LOG"


# ---------------------------------------------------------------- daemon side


def _run_counting_daemon() -> None:
    """PySpark's worker daemon, with each session timed and labelled into
    a per-process JSON-lines file under ``$PYWORKER_SESSIONS_LOG``."""
    import importlib

    import pyspark.daemon
    import pyspark.worker

    state = {"labels": [], "invalidate_s": 0.0}
    invalidate_caches = importlib.invalidate_caches
    read_command = pyspark.worker.read_command
    worker_main = pyspark.daemon.worker_main

    def timed_invalidate_caches():
        t = time.process_time()
        try:
            return invalidate_caches()
        finally:
            state["invalidate_s"] += time.process_time() - t

    def labelled_read_command(serializer, infile):
        command = read_command(serializer, infile)
        if isinstance(command, tuple) and len(command) == 4:
            state["labels"].append("RDD.map")   # func, profiler, deser, ser
        elif isinstance(command, tuple) and callable(command[0]):
            f = command[0]
            state["labels"].append(f"{f.__module__}.{f.__qualname__}")
        return command

    def counting_main(infile, outfile):
        state["labels"], state["invalidate_s"] = [], 0.0
        start, cpu = time.time(), time.process_time()
        try:
            return worker_main(infile, outfile)
        finally:
            record = {"start": start, "end": time.time(),
                      "cpu_s": time.process_time() - cpu,
                      "invalidate_s": state["invalidate_s"],
                      "label": " + ".join(state["labels"]) or "(none)"}
            path = os.path.join(os.environ[LOG_ENV], f"{os.getpid()}.jsonl")
            with open(path, "a") as f:
                f.write(json.dumps(record) + "\n")

    importlib.invalidate_caches = timed_invalidate_caches
    pyspark.worker.read_command = labelled_read_command
    pyspark.daemon.worker_main = counting_main
    pyspark.daemon.manager()


# ---------------------------------------------------------------- driver side


def read_sessions(log_dir: str, start: float, end: float) -> list[dict]:
    out = []
    for name in os.listdir(log_dir):
        with open(os.path.join(log_dir, name)) as f:
            out += [r for r in map(json.loads, f) if start <= r["start"] <= end]
    return out


def summarize(sessions: list[dict]) -> dict:
    per = defaultdict(lambda: {"sessions": 0, "cpu_s": 0.0, "invalidate_s": 0.0})
    for s in sessions:
        row = per[s["label"]]
        row["sessions"] += 1
        row["cpu_s"] += s["cpu_s"]
        row["invalidate_s"] += s["invalidate_s"]
    rows = {k: {m: round(v, 3) for m, v in row.items()}
            for k, row in sorted(per.items(), key=lambda kv: -kv[1]["sessions"])}
    total = {m: round(sum(r[m] for r in per.values()), 3)
             for m in ("sessions", "cpu_s", "invalidate_s")}
    return {"per_udf": rows, "total": total}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", default="crawl_rounds")
    ap.add_argument("--seed", type=int, default=11)
    ap.add_argument("--json", help="also write the summary here")
    args = ap.parse_args(argv)

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    log_dir = tempfile.mkdtemp(prefix="pyworker-sessions-")
    # the JVM, and so the daemon it starts, inherits this environment
    os.environ[LOG_ENV] = log_dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (os.path.dirname(os.path.abspath(__file__)), root,
                    os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, root)

    from perfbench.workload import DRIVER_MEM, MASTER, WORKLOADS, crawl_unit, new_engine
    from pushkind_crawlers_spark.session import get_spark
    from pushkind_crawlers_spark.synth.worldgen import SyntheticWorld

    wl = WORKLOADS[args.workload]
    module = os.path.splitext(os.path.basename(__file__))[0]
    spark = get_spark(app="pyworker-sessions", master=MASTER, extra={
        "spark.driver.memory": DRIVER_MEM,
        "spark.python.daemon.module": module,
        "spark.ui.showConsoleProgress": "false",
    })
    store_root = tempfile.mkdtemp(prefix="pyworker-sessions-store-")
    world = SyntheticWorld(wl.world(args.seed))
    engine = new_engine(spark, world, wl, store_root)
    start = time.time()
    unit = crawl_unit(spark, world, wl, engine, store_root)
    summary = summarize(read_sessions(log_dir, start, time.time()))
    spark.stop()
    shutil.rmtree(log_dir, ignore_errors=True)
    shutil.rmtree(store_root, ignore_errors=True)
    summary.update(workload=wl.name, seed=args.seed, rounds=len(unit.rounds),
                   urls=unit.scheduled)

    print(f"{'sessions':>8} {'cpu_s':>8} {'invalidate_s':>12}  udf")
    for label, row in list(summary["per_udf"].items()) + [("TOTAL", summary["total"])]:
        print(f"{row['sessions']:>8} {row['cpu_s']:>8.2f} {row['invalidate_s']:>12.2f}  {label}")
    if args.json:
        with open(args.json, "w") as f:
            json.dump(summary, f, indent=1)
    return 0


if __name__ == "__main__":
    if __spec__ is not None:   # started by Spark with -m as the worker daemon
        _run_counting_daemon()
    else:
        sys.exit(main())
