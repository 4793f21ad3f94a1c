"""Benchmark entry point: crawl throughput, round latency and resume cost.

One workload, one fresh process, the result JSON as the last stdout line::

    python3 perfbench/run.py --workload crawl_rounds --seed 1 --seconds 30 --trace 0

Every workload, untraced then traced, with the tracing overhead::

    python3 perfbench/run.py [--seed 1] [--seconds 30]

Run it from the repository root. perfbench/README.md describes the
workloads and every metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.workload import WORKLOADS  # noqa: E402

TIMEOUT_S = 160  # one run, its clean-up included, must end within 180 s


def _marked(marker: bytes) -> list[int]:
    """Live processes whose environment holds ``marker``."""
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/environ", "rb") as f:
                if marker not in f.read().split(b"\0"):
                    continue
            with open(f"/proc/{d}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        if raw[raw.rindex(")") + 2] != "Z":
            pids.append(int(d))
    return pids


def _stop_all(marker: bytes) -> None:
    """Kill what is left of a run (the JVM; Spark's Python worker daemons,
    which start process groups of their own) and wait until each has ended."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in _marked(marker):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + 5
        while time.time() < deadline:
            if not _marked(marker):
                return
            time.sleep(0.1)


def launch(workload: str, seed: int, seconds: float, trace: int,
           capture: bool = False) -> tuple[int, str]:
    """Run one workload in a fresh process; (exit code, stdout if
    captured)."""
    if not os.path.isdir(os.path.join(ROOT, "pushkind_crawlers_spark")):
        print(f"perfbench: no pushkind_crawlers_spark package under {ROOT}", file=sys.stderr)
        return 2, ""
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{workload}-{seed}-{os.getpid()}")
    env = dict(os.environ)
    # Spark's Python workers import the package: the checkout must be on
    # their path wherever the benchmark is launched from
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    # inherited by every process of the run, so clean-up can find them all
    env["PERFBENCH_RUN"] = work
    marker = f"PERFBENCH_RUN={work}".encode()
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    env["TMPDIR"] = os.path.join(work, "tmp")
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    cmd = [sys.executable, "-m", "perfbench.workload", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
           "--work", work]
    os.makedirs(env["TMPDIR"], exist_ok=True)
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env,
                            stdout=subprocess.PIPE if capture else None, text=True)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: {workload} exceeded {TIMEOUT_S}s", file=sys.stderr)
        _stop_all(marker)
        proc.communicate()
        return 1, ""
    finally:
        _stop_all(marker)
        shutil.rmtree(work, ignore_errors=True)
    return proc.returncode, out or ""


def run_all(seed: int, seconds: float) -> int:
    """Each workload untraced, then traced; print both and the overhead."""
    rc = 0
    for wl in WORKLOADS:
        results = {}
        for trace in (0, 1):
            code, out = launch(wl, seed, seconds, trace, capture=True)
            if code != 0:
                print(f"{wl} trace={trace}: exit {code}")
                rc = rc or code
                continue
            results[trace] = json.loads(out.strip().splitlines()[-1])
        for trace, res in results.items():
            ratio = res["failed"] / res["attempted"]
            print(f"\n== {wl} (trace={trace}) correct={res['correct']} "
                  f"attempted={res['attempted']} failed_ratio={ratio:.3f}")
            for name, m in res["metrics"].items():
                print(f"  {name:32s} {m['value']:14.4f} {m['unit']}")
        if len(results) == 2:
            over = (results[1]["metrics"]["trace.crawl_cpu_s"]["value"]
                    - results[0]["metrics"]["crawl_cpu_s"]["value"])
            print(f"  tracing overhead (traced crawl_cpu_s - untraced) {over:+.3f} s")
    return rc


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS),
                    help="run one workload (default: all, untraced and traced)")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload is None:
        return run_all(a.seed, a.seconds)
    code, _ = launch(a.workload, a.seed, a.seconds, a.trace)
    return code


if __name__ == "__main__":
    sys.exit(main())
