"""One benchmark run of one crawl workload, in this process.

``perfbench/run.py`` launches this module in a fresh process with
the checkout on ``PYTHONPATH``; run it directly only for debugging::

    PYTHONPATH=. python3 -m perfbench.workload --workload crawl_rounds \\
        --seed 1 --seconds 30 --trace 0

The last stdout line is the result JSON. With ``--trace 0`` it carries
the end-to-end metrics, with ``--trace 1`` the per-layer ones.
"""

from __future__ import annotations

import argparse
import hashlib
import itertools
import json
import os
import platform
import sys
import time
from collections import Counter
from dataclasses import dataclass, field
from typing import Callable

from perfbench import fold
from perfbench.tracing import RssSampler, Tracer, read_event_log, tree_cpu_s

MASTER = "local[4]"
# the heap is committed and touched up front, so the JVM's share of
# peak_rss_mb does not depend on when the collector chose to grow it
DRIVER_MEM = "2g"
SETUP_REPEATS = 3  # engine constructions after the warm-up; setup_s takes their median


@dataclass(frozen=True)
class Workload:
    name: str
    world: Callable[[int], object]      # seed -> WorldConfig
    seen_mode: str = "auto"
    novelty: float = 0.0
    budget: float = 0.0
    first_leg_rounds: int | None = None  # stop here; a fresh engine resumes


def _rounds_world(seed: int):
    """The bench-world shape (8 hosts, host 0 4x hot), with fixed ranges so
    every seed yields a world of near-equal size: 55 category pages that
    link to about 770 products."""
    from pushkind_crawlers_spark.synth.worldgen import WorldConfig

    return WorldConfig(seed=seed, n_hosts=8, hot_host_idx=0, hot_factor=4,
                       categories_range=(5, 5), pages_range=(1, 1),
                       links_per_page=(24, 24), images_per_product=(0, 1),
                       image_sizes=(32,), budget_scale=400)


def _wide_world(seed: int):
    """Long category pages: 132 of them link to about 4.6k products."""
    from pushkind_crawlers_spark.synth.worldgen import WorldConfig

    return WorldConfig(seed=seed, n_hosts=8, hot_host_idx=0, hot_factor=4,
                       categories_range=(12, 12), pages_range=(1, 1),
                       links_per_page=(60, 60), images_per_product=(0, 1),
                       image_sizes=(32,), budget_scale=2000)


WORKLOADS = {
    w.name: w for w in (
        Workload("crawl_rounds", _rounds_world),
        Workload("crawl_wide", _wide_world, seen_mode="sidecar", novelty=0.3,
                 budget=0.2, first_leg_rounds=1),
    )
}


def category_seeds(world) -> list[str]:
    """Every category page. Worlds have no pagination, so a crawl seeded
    here is 2 rounds (categories, then products): each round costs 8-25 s
    on 4 cores whatever its size, and a third round from the host roots
    would not let a run fit its time."""
    return [world.category_url(h, c) for h in world.cfg.hosts()
            for c in range(world.host_config(h).n_categories)]


# ---------------------------------------------------------------- oracle


def oracle_outputs(wl: Workload, seed: int, cache_dir: str) -> dict:
    """Crawl order and seen map of ``OracleCrawler`` for this world,
    cached on disk by world config and seeds so repeated seeds skip the
    work."""
    from pushkind_crawlers_spark.oracle import OracleCrawler
    from pushkind_crawlers_spark.synth.worldgen import SyntheticWorld

    world = SyntheticWorld(wl.world(seed))
    seeds = category_seeds(world)
    key = hashlib.sha1(repr((world.cfg, seeds)).encode()).hexdigest()[:16]
    path = os.path.join(cache_dir, f"{wl.name}-{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    res = OracleCrawler(world, seeds=seeds).run()
    out = {
        "order": [[r["seq"], r["round"], r["url"], r["depth"], r["ord"]] for r in res.order],
        "seen": res.seen,
    }
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(out, f)
    os.replace(path + ".tmp", path)
    return out


def check_output(wl: Workload, spark, store_root: str, world, oracle: dict) -> list[str]:
    """Problems with one crawl's committed output (empty = correct)."""
    from pushkind_crawlers_spark.store.snapshots import SnapshotStore

    store = SnapshotStore(store_root)
    order = [(r["seq"], r["round"], r["url"], r["depth"], r["ord"], r["host"])
             for r in store.table("crawl_order").read(spark).orderBy("seq").collect()]
    seen = {r["url"]: r["discovered_round"]
            for r in store.table("seen").read(spark).collect()}
    problems = []
    if wl.novelty == 0.0:
        # depth + ord order is exact only without the novelty reorder
        if [list(o[:5]) for o in order] != oracle["order"]:
            problems.append("crawl order differs from the oracle")
        if seen != oracle["seen"]:
            problems.append("seen map differs from the oracle")
    elif set(seen) != set(oracle["seen"]):
        problems.append("seen set differs from the oracle")
    urls = Counter(o[2] for o in order)
    if len(urls) != len(order):
        problems.append(f"{len(order) - len(urls)} URLs fetched twice")
    per_round = Counter((o[1], o[5]) for o in order)
    over = [k for k, n in per_round.items()
            if n > world.host_config(k[1]).budget_per_round]
    if over:
        problems.append(f"host over budget in (round, host) {over[:3]}")
    return problems


# ---------------------------------------------------------------- crawling


@dataclass
class Unit:
    """One measured crawl of the world on a fresh store."""
    store_root: str
    start: float
    crawl_s: float = 0.0
    crawl_cpu_s: float = 0.0
    resume_s: float = 0.0
    scheduled: int = 0
    rounds: list = field(default_factory=list)   # RoundMetrics of every leg
    engine: object = None                       # the engine that finished it
    end: float = 0.0


def new_engine(spark, world, wl: Workload, store_root: str):
    from pushkind_crawlers_spark.operators.priority import PriorityWeights
    from pushkind_crawlers_spark.plans.crawl import CrawlEngine

    return CrawlEngine(spark, world, store_root, seeds=category_seeds(world),
                       seen_mode=wl.seen_mode,
                       weights=PriorityWeights(novelty=wl.novelty, budget=wl.budget))


def crawl_unit(spark, world, wl: Workload, engine, store_root: str) -> Unit:
    """Crawl to the end, then resume a fresh engine on the same store.

    With ``first_leg_rounds`` the first engine stops early and the
    resumed engine finishes the crawl (both legs count in ``crawl_s``);
    otherwise the resumed engine opens the finished store and runs no
    round. ``resume_s`` is the resumed engine's construction plus its
    ``run(resume=True)`` wall, less the rounds it ran."""
    u = Unit(store_root=store_root, start=time.time())
    t, cpu = time.perf_counter(), tree_cpu_s(os.getpid())
    run1 = engine.run(max_rounds=wl.first_leg_rounds)
    u.crawl_s = time.perf_counter() - t
    u.crawl_cpu_s = tree_cpu_s(os.getpid()) - cpu
    t = time.perf_counter()
    resumed = new_engine(spark, world, wl, store_root)
    construct_s = time.perf_counter() - t
    t, cpu = time.perf_counter(), tree_cpu_s(os.getpid())
    run2 = resumed.run(resume=True)
    resume_wall = time.perf_counter() - t
    resume_cpu = tree_cpu_s(os.getpid()) - cpu
    u.end = time.time()
    u.rounds = run1.metrics + run2.metrics
    u.scheduled = run1.total_scheduled + run2.total_scheduled
    u.resume_s = fold.resume_s(construct_s, resume_wall, [m.wall_s for m in run2.metrics])
    if wl.first_leg_rounds is not None:
        u.crawl_s += resume_wall
        u.crawl_cpu_s += resume_cpu
        u.engine = resumed
    else:
        u.engine = engine
    return u


# ---------------------------------------------------------------- metrics


def end_to_end(units: list[Unit], setup_s: float, rss: RssSampler) -> dict:
    """Bounded metrics. The crawl is measured in CPU seconds: on a shared
    host its wall time drifts by up to 2x within half an hour, and the
    wall-time metrics are reported by the traced run instead."""
    return {
        "setup_s": (setup_s, "s"),
        "crawl_cpu_s": (fold.median(u.crawl_cpu_s for u in units), "s"),
        "urls_per_cpu_s": (fold.median(u.scheduled / u.crawl_cpu_s for u in units), "1/s"),
        "peak_rss_mb": (rss.mb(rss.peak_total), "MB"),
    }


def wall_times(units: list[Unit]) -> dict:
    links = [sum(m.links_discovered for m in u.rounds) for u in units]
    return {
        "wall.crawl_s": (fold.median(u.crawl_s for u in units), "s"),
        "wall.urls_per_s": (fold.median(u.scheduled / u.crawl_s for u in units), "1/s"),
        "wall.links_per_s": (fold.median(n / u.crawl_s for n, u in zip(links, units)), "1/s"),
        "wall.round_p50_s": (fold.median(m.wall_s for u in units for m in u.rounds), "s"),
        "resume_s": (fold.median(u.resume_s for u in units), "s"),
        "trace.crawl_cpu_s": (fold.median(u.crawl_cpu_s for u in units), "s"),
    }


def _store_footprint(root: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _, names in os.walk(root):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def round_windows(units: list[Unit], spans) -> list[tuple[str, float, float]]:
    """Phase windows of every measured round, anchored on the end of the
    round's ``commit_round`` call."""
    windows = []
    for u in units:
        commit_end = {s.tag: s.end for s in spans
                      if s.name == "store.commit_round" and u.start <= s.start < u.end}
        for m in u.rounds:
            if m.round in commit_end:
                windows += fold.phase_windows(fold.round_start(commit_end[m.round], m.phases),
                                              m.phases)
    return windows


def per_layer(units: list[Unit], spans, spark, rss: RssSampler) -> dict:
    """Per-layer metrics, per crawl (summed over its rounds), averaged over
    the run's crawls. Spark metrics are added after the session stops."""
    import numpy as np

    from pushkind_crawlers_spark.store.snapshots import SnapshotStore

    n = len(units)
    rounds = [m for u in units for m in u.rounds]
    out: dict[str, tuple[float, str]] = {}
    for p in ("schedule", "fetch", "parse_results", "image_decode", "link_discovery",
              "seen_filter", "results_stage_wait", "stage_deltas", "commit", "bloom_update"):
        out[f"phase.{p}_s"] = (sum(m.phases.get(p, 0.0) for m in rounds) / n, "s")
    tot = {k: sum(getattr(m, k) for m in rounds)
           for k in ("scheduled", "fetched", "links_discovered", "links_new", "results_rows")}
    out["crawl.rounds"] = (len(rounds) / n, "count")
    out["crawl.urls_fetched"] = (tot["fetched"] / n, "count")
    out["crawl.links_discovered"] = (tot["links_discovered"] / n, "count")
    out["crawl.links_new"] = (tot["links_new"] / n, "count")
    out["crawl.results_rows"] = (tot["results_rows"] / n, "count")
    out["fetch.ok_ratio"] = (tot["fetched"] / max(tot["scheduled"], 1), "ratio")
    out["seen.new_ratio"] = (tot["links_new"] / max(tot["links_discovered"], 1), "ratio")

    def spans_of(name):
        return [s for s in spans if s.name == name]

    def busy(name):
        return sum(s.end - s.start for s in spans_of(name)) / n

    out["bloom.add_s"] = (busy("bloom.add"), "s")
    out["bloom.add_calls"] = (len(spans_of("bloom.add")) / n, "count")
    out["seen.add_to_bloom_s"] = (busy("seen.add_to_bloom"), "s")
    bloom = units[-1].engine.bloom
    fill = fold.bloom_fill(int(np.unpackbits(bloom.words.view(np.uint8)).sum()), bloom.n_bits)
    out["bloom.fill_ratio"] = (fill, "ratio")
    out["bloom.est_fpr"] = (fold.est_fpr(fill, bloom.n_hashes), "ratio")

    store = SnapshotStore(units[-1].store_root)
    blob = degraded = 0
    if store.table("seen_sidecar").current_snapshot_id() is not None:
        for r in store.table("seen_sidecar").read(spark).collect():
            blob += len(r["words"])
            degraded += int(r["degraded"])
    out["sidecar.blob_bytes"] = (blob, "bytes")
    out["sidecar.degraded_shards"] = (degraded, "count")

    stage = spans_of("store.stage")
    out["store.stage_calls"] = (len(stage) / n, "count")
    out["store.stage_busy_s"] = (busy("store.stage"), "s")
    out["store.stage_wall_s"] = (fold.union_length((s.start, s.end) for s in stage) / n, "s")
    out["store.commit_round_s"] = (busy("store.commit_round"), "s")
    out["store.read_state_s"] = (busy("store.read"), "s")
    files, size = _store_footprint(units[-1].store_root)
    out["store.files"] = (files, "count")
    out["store.bytes"] = (size, "bytes")
    out["driver.peak_rss_mb"] = (rss.mb(rss.peak_driver), "MB")
    out["pyworkers.peak_rss_mb"] = (rss.mb(rss.peak_workers), "MB")
    out.update(wall_times(units))
    return out


def spark_layer(windows, log_dir: str, n_units: int) -> tuple[dict, list[str]]:
    acc, missing = fold.fold_event_log(read_event_log(log_dir), windows)
    out = {}
    for phase, fields in acc.items():
        for f, v in fields.items():
            unit = {"jobs": "count", "task_s": "s", "driver_gap_s": "s"}.get(f, "bytes")
            out[f"spark.{phase}.{f}"] = (v / n_units, unit)
    return out, missing


def install_tracer(tracer: Tracer) -> None:
    from pushkind_crawlers_spark.operators.seen import NumpyBloom
    from pushkind_crawlers_spark.plans import crawl
    from pushkind_crawlers_spark.store.snapshots import SnapshotStore, SnapshotTable

    tracer.wrap(NumpyBloom, "add", "bloom.add")
    tracer.wrap(crawl, "add_to_bloom", "seen.add_to_bloom")
    tracer.wrap(SnapshotTable, "stage", "store.stage")
    tracer.wrap(SnapshotTable, "read", "store.read")
    tracer.wrap(SnapshotStore, "read_run_state", "store.read")
    tracer.wrap(SnapshotStore, "commit_round", "store.commit_round",
                tag=lambda a, kw: kw["round_no"] if "round_no" in kw else a[2])


# ---------------------------------------------------------------- main


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit (it exits when its
    stdin closes), so the event log is complete and nothing outlives us."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def run(wl: Workload, seed: int, seconds: float, trace: bool, work: str) -> dict:
    cache = os.path.join(os.path.dirname(work), "oracle")
    t = time.perf_counter()
    oracle = oracle_outputs(wl, seed, cache)
    print(f"[perfbench] oracle ready in {time.perf_counter() - t:.1f}s", file=sys.stderr)

    import pyspark
    from pushkind_crawlers_spark.session import get_spark
    from pushkind_crawlers_spark.synth.worldgen import SyntheticWorld

    print(f"[perfbench] nproc={os.cpu_count()} spark={pyspark.__version__} "
          f"python={platform.python_version()} master={MASTER}", file=sys.stderr)
    tracer = Tracer()
    log_dir = os.path.join(work, "eventlog")
    extra = {
        "spark.driver.memory": DRIVER_MEM,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData "
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1 "
            "-XX:ReservedCodeCacheSize=240m",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(log_dir)
        extra.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": "file://" + log_dir,
                      "spark.eventLog.compress": "false"})
    stores = (os.path.join(work, f"store-{i}") for i in itertools.count())
    with RssSampler() as rss:
        t0 = time.perf_counter()
        spark = get_spark(app=f"perfbench-{wl.name}", master=MASTER, extra=extra)
        session_s = time.perf_counter() - t0
        # warm-up: the first engine pays the cold start (Python workers,
        # Arrow, first-job planning); its store is thrown away
        t0 = time.perf_counter()
        new_engine(spark, SyntheticWorld(wl.world(seed)), wl, next(stores))
        warmup_s = time.perf_counter() - t0
        constructs = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            world = SyntheticWorld(wl.world(seed))
            store_root = next(stores)
            engine = new_engine(spark, world, wl, store_root)
            constructs.append(time.perf_counter() - t0)
        setup_s = session_s + warmup_s + fold.median(constructs)

        if trace:
            install_tracer(tracer)
        units: list[Unit] = []
        t_measure = time.perf_counter()
        try:
            while True:
                units.append(crawl_unit(spark, world, wl, engine, store_root))
                used = time.perf_counter() - t_measure
                if used + used / len(units) > seconds:
                    break
                store_root = next(stores)
                engine = new_engine(spark, world, wl, store_root)
        finally:
            tracer.restore()
        measured_s = time.perf_counter() - t_measure

        problems = []
        for u in units:
            problems += check_output(wl, spark, u.store_root, world, oracle)
        layer = per_layer(units, tracer.spans, spark, rss) if trace else {}
        stop_spark(spark)
    missing: list[str] = []
    if trace:
        spark_metrics, missing = spark_layer(round_windows(units, tracer.spans), log_dir,
                                             len(units))
        layer.update(spark_metrics)
        tracer.dump(os.path.join(os.path.dirname(work), f"spans-{wl.name}-{seed}.json"))
    attempted = sum(len(u.rounds) for u in units)
    for p in problems:
        print(f"[perfbench] CHECK FAILED: {p}", file=sys.stderr)
    if missing:
        print(f"[perfbench] no Spark jobs in phases {missing}: their spark.* metrics read 0",
              file=sys.stderr)
    print(f"[perfbench] {wl.name} seed={seed} crawls={len(units)} measured={measured_s:.1f}s "
          f"failed_ratio={(attempted if problems else 0) / attempted:.3f}", file=sys.stderr)
    print(f"[perfbench] setup: session {session_s:.2f}s, warm-up {warmup_s:.2f}s, "
          f"constructions {[round(c, 2) for c in constructs]}; round walls "
          f"{[round(m.wall_s, 2) for u in units for m in u.rounds]}; resume "
          f"{[round(u.resume_s, 2) for u in units]}; peak RSS driver "
          f"{rss.mb(rss.peak_driver):.0f} MB, workers {rss.mb(rss.peak_workers):.0f} MB",
          file=sys.stderr)
    metrics = layer if trace else end_to_end(units, setup_s, rss)
    return {
        "correct": not problems,
        "attempted": attempted,
        "failed": attempted if problems else 0,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True, help="scratch directory for this run")
    a = ap.parse_args(argv)
    os.makedirs(os.path.join(a.work, "tmp"), exist_ok=True)
    result = run(WORKLOADS[a.workload], a.seed, a.seconds, bool(a.trace), a.work)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
