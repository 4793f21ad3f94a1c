"""Engine robustness probes (verify-recipe scenarios as tests)."""

from __future__ import annotations

import pytest

from pushkind_crawlers_spark.oracle import OracleCrawler
from pushkind_crawlers_spark.plans.crawl import CrawlEngine
from pushkind_crawlers_spark.synth.worldgen import SyntheticWorld, WorldConfig


def _tiny_world():
    return SyntheticWorld(WorldConfig(
        seed=5, n_hosts=1, categories_range=(1, 1), pages_range=(1, 1),
        links_per_page=(2, 3), images_per_product=(0, 0), budget_scale=10,
    ))


def test_dead_seed_no_crash(spark, tmp_path):
    """A seed that 404s everywhere: the run terminates cleanly, the
    failure is visible as fetch_errors in lineage, nothing else breaks."""
    world = _tiny_world()
    eng = CrawlEngine(spark, world, str(tmp_path / "s"),
                      seeds=["http://nowhere.test/"])
    run = eng.run()
    assert run.rounds == 1
    assert run.total_scheduled == 1
    lin = eng.store.table("lineage").read(spark).collect()
    assert sum(r["fetch_errors"] for r in lin) == 1
    assert sum(r["fetched"] for r in lin) == 0
    assert eng.store.table("results").read(spark).count() == 0


def test_mixed_dead_and_live_seeds(spark, tmp_path):
    """Dead seeds don't poison live ones; the live host crawls fully and
    still matches the oracle given the same seed list."""
    world = _tiny_world()
    seeds = ["http://nowhere.test/", "http://site0.test/"]
    eng = CrawlEngine(spark, world, str(tmp_path / "m"), seeds=seeds)
    eng.run()
    oracle = OracleCrawler(world, seeds=seeds).run()
    got = [r["url"] for r in
           eng.store.table("crawl_order").read(spark).orderBy("seq").collect()]
    assert got == [o["url"] for o in oracle.order]
    seen = {r["url"] for r in eng.store.table("seen").read(spark).collect()}
    assert seen == set(oracle.seen)


def test_targeted_refetch_f9(spark, tmp_path):
    """F9: a frontier built from an explicit URL list (no seed expansion)
    fetches exactly those product pages."""
    world = _tiny_world()
    hc = world.host_config("site0.test")
    urls = [world.product_url("site0.test", pid) for pid in range(min(3, hc.n_products))]
    eng = CrawlEngine(spark, world, str(tmp_path / "t"), seeds=urls)
    run = eng.run()
    assert run.total_scheduled == len(urls)
    order = [r["url"] for r in
             eng.store.table("crawl_order").read(spark).orderBy("seq").collect()]
    assert order == urls
    results = eng.store.table("results").read(spark).collect()
    # every valid product among the targets yields rows; no link expansion
    assert eng.store.table("frontier").read(spark).count() == 0
    assert {r["url"].split("#")[0] for r in results} <= set(urls)


def test_seen_mode_auto_resolves_by_deployment(spark, small_world, tmp_path):
    """The shipping default must be the mode whose scaling evidence
    exists for where the job runs (r4 VERDICT wrong #1): anti on
    local[N] (single-node optimal), sidecar on cluster masters."""
    from pushkind_crawlers_spark.operators.seen import resolve_seen_mode
    from pushkind_crawlers_spark.plans.crawl import CrawlEngine

    # pure resolution table
    assert resolve_seen_mode("auto", "local[8]") == "anti"
    assert resolve_seen_mode("auto", "local[*]") == "anti"
    assert resolve_seen_mode("auto", "spark://m:7077") == "sidecar"
    assert resolve_seen_mode("auto", "yarn") == "sidecar"
    assert resolve_seen_mode("auto", "k8s://https://m:443") == "sidecar"
    # explicit modes pass through; junk fails loud
    assert resolve_seen_mode("cuckoo", "local[8]") == "cuckoo"
    with pytest.raises(ValueError):
        resolve_seen_mode("bloomy", "local[8]")

    # an engine built with the default on this (local) session gets anti
    eng = CrawlEngine(spark, small_world, str(tmp_path / "s"))
    assert eng.seen_mode == "anti"


def test_seen_mode_upgrade_on_resume(spark, tmp_path):
    """A store crawled partway in anti mode can be RESUMED in sidecar
    mode: the sidecar rebuilds from the committed seen table (the
    rebuild-if-empty path) and the finished crawl still equals the
    oracle — the membership structure is an implementation detail, never
    semantics."""
    world = _tiny_world()
    root = str(tmp_path / "up")
    CrawlEngine(spark, world, root, seen_mode="anti", run_id="up").run(max_rounds=1)
    eng2 = CrawlEngine(spark, world, root, seen_mode="sidecar",
                       sidecar_shards=4, run_id="up")
    eng2.run(resume=True)
    oracle = OracleCrawler(world).run()
    got = [r["url"] for r in
           eng2.store.table("crawl_order").read(spark).orderBy("seq").collect()]
    assert got == [o["url"] for o in oracle.order]
    # the upgraded run committed a live sidecar for the NEXT resume
    assert eng2.store.table("seen_sidecar").read(spark).count() > 0


def test_stale_sidecar_invalidated_on_mode_switch_resume(spark, tmp_path):
    """ADVICE r02 (medium): sidecar round -> anti-mode rounds -> sidecar
    resume. The anti rounds leave run manifests with NO seen_sidecar
    snapshot id while the sidecar table's 'current' pointer still holds
    the round-1 filters — STALE (missing the anti rounds' seen keys).
    The engine must rebuild (manifest-key check, not just empty-check);
    trusting the stale filters would re-crawl seen URLs and append
    duplicates to seen."""
    world = _tiny_world()
    root = str(tmp_path / "stale")
    CrawlEngine(spark, world, root, seen_mode="sidecar", sidecar_shards=4,
                run_id="st").run(max_rounds=1)
    CrawlEngine(spark, world, root, seen_mode="anti",
                run_id="st").run(max_rounds=2, resume=True)
    eng3 = CrawlEngine(spark, world, root, seen_mode="sidecar",
                       sidecar_shards=4, run_id="st")
    eng3.run(resume=True)
    oracle = OracleCrawler(world).run()
    seen_rows = eng3.store.table("seen").read(spark).collect()
    urls = [r["url"] for r in seen_rows]
    assert len(urls) == len(set(urls)), "duplicate seen rows (stale sidecar)"
    assert {r["url"]: r["discovered_round"] for r in seen_rows} == oracle.seen
    got = [r["url"] for r in
           eng3.store.table("crawl_order").read(spark).orderBy("seq").collect()]
    assert got == [o["url"] for o in oracle.order]


def test_partitioned_sidecar_probe_full_parity(spark, tmp_path):
    """sidecar_broadcast_max_bytes=0 forces the at-scale cogroup probe
    (filters never collected to the driver) on EVERY round; the crawl
    still equals the oracle bit-for-bit."""
    world = _tiny_world()
    eng = CrawlEngine(spark, world, str(tmp_path / "part"),
                      seen_mode="sidecar", sidecar_shards=4,
                      sidecar_broadcast_max_bytes=0)
    eng.run()
    oracle = OracleCrawler(world).run()
    got = [r["url"] for r in
           eng.store.table("crawl_order").read(spark).orderBy("seq").collect()]
    assert got == [o["url"] for o in oracle.order]
    seen = {r["url"]: r["discovered_round"]
            for r in eng.store.table("seen").read(spark).collect()}
    assert seen == oracle.seen


def test_crawl_releases_caches_between_rounds(spark, tmp_path):
    """Unpersist discipline (VERDICT r02 "wrong" #2): a multi-round crawl
    leaves the persistent-RDD count where it started — per-round probe
    caches are released after the round's terminal write."""

    def n_persistent():
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    world = _tiny_world()
    for mode, extra in (("anti", {}), ("sidecar", {"sidecar_shards": 4}),
                        ("sidecar", {"sidecar_shards": 4,
                                     "sidecar_broadcast_max_bytes": 0})):
        base = n_persistent()
        eng = CrawlEngine(spark, world, str(tmp_path / f"c-{mode}-{len(extra)}"),
                          seen_mode=mode, **extra)
        run = eng.run()
        assert run.rounds >= 3
        assert n_persistent() <= base, mode


def test_cli_targeted_refetch_urls_flag(spark, tmp_path, capsys):
    """--urls a,b,c on the submit CLI is the reference's partial run
    (src/processing/crawler.rs:67-79): fetch exactly those pages, parity
    vs the oracle given the same explicit seed list."""
    import json
    import sys

    sys.path.insert(0, "/root/repo")
    import spark_submit_main as M

    world = _tiny_world()
    hc = world.host_config("site0.test")
    urls = [world.product_url("site0.test", pid)
            for pid in range(min(3, hc.n_products))]
    M.main(["--store", str(tmp_path / "cli-urls"), "--seed", "5",
            "--hosts", "1", "--budget-scale", "10",
            "--urls", ",".join(urls)], _stop_session=False)
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["urls_scheduled"] == len(urls)
    assert out["rounds"] == 1

    from pushkind_crawlers_spark.store.snapshots import SnapshotStore
    st = SnapshotStore(str(tmp_path / "cli-urls"))
    order = [r["url"] for r in
             st.table("crawl_order").read(spark).orderBy("seq").collect()]
    oracle = OracleCrawler(world, seeds=urls).run()
    assert order == [o["url"] for o in oracle.order]


def test_expire_keep_last_bounds_retention(spark, tmp_path):
    """Long-crawl retention: expire_keep_last bounds per-table snapshot
    history AND the _work staging dirs, while the crawl still equals the
    oracle and the store still resumes (resume only reads the LAST
    committed round)."""
    import glob
    import os

    world = _tiny_world()
    root = str(tmp_path / "gc")
    eng = CrawlEngine(spark, world, root, expire_keep_last=2)
    run = eng.run()
    assert run.rounds >= 3
    oracle = OracleCrawler(world).run()
    got = [r["url"] for r in
           eng.store.table("crawl_order").read(spark).orderBy("seq").collect()]
    assert got == [o["url"] for o in oracle.order]
    seen = {r["url"]: r["discovered_round"]
            for r in eng.store.table("seen").read(spark).collect()}
    assert seen == oracle.seen

    for name in ("frontier", "seen", "results", "crawl_order"):
        snaps = eng.store.table(name).snapshots()
        assert len(snaps) <= 3, name  # keep_last=2 (+ current overlap)
    work_rounds = glob.glob(os.path.join(root, "_work", "round-*"))
    assert len(work_rounds) <= 2, work_rounds

    # resume on the GC'd store: a fresh engine reads the last committed
    # round and terminates cleanly (frontier empty)
    eng2 = CrawlEngine(spark, world, root, expire_keep_last=2)
    run2 = eng2.run(resume=True)
    assert run2.rounds == 0
    seen2 = {r["url"]: r["discovered_round"]
             for r in eng2.store.table("seen").read(spark).collect()}
    assert seen2 == oracle.seen


def test_expire_mid_run_resume(spark, tmp_path):
    """Interrupt a GC'd crawl after 2 rounds and resume: final state
    equals the uninterrupted run."""
    world = _tiny_world()
    r_full = str(tmp_path / "full")
    CrawlEngine(spark, world, r_full).run()
    want = {r["url"]: r["discovered_round"]
            for r in CrawlEngine(spark, world, r_full).store
            .table("seen").read(spark).collect()}

    r_gc = str(tmp_path / "gc2")
    CrawlEngine(spark, world, r_gc, expire_keep_last=1,
                run_id="gc").run(max_rounds=2)
    eng = CrawlEngine(spark, world, r_gc, expire_keep_last=1, run_id="gc")
    eng.run(resume=True)
    got = {r["url"]: r["discovered_round"]
           for r in eng.store.table("seen").read(spark).collect()}
    assert got == want


def test_cuckoo_mode_crawl_identical(spark, tmp_path):
    """seen_mode='cuckoo' (per-bucket cogroup confirm — the cluster-only
    strategy) reproduces the oracle crawl bit-for-bit, like anti and
    sidecar modes: the confirm strategy is an implementation detail,
    never semantics."""
    world = _tiny_world()
    eng = CrawlEngine(spark, world, str(tmp_path / "ck"), seen_mode="cuckoo")
    eng.run()
    oracle = OracleCrawler(world).run()
    got = [r["url"] for r in
           eng.store.table("crawl_order").read(spark).orderBy("seq").collect()]
    assert got == [o["url"] for o in oracle.order]
    seen = {r["url"]: r["discovered_round"]
            for r in eng.store.table("seen").read(spark).collect()}
    assert seen == oracle.seen


def test_discovery_failure_joins_results_staging(spark, tmp_path):
    """A link with port 99999 makes the round's discovery job raise while
    the results staging job runs on its driver thread: the engine
    re-raises the discovery error and leaves no pool thread behind."""
    import threading

    from pushkind_crawlers_spark.plans.crawl import make_world_fetch_fn

    world = _tiny_world()
    world_fetch = make_world_fetch_fn(world)

    def fetch_with_bad_port(batches):
        for pdf in world_fetch(batches):
            pdf["out_links"] = [
                None if links is None else [*links, "http://site0.test:99999/x"]
                for links in pdf["out_links"]]
            yield pdf

    def pool_threads():
        return {t for t in threading.enumerate()
                if t.name.startswith("ThreadPoolExecutor")}

    before = pool_threads()
    eng = CrawlEngine(spark, world, str(tmp_path / "p"),
                      fetch_fn=fetch_with_bad_port)
    with pytest.raises(Exception, match="Port out of range"):
        eng.run()
    assert pool_threads() <= before


def test_staged_reads_find_nested_files(tmp_path):
    """Footer counts and driver-side reads of a staged directory see its
    parquet files at any depth, and a positive staged count over a
    directory with no files fails loud instead of reading as empty."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pushkind_crawlers_spark.store.snapshots import parquet_rows, read_staged

    url_hash = pa.schema([("url_hash", pa.int64())])
    root = tmp_path / "staged"
    (root / "a" / "b").mkdir(parents=True)
    pq.write_table(pa.table({"url_hash": [1, 2]}), root / "part-0.parquet")
    pq.write_table(pa.table({"url_hash": [3]}), root / "a" / "b" / "part-1.parquet")
    (root / "_SUCCESS").touch()
    assert parquet_rows(str(root)) == 3
    got = read_staged((str(root), 3), url_hash)
    assert sorted(got["url_hash"].to_pylist()) == [1, 2, 3]

    (tmp_path / "empty").mkdir()
    assert read_staged((str(tmp_path / "empty"), 0), url_hash).num_rows == 0
    with pytest.raises(RuntimeError, match="no parquet files"):
        read_staged((str(tmp_path / "empty"), 2), url_hash)
