"""Structured Streaming surface of the engine.

The batch engine is BSP rounds; streaming covers the two continuous
consumers a production crawl feeds:

* **results ingest** — fetched-page rows land as files (one directory per
  round / per fetcher fleet flush); a file-source stream parses,
  validates, and first-wins-dedups them *within each micro-batch* and
  appends to the results sink. ``Trigger.AvailableNow`` drains everything
  committed so far and stops — the resumable batch-incremental pattern
  (checkpoint = exactly-once over input files).
* **event sessionization** — the streaming twin of the batch
  ``events_sessionize`` query: watermarked ``session_window`` aggregation
  with a 30-minute gap, late data bounded by the watermark.

Both are plain DataFrame transforms on an unbounded frame — identical
logic to the batch path (Spark's unified model), so correctness is
asserted against the batch query in tests.

Reference analog: the reference's ZMQ ingest loop
(/root/reference/src/main.rs:74-102) is a continuous message consumer;
this is its Spark-native shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schemas
from ..functions.parsing import amount_col, price_col, units_col, validate_products


def results_ingest_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    """File-source stream of FETCHED rows -> validated result rows.

    Parse + validate are the same JVM expressions as the batch round
    (plans/crawl.py:_build_results, without variant explosion which the
    synthetic fetcher emits pre-exploded in streaming mode).
    """
    raw = (
        spark.readStream.schema(schemas.FETCHED)
        .option("maxFilesPerTrigger", 16)
        .parquet(input_dir)
    )
    products = raw.filter((F.col("kind") == "product") & F.col("ok"))
    base = (
        products.withColumn("price", price_col(F.col("price_str")))
        .withColumn("amount", amount_col(F.col("amount_str")))
        .withColumn("units", units_col(F.col("amount_str")))
        .select(
            "url_hash", "url", "host", "sku", "name", "price",
            "category", "units", "amount", "description", "ord",
        )
    )
    valid, _ = validate_products(base)
    # intra-batch first-wins dedup: streaming dropDuplicates keeps state
    # across batches keyed on url_hash (bounded by watermark in prod)
    return valid.dropDuplicates(["url_hash"])


def start_results_ingest(spark: SparkSession, input_dir: str, out_dir: str,
                         checkpoint: str):
    """Drain all available input files into the results sink and stop
    (Trigger.AvailableNow — resumable, exactly-once over files)."""
    q = (
        results_ingest_stream(spark, input_dir)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    return q


def sessionize_stream(events: DataFrame, gap: str = "30 minutes",
                      watermark: str = "1 hour") -> DataFrame:
    """Watermarked session-window counts per user (streaming E-twin of
    queries.events_sessionize)."""
    # watermarks require TIMESTAMP (session tz pinned UTC, so NTZ casts 1:1)
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.col("user_id"), F.session_window(F.col("ts"), gap))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
        )
    )


def start_frontier_ingest(spark: SparkSession, input_dir: str,
                          store_root: str, checkpoint: str,
                          n_shards: int = 64,
                          run_id: str = "stream-ingest"):
    """Streaming seed/crawl-request ingress -> the engine's round-0 state
    (VERDICT r03 next #10; the reference's ZMQ ingress analog,
    /root/reference/src/main.rs:74-83 — crawl requests arrive as
    messages; here they arrive as files of ``(raw_url, seed_idx)`` rows).

    Each micro-batch canonicalizes (the engine's exact S4 expressions),
    hashes, first-wins-dedups ACROSS batches through the stateful
    per-shard seen filter (state.py), and commits the survivors as
    appends to the store's ``frontier`` + ``seen`` snapshot tables under
    a round-0 run manifest. A :class:`~..plans.crawl.CrawlEngine` then
    picks the store up with ``run(resume=True)`` — the BFS proceeds
    exactly as if the same seed set had been passed to ``__init__``;
    parity is pinned by tests/test_streaming.py.

    Delivery: ``foreachBatch`` is at-least-once — a crash after the
    store commit but before the streaming checkpoint commits replays
    the batch.  The sink is therefore made IDEMPOTENT: the highest
    committed ``batch_id`` per ``run_id`` is recorded in the run
    manifest (``ingest_batches``), and a replayed batch is skipped, so
    the store sees each batch's frontier/seen appends exactly once.
    (The guard holds while the run manifest still carries the ingest's
    entry — i.e. until a crawl run's own commit_round supersedes it,
    by which point the streaming checkpoint has long since committed.)
    """
    from .. import schemas
    from ..functions.urlnorm import canonicalize_url_col, host_of
    from ..plans.crawl import hseg_col
    from ..store.snapshots import SnapshotStore
    from .state import stateful_seen_filter

    store = SnapshotStore(store_root)
    tables = {
        "frontier": schemas.FRONTIER, "seen": schemas.SEEN,
        "results": schemas.RESULTS, "rejects": schemas.REJECTS,
        "images": schemas.IMAGES, "crawl_order": schemas.CRAWL_ORDER,
        "lineage": schemas.LINEAGE,
    }
    for name, sch in tables.items():
        store.table(name, sch)

    raw = (
        spark.readStream.schema("raw_url string, seed_idx int")
        .option("maxFilesPerTrigger", 1)   # one trigger per arriving file
        .parquet(input_dir)
    )
    canon = (
        raw.withColumn("url", canonicalize_url_col(F.col("raw_url")))
        .withColumn("host", host_of(F.col("url")))
        .withColumn("ord", hseg_col(F.col("seed_idx")))
        .withColumn("url_hash", F.xxhash64("url"))
    )
    fresh = stateful_seen_filter(
        canon.select("url_hash", "url", "host", "ord"), n_shards
    )

    sink = make_ingest_sink(spark, store, tables, run_id)
    q = (
        fresh.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    return q


def make_ingest_sink(spark: SparkSession, store, tables: dict, run_id: str):
    """The idempotent foreachBatch sink of :func:`start_frontier_ingest`
    (module-level so tests can replay a batch_id directly)."""
    from ..operators.priority import parity_priority
    from ..session import local_frame

    def sink(batch_df, batch_id: int) -> None:
        state = store.read_run_state()
        committed = (state or {}).get("ingest_batches", {}).get(run_id, -1)
        if batch_id <= committed:
            return  # at-least-once replay of an already-committed batch
        frontier_rows = batch_df.select(
            "url_hash", "url", "host",
            F.lit(0).alias("depth"), "ord",
            parity_priority(F.lit(0)).alias("priority"),
            F.lit(0).alias("discovered_round"),
            F.lit(None).cast("long").alias("parent_hash"),
        )
        seen_rows = batch_df.select(
            "url_hash", "url", "host", F.lit(0).alias("discovered_round")
        )
        staged = {
            "frontier": store.table("frontier").stage(frontier_rows),
            "seen": store.table("seen").stage(seen_rows),
        }
        if state is None:
            for name in ("results", "rejects", "images",
                         "crawl_order", "lineage"):
                staged[name] = store.table(name).stage(
                    local_frame(spark, [], tables[name])
                )
            # first batch: pin every publish to the EMPTY table (r05
            # advice) — a crash between the table publish and the run
            # manifest write followed by a checkpoint replay must
            # SUPERSEDE the orphan snapshot (commit_round's own-orphan
            # branch), not append batch-0 rows onto it a second time
            parents = {name: 0 for name in staged}
        else:
            parents = state["snapshot_ids"]
        batches = dict((state or {}).get("ingest_batches", {}))
        batches[run_id] = batch_id
        store.commit_round(staged, round_no=0, run_id=run_id,
                           append_tables={"frontier", "seen"},
                           parents=parents,
                           extra={"ingest_batches": batches})

    return sink
