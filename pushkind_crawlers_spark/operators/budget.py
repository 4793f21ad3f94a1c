"""Politeness, robots, and deterministic budget truncation (axis B).

Reference analog: ``Semaphore::new(k)`` per crawler = per-host in-flight
budget (/root/reference/src/crawlers/wintergreen.rs:36,45; sizes 5/5/5/1/1
at src/processing/crawler.rs:43-47).  Here the budget is a per-round fetch
quota from the ``politeness`` dimension table, enforced without a single
giant per-host sort:

* **host-salted two-phase top-b** — a global ``row_number() over
  (partition by host order by priority desc, ord)`` would funnel a hot
  host's entire frontier through one reducer.  Instead phase 1 ranks
  within ``(host, salt)`` where ``salt = pmod(xxhash64(url), splits)``
  and keeps the top ``b`` of each salt; phase 2 ranks the surviving
  ``<= b * splits`` rows per host and keeps exactly ``b``.  The union of
  per-salt top-b provably contains the global top-b, so the result is
  identical to the naive plan — deterministic, order-parity-preserving
  (SURVEY.md §2.7).
* **explicit skew splitting** — ``splits`` per host is scaled to its
  frontier share (a tiny per-host count aggregate each round), so one hot
  domain (10x the volume in the synthetic world) fans out across salts
  while cold hosts skip the second phase cost.
* **robots** — disallow prefixes live in the politeness table; evaluation
  is a vectorized prefix match over Arrow batches (the reference has no
  robots handling — north-rule extension).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import local_frame

DEFAULT_BUDGET = 5


def host_splits(frontier: DataFrame, rows_per_salt: int = 100_000, max_splits: int = 64) -> DataFrame:
    """Per-host salt counts scaled to frontier volume (hot-host skew split).

    Returns a ``(host, _splits)`` DataFrame — never a driver-side dict:
    at web scale the frontier spans 10^6-10^7 hosts and a per-round
    collect would bottleneck the driver.  The aggregate shuffles 8-byte
    counts on the same key the budget window needs anyway.
    """
    return (
        frontier.groupBy("host").agg(F.count(F.lit(1)).alias("_hc"))
        .select(
            "host",
            F.greatest(
                F.lit(1),
                F.least(
                    F.lit(max_splits),
                    (F.col("_hc") / F.lit(rows_per_salt)).cast("int") + F.lit(1),
                ),
            ).alias("_splits"),
        )
    )


def schedule_round(
    frontier: DataFrame,
    politeness: DataFrame,
    default_budget: int = DEFAULT_BUDGET,
    splits: DataFrame | dict[str, int] | None = None,
    delays: DataFrame | None = None,
    round_window_s: float | None = None,
) -> DataFrame:
    """Deterministic per-host top-``budget_per_round`` of the frontier.

    Order key: (priority desc, depth asc, ord asc) — with the parity
    priority (-depth) this is exactly the oracle's (depth, ord) prefix.

    ``splits``: a ``(host, _splits)`` DataFrame (the :func:`host_splits`
    aggregate — the scale path), or a small dict for tests/benchmarks.

    ``delays`` + ``round_window_s``: robots Crawl-delay enforcement — a
    ``(host, crawl_delay_s)`` table caps the per-round budget at
    ``floor(round_window_s / delay)`` (never below 1, so a pathological
    delay cannot starve a host forever). Off unless both are given.
    """
    spark = frontier.sparkSession
    if splits is None:
        splits_df = host_splits(frontier)
    elif isinstance(splits, dict):
        splits_df = F.broadcast(
            local_frame(spark, list(splits.items()), "host string, _splits int")
        )
    else:
        splits_df = splits
    budgets = F.broadcast(
        politeness.select(
            "host", F.col("budget_per_round").alias("_budget")
        )
    )
    df = (
        frontier.join(budgets, "host", "left")
        .withColumn("_budget", F.coalesce("_budget", F.lit(default_budget)))
    )
    if delays is not None and round_window_s is not None:
        d = delays.select("host", F.col("crawl_delay_s").alias("_delay"))
        df = (
            df.join(d, "host", "left")
            .withColumn(
                "_budget",
                F.when(
                    F.col("_delay").isNotNull() & (F.col("_delay") > 0),
                    F.least(
                        F.col("_budget"),
                        F.greatest(
                            F.lit(1),
                            F.floor(F.lit(float(round_window_s)) / F.col("_delay"))
                            .cast("int"),
                        ),
                    ),
                ).otherwise(F.col("_budget")),
            )
            .drop("_delay")
        )
    df = (
        df.join(splits_df, "host", "left")
        .withColumn("_splits", F.coalesce("_splits", F.lit(1)))
        .withColumn("_salt", F.pmod(F.xxhash64("url"), F.col("_splits")))
    )
    order = [F.col("priority").desc(), F.col("depth").asc(), F.col("ord").asc()]
    w1 = Window.partitionBy("host", "_salt").orderBy(*order)
    w2 = Window.partitionBy("host").orderBy(*order)
    return (
        df.withColumn("_rn1", F.row_number().over(w1))
        .filter(F.col("_rn1") <= F.col("_budget"))
        .withColumn("_rn2", F.row_number().over(w2))
        .filter(F.col("_rn2") <= F.col("_budget"))
        .drop("_rn1", "_rn2", "_salt", "_splits", "_budget")
    )


def parse_robots_full_py(text: str | None) -> tuple[list[str], float | None]:
    """robots.txt -> (Disallow prefixes, Crawl-delay seconds) for
    ``User-agent: *``.

    Sectioned parse (rules under other agents are ignored), comments
    stripped, empty Disallow (= allow all) skipped, unparseable
    Crawl-delay ignored. Pure function — the Arrow-batched fetch stage
    calls it per host row (the parse lives at the I/O boundary, like
    HTML parsing), and the oracle twin shares it.
    """
    if not text:
        return [], None
    prefixes: list[str] = []
    delay: float | None = None
    active = False
    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line:
            continue
        key, _, val = line.partition(":")
        key, val = key.strip().lower(), val.strip()
        if key == "user-agent":
            active = val == "*"
        elif key == "disallow" and active and val:
            prefixes.append(val)
        elif key == "crawl-delay" and active:
            try:
                delay = float(val)
            except ValueError:
                pass
    return prefixes, delay


def parse_robots_py(text: str | None) -> list[str]:
    """Disallow prefixes only (see :func:`parse_robots_full_py`)."""
    return parse_robots_full_py(text)[0]


def split_by_robots(
    candidates: DataFrame, rules: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Split candidates into (allowed, robots-rejected) against a
    ``(host, prefix)`` rules TABLE — a host-keyed semi/anti join with a
    JVM ``startswith`` predicate. No driver-side dict, no Python in the
    match: at web scale the rules table spans 10^6+ hosts and joins like
    any other dimension (broadcast while it fits, shuffle on host after).
    """
    path = F.regexp_replace(F.col("url"), r"^[a-z][a-z0-9+.-]*://[^/]*", "")
    cand = candidates.withColumn("_path", path)
    r = rules.select(F.col("host").alias("_rhost"), F.col("prefix").alias("_rprefix"))
    cond = (F.col("host") == F.col("_rhost")) & F.col("_path").startswith(F.col("_rprefix"))
    allowed = cand.join(r, cond, "left_anti").drop("_path")
    rejected = cand.join(r, cond, "left_semi").drop("_path")
    return allowed, rejected
