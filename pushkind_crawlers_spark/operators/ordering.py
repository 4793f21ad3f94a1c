"""Distributed global sequence numbers (no single-reducer sort).

``Window.orderBy(...)`` with no partition key funnels the whole frame
through ONE task — fine at sandbox row counts, fatal at the north-rule
round size (~10^8 rows). ``global_sequence`` produces the identical
(base + 1..n) numbering in parallel:

1. range-partition by the order key (sampled split points → partition i
   holds keys strictly before partition i+1),
2. one tiny counting pass per partition,
3. cumulative offsets (driver, n_partitions integers),
4. per-partition ``row_number`` (a PARTITIONED window — parallel) plus
   the partition's offset.

Determinism: the order key must be a total order (the engine's
``(depth, ord)`` is — ``ord`` is the unique discovery path), so the
numbering is unique and equals the serial sort's.

The input must be MATERIALIZED (parquet-staged / cached): partition ids
have to agree between the counting pass and the numbering pass; the
engine always numbers a staged batch, so this holds by construction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..caching import carry_checkpoint
from ..session import local_frame


def global_sequence(
    df: DataFrame,
    order_cols: list[str | Column],
    seq_col: str = "seq",
    base: int = 0,
    n_partitions: int | None = None,
) -> DataFrame:
    spark = df.sparkSession
    if n_partitions is None:
        n_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    ranged = df.repartitionByRange(n_partitions, *order_cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    # the two consumers below must see identical pid assignment — localCheckpoint
    # pins the partitioning (the engine's staged inputs make this a no-op cost)
    ranged = ranged.localCheckpoint(eager=False)
    counts = {
        r["_pid"]: r["n"]
        for r in ranged.groupBy("_pid").agg(F.count("*").alias("n")).collect()
    }
    offsets, acc = {}, base
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    if len(offsets) > 64:
        # wide plans: broadcast-join the offset map instead of a case chain
        off_df = F.broadcast(local_frame(
            spark, list(offsets.items()), "_pid int, _off long"
        ))
        return carry_checkpoint(
            ranged.join(off_df, "_pid", "left")
            .withColumn(seq_col, F.row_number().over(w) + F.coalesce("_off", F.lit(0)))
            .drop("_pid", "_off"),
            ranged,
        )
    off_col = F.coalesce(
        *[F.when(F.col("_pid") == pid, F.lit(off)) for pid, off in offsets.items()],
        F.lit(0),
    ) if offsets else F.lit(0)
    return carry_checkpoint(
        ranged.withColumn(seq_col, F.row_number().over(w) + off_col)
        .drop("_pid"),
        ranged,
    )
