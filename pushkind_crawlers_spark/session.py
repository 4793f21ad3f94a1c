"""SparkSession builder tuned for this engine.

Local mode is the test/bench harness; the same config block is what a
``spark-submit --py-files`` cluster run would use, minus the master.
AQE is on (runtime re-plan + skew-join splitting), shuffle partitions
sized to cores (not the 200 default), Arrow enabled for every pandas UDF
boundary, UTC pinned for DuckDB-oracle comparison.
"""

from __future__ import annotations

import os
from typing import Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema


def get_spark(
    app: str = "pushkind_crawlers_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    n_threads = 32
    if master.startswith("local["):
        inner = master[6:-1]
        n_threads = os.cpu_count() if inner == "*" else int(inner)
    shuffle_partitions = shuffle_partitions or max(8, n_threads)
    b = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows: Iterable[tuple],
                schema: T.StructType | str) -> DataFrame:
    """A constant frame held by the JVM as a local relation.

    ``createDataFrame`` over a Python list is backed by a PythonRDD, so every
    scan of it starts Python workers (one per task); an Arrow table is
    shipped to the JVM once and scanned there."""
    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    table = pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows],
                                 schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema)
