"""Producer-side ingestion parity (SURVEY.md §2.A A2/A3/A10, §3.2).

The reference's producer Lambda writes one tiny JSON document
``{"count": <randint(10, 1000)>}`` per minute under a six-level
hive-partitioned key ``data/year=Y/month=M/day=D/hour=H/minute=MI/
second=S/data.json`` (``src/lambda_producer.py:20-27``). This module
reproduces that data layout with Spark's native partitioned JSON sink,
deterministically (LCG instead of ``random.randint`` — SURVEY.md
§5.2-7).

The matching consumer-side schema is exported for the streaming file
source (explicit StructType; the reference's schema is implicit-by-
convention, ``layer/python/dask_processing.py:18``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dask_lambda_example_spark.io import write_hive_partitioned_json

PAYLOAD_SCHEMA = T.StructType([T.StructField("count", T.LongType(), True)])

PARTITION_COLS = ["year", "month", "day", "hour", "minute", "second"]

_START_EPOCH = 1_704_067_200  # 2024-01-01 00:00:00 UTC


def producer_payloads(spark: SparkSession, n_files: int,
                      start_epoch: int = _START_EPOCH) -> DataFrame:
    """One row per producer invocation: minute-cadence timestamps
    (``app.py:131-134`` rate(1 minute)) and count ∈ [10, 1000]
    (``src/lambda_producer.py:25``), derived deterministically from the
    row id."""
    i = F.col("id")
    ts = F.timestamp_seconds(F.lit(start_epoch) + i * 60)
    count = (i * 2_654_435_761 + 1_013_904_223) % 991 + 10
    return spark.range(n_files).select(
        count.alias("count"),
        F.year(ts).alias("year"), F.month(ts).alias("month"),
        F.dayofmonth(ts).alias("day"), F.hour(ts).alias("hour"),
        F.minute(ts).alias("minute"), F.second(ts).alias("second"),
    )


def write_producer_layout(spark: SparkSession, path: str,
                          n_files: int) -> None:
    """Materialize the reference's S3 layout: JSON records under
    ``year=…/month=…/day=…/hour=…/minute=…/second=…`` directories —
    Spark's ``partitionBy`` emits exactly the ``key=value`` scheme the
    producer builds by hand (``src/lambda_producer.py:23``), and every
    later scan partition-prunes on it."""
    write_hive_partitioned_json(
        # one tiny file per partition dir, like the producer
        producer_payloads(spark, n_files).repartition(1), path,
        PARTITION_COLS, mode="overwrite")


def read_producer_layout(spark: SparkSession, path: str) -> DataFrame:
    """Batch scan of the producer layout with partition discovery
    (consumer side, ``layer/python/dask_processing.py:17-18`` — but
    schema-pinned and able to read ALL files with pruning, not one
    object per call)."""
    return spark.read.schema(PAYLOAD_SCHEMA).option(
        "basePath", path).json(f"{path}/year=*/month=*/day=*/hour=*/minute=*/second=*")
