"""Synthetic sources (SURVEY.md §2.A A4, A10): the reference's
``dask.datasets.timeseries(start, end)`` — 1 row/second with columns
``name,id,x,y`` (``layer/python/dask_processing.py:29-31``) — and the
producer's random payload (``src/lambda_producer.py:25``).

Spark-first: every row is generated on the executors with no
driver-side data; every column derives from the row number ``i`` via a
deterministic integer LCG, so the same rows can be produced by any
engine (the DuckDB oracle regenerates them from ``range()`` with the
same integer arithmetic — exact, no float/libm parity risk; the
reference's ``random.randint``/np RNG is deliberately replaced per
SURVEY.md §5.2-7 determinism rule).

Day × second generation: a day is 86,400 rows, and row (day ``d``,
second ``s``) is ``i = d * 86_400 + s``. ``s`` comes from a fixed
``spark.range(86_400)`` and ``d`` from ``explode(sequence(0, n_days -
1))``. ``spark.range(n)`` would write ``n`` into the generated Java
source, so every event size (the producer draws 10-1000 days) would
compile and JIT a new whole-stage class; the folded ``sequence`` is a
literal array that the generated code takes by reference, so one class
serves every ``n_days``.

Scale posture: the 86,400 seconds split evenly over executors by id
range and each task expands its seconds across all days; no shuffle
until the aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dask_lambda_example_spark.registry import query

# LCG constants (Knuth/Numerical-Recipes family); i stays < ~1e8 so
# i*MULT < 2^63 — exact in int64 on both engines.
_M32 = 4_294_967_296
_MULT_X = 2_654_435_761
_INC_X = 1_013_904_223
_MULT_Y = 2_246_822_519
_INC_Y = 3_266_489_917

START = "2024-01-01 00:00:00"
_START_EPOCH = 1_704_067_200
_NAMES = "array(" + ", ".join(f"'{chr(c)}'" for c in range(97, 123)) + ")"


def timeseries(spark: SparkSession, n_days: int = 2,
               start_epoch: int = _START_EPOCH) -> DataFrame:
    """Reference ``dask.datasets.timeseries``: 1 row/second over
    ``n_days`` with ``name`` (26 keys), ``id``, ``x``, ``y`` ∈ [-1, 1).
    ``d`` stays a long so ``d * 86_400`` cannot overflow an int; the
    operand of ``& (2^32 - 1)`` is non-negative, so it equals the
    oracle's ``% 2^32``; ``name`` indexes a literal array, so no row
    builds a ``String``.
    """
    # sequence(0, -1) counts down, so an empty frame needs 0 seconds
    days = spark.range(86_400 if n_days > 0 else 0).selectExpr(
        "id AS s", f"explode(sequence(0L, {n_days - 1}L)) AS d")
    i = "(d * 86400 + s)"
    vx = f"(({i} * {_MULT_X} + {_INC_X}) & {_M32 - 1})"
    vy = f"(({i} * {_MULT_Y} + {_INC_Y}) & {_M32 - 1})"
    return days.selectExpr(
        f"timestamp_seconds({start_epoch} + {i}) AS timestamp",
        f"element_at({_NAMES}, CAST({i} % 26 AS INT) + 1) AS name",
        f"1000 + {vx} % 100 AS id",
        f"{vx} / {_M32} * 2 - 1 AS x",
        f"{vy} / {_M32} * 2 - 1 AS y",
    )


def _oracle_timeseries_sql(n_days: int) -> str:
    n = n_days * 86_400
    return f"""
    SELECT TIMESTAMP '2024-01-01 00:00:00' + i * INTERVAL 1 SECOND AS "timestamp",
           chr(97 + CAST(i % 26 AS INT))                           AS name,
           1000 + (i * {_MULT_X} + {_INC_X}) % {_M32} % 100        AS id,
           ((i * {_MULT_X} + {_INC_X}) % {_M32}) / {_M32}.0 * 2 - 1 AS x,
           ((i * {_MULT_Y} + {_INC_Y}) % {_M32}) / {_M32}.0 * 2 - 1 AS y
    FROM (SELECT unnest(range(0, {n})) AS i)
    """


@query(
    "synth_timeseries_agg",
    oracle=f"""
    SELECT name, count(*) AS n, round(avg(y), 6) AS mean_y,
           round(avg(x), 6) AS mean_x
    FROM ({_oracle_timeseries_sql(2)}) GROUP BY name
    """,
)
def synth_timeseries_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-name means over 2 generated days (the inner step of the
    reference flagship, ``layer/python/dask_processing.py:32``)."""
    ts = timeseries(spark, n_days=2)
    return ts.groupBy("name").agg(
        F.count("*").alias("n"),
        F.round(F.avg("y"), 6).alias("mean_y"),
        F.round(F.avg("x"), 6).alias("mean_x"),
    )


@query(
    "synth_flagship_std",
    oracle=f"""
    SELECT round(stddev_samp(mean_y), 6) AS y_std
    FROM (
        SELECT avg(y) AS mean_y FROM ({_oracle_timeseries_sql(2)}) GROUP BY name
    )
    """,
)
def synth_flagship_std(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EXACT reference computation on generated data:
    ``timeseries.groupby("name").mean().y.std()``
    (``layer/python/dask_processing.py:29-33``) — groupby-mean → getitem
    → sample std, end to end on the synthetic source."""
    ts = timeseries(spark, n_days=2)
    return (
        ts.groupBy("name").agg(F.avg("y").alias("mean_y"))
        .agg(F.round(F.stddev_samp("mean_y"), 6).alias("y_std"))
    )
