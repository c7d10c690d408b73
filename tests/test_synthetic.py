"""The synthetic timeseries kernel: row counts, exact agreement with its
DuckDB twin, and one generated class for every event size."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from dask_lambda_example_spark.sources.synthetic import (
    _oracle_timeseries_sql, timeseries)
from .oracle_check import compare


@pytest.mark.parametrize("n_days", [0, 1, 3])
def test_timeseries_has_one_row_per_second(spark, n_days):
    assert timeseries(spark, n_days).count() == n_days * 86_400


def test_timeseries_matches_oracle_rows(spark):
    # all five columns, canonical-row hash (bit-exact floats)
    compare(timeseries(spark, 1), duckdb.connect(), _oracle_timeseries_sql(1))


def test_timeseries_new_size_compiles_no_class(spark):
    # the day count is a literal array passed to the generated code by
    # reference, so a size not seen before reuses the cached classes
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def flagship(n_days):
        return (timeseries(spark, n_days).groupBy("name")
                .agg(F.avg("y").alias("y")).agg(F.stddev_samp("y"))
                .collect()[0][0])

    flagship(2)
    before = codegen.METRIC_COMPILATION_TIME().getCount()
    flagship(3)
    flagship(5)
    assert codegen.METRIC_COMPILATION_TIME().getCount() == before
