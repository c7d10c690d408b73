"""Subquery operators (SURVEY.md §4.1 "join reordering / constant
folding / subquery decorrelation"): EXISTS / NOT EXISTS / IN / scalar
correlated subqueries over the TPC-H-ish tables.

The reference has no subqueries (no filters at all —
``layer/python/dask_processing.py:29-32``); dask expresses these shapes
through merge/isin tricks (SURVEY.md §2.B joins). Spark-first they are
plain SQL subqueries that Catalyst decorrelates into joins
(``RewriteCorrelatedScalarSubquery``, ``RewritePredicateSubquery`` →
left-semi/left-anti), so the physical plans are the same
broadcast/shuffle joins the explicit-join queries get — no per-row
re-execution.

These run through ``spark.sql`` over the session's table views
(``io.bind_tables``): each text is one template with ``{orders}``-style
placeholders, formatted with the view names for Spark and with the
plain table names for the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from dask_lambda_example_spark.io import TABLES, bind_tables
from dask_lambda_example_spark.registry import query

# The oracle's names: each table under its own name.
_PLAIN = {t: t for t in TABLES}

# TPC-H Q4 shape: EXISTS correlated subquery → left-semi join
_Q_EXISTS = """
    SELECT o_orderpriority, count(*) AS order_count
    FROM {orders}
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND EXISTS (
        SELECT 1 FROM {lineitem}
        WHERE l_orderkey = o_orderkey AND l_quantity > 45)
    GROUP BY o_orderpriority
"""


@query("subq_exists_semijoin", oracle=_Q_EXISTS.format(**_PLAIN))
def subq_exists_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS correlated subquery (TPC-H Q4 shape). Catalyst rewrites to
    a left-semi join on l_orderkey — one shuffle pair, no subquery
    re-execution; the l_quantity filter pushes into the lineitem scan."""
    return spark.sql(_Q_EXISTS.format(
        **bind_tables(spark, sf_dir, "orders", "lineitem")))


_Q_NOT_EXISTS = """
    SELECT c_mktsegment, count(*) AS n_customers
    FROM {customer}
    WHERE NOT EXISTS (
        SELECT 1 FROM {orders}
        WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
    GROUP BY c_mktsegment
"""


@query("subq_not_exists_antijoin", oracle=_Q_NOT_EXISTS.format(**_PLAIN))
def subq_not_exists_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS → left-anti join (customers with no finished order),
    aggregated by segment."""
    return spark.sql(_Q_NOT_EXISTS.format(
        **bind_tables(spark, sf_dir, "customer", "orders")))


_Q_IN = """
    SELECT p_brand, count(*) AS n_parts
    FROM {part}
    WHERE p_partkey IN (
        SELECT l_partkey FROM {lineitem} WHERE l_returnflag = 'R')
      AND p_size >= 20
    GROUP BY p_brand
"""


@query("subq_in_semijoin", oracle=_Q_IN.format(**_PLAIN))
def subq_in_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN subquery → left-semi join; the outer p_size predicate stays a
    pushed parquet filter."""
    return spark.sql(_Q_IN.format(
        **bind_tables(spark, sf_dir, "part", "lineitem")))


# TPC-H Q17 shape: correlated scalar aggregate subquery
_Q_SCALAR = """
    SELECT l.l_partkey,
           round(sum(l.l_extendedprice), 6) AS revenue_below_avg_qty
    FROM {lineitem} l
    WHERE l.l_quantity < (
        SELECT 0.5 * avg(l2.l_quantity) FROM {lineitem} l2
        WHERE l2.l_partkey = l.l_partkey)
    GROUP BY l.l_partkey
"""


@query("subq_scalar_correlated_avg", oracle=_Q_SCALAR.format(**_PLAIN))
def subq_scalar_correlated_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar aggregate (TPC-H Q17 shape): revenue of lines
    below half their part's average quantity.

    ``RewriteCorrelatedScalarSubquery`` turns the per-row subquery into
    one aggregate over lineitem grouped by l_partkey joined back to the
    outer — two scans + one join, not O(rows) subquery executions."""
    return spark.sql(_Q_SCALAR.format(
        **bind_tables(spark, sf_dir, "lineitem")))


_Q_UNCORR_SCALAR = """
    SELECT o_orderstatus,
           count(*) AS n_above_avg
    FROM {orders}
    WHERE o_totalprice > (SELECT avg(o_totalprice) FROM {orders})
    GROUP BY o_orderstatus
"""


@query("subq_uncorrelated_scalar", oracle=_Q_UNCORR_SCALAR.format(**_PLAIN))
def subq_uncorrelated_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery: computed once (a separate tiny
    plan) and folded into the filter as a literal at runtime."""
    return spark.sql(_Q_UNCORR_SCALAR.format(
        **bind_tables(spark, sf_dir, "orders")))
