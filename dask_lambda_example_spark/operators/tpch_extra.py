"""Additional TPC-H-analog queries (Q6/Q10/Q14/Q18/Q19 shapes adapted
to the driver's star schema — no partsupp table; ``l_suppkey`` is the
part-supplier link).

These widen the relational battery (SURVEY.md §2.B) with the classic
plan shapes: filter-only scan aggregation (Q6), multi-way join with
top-k (Q10), conditional aggregation over a join (Q14), group-having
membership subquery (Q18), disjunctive join predicates (Q19).

Each query's Spark side is ONE hinted Spark SQL statement over the
session's table views (``io.bind_tables``), with the join order, the
``/*+ BROADCAST */`` hints and the semi join of the DataFrame-API
bodies it replaced, so the physical plans are unchanged
(``tests/test_plans.py::test_tpch_plan_shape``); the oracle is a
separate ANSI SQL text for DuckDB.

Scale notes per query in the docstrings; the common rules: filters push
to the scan, dims broadcast, aggregations combine map-side, top-k is
TakeOrderedAndProject.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from dask_lambda_example_spark.io import bind_tables
from dask_lambda_example_spark.registry import query


_Q6 = """
    SELECT round(sum(l_extendedprice * l_discount), 6) AS revenue,
           count(*) AS n_lines
    FROM {lineitem}
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount >= 0.05D AND l_discount <= 0.07D
      AND l_quantity < 24
"""


@query(
    "q6_forecast_revenue",
    oracle="""
    SELECT round(sum(l_extendedprice * l_discount), 6) AS revenue,
           count(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: filter-only scan + global aggregate — the pure
    pushdown benchmark. All four predicates reach the parquet reader
    (row-group skipping); the aggregate is a single partial+final
    reduction, no shuffle of data rows at all."""
    return spark.sql(_Q6.format(
        **bind_tables(spark, sf_dir, "lineitem")))


_Q10 = """
    SELECT /*+ BROADCAST(c) */ c_custkey, c_name,
           round(sum(l_extendedprice * (1 - l_discount)), 6) AS revenue,
           round(c_acctbal, 6) AS acctbal
    FROM {customer} c
    JOIN {orders} o ON c.c_custkey = o.o_custkey
    JOIN {lineitem} l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND l.l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
"""


@query(
    "q10_returned_items",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 6) AS revenue,
           round(c.c_acctbal, 6) AS acctbal
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: lost-revenue ranking of customers who returned
    items. Customer (small) broadcasts onto the orders⋈lineitem join;
    the returnflag and date filters push below the joins; final top-20
    is TakeOrderedAndProject with a deterministic tie-break."""
    return spark.sql(_Q10.format(
        **bind_tables(spark, sf_dir, "customer", "orders", "lineitem")))


_Q14 = """
    SELECT /*+ BROADCAST(p) */
           round(sum(CASE WHEN p_type = 'PROMO'
                          THEN l_extendedprice * (1 - l_discount)
                          ELSE 0 END) * 100.0D
                 / sum(l_extendedprice * (1 - l_discount)), 6) AS promo_pct
    FROM {lineitem} l JOIN {part} p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1996-07-01'
"""


@query(
    "q14_promo_revenue",
    oracle="""
    SELECT round(
             100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                              THEN l.l_extendedprice * (1 - l.l_discount)
                              ELSE 0 END)
             / sum(l.l_extendedprice * (1 - l.l_discount)), 6) AS promo_pct
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate <  TIMESTAMP '1996-07-01'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: promo share of revenue — conditional aggregation over
    a fact⋈dim join. Part broadcasts; the CASE folds into the aggregate
    so one pass computes both numerator and denominator."""
    return spark.sql(_Q14.format(
        **bind_tables(spark, sf_dir, "lineitem", "part")))


_Q18 = """
    SELECT o_orderkey, o_custkey,
           round(o_totalprice, 6) AS totalprice,
           round(sum(l_quantity), 6) AS total_qty
    FROM {orders} o
    LEFT SEMI JOIN (SELECT l_orderkey, sum(l_quantity) AS q FROM {lineitem}
                    GROUP BY l_orderkey HAVING q > 150) big
      ON o.o_orderkey = big.l_orderkey
    JOIN {lineitem} l ON o.o_orderkey = l.l_orderkey
    GROUP BY o_orderkey, o_custkey, o_totalprice
"""


@query(
    "q18_large_orders",
    oracle="""
    SELECT o.o_orderkey, o.o_custkey,
           round(o.o_totalprice, 6) AS totalprice,
           round(sum(l.l_quantity), 6) AS total_qty
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey HAVING sum(l_quantity) > 150)
    GROUP BY o.o_orderkey, o.o_custkey, o.o_totalprice
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity exceeds a threshold
    — a group-having membership subquery. The inner aggregate reuses the
    same l_orderkey partitioning as the join (one shuffle serves both);
    Catalyst plans the IN as a left-semi join."""
    return spark.sql(_Q18.format(
        **bind_tables(spark, sf_dir, "orders", "lineitem")))


_Q19 = """
    SELECT /*+ BROADCAST(p) */
           round(sum(l_extendedprice * (1 - l_discount)), 6) AS revenue,
           count(*) AS n_lines
    FROM {lineitem} l JOIN {part} p ON l.l_partkey = p.p_partkey
    WHERE (p_brand = 'Brand#1' AND (p_size >= 1 AND p_size <= 15)
           AND (l_quantity >= 1 AND l_quantity <= 20))
       OR (p_brand = 'Brand#9' AND (p_size >= 10 AND p_size <= 30)
           AND (l_quantity >= 10 AND l_quantity <= 35))
"""


@query(
    "q19_disjunctive_join",
    oracle="""
    SELECT round(sum(l.l_extendedprice * (1 - l.l_discount)), 6) AS revenue,
           count(*) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 20)
       OR (p.p_brand = 'Brand#9' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity BETWEEN 10 AND 35)
    """,
)
def q19_disjunctive_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunction of conjunctive predicates across
    both join sides. The equi-key still drives a broadcast hash join;
    Catalyst extracts the per-side common filter residues from the OR
    where possible and evaluates the rest post-join."""
    return spark.sql(_Q19.format(
        **bind_tables(spark, sf_dir, "lineitem", "part")))
