"""Second TPC-H-analog battery (Q4/Q12/Q13/Q15/Q16/Q17/Q21/Q22 shapes
adapted to the driver's star schema — no partsupp/commitdate/phone, so
the "late delivery" predicate becomes ``l_shipdate > o_orderdate + 180
days`` and Q22's "no orders" becomes "no orders since 1999-07-01",
which are non-degenerate on the synthetic data: shipdates are weakly
coupled to order dates, so late + finished selects ~23% of orders).

These add the relational plan shapes the first battery
(``tpch_extra.py``) doesn't have: correlated EXISTS with an
inequality (Q4), two-class conditional counting (Q12), left-outer
count distribution (Q13), scalar-max subquery against a derived
aggregate (Q15), NOT IN + COUNT DISTINCT (Q16), correlated scalar
average in a filter (Q17), EXISTS + NOT EXISTS self-joins on the same
fact (Q21), and scalar-average + anti-join (Q22).

Reference anchor: SURVEY.md §2.B joins/aggregations/subqueries — the
reference's dask.dataframe surface expresses all of these as
merge/groupby compositions; here each is the idiomatic Catalyst plan
(semi/anti joins, broadcast scalar subqueries, partial aggregation).

Scale notes are per-docstring; the shared rules: the fact table never
broadcasts, dims and scalar aggregates always do, and every correlated
subquery is decorrelated into a join keyed on the correlation column
so it shuffles at most once.

Each query is ONE hinted Spark SQL statement over the session's table
views (``io.bind_tables``): every broadcast is a ``/*+ BROADCAST */``
hint, and the pre-aggregations and semi/anti joins are spelled out
(``LEFT SEMI JOIN``, ``LEFT ANTI JOIN``, CTEs Catalyst inlines), so
the physical plans are the ones the DataFrame-API bodies had —
``tests/test_plans.py::test_tpch_plan_shape`` pins their operator
counts. A build is a handful of py4j calls instead of a Column tree
per query. The oracle stays an independent ANSI text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from dask_lambda_example_spark.io import bind_tables
from dask_lambda_example_spark.registry import query


_Q4 = """
    SELECT o_orderpriority, count(*) AS order_count
    FROM {orders} o
    LEFT SEMI JOIN {lineitem} l
      ON o.o_orderkey = l.l_orderkey
     AND l.l_shipdate > o.o_orderdate + INTERVAL 180 DAY
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-04-01'
    GROUP BY o_orderpriority
"""


@query(
    "q4_priority_exists",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1996-04-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 180 DAY)
    GROUP BY o_orderpriority
    """,
)
def q4_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: priority mix of orders with a late line —
    correlated EXISTS carrying an inequality on both tables' columns.
    Planned as a left-semi hash join on l_orderkey with the date
    inequality as the join residual; the quarter filter pushes to the
    orders scan so the semi join probes only ~4% of the fact."""
    return spark.sql(_Q4.format(
        **bind_tables(spark, sf_dir, "orders", "lineitem")))


_Q12 = """
    SELECT l_returnflag,
           sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS high_line_count,
           sum(CASE WHEN NOT o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS low_line_count
    FROM {lineitem} l JOIN {orders} o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY l_returnflag
"""


@query(
    "q12_priority_classes",
    oracle="""
    SELECT l.l_returnflag,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate <  TIMESTAMP '1997-01-01'
    GROUP BY l.l_returnflag
    """,
)
def q12_priority_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: two-class conditional counting over a
    fact⋈fact join (shipmode → returnflag on this schema). Both CASE
    branches fold into one aggregate pass; the year filter pushes to
    the lineitem scan, and the join shuffles both sides on orderkey
    once — the groupBy's 3-key output then collapses map-side."""
    return spark.sql(_Q12.format(
        **bind_tables(spark, sf_dir, "orders", "lineitem")))


_Q13 = """
    SELECT c_count, count(*) AS custdist
    FROM (SELECT c_custkey, count(o_orderkey) AS c_count
          FROM {customer} c
          LEFT JOIN (SELECT * FROM {orders} WHERE o_orderstatus = 'O') o
            ON o.o_custkey = c.c_custkey
          GROUP BY c_custkey)
    GROUP BY c_count
"""


@query(
    "q13_order_count_distribution",
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (SELECT c.c_custkey, count(o.o_orderkey) AS c_count
          FROM customer c
          LEFT JOIN orders o
            ON o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O'
          GROUP BY c.c_custkey)
    GROUP BY c_count
    """,
)
def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: distribution of open-order counts per customer — a
    left outer join whose unmatched rows must count as 0, then a
    second aggregation over the first's output. count(o_orderkey)
    (not count(*)) gives the null-safe zero. The first groupBy reuses
    the join's c_custkey partitioning (no extra shuffle); the second
    aggregates a customer-sized input down to ~30 distinct counts."""
    return spark.sql(_Q13.format(
        **bind_tables(spark, sf_dir, "customer", "orders")))


_Q15 = """
    WITH rev AS (
      SELECT l_suppkey AS supplier_no,
             sum(l_extendedprice * (1 - l_discount)) AS total_revenue
      FROM {lineitem}
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey)
    SELECT /*+ BROADCAST(m, s) */ s_suppkey, s_name,
           round(total_revenue, 6) AS total_revenue
    FROM rev
    JOIN (SELECT max(total_revenue) AS mx FROM rev) m
      ON rev.total_revenue = m.mx
    JOIN {supplier} s ON rev.supplier_no = s.s_suppkey
"""


@query(
    "q15_top_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             sum(l_extendedprice * (1 - l_discount)) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey)
    SELECT s.s_suppkey, s.s_name,
           round(r.total_revenue, 6) AS total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) with the quarter's maximum revenue — a
    scalar-max subquery over a derived aggregate, i.e. the aggregate
    is built once and consumed twice (argmax shape). The revenue agg
    is supplier-cardinality (tiny after the map-side combine); its max
    is a one-row broadcast joined back with an equality residual, and
    the supplier dim broadcasts onto the winner row(s)."""
    return spark.sql(_Q15.format(
        **bind_tables(spark, sf_dir, "lineitem", "supplier")))


_Q16 = """
    SELECT /*+ BROADCAST(bad, p) */ p_brand, p_type, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM {lineitem} l
    LEFT ANTI JOIN (SELECT s_suppkey FROM {supplier} WHERE s_acctbal < 0) bad
      ON l.l_suppkey = bad.s_suppkey
    JOIN {part} p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#1' AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
    GROUP BY p_brand, p_type, p_size
"""


@query(
    "q16_supplier_variety",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           count(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
      AND l.l_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
)
def q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: how many distinct suppliers ship each surviving
    (brand, type, size) — NOT IN exclusion + COUNT DISTINCT (lineitem
    stands in for partsupp). The NOT IN is a broadcast anti join (the
    exclusion list is tiny and non-null, so no null-semantics rewrite
    penalty); part filters broadcast-prune the fact; the distinct
    count is a two-level partial aggregate (distinct expand map-side,
    then merge), never a global distinct shuffle of raw rows."""
    return spark.sql(_Q16.format(
        **bind_tables(spark, sf_dir, "lineitem", "part", "supplier")))


_Q17 = """
    WITH branded AS (
      SELECT /*+ BROADCAST(p) */ *
      FROM {lineitem} l JOIN {part} p ON l.l_partkey = p.p_partkey
      WHERE p.p_brand = 'Brand#3')
    SELECT /*+ BROADCAST(a) */
           round(sum(l_extendedprice) / 7.0D, 6) AS avg_yearly
    FROM branded
    JOIN (SELECT l_partkey AS ak, avg(l_quantity) * 0.5D AS half_avg
          FROM branded GROUP BY l_partkey) a
      ON branded.l_partkey = a.ak
    WHERE l_quantity < half_avg
"""


@query(
    "q17_small_quantity_revenue",
    oracle="""
    SELECT round(sum(l.l_extendedprice) / 7.0, 6) AS avg_yearly
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#3'
      AND l.l_quantity < (SELECT 0.5 * avg(l2.l_quantity)
                          FROM lineitem l2
                          WHERE l2.l_partkey = l.l_partkey)
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: revenue lost to small orders — a correlated scalar
    AVG in the filter, decorrelated into (per-part average) ⋈ (fact).
    The per-part averages are computed once on the brand-pruned fact
    (semi-joined first so the avg never touches other brands' rows)
    and broadcast back; the alternative window-over-partkey would
    shuffle the whole fact instead. One scan feeds both sides."""
    return spark.sql(_Q17.format(
        **bind_tables(spark, sf_dir, "lineitem", "part")))


_Q21 = """
    WITH late AS (
      SELECT l_orderkey, l_suppkey
      FROM {lineitem} l JOIN {orders} o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderstatus = 'F'
        AND l.l_shipdate > o.o_orderdate + INTERVAL 180 DAY)
    SELECT /*+ BROADCAST(s) */ s_name, count(*) AS numwait
    FROM late l1
    LEFT SEMI JOIN (SELECT l_orderkey AS k2, l_suppkey AS s2
                    FROM {lineitem}) l2
      ON l1.l_orderkey = l2.k2 AND l1.l_suppkey <> l2.s2
    LEFT ANTI JOIN (SELECT l_orderkey AS k3, l_suppkey AS s3 FROM late) l3
      ON l1.l_orderkey = l3.k3 AND l1.l_suppkey <> l3.s3
    JOIN {supplier} s ON l1.l_suppkey = s.s_suppkey
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
"""


@query(
    "q21_waiting_supplier",
    oracle="""
    WITH late AS (
      SELECT l.l_orderkey, l.l_suppkey
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderstatus = 'F'
        AND l.l_shipdate > o.o_orderdate + INTERVAL 180 DAY)
    SELECT s.s_name, count(*) AS numwait
    FROM late l1
    JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM late l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey)
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 20
    """,
)
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: the sole late supplier on multi-supplier
    finished orders — the classic EXISTS + NOT EXISTS pair against the
    same fact with opposite correlation. Both decorrelate to
    orderkey-keyed semi/anti joins carrying a suppkey-inequality
    residual, so all three legs (base, exists, not-exists) share one
    orderkey shuffle partitioning; the `late` subplan is referenced
    twice and recomputed — cheaper than caching at 100 TB because it
    is already filter-pruned to ~3% of lines."""
    return spark.sql(_Q21.format(
        **bind_tables(spark, sf_dir, "lineitem", "orders", "supplier")))


_Q22 = """
    SELECT /*+ BROADCAST(a, n) */ n_name, count(*) AS numcust,
           round(sum(c_acctbal), 6) AS totacctbal
    FROM {customer} c
    JOIN (SELECT avg(c_acctbal) AS avg_bal FROM {customer}
          WHERE c_acctbal > 0) a
      ON c.c_acctbal > a.avg_bal
    LEFT ANTI JOIN (SELECT o_custkey FROM {orders}
                    WHERE o_orderdate >= TIMESTAMP '1999-07-01') recent
      ON c.c_custkey = recent.o_custkey
    JOIN {nation} n ON c.c_nationkey = n.n_nationkey
    GROUP BY n_name
"""


@query(
    "q22_dormant_customers",
    oracle="""
    SELECT n.n_name, count(*) AS numcust,
           round(sum(c.c_acctbal), 6) AS totacctbal
    FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE c.c_acctbal > (SELECT avg(c_acctbal) FROM customer
                         WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '1999-07-01')
    GROUP BY n.n_name
    """,
)
def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: well-funded customers gone dormant — an
    uncorrelated scalar average gating an anti join (nationkey stands
    in for the phone-prefix country code). The average is a one-row
    broadcast (cross join, no shuffle); the anti join's right side is
    date-pruned at the orders scan before shuffling; the nation dim
    broadcasts for the final rollup."""
    return spark.sql(_Q22.format(
        **bind_tables(spark, sf_dir, "customer", "nation", "orders")))


_Q7 = """
    WITH n AS (
      SELECT * FROM {nation} WHERE n_name IN ('NATION_1', 'NATION_2'))
    SELECT /*+ BROADCAST(s, sn, c, cn) */ supp_nation, cust_nation,
           year(l_shipdate) AS l_year,
           round(sum(l_extendedprice * (1 - l_discount)), 6) AS revenue
    FROM {lineitem} l
    JOIN {supplier} s ON l.l_suppkey = s.s_suppkey
    JOIN (SELECT n_nationkey AS snk, n_name AS supp_nation FROM n) sn
      ON s.s_nationkey = sn.snk
    JOIN {orders} o ON l.l_orderkey = o.o_orderkey
    JOIN {customer} c ON o.o_custkey = c.c_custkey
    JOIN (SELECT n_nationkey AS cnk, n_name AS cust_nation FROM n) cn
      ON c.c_nationkey = cn.cnk
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1998-01-01'
      AND supp_nation <> cust_nation
    GROUP BY supp_nation, cust_nation, year(l_shipdate)
"""


@query(
    "q7_nation_volume",
    oracle="""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           year(l.l_shipdate) AS l_year,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 6) AS revenue
    FROM lineitem l
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation cn  ON cn.n_nationkey = c.c_nationkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
    WHERE ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
        OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY sn.n_name, cn.n_name, year(l.l_shipdate)
    """,
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: bilateral trade volume by year — a six-way snowflake
    join with a symmetric nation-pair disjunction. Both nation legs
    pre-filter to the two named nations BEFORE joining (the pair
    disjunction then only rejects the two same-nation combinations),
    so supplier and customer shrink at their dim joins and only
    pair-relevant fact rows survive to the orderkey join. All dims
    broadcast; the single shuffle is lineitem⋈orders."""
    return spark.sql(_Q7.format(
        **bind_tables(spark, sf_dir, "lineitem", "orders", "customer",
                      "supplier", "nation")))


_Q8 = """
    SELECT /*+ BROADCAST(c, cn, r, s, sn) */ year(o_orderdate) AS l_year,
           round(sum(CASE WHEN supp_nation = 'NATION_3'
                          THEN l_extendedprice * (1 - l_discount)
                          ELSE 0.0D END)
                 / sum(l_extendedprice * (1 - l_discount)), 6) AS mkt_share
    FROM {lineitem} l
    JOIN {orders} o ON l.l_orderkey = o.o_orderkey
    JOIN {customer} c ON o.o_custkey = c.c_custkey
    JOIN (SELECT n_nationkey AS cnk, n_regionkey AS crk FROM {nation}) cn
      ON c.c_nationkey = cn.cnk
    JOIN {region} r ON cn.crk = r.r_regionkey
    JOIN {supplier} s ON l.l_suppkey = s.s_suppkey
    JOIN (SELECT n_nationkey AS snk, n_name AS supp_nation FROM {nation}) sn
      ON s.s_nationkey = sn.snk
    WHERE r.r_name = 'EUROPE'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY year(o_orderdate)
"""


@query(
    "q8_market_share",
    oracle="""
    SELECT l_year,
           round(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume
                          ELSE 0 END) / sum(volume), 6) AS mkt_share
    FROM (SELECT year(o.o_orderdate) AS l_year,
                 l.l_extendedprice * (1 - l.l_discount) AS volume,
                 sn.n_name AS supp_nation
          FROM lineitem l
          JOIN orders o   ON o.o_orderkey = l.l_orderkey
          JOIN customer c ON c.c_custkey = o.o_custkey
          JOIN nation cn  ON cn.n_nationkey = c.c_nationkey
          JOIN region r   ON r.r_regionkey = cn.n_regionkey
          JOIN supplier s ON s.s_suppkey = l.l_suppkey
          JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
          WHERE r.r_name = 'EUROPE'
            AND o.o_orderdate >= TIMESTAMP '1996-01-01'
            AND o.o_orderdate <  TIMESTAMP '1998-01-01')
    GROUP BY l_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: one nation's share of a region's import volume by
    year — a seven-way join where the numerator is a CASE inside the
    same aggregate as the denominator (one pass, no self-join).
    Region→nation→customer prunes the demand side before the fact
    join; supplier nation rides along only as a CASE input. Share-of
    division happens on the two-sided sums, after aggregation."""
    return spark.sql(_Q8.format(
        **bind_tables(spark, sf_dir, "lineitem", "orders", "customer",
                      "region", "supplier", "nation")))


_Q9 = """
    SELECT /*+ BROADCAST(p, s, sn) */ nation, year(o_orderdate) AS o_year,
           round(sum(l_extendedprice * (1 - l_discount)
                     - p_retailprice * 0.6D * l_quantity), 6) AS profit
    FROM {lineitem} l
    JOIN {part} p ON l.l_partkey = p.p_partkey
    JOIN {supplier} s ON l.l_suppkey = s.s_suppkey
    JOIN (SELECT n_nationkey AS snk, n_name AS nation FROM {nation}) sn
      ON s.s_nationkey = sn.snk
    JOIN {orders} o ON l.l_orderkey = o.o_orderkey
    WHERE p.p_name LIKE '%widget%'
    GROUP BY nation, year(o_orderdate)
"""


@query(
    "q9_product_profit",
    oracle="""
    SELECT sn.n_name AS nation, year(o.o_orderdate) AS o_year,
           round(sum(l.l_extendedprice * (1 - l.l_discount)
                     - p.p_retailprice * 0.6 * l.l_quantity), 6) AS profit
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    WHERE p.p_name LIKE '%widget%'
    GROUP BY sn.n_name, year(o.o_orderdate)
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit on a product line by supplier nation and
    year (no partsupp here, so supply cost is modeled as 60% of
    p_retailprice). The LIKE filter prunes part FIRST and the
    broadcast part⋈lineitem join then discards ~90% of the fact before
    the orderkey shuffle — join order is the whole game at 100 TB;
    Catalyst keeps the dim joins broadcast and the profit expression
    whole-stage-codegen'd."""
    return spark.sql(_Q9.format(
        **bind_tables(spark, sf_dir, "lineitem", "part", "supplier", "nation",
                      "orders")))


_Q11 = """
    WITH partval AS (
      SELECT /*+ BROADCAST(s, n) */ l_partkey,
             sum(l_extendedprice * (1 - l_discount)) AS val
      FROM {lineitem} l
      JOIN {supplier} s ON l.l_suppkey = s.s_suppkey
      JOIN {nation} n ON s.s_nationkey = n.n_nationkey
      WHERE n.n_name IN ('NATION_0', 'NATION_1', 'NATION_2')
      GROUP BY l_partkey)
    SELECT /*+ BROADCAST(t) */ l_partkey, round(val, 6) AS total_value
    FROM partval
    JOIN (SELECT sum(val) * 0.001D AS thresh FROM partval) t
      ON partval.val > t.thresh
"""


@query(
    "q11_important_parts",
    oracle="""
    WITH partval AS (
      SELECT l.l_partkey,
             sum(l.l_extendedprice * (1 - l.l_discount)) AS val
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n   ON n.n_nationkey = s.s_nationkey
      WHERE n.n_name IN ('NATION_0', 'NATION_1', 'NATION_2')
      GROUP BY l.l_partkey)
    SELECT l_partkey, round(val, 6) AS total_value
    FROM partval
    WHERE val > (SELECT 0.001 * sum(val) FROM partval)
    """,
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose value from a nation group exceeds a
    fraction of the group's total — a HAVING gated by a scalar over
    the SAME derived aggregate (lineitem value stands in for
    partsupp). Like q15 the aggregate is built once and consumed
    twice: per-part rows on one side, their one-row global sum
    broadcast on the other. The nation filter broadcast-prunes
    supplier, then lineitem, before any shuffle; the only wide
    exchange is the partkey aggregation."""
    return spark.sql(_Q11.format(
        **bind_tables(spark, sf_dir, "lineitem", "nation", "supplier")))


# Q2/Q20 need partsupp, which this schema lacks; both analogs derive the
# supply relationship from lineitem instead: supplier s "supplies" part p
# iff some lineitem carries (p, s), with unit cost = min observed
# extendedprice/quantity (Q2) and "available quantity" = all-time shipped
# quantity (Q20). Same plan shapes as the originals — correlated scalar
# MIN per part, and a nested IN/EXISTS chain gated by a per-(p,s) scalar.

_Q2 = """
    WITH ps AS (
      SELECT l_partkey, l_suppkey,
             min(l_extendedprice / l_quantity) AS unit_cost
      FROM {lineitem} GROUP BY l_partkey, l_suppkey),
    eu AS (
      SELECT /*+ BROADCAST(nr) */ s_suppkey, s_name, s_acctbal, n_name
      FROM {supplier} s
      JOIN (SELECT /*+ BROADCAST(r) */ *
            FROM {nation} n JOIN {region} r ON n.n_regionkey = r.r_regionkey
            WHERE r.r_name = 'EUROPE') nr
        ON s.s_nationkey = nr.n_nationkey),
    ps_eu AS (
      SELECT /*+ BROADCAST(eu) */ *
      FROM ps JOIN eu ON ps.l_suppkey = eu.s_suppkey)
    SELECT /*+ BROADCAST(m, p) */ p_partkey, p_name, s_name, n_name,
           round(unit_cost, 6) AS min_cost, round(s_acctbal, 6) AS acctbal
    FROM ps_eu
    JOIN (SELECT l_partkey, min(unit_cost) AS min_cost_raw
          FROM ps_eu GROUP BY l_partkey) m USING (l_partkey)
    JOIN {part} p ON l_partkey = p.p_partkey
    WHERE unit_cost = min_cost_raw
      AND p.p_type = 'ECONOMY' AND p.p_size < 15
"""


@query(
    "q2_min_cost_supplier",
    oracle="""
    WITH ps AS (
      SELECT l_partkey, l_suppkey,
             min(l_extendedprice / l_quantity) AS unit_cost
      FROM lineitem GROUP BY l_partkey, l_suppkey),
    eu AS (
      SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
      FROM supplier s
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE r.r_name = 'EUROPE'),
    ps_eu AS (
      SELECT ps.l_partkey, ps.unit_cost, eu.s_name, eu.s_acctbal, eu.n_name
      FROM ps JOIN eu ON eu.s_suppkey = ps.l_suppkey)
    SELECT p.p_partkey, p.p_name, x.s_name, x.n_name,
           round(x.unit_cost, 6) AS min_cost,
           round(x.s_acctbal, 6) AS acctbal
    FROM ps_eu x
    JOIN part p ON p.p_partkey = x.l_partkey
    WHERE p.p_type = 'ECONOMY' AND p.p_size < 15
      AND x.unit_cost = (SELECT min(y.unit_cost) FROM ps_eu y
                         WHERE y.l_partkey = x.l_partkey)
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for each ECONOMY small part, the European
    supplier(s) offering the minimum unit cost — a correlated scalar
    MIN decorrelated into an aggregate-and-join-back on the part key.

    Plan: ONE wide shuffle (the (partkey, suppkey) supply aggregation
    over lineitem); region→nation→supplier prune by broadcast before
    touching the aggregate; the per-part minimum is a tiny derived
    aggregate that broadcasts back onto the supply rows, and the part
    dim broadcasts last. Unit costs are IEEE division of identical
    inputs on both engines, so the min-equality join is parity-exact."""
    return spark.sql(_Q2.format(
        **bind_tables(spark, sf_dir, "lineitem", "region", "nation",
                      "supplier", "part")))


_Q20 = """
    WITH ps AS (
      SELECT l_partkey, l_suppkey,
             sum(l_quantity) AS availqty,
             sum(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01'
                       AND l_shipdate < TIMESTAMP '1998-01-01'
                      THEN l_quantity ELSE 0.0D END) AS yr_qty
      FROM {lineitem} GROUP BY l_partkey, l_suppkey),
    excess AS (
      SELECT /*+ BROADCAST(p) */ *
      FROM ps JOIN {part} p ON ps.l_partkey = p.p_partkey
      WHERE p.p_name LIKE '%widget%'
        AND ps.availqty > ps.yr_qty * 0.5D AND ps.yr_qty > 0)
    SELECT /*+ BROADCAST(n) */ s_name, round(s_acctbal, 6) AS acctbal
    FROM {supplier} s
    JOIN {nation} n ON s.s_nationkey = n.n_nationkey
    LEFT SEMI JOIN excess ON s.s_suppkey = excess.l_suppkey
    WHERE n.n_name IN ('NATION_3', 'NATION_4')
"""


@query(
    "q20_excess_inventory",
    oracle="""
    WITH ps AS (
      SELECT l_partkey, l_suppkey,
             sum(l_quantity) AS availqty,
             sum(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01'
                       AND l_shipdate <  TIMESTAMP '1998-01-01'
                 THEN l_quantity ELSE 0 END) AS yr_qty
      FROM lineitem GROUP BY l_partkey, l_suppkey)
    SELECT s.s_name, round(s.s_acctbal, 6) AS acctbal
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE n.n_name IN ('NATION_3', 'NATION_4')
      AND EXISTS (SELECT 1 FROM ps
                  JOIN part p ON p.p_partkey = ps.l_partkey
                  WHERE ps.l_suppkey = s.s_suppkey
                    AND p.p_name LIKE '%widget%'
                    AND ps.availqty > 0.5 * ps.yr_qty
                    AND ps.yr_qty > 0)
    """,
)
def q20_excess_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers in a nation holding "excess" supply
    of widget parts — all-time shipped quantity exceeding half of the
    1997 shipped quantity for that (part, supplier). The original's
    nested IN chain with a correlated scalar sum collapses into ONE
    conditional aggregation over lineitem (total + year-sliced sums in
    the same pass — no second scan, no aggregate-to-aggregate join),
    then a broadcast part filter and a left-semi probe into the tiny
    nation-filtered supplier dim."""
    return spark.sql(_Q20.format(
        **bind_tables(spark, sf_dir, "lineitem", "nation", "supplier",
                      "part")))
