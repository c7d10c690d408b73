"""Window / ordered-column operators (SURVEY.md §2.B "Window /
ordered-column functions").

dask expresses these as ``rolling``/``cumsum``/``shift`` over the
sorted index or groupby-apply; Spark's Window frames cover the whole
family natively and add the ranking functions dask lacks.

Scale posture: each window spec costs one hash-shuffle on its partition
key + an in-partition sort. Every query here partitions on a real key
(never a global ORDER BY over the fact table — an unpartitioned window
is a single-task bottleneck at scale). Order keys always carry a unique
tiebreaker so results are deterministic for the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from dask_lambda_example_spark.io import load_table
from dask_lambda_example_spark.registry import query


@query(
    "win_row_number_topk_per_group",
    oracle="""
    SELECT o_custkey, o_orderkey, round(o_totalprice, 6) AS total, rn
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders
    ) WHERE rn <= 3
    """,
)
def win_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer — THE scalable top-k-per-group pattern
    (shuffle on the group key, per-partition sort, early filter)."""
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey",
                F.round("o_totalprice", 6).alias("total"), "rn")
    )


@query(
    "win_rank_dense_ntile",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           rank()        OVER w AS rnk,
           dense_rank()  OVER w AS drnk,
           ntile(4)      OVER (PARTITION BY l_returnflag
                               ORDER BY l_orderkey, l_linenumber, l_partkey,
                                        l_suppkey, l_quantity, l_extendedprice)
                         AS quartile,
           round(percent_rank() OVER w, 6) AS prank,
           round(cume_dist()    OVER w, 6) AS cdist
    FROM lineitem
    WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_quantity)
    """,
)
def win_rank_dense_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking family on a tie-heavy key (rank vs dense_rank vs ntile
    vs percent_rank/cume_dist) — Spark superset over dask.

    SEMANTIC TWIN ONLY: this formulation sorts the whole table through
    |l_returnflag| = 3 partitions — do not reach for it at scale.
    ``rank_auto`` / ``ntile_auto`` dispatch to the scale-safe
    formulations (``win_rank_distributed_twophase``,
    ``win_ntile_distributed``) above ``RANK_NAIVE_MAX_ROWS``."""
    li = load_table(spark, sf_dir, "lineitem")
    w = W.partitionBy("l_returnflag").orderBy("l_quantity")
    # (l_orderkey, l_linenumber) is NOT unique in this data — ntile
    # assigns by position, so its ordering must be a total order or
    # boundary rows land in different buckets nondeterministically.
    wu = W.partitionBy("l_returnflag").orderBy(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
        "l_quantity", "l_extendedprice")
    return li.select(
        "l_orderkey", "l_linenumber",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(wu).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("prank"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
    )


_RANK_FAMILY_ORACLE = """
    SELECT l_orderkey, l_linenumber,
           rank()       OVER w AS rnk,
           dense_rank() OVER w AS drnk,
           round(percent_rank() OVER w, 6) AS prank,
           round(cume_dist()    OVER w, 6) AS cdist
    FROM lineitem
    WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_quantity)
    """


@query("win_rank_distributed_twophase", oracle=_RANK_FAMILY_ORACLE)
def win_rank_distributed_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-safe ranking over a LOW-CARDINALITY partition key.

    ``win_rank_dense_ntile`` expresses the same semantics with a plain
    window, which sorts the entire table through 3 partitions (one per
    l_returnflag) — a parallelism ceiling that becomes the bottleneck at
    100 TB. Rank/dense_rank/percent_rank/cume_dist are DISTRIBUTIVE over
    the count histogram of the order key, so this variant:

    1. aggregates counts per (l_returnflag, l_quantity) — a normal
       parallel shuffle, no ordering;
    2. ranks the tiny histogram (~|flags| × |distinct quantities| rows)
       with a window — negligible data through the serial path;
    3. broadcast-joins the per-value rank columns back onto the fact.

    rank = cumulative count of smaller values + 1; dense_rank = position
    in the distinct-value list; percent_rank = (rank-1)/(n-1);
    cume_dist = cumulative count / n. The fact table is never sorted and
    never leaves its scan partitioning.

    Cardinality contract: the ORDER-key domain per group must be small
    enough to broadcast (here l_quantity has ≤50 distinct values);
    that's exactly the regime where the naive window's 3-partition sort
    hurts most. ntile is absent HERE — it is position-based, not
    value-based, so it does not distribute over the histogram; its
    scale-safe formulation is ``win_ntile_distributed`` (range shuffle
    + per-bucket rank offsets + arithmetic assignment)."""
    li = load_table(spark, sf_dir, "lineitem")

    hist = li.groupBy("l_returnflag", "l_quantity").agg(
        F.count("*").alias("cnt"))
    wq = (W.partitionBy("l_returnflag").orderBy("l_quantity")
          .rowsBetween(W.unboundedPreceding, W.currentRow))
    wall = W.partitionBy("l_returnflag")
    ranked = (
        hist
        .withColumn("cum", F.sum("cnt").over(wq))
        .withColumn("n", F.sum("cnt").over(wall))
        .withColumn("rnk", F.col("cum") - F.col("cnt") + 1)
        .withColumn("drnk", F.row_number().over(
            W.partitionBy("l_returnflag").orderBy("l_quantity")))
        .withColumn("prank", F.round(
            (F.col("rnk") - 1) / (F.col("n") - 1), 6))
        .withColumn("cdist", F.round(F.col("cum") / F.col("n"), 6))
        .select("l_returnflag", "l_quantity", "rnk", "drnk", "prank", "cdist")
    )
    return (
        li.join(F.broadcast(ranked), ["l_returnflag", "l_quantity"])
        .select("l_orderkey", "l_linenumber", "rnk", "drnk", "prank", "cdist")
    )


NTILE_K = 4
_NTILE_ORDER = ("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
                "l_quantity", "l_extendedprice")


_NTILE_GLOBAL_ORACLE = f"""
    SELECT l_orderkey, l_linenumber,
           ntile({NTILE_K}) OVER (ORDER BY {", ".join(_NTILE_ORDER)})
             AS quartile
    FROM lineitem
    """


@query("win_ntile_distributed", oracle=_NTILE_GLOBAL_ORACLE)
def win_ntile_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLOBAL ntile without a global sort — closing the one gap
    ``win_rank_distributed_twophase`` documents: ntile is position-based,
    so the histogram trick doesn't apply; the distributed-selection
    machinery of ``agg_percentile_exact_distributed`` does.

    An un-partitioned ``ntile() OVER (ORDER BY …)`` is the worst window
    in the catalog at 100 TB — Spark moves the ENTIRE table through one
    task. This variant computes the identical assignment with every
    task at O(n/P):

    1. ``repartitionByRange(P, keys)`` — one range shuffle; bucket i
       holds a contiguous slice of the total order.
    2. per-bucket counts → prefix-sum offsets (a P-row frame,
       broadcast back; no driver collect).
    3. local ``row_number`` within each bucket + offset = exact global
       position, P-way parallel.
    4. ntile is then ARITHMETIC on (position, n): the first n mod k
       buckets take ⌈n/k⌉ rows, the rest ⌊n/k⌋ — integer ceil-division
       cases, a projection.

    The range exchange feeds the count and rank branches once
    (ReuseExchange); the ordering key is a total order so assignment is
    deterministic and the DuckDB oracle's native ``ntile`` must agree
    row-for-row."""
    li = load_table(spark, sf_dir, "lineitem").select(*_NTILE_ORDER)
    n_buckets = spark.sparkContext.defaultParallelism
    ranged = (li.repartitionByRange(n_buckets, *[F.col(c) for c in _NTILE_ORDER])
              .withColumn("pid", F.spark_partition_id()))

    pc = ranged.groupBy("pid").agg(F.count("*").alias("cnt"))
    w_off = W.orderBy("pid").rowsBetween(W.unboundedPreceding, W.currentRow)
    offsets = pc.select(
        "pid",
        (F.sum("cnt").over(w_off) - F.col("cnt")).alias("off"),
        F.sum("cnt").over(W.partitionBy()).alias("n"))

    w_local = W.partitionBy("pid").orderBy(*_NTILE_ORDER)
    pos = (F.row_number().over(w_local) + F.col("off")).cast("bigint")  # 1-based
    return (ranged.join(F.broadcast(offsets), "pid")
            .select("l_orderkey", "l_linenumber",
                    ntile_from_position(pos, F.col("n"), NTILE_K)
                    .alias("quartile")))


def ntile_from_position(pos, n, k: int):
    """SQL-standard ntile as arithmetic on (1-based global position,
    total row count): the first ``n mod k`` tiles take ⌈n/k⌉ rows, the
    rest ⌊n/k⌋. Exhaustively tested against Spark's native ntile in
    ``tests/test_units.py::test_ntile_arithmetic_exhaustive``."""
    kc = F.lit(k).cast("bigint")
    base = (n / kc).cast("bigint")                   # floor(n/k)
    rem = n % kc                                     # first rem tiles +1
    big_span = rem * (base + 1)                      # rows in the big tiles

    def ceil_div(a, b):
        return ((a + b - 1) / b).cast("bigint")

    return (
        F.when(n < kc, pos)                          # degenerate: row per tile
        .when(pos <= big_span, ceil_div(pos, base + 1))
        .otherwise(rem + ceil_div(pos - big_span, base))
    ).cast("int")


# ---------------------------------------------------------------------------
# metadata-thresholded auto-dispatch for the rank / ntile family
# (the `pagerank_auto` pattern, VERDICT r5: no registered name's only
# coded plan should be the serial single-partition sort)
# ---------------------------------------------------------------------------

# Above this many fact rows the naive window formulations stop being
# acceptable: the rank family funnels the whole table through
# |l_returnflag| = 3 sort partitions, and global ntile through ONE.
# 5e7 rows ≈ a few GB through a handful of tasks — the last scale where
# a single sort task finishes in the same ballpark as the distributed
# formulation's extra shuffle. Tunable per cluster; the number comes
# from parquet footer metadata (driver-local stat read, no Spark job).
RANK_NAIVE_MAX_ROWS = 50_000_000


def _rank_family_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The plain-window formulation (no ntile): right below the
    dispatch threshold, a 3-partition sort bottleneck above it."""
    li = load_table(spark, sf_dir, "lineitem")
    w = W.partitionBy("l_returnflag").orderBy("l_quantity")
    return li.select(
        "l_orderkey", "l_linenumber",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.round(F.percent_rank().over(w), 6).alias("prank"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
    )


def _ntile_global_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpartitioned native ntile — the whole table through ONE task;
    only ever chosen below the dispatch threshold."""
    li = load_table(spark, sf_dir, "lineitem")
    w = W.orderBy(*_NTILE_ORDER)
    return li.select(
        "l_orderkey", "l_linenumber",
        F.ntile(NTILE_K).over(w).alias("quartile"))


def rank_auto(spark: SparkSession, sf_dir: str,
              max_naive_rows: int = RANK_NAIVE_MAX_ROWS) -> DataFrame:
    """Size-dispatched rank family: native window below the row
    threshold (lowest constant factor, bounded sort), histogram
    two-phase (``win_rank_distributed_twophase``) above it — so a user
    reaching for "rank" by name gets a plan that survives 100 TB
    without having to know the twins exist. The row count comes from
    parquet footer metadata, no job at plan-construction time."""
    from dask_lambda_example_spark.io import parquet_rowcount

    if parquet_rowcount(sf_dir, "lineitem") <= max_naive_rows:
        return _rank_family_naive(spark, sf_dir)
    return win_rank_distributed_twophase(spark, sf_dir)


def ntile_auto(spark: SparkSession, sf_dir: str,
               max_naive_rows: int = RANK_NAIVE_MAX_ROWS) -> DataFrame:
    """Size-dispatched global ntile: native single-sort window below
    the threshold, distributed-selection formulation
    (``win_ntile_distributed``) above it."""
    from dask_lambda_example_spark.io import parquet_rowcount

    if parquet_rowcount(sf_dir, "lineitem") <= max_naive_rows:
        return _ntile_global_naive(spark, sf_dir)
    return win_ntile_distributed(spark, sf_dir)


@query("win_rank_auto", oracle=_RANK_FAMILY_ORACLE)
def win_rank_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered entry point for ``rank_auto`` (shares
    ``win_rank_distributed_twophase``'s oracle — both formulations are
    semantically identical; the plan assert
    ``tests/test_plans.py::test_rank_ntile_auto_dispatch`` pins that
    above-threshold input never plans a native rank window)."""
    return rank_auto(spark, sf_dir)


@query("win_ntile_auto", oracle=_NTILE_GLOBAL_ORACLE)
def win_ntile_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered entry point for ``ntile_auto`` (shares
    ``win_ntile_distributed``'s oracle)."""
    return ntile_auto(spark, sf_dir)


@query(
    "win_lag_lead_diff",
    oracle="""
    SELECT user_id, event_id,
           round(value, 6)                                                AS v,
           round(value - lag(value)  OVER w, 6)                           AS dv,
           round(lead(value) OVER w, 6)                                   AS next_v,
           CAST(floor(epoch(ts)) AS BIGINT)
             - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT)               AS gap_s
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def win_lag_lead_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dask ``shift``/``diff`` → lag/lead (+ inter-event gap seconds —
    the timeseries idiom the reference's 1 s-freq data implies)."""
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "user_id", "event_id",
        F.round("value", 6).alias("v"),
        F.round(F.col("value") - F.lag("value").over(w), 6).alias("dv"),
        F.round(F.lead("value").over(w), 6).alias("next_v"),
        (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w)))
        .alias("gap_s"),
    )


@query(
    "win_cumulative",
    oracle="""
    SELECT user_id, event_id,
           round(sum(value) OVER w, 6) AS running_sum,
           round(max(value) OVER w, 6) AS running_max,
           count(*)         OVER w     AS running_n
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def win_cumulative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dask ``cumsum``/``cummax`` → unbounded-preceding row frames."""
    e = load_table(spark, sf_dir, "events")
    w = (W.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    return e.select(
        "user_id", "event_id",
        F.round(F.sum("value").over(w), 6).alias("running_sum"),
        F.round(F.max("value").over(w), 6).alias("running_max"),
        F.count("*").over(w).alias("running_n"),
    )


@query(
    "win_rolling_rows",
    oracle="""
    SELECT user_id, event_id,
           round(avg(value) OVER w, 6) AS roll_avg3,
           round(sum(value) OVER w, 6) AS roll_sum3
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    """,
)
def win_rolling_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dask ``rolling(3).mean()`` → 2-preceding row frame."""
    e = load_table(spark, sf_dir, "events")
    w = (W.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(-2, W.currentRow))
    return e.select(
        "user_id", "event_id",
        F.round(F.avg("value").over(w), 6).alias("roll_avg3"),
        F.round(F.sum("value").over(w), 6).alias("roll_sum3"),
    )


@query(
    "win_rolling_time_range",
    oracle="""
    SELECT user_id, event_id,
           round(avg(value) OVER w, 6) AS roll_avg_1h,
           count(*)         OVER w     AS n_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id
                 ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                 RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    """,
)
def win_rolling_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dask ``rolling("1h")`` → RANGE frame over epoch seconds (numeric
    range frames keep Spark and the oracle in exact agreement; both
    sides floor to whole seconds — DuckDB ``epoch`` keeps fractions)."""
    e = load_table(spark, sf_dir, "events").withColumn(
        "ep", F.unix_timestamp("ts"))
    w = (W.partitionBy("user_id").orderBy("ep")
         .rangeBetween(-3600, W.currentRow))
    return e.select(
        "user_id", "event_id",
        F.round(F.avg("value").over(w), 6).alias("roll_avg_1h"),
        F.count("*").over(w).alias("n_1h"),
    )


# Width (seconds) of the rolling frame AND of the overlap buckets in the
# bucketed twin. The bucket width must be >= the frame width so a frame
# never spans more than one bucket boundary (one context copy suffices).
ROLL_FRAME_SECONDS = 3600

_ROLLING_TIME_RANGE_ORACLE = """
    SELECT user_id, event_id,
           round(avg(value) OVER w, 6) AS roll_avg_1h,
           count(*)         OVER w     AS n_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id
                 ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                 RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    """

# Above this many event rows the per-entity window partition is a
# straggler RISK: ALL of one entity's history runs on ONE task, and
# entity skew is invisible to parquet footer metadata (footers carry
# row counts and NDV — avg rows/entity — but never max-per-key). The
# threshold is therefore set by COST ASYMMETRY, not by when the plain
# form breaks on uniform data: the bucketed form's uniform-data
# overhead is ~2x (row duplication), while the plain form under a
# 27%-hot key measured 4.2x at sf1 and 12.8x at sf10 (round-6 skew
# battery) — so past the scale where 2x constant cost is noise, the
# skew-immune plan is the right default. 5e6 rows ≈ where the plain
# form's win on uniform data stops mattering (sub-second either way).
ROLL_NAIVE_MAX_ROWS = 5_000_000


@query("win_rolling_time_range_bucketed", oracle=_ROLLING_TIME_RANGE_ORACLE)
def win_rolling_time_range_bucketed(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """``win_rolling_time_range`` re-expressed with OVERLAP BUCKETS so a
    hot entity's timeline splits across tasks instead of serializing on
    one (the straggler the round-6 skew battery measured: a 27%-hot
    user cost 4.2x on the plain window, 1.0x here).

    The backward range frame ``[ep-W, ep]`` can only reach rows in the
    current or previous time bucket when the bucket width B >= W. So:
    every row is emitted once in its native bucket and once as a
    CONTEXT copy in the following bucket; the identical range frame
    runs per ``(user_id, bucket)`` — full time-axis parallelism, every
    task O(rows-per-bucket) — and only native rows are returned.
    Context rows contribute to frames but their own (wasted) frame
    values are filtered with them. Exact same semantics, 2x row cost,
    no serial partition anywhere; shares the plain form's oracle."""
    B = ROLL_FRAME_SECONDS
    e = (load_table(spark, sf_dir, "events")
         .withColumn("ep", F.unix_timestamp("ts"))
         .select("user_id", "event_id", "value", "ep"))
    # floor, not a truncating cast: for negative epochs (pre-1970
    # timestamps) truncation rounds toward zero and rows land one
    # bucket high, silently dropping frame members (ADVICE r6)
    bkt = F.floor(F.col("ep") / B).cast("long")
    native = e.withColumn("bkt", bkt) \
              .withColumn("is_native", F.lit(True))
    context = e.withColumn("bkt", bkt + 1) \
               .withColumn("is_native", F.lit(False))
    w = (W.partitionBy("user_id", "bkt").orderBy("ep")
         .rangeBetween(-B, W.currentRow))
    return (native.unionByName(context)
            .select("user_id", "event_id", "is_native",
                    F.round(F.avg("value").over(w), 6).alias("roll_avg_1h"),
                    F.count("*").over(w).alias("n_1h"))
            .filter("is_native").drop("is_native"))


def rolling_time_range_auto(spark: SparkSession, sf_dir: str,
                            max_naive_rows: int = ROLL_NAIVE_MAX_ROWS
                            ) -> DataFrame:
    """Size-dispatched rolling time-range aggregation: plain per-entity
    window below the row threshold (no row duplication, lowest constant
    factor), bucketed-overlap formulation above it (bounded task size
    regardless of per-entity skew). Row count from parquet footer
    metadata — no job at plan-construction time."""
    from dask_lambda_example_spark.io import parquet_rowcount

    if parquet_rowcount(sf_dir, "events") <= max_naive_rows:
        return win_rolling_time_range(spark, sf_dir)
    return win_rolling_time_range_bucketed(spark, sf_dir)


@query("win_rolling_auto", oracle=_ROLLING_TIME_RANGE_ORACLE)
def win_rolling_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered entry point for ``rolling_time_range_auto`` — the
    skew-straggler form is no longer any registered name's only plan
    (plan-asserted in
    ``tests/test_plans.py::test_rolling_auto_dispatch``)."""
    return rolling_time_range_auto(spark, sf_dir)


@query(
    "win_first_last_value",
    oracle="""
    SELECT o_custkey, o_orderkey,
           first_value(o_orderkey) OVER w AS first_order,
           last_value(o_orderkey)  OVER (PARTITION BY o_custkey
                ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
                AS last_order,
           nth_value(o_orderkey, 2) OVER (PARTITION BY o_custkey
                ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
                AS second_order
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def win_first_last_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last/nth_value with explicit full frames (the default
    running frame on last_value is the classic silent-wrong-answer)."""
    o = load_table(spark, sf_dir, "orders")
    run = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    full = run.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return o.select(
        "o_custkey", "o_orderkey",
        F.first("o_orderkey").over(run).alias("first_order"),
        F.last("o_orderkey").over(full).alias("last_order"),
        F.nth_value("o_orderkey", 2).over(full).alias("second_order"),
    )


@query(
    "win_share_of_group",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice / sum(l_extendedprice)
                 OVER (PARTITION BY l_orderkey), 6) AS price_share
    FROM lineitem
    """,
)
def win_share_of_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-group-total — unordered partition window (no sort)."""
    li = load_table(spark, sf_dir, "lineitem")
    w = W.partitionBy("l_orderkey")
    return li.select(
        "l_orderkey", "l_linenumber",
        F.round(F.col("l_extendedprice") / F.sum("l_extendedprice").over(w), 6)
        .alias("price_share"),
    )


@query(
    "win_share_global_twophase",
    oracle="""
    WITH g AS (
      SELECT l_returnflag, l_linestatus,
             sum(l_extendedprice) AS grp_rev, count(*) AS n_rows
      FROM lineitem GROUP BY l_returnflag, l_linestatus),
    t AS (SELECT sum(grp_rev) AS total_rev FROM g)
    SELECT g.l_returnflag, g.l_linestatus, g.n_rows,
           round(g.grp_rev / t.total_rev, 6) AS rev_share
    FROM g, t
    """,
)
def win_share_global_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-TOTAL for low-cardinality groups, done scale-safe: the
    window formulation (`sum() OVER ()` with an empty or 3-key
    partition) funnels the whole table through ≤|groups| sort
    partitions — the same parallelism ceiling `win_rank_dense_ntile`
    documents. This variant never opens a window: phase 1 is an
    ordinary partial+final aggregate per group, phase 2 broadcasts the
    group totals and divides by their (broadcast, one-row) grand total.
    Full parallelism at any scale; the denominators ride a 6-row
    broadcast. `rev_share` is a ratio of two same-order sums, so
    6-decimal rounding absorbs the summation noise that the raw sums
    themselves would leak."""
    li = load_table(spark, sf_dir, "lineitem")
    g = (li.groupBy("l_returnflag", "l_linestatus")
         .agg(F.sum("l_extendedprice").alias("grp_rev"),
              F.count("*").alias("n_rows")))
    t = g.agg(F.sum("grp_rev").alias("total_rev"))
    return (
        g.crossJoin(F.broadcast(t))
        .select("l_returnflag", "l_linestatus", "n_rows",
                F.round(F.col("grp_rev") / F.col("total_rev"), 6)
                .alias("rev_share"))
    )


@query(
    "win_cumprod_compounded",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(round(exp(sum(ln(1 + l_discount))
                          OVER (PARTITION BY l_orderkey
                                ORDER BY l_linenumber
                                ROWS UNBOUNDED PRECEDING)), 6) AS REAL)
             AS cum_factor
    FROM lineitem WHERE l_orderkey % 100 = 0
    """,
)
def win_cumprod_compounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative PRODUCT (pandas/dask ``cumprod`` — compounding
    factors): neither Spark nor most engines ship a product window
    aggregate, so the scale-correct identity is
    ``exp(cumsum(ln x))`` for positive x — one running-sum window over
    the log, no per-group iteration, the same partial-aggregation
    machinery as any cumsum. The formula is applied identically on
    both sides (float32-cast: exp amplifies last-ulp log-sum noise
    past 6-decimal rounding)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 100 == 0)
    w = (W.partitionBy("l_orderkey").orderBy("l_linenumber")
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    return li.select(
        "l_orderkey", "l_linenumber",
        F.round(F.exp(F.sum(F.log(1 + F.col("l_discount"))).over(w)), 6)
        .cast("float").alias("cum_factor"),
    )


@query(
    "win_nth_value",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           nth_value(l_extendedprice, 2) OVER w AS second_price,
           first_value(l_linenumber) OVER w AS first_line
    FROM lineitem
    WINDOW w AS (PARTITION BY l_orderkey
                 ORDER BY l_linenumber, l_extendedprice
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def win_nth_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``nth_value`` over the full-partition frame (the "second line
    item's price" per order) — completes the positional window family
    next to first/last. l_linenumber repeats within an order in this
    synthetic data, so the sort carries a price tie-break — positional
    window functions are only well-defined under a total order. Partitioned by the high-cardinality order key,
    so parallelism scales with data (contrast with the documented
    low-cardinality rank windows)."""
    li = load_table(spark, sf_dir, "lineitem")
    w = (W.partitionBy("l_orderkey")
         .orderBy("l_linenumber", "l_extendedprice")
         .rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
    return li.select(
        "l_orderkey", "l_linenumber",
        F.nth_value("l_extendedprice", 2).over(w).alias("second_price"),
        F.first("l_linenumber").over(w).alias("first_line"))
