"""Aggregation operators (SURVEY.md §2.B "Aggregations").

Maps the dask ``groupby``/reduction surface — the family the reference's
one computation belongs to (``layer/python/dask_processing.py:32``) —
onto Spark's partial+final HashAggregate, plus the Spark-superset pieces
(cube / rollup / grouping sets / pivot) the survey calls out.

Scale posture: every groupBy here is a single hash-shuffle on the
grouping key with map-side combine; distinct-aggregates add one expand;
sketches (``approx_count_distinct``, ``percentile_approx``) replace
exact shuffles with fixed-size mergeable state — the only viable form
at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dask_lambda_example_spark.io import bind_tables, load_table
from dask_lambda_example_spark.registry import query


_Q1 = """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 6) AS sum_qty,
           round(sum(l_extendedprice), 6) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 6) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (l_tax + 1)), 6)
             AS sum_charge,
           round(avg(l_quantity), 6) AS avg_qty,
           round(avg(l_extendedprice), 6) AS avg_price,
           round(avg(l_discount), 6) AS avg_disc,
           count(*) AS count_order
    FROM {lineitem}
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
"""


@query(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 6)                                   AS sum_qty,
           round(sum(l_extendedprice), 6)                              AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 6)           AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 6) AS sum_charge,
           round(avg(l_quantity), 6)                                   AS avg_qty,
           round(avg(l_extendedprice), 6)                              AS avg_price,
           round(avg(l_discount), 6)                                   AS avg_disc,
           count(*)                                                    AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: 2-key groupBy + 8 aggregates — the canonical
    scan-heavy partial+final aggregation (headline bench query)."""
    return spark.sql(_Q1.format(
        **bind_tables(spark, sf_dir, "lineitem")))


@query(
    "agg_minmax_stats",
    oracle="""
    SELECT o_orderstatus,
           count(*)                          AS n,
           round(min(o_totalprice), 6)       AS min_total,
           round(max(o_totalprice), 6)       AS max_total,
           CAST(stddev_samp(o_totalprice) AS REAL) AS sd_total,
           CAST(var_samp(o_totalprice) AS REAL)  AS var_total,
           CAST(stddev_pop(o_totalprice) AS REAL) AS sdp_total
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_minmax_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min/max/count/std/var per group — dask ``groupby().agg({col:
    [fns]})``; sample-vs-population std made explicit (A7 pitfall).

    Oracle-parity note: variance-family outputs are magnitude ~1e10, so
    summation-order noise (~1e-15 relative) is ~1e-5 ABSOLUTE — no fixed
    decimal rounding can absorb it. Both sides cast to float32 instead:
    truncating the mantissa to 24 bits maps both 1-ulp-apart doubles to
    the same value (relative precision, which is what std/var need).
    min/max are exact input values, so round(6) is parity-safe there."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.round(F.min("o_totalprice"), 6).alias("min_total"),
        F.round(F.max("o_totalprice"), 6).alias("max_total"),
        F.stddev_samp("o_totalprice").cast("float").alias("sd_total"),
        F.var_samp("o_totalprice").cast("float").alias("var_total"),
        F.stddev_pop("o_totalprice").cast("float").alias("sdp_total"),
    )


@query(
    "agg_count_distinct",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS n_parts,
           count(DISTINCT l_suppkey) AS n_supps,
           count(*)                  AS n_rows
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dask ``nunique`` → exact countDistinct (expand + two-phase agg)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count("*").alias("n_rows"),
    )


# HLL relative standard deviation for agg_approx_sketches — shared with
# the pytest invariant gate (tests/test_units.py::
# test_approx_sketches_within_error_bounds), which re-earns the
# rows-only status every run by checking the estimates against exact
# aggregations of the same input.
SKETCH_RSD = 0.05


@query("agg_approx_sketches")  # approx algorithms differ per engine → rows-only
def agg_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dask ``nunique_approx`` (HLL) / t-digest quantile → Spark HLL++
    and GK sketches. Mergeable fixed-size state: the 100 TB answer to
    distinct-count and quantile. Oracle omitted (sketch impls differ
    per engine); the ±3·rsd / exact-percentile-band invariant gate that
    re-earns the rows-only status lives in pytest
    (``test_approx_sketches_within_error_bounds``) rather than in the
    query body, so the registered query answers ONLY the user question
    and its bench row prices the sketch, not the verification
    (VERDICT r10 item 6 — the in-body gate was the most expensive
    "query" not answering a user question)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", SKETCH_RSD)
         .alias("approx_parts"),
        F.percentile_approx("l_extendedprice", 0.5)
         .alias("approx_median_price"),
    )


@query(
    "agg_percentile_exact",
    oracle="""
    SELECT l_linestatus,
           round(quantile_cont(l_extendedprice, 0.5), 6)  AS p50,
           round(quantile_cont(l_extendedprice, 0.9), 6)  AS p90,
           round(quantile_cont(l_extendedprice, 0.99), 6) AS p99
    FROM lineitem GROUP BY l_linestatus
    """,
)
def agg_percentile_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact continuous percentiles (dask ``quantile`` exact path).

    ``F.percentile`` is a TypedImperative aggregate: every value of a
    group is buffered in ONE aggregation state and merged on one task —
    fine at test scale, an OOM wall at 100 TB. The scale-safe sibling
    with identical results is ``agg_percentile_exact_distributed``.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        F.round(F.percentile("l_extendedprice", 0.5), 6).alias("p50"),
        F.round(F.percentile("l_extendedprice", 0.9), 6).alias("p90"),
        F.round(F.percentile("l_extendedprice", 0.99), 6).alias("p99"),
    )


@query(
    "agg_percentile_exact_distributed",
    oracle="""
    SELECT l_linestatus,
           round(quantile_cont(l_extendedprice, 0.5), 6)  AS p50,
           round(quantile_cont(l_extendedprice, 0.9), 6)  AS p90,
           round(quantile_cont(l_extendedprice, 0.99), 6) AS p99
    FROM lineitem GROUP BY l_linestatus
    """,
)
def agg_percentile_exact_distributed(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """Exact continuous percentiles via distributed selection — the
    100 TB formulation of ``agg_percentile_exact``.

    Why: exact percentile needs global order statistics, and both naive
    routes die at scale — ``F.percentile`` buffers a whole group in one
    aggregation state, and a ``Window.partitionBy(group).orderBy(v)``
    rank sorts a whole group on one task. The selection algorithm keeps
    every task at O(n/P):

    1. ``repartitionByRange(P, g, v)`` — one range shuffle; bucket i
       holds a contiguous (g, v) slice (sampled bounds, skew-resistant).
    2. per-(bucket, g) counts — a tiny P×|G| frame; a prefix sum over it
       (window over P rows per group) yields each bucket's global rank
       offset and the group totals n. No driver collect — the frame is
       broadcast back.
    3. local ``row_number`` within (bucket, g) + offset = exact global
       rank, computed with P×|G|-way parallelism.
    4. each target quantile q needs only ranks ⌊q(n-1)⌋+1 and ⌈q(n-1)⌉+1;
       a map-side-combined sum of per-row CASE contributions applies the
       same interpolation DuckDB's ``quantile_cont`` uses:
       (CRN-RN)·x_lo + (RN-FRN)·x_hi.

    The range exchange feeds both the count branch and the rank branch;
    Spark's ReuseExchange collapses them to one shuffle (and range-bound
    sampling is seed-deterministic, so even a recompute assigns identical
    buckets).
    """
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_linestatus").alias("g"),
        F.col("l_extendedprice").alias("v"))
    n_buckets = spark.sparkContext.defaultParallelism
    ranged = (li.repartitionByRange(n_buckets, "g", "v")
              .withColumn("pid", F.spark_partition_id()))

    pc = ranged.groupBy("pid", "g").agg(F.count("*").alias("cnt"))
    w_off = Window.partitionBy("g").orderBy("pid")
    offsets = pc.select(
        "pid", "g",
        (F.sum("cnt").over(w_off) - F.col("cnt")).alias("off"),
        F.sum("cnt").over(Window.partitionBy("g")).alias("n"))

    w_local = Window.partitionBy("pid", "g").orderBy("v")
    ranked = (ranged.join(F.broadcast(offsets), ["pid", "g"])
              .withColumn("idx",  # 0-indexed global rank
                          F.row_number().over(w_local) + F.col("off") - 1))

    def contrib(q: float):
        pos = F.lit(q) * (F.col("n") - 1).cast("double")
        frn, crn = F.floor(pos), F.ceil(pos)
        return (
            F.when((F.col("idx") == frn) & (frn == crn), F.col("v"))
            .when(F.col("idx") == frn, (crn.cast("double") - pos) * F.col("v"))
            .when(F.col("idx") == crn, (pos - frn.cast("double")) * F.col("v"))
        )

    return (ranked.groupBy("g")
            .agg(*[F.round(F.sum(contrib(q)), 6).alias(a)
                   for q, a in [(0.5, "p50"), (0.9, "p90"), (0.99, "p99")]])
            .withColumnRenamed("g", "l_linestatus"))


# Above this many fact rows the buffered percentile's aggregation state
# (every group value in ONE TypedImperative buffer, merged on one task)
# stops being safe — ~rows/|groups| × 8 B of heap on a single task.
# Same dispatch pattern as rank_auto/pagerank_auto (VERDICT r5): sized
# from parquet footer metadata, no job at plan-construction time.
PCT_BUFFERED_MAX_ROWS = 50_000_000


def percentile_auto(spark: SparkSession, sf_dir: str,
                    max_buffered_rows: int = PCT_BUFFERED_MAX_ROWS
                    ) -> DataFrame:
    """Size-dispatched exact percentiles: buffered ``F.percentile``
    below the row threshold (one aggregation, lowest constant factor),
    distributed selection (``agg_percentile_exact_distributed``) above
    it — identical results either way (shared oracle)."""
    from dask_lambda_example_spark.io import parquet_rowcount

    if parquet_rowcount(sf_dir, "lineitem") <= max_buffered_rows:
        return agg_percentile_exact(spark, sf_dir)
    return agg_percentile_exact_distributed(spark, sf_dir)


@query(
    "agg_percentile_auto",
    oracle="""
    SELECT l_linestatus,
           round(quantile_cont(l_extendedprice, 0.5), 6)  AS p50,
           round(quantile_cont(l_extendedprice, 0.9), 6)  AS p90,
           round(quantile_cont(l_extendedprice, 0.99), 6) AS p99
    FROM lineitem GROUP BY l_linestatus
    """,
)
def agg_percentile_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered entry point for ``percentile_auto`` — a user asking
    for exact percentiles by name can no longer buffer a 100 TB group
    in one aggregation state (plan-asserted in
    ``tests/test_plans.py::test_rank_ntile_auto_dispatch``)."""
    return percentile_auto(spark, sf_dir)


@query(
    "agg_global_reduction",
    oracle="""
    SELECT count(*)                         AS n,
           round(sum(l_quantity), 6)        AS total_qty,
           round(avg(l_extendedprice), 6)   AS mean_price,
           round(stddev_samp(l_discount), 6) AS sd_disc,
           min(l_shipdate)                  AS first_ship,
           max(l_shipdate)                  AS last_ship
    FROM lineitem
    """,
)
def agg_global_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-table reductions (dask ``df.sum()/mean()/std()`` — the
    reference's final ``.std()`` is this on one column)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("n"),
        F.round(F.sum("l_quantity"), 6).alias("total_qty"),
        F.round(F.avg("l_extendedprice"), 6).alias("mean_price"),
        F.round(F.stddev_samp("l_discount"), 6).alias("sd_disc"),
        F.min("l_shipdate").alias("first_ship"),
        F.max("l_shipdate").alias("last_ship"),
    )


@query(
    "agg_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 6) AS sum_qty, count(*) AS n
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE — Spark-superset over dask (SURVEY.md §2.B): all 2^k
    grouping-set combinations in one pass via Expand."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 6).alias("sum_qty"),
        F.count("*").alias("n"),
    )


@query(
    "agg_rollup",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           round(sum(o_totalprice), 6) AS sum_total, count(*) AS n
    FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP — hierarchical subtotals (superset over dask)."""
    o = load_table(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.round(F.sum("o_totalprice"), 6).alias("sum_total"),
        F.count("*").alias("n"),
    )


@query(
    "agg_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 6) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via the SQL API (same Catalyst plan)."""
    return spark.sql("""
        SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 6) AS sum_qty
        FROM {lineitem}
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """.format(**bind_tables(spark, sf_dir, "lineitem")))


@query(
    "agg_pivot",
    oracle="""
    SELECT l_returnflag,
           round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 6) AS qty_f,
           round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 6) AS qty_o
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an explicit value list — at scale the value list MUST
    be provided (otherwise Spark runs an extra distinct job)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .sum("l_quantity")
        .select(
            "l_returnflag",
            F.round(F.col("F"), 6).alias("qty_f"),
            F.round(F.col("O"), 6).alias("qty_o"),
        )
    )


@query(
    "agg_drop_duplicates",
    oracle="""
    SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
    """,
)
def agg_drop_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dask ``drop_duplicates`` → dropDuplicates (hash-agg, no sort)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select("l_returnflag", "l_linestatus").dropDuplicates()


@query(
    "agg_having",
    oracle="""
    SELECT o_custkey, count(*) AS n_orders, round(sum(o_totalprice), 6) AS spend
    FROM orders GROUP BY o_custkey
    HAVING count(*) >= 5
    """,
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter (HAVING) — dask boolean mask on agg result."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"),
             F.round(F.sum("o_totalprice"), 6).alias("spend"))
        .filter(F.col("n_orders") >= 5)
    )


@query(
    "agg_correlation_covariance",
    oracle="""
    SELECT l_returnflag,
           CAST(round(corr(l_quantity, l_extendedprice), 6) AS REAL)
             AS qty_price_corr,
           CAST(round(covar_samp(l_quantity, l_extendedprice), 6) AS REAL)
             AS qty_price_covar,
           CAST(round(regr_slope(l_extendedprice, l_quantity), 6) AS REAL)
             AS price_per_qty_slope
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_correlation_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistics per group (dask `df.corr()`/`cov()` and the
    DataFrameStatFunctions surface): Pearson correlation, sample
    covariance, and the OLS slope — all single-pass streaming
    aggregates (co-moment accumulators, partial+final like any sum),
    NOT a collect-and-numpy detour. One shuffle of 3-key groups; the
    accumulators are order-sensitive in the last ulps, so outputs are
    float32-cast on both sides."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.corr("l_quantity", "l_extendedprice"), 6)
            .cast("float").alias("qty_price_corr"),
            F.round(F.covar_samp("l_quantity", "l_extendedprice"), 6)
            .cast("float").alias("qty_price_covar"),
            F.round(F.regr_slope("l_extendedprice", "l_quantity"), 6)
            .cast("float").alias("price_per_qty_slope"),
        )
    )


@query(
    "agg_median_boolean_battery",
    oracle="""
    SELECT l_returnflag,
           CAST(round(median(l_quantity), 6) AS REAL) AS med_qty,
           CAST(count_if(l_quantity > 25) AS BIGINT) AS n_big,
           bool_and(l_quantity > 0) AS all_positive,
           bool_or(l_discount > 0.05) AS any_discounted,
           array_to_string(list_sort(list(DISTINCT l_linestatus)), ',')
               AS statuses
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_median_boolean_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median + boolean/conditional aggregates + a serialized
    distinct-set — the aggregate surface beyond sum/avg/minmax:
    ``median`` (exact, interpolated at even counts in both engines),
    ``count_if``, ``bool_and``/``bool_or``, and ``collect_set``
    serialized sorted so the set crosses the hash boundary
    deterministically. One grouped pass; the median requires a
    per-group sort internally — at scale prefer ``percentile_approx``
    (its accuracy contract is pinned by
    ``test_approx_percentile_accuracy_contract``)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.median("l_quantity"), 6).cast("float")
            .alias("med_qty"),
            F.count_if(F.col("l_quantity") > 25).alias("n_big"),
            F.bool_and(F.col("l_quantity") > 0).alias("all_positive"),
            F.bool_or(F.col("l_discount") > 0.05).alias("any_discounted"),
            F.array_join(F.array_sort(F.collect_set("l_linestatus")), ",")
            .alias("statuses"),
        )
    )


HIST_LO, HIST_HI, HIST_BINS = 0.0, 600.0, 12


@query(
    "agg_histogram_fixed_width",
    oracle=f"""
    SELECT CAST(CASE WHEN n_chars < {HIST_LO} THEN 0
                WHEN n_chars >= {HIST_HI} THEN {HIST_BINS + 1}
                ELSE 1 + floor((n_chars - {HIST_LO}) * {HIST_BINS}
                               / ({HIST_HI} - {HIST_LO})) END
                AS INT) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(n_chars) AS BIGINT) AS lo,
           CAST(max(n_chars) AS BIGINT) AS hi
    FROM documents GROUP BY bucket
    """,
)
def agg_histogram_fixed_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-width histogram via ``width_bucket`` — the fixed-grid
    companion to quantile binning (``ml_quantile_binning``): bucket
    assignment is a pure projection (no thresholds to compute; the
    oracle replicates the bucket arithmetic — DuckDB has no
    width_bucket), the
    histogram is one grouped count with map-side combine to ≤ bins+2
    rows per partition. The length-distribution picture every corpus
    report leads with."""
    d = load_table(spark, sf_dir, "documents")
    b = F.width_bucket("n_chars", F.lit(HIST_LO), F.lit(HIST_HI),
                       F.lit(HIST_BINS)).cast("int").alias("bucket")
    return (d.select(b, "n_chars")
            .groupBy("bucket")
            .agg(F.count("*").alias("n"),
                 F.min("n_chars").alias("lo"),
                 F.max("n_chars").alias("hi")))


@query(
    "agg_grouping_id_flags",
    oracle="""
    SELECT coalesce(l_returnflag, '(all)') AS rf,
           coalesce(l_linestatus, '(all)') AS ls,
           CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
           CAST(GROUPING(l_linestatus) AS INT) AS g_ls,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_grouping_id_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``grouping()`` flags over a CUBE: subtotal rows are
    distinguishable from genuine NULL group keys — the disambiguation
    every rollup consumer needs before pivoting the result (a NULL key
    and an "all" subtotal hash identically otherwise). One Expand +
    one aggregation, the same plan as the plain cube."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.grouping("l_returnflag").cast("int").alias("g_rf"),
             F.grouping("l_linestatus").cast("int").alias("g_ls"),
             F.count("*").alias("n"))
        .select(
            F.coalesce("l_returnflag", F.lit("(all)")).alias("rf"),
            F.coalesce("l_linestatus", F.lit("(all)")).alias("ls"),
            "g_rf", "g_ls", "n")
    )
