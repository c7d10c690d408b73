"""Time-series operators (SURVEY.md §2.B "Window" resample rows + §2.3
M2): resample/time-bucketing, tumbling/sliding/session windows, as-of
joins, gap detection — the operator family the reference's 1 s-frequency
DatetimeIndex data implies (``layer/python/dask_processing.py:29-31``).

Scale posture: every bucketing op is a plain hash-aggregate on a derived
bucket column (one shuffle, partial+final); the as-of join is the
union+running-last composition — one shuffle on the join key, one
in-partition sort, NO per-row lookups or pandas fallback — the only
as-of formulation that survives 100 TB fact tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from dask_lambda_example_spark.io import load_table
from dask_lambda_example_spark.registry import query


@query(
    "ts_resample_1h",
    oracle="""
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket,
           count(*) AS n, round(avg(value), 6) AS mean_v,
           round(sum(value), 6) AS sum_v
    FROM events GROUP BY 1
    """,
)
def ts_resample_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dask ``resample("1h").agg(...)`` → date_trunc + hash agg."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.date_trunc("hour", F.col("ts")).alias("bucket"))
        .agg(F.count("*").alias("n"),
             F.round(F.avg("value"), 6).alias("mean_v"),
             F.round(F.sum("value"), 6).alias("sum_v"))
    )


@query(
    "ts_tumbling_window_1d",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP)                    AS w_start,
           CAST(date_trunc('day', ts) AS TIMESTAMP) + INTERVAL 1 DAY   AS w_end,
           event_type,
           count(*) AS n, round(avg(value), 6) AS mean_v
    FROM events GROUP BY 1, 2, 3
    """,
)
def ts_tumbling_window_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling window via ``F.window`` — identical semantics batch and
    streaming (the streaming pipeline reuses this shape)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count("*").alias("n"),
             F.round(F.avg("value"), 6).alias("mean_v"))
        .select(F.col("w.start").alias("w_start"),
                F.col("w.end").alias("w_end"),
                "event_type", "n", "mean_v")
    )


@query(
    "ts_sliding_window",
    oracle="""
    SELECT bucket AS w_start, count(*) AS n, round(sum(value), 6) AS sum_v
    FROM (
        SELECT unnest([
            CAST(date_trunc('hour', ts) AS TIMESTAMP),
            CAST(date_trunc('hour', ts) AS TIMESTAMP) - INTERVAL 1 HOUR
        ]) AS bucket, value
        FROM events
    ) GROUP BY bucket
    """,
)
def ts_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (2 h window, 1 h slide): each row lands in 2
    overlapping windows — Spark expands via ``F.window``; oracle
    reproduces the expansion with unnest."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"),
             F.round(F.sum("value"), 6).alias("sum_v"))
        .select(F.col("w.start").alias("w_start"), "n", "sum_v")
    )


@query(
    "ts_session_window",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, value,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         > INTERVAL 30 MINUTE
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ), sessions AS (
        SELECT user_id, ts, value,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM flagged
    )
    SELECT user_id,
           min(ts)                                AS s_start,
           max(ts) + INTERVAL 30 MINUTE           AS s_end,
           count(*)                               AS n,
           round(sum(value), 6)                   AS sum_v
    FROM sessions GROUP BY user_id, session_id
    """,
)
def ts_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with a 30 min inactivity gap — native
    ``session_window`` (batch mode; same call works under
    ``readStream``). Oracle derives sessions via the lag-gap-cumsum
    idiom, which is also the portable fallback. Session end = last
    event + gap (Spark's definition)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n"),
             F.round(F.sum("value"), 6).alias("sum_v"))
        .select("user_id", F.col("w.start").alias("s_start"),
                F.col("w.end").alias("s_end"), "n", "sum_v")
    )


def asof_join(events: DataFrame, right: DataFrame,
              left_key: str, right_key: str,
              left_ts: str, right_ts: str,
              payload_cols: list[str], direction: str) -> DataFrame:
    """Reusable as-of join (dask ``merge_asof``, SURVEY.md §4.3-1): for
    each left row, per key, the most recent right row with
    ``right_ts <= left_ts`` (``direction="backward"``) or the earliest
    with ``right_ts >= left_ts`` (``direction="forward"``).

    Composition, not a per-group pandas fallback: union both sides on
    (key, t), one window ``last(..., ignorenulls=True)`` per payload
    column over a running frame, then keep left rows. Cost = one
    shuffle on the key + one in-partition sort — same complexity as a
    sort-merge join, valid at any scale. Backward orders the window
    ascending with right rows before left rows at equal timestamps
    (side 0 < 1); forward is the mirror — descending, right rows after
    left rows — so exact-timestamp matches are taken either way,
    matching merge_asof/ASOF JOIN semantics.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward or forward: {direction!r}")
    back = direction == "backward"
    left_side, right_side = (1, 0) if back else (0, 1)
    left_tagged = events.select(
        F.col(left_key).alias("__k"), F.col(left_ts).alias("__t"),
        F.lit(left_side).alias("__side"),
        "*", *[F.lit(None).cast(right.schema[c].dataType).alias(f"__p_{c}")
               for c in payload_cols])
    right_tagged = right.select(
        F.col(right_key).alias("__k"), F.col(right_ts).alias("__t"),
        F.lit(right_side).alias("__side"),
        *[F.lit(None).cast(events.schema[c].dataType).alias(c)
          for c in events.columns],
        *[F.col(c).alias(f"__p_{c}") for c in payload_cols])
    unioned = left_tagged.unionByName(right_tagged)
    order = (["__t", "__side"] if back
             else [F.desc("__t"), F.desc("__side")])
    w = (W.partitionBy("__k").orderBy(*order)
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    filled = unioned.select(
        "*", *[F.last(f"__p_{c}", ignorenulls=True).over(w).alias(f"__m_{c}")
               for c in payload_cols])
    return (
        filled.filter(F.col("__side") == left_side)
        .select(*events.columns,
                *[F.col(f"__m_{c}").alias(c) for c in payload_cols])
    )


@query(
    "ts_asof_join_backward",
    oracle="""
    SELECT event_id, user_id, ts, o_orderkey, o_orderdate
    FROM events
    ASOF LEFT JOIN orders
      ON events.user_id = orders.o_custkey AND events.ts >= orders.o_orderdate
    """,
)
def ts_asof_join_backward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of: latest order per user at each event time.
    Oracle = DuckDB's native ASOF JOIN."""
    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = load_table(spark, sf_dir, "orders")
    return asof_join(
        e, o, "user_id", "o_custkey", "ts", "o_orderdate",
        ["o_orderkey", "o_orderdate"], "backward",
    )


@query(
    "ts_asof_join_tolerance",
    oracle="""
    SELECT event_id, user_id, ts,
           CASE WHEN ts - o_orderdate <= INTERVAL 365 DAY
                THEN o_orderkey END AS o_orderkey,
           CASE WHEN ts - o_orderdate <= INTERVAL 365 DAY
                THEN round(o_totalprice, 6) END AS total
    FROM events
    ASOF LEFT JOIN orders
      ON events.user_id = orders.o_custkey AND events.ts >= orders.o_orderdate
    """,
)
def ts_asof_join_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of with tolerance (``merge_asof(tolerance=...)``): the single
    backward candidate is kept only if within 365 days."""
    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = load_table(spark, sf_dir, "orders").withColumn(
        "total", F.round("o_totalprice", 6))
    joined = asof_join(
        e, o, "user_id", "o_custkey", "ts", "o_orderdate",
        ["o_orderkey", "o_orderdate", "total"], "backward",
    )
    within = F.col("o_orderdate") >= F.col("ts") - F.expr("INTERVAL 365 DAYS")
    return joined.select(
        "event_id", "user_id", "ts",
        F.when(within, F.col("o_orderkey")).alias("o_orderkey"),
        F.when(within, F.col("total")).alias("total"),
    )


@query(
    "ts_gap_detection",
    oracle="""
    SELECT user_id, ts, gap_s FROM (
        SELECT user_id, ts,
               CAST(floor(epoch(ts)) AS BIGINT)
                 - CAST(floor(epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)))
                        AS BIGINT) AS gap_s
        FROM events
    ) WHERE gap_s > 3600
    """,
)
def ts_gap_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Find gaps > 1 h per key — the monitoring dual of sessionization."""
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts")
    return (
        e.select(
            "user_id", "ts",
            (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w)))
            .alias("gap_s"))
        .filter(F.col("gap_s") > 3600)
    )


@query(
    "ts_ohlc_downsample",
    oracle="""
    SELECT user_id,
           CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           round(arg_min(value, ts), 6) AS open_v,
           round(max(value), 6)         AS high_v,
           round(min(value), 6)         AS low_v,
           round(arg_max(value, ts), 6) AS close_v
    FROM events GROUP BY 1, 2
    """,
)
def ts_ohlc_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsample — argmin/argmax by time per bucket (min_by /
    max_by; (user_id, ts) is unique so the argmax is well-defined)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(F.round(F.min_by("value", "ts"), 6).alias("open_v"),
             F.round(F.max("value"), 6).alias("high_v"),
             F.round(F.min("value"), 6).alias("low_v"),
             F.round(F.max_by("value", "ts"), 6).alias("close_v"))
    )


@query(
    "ts_asof_join_forward",
    oracle="""
    SELECT event_id, user_id, ts, o_orderkey, o_orderdate
    FROM events
    ASOF LEFT JOIN orders
      ON events.user_id = orders.o_custkey AND events.ts <= orders.o_orderdate
    """,
)
def ts_asof_join_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of: earliest order at-or-after each event time.
    Oracle = DuckDB's native ASOF JOIN with the <= inequality."""
    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = load_table(spark, sf_dir, "orders")
    return asof_join(
        e, o, "user_id", "o_custkey", "ts", "o_orderdate",
        ["o_orderkey", "o_orderdate"], "forward",
    )


@query(
    "ts_asof_join_nearest",
    oracle="""
    WITH b AS (
        SELECT event_id, user_id, ts, o_orderkey AS bk, o_orderdate AS bt
        FROM events ASOF LEFT JOIN orders
          ON events.user_id = orders.o_custkey
         AND events.ts >= orders.o_orderdate),
    f AS (
        SELECT event_id, o_orderkey AS fk, o_orderdate AS ft
        FROM events ASOF LEFT JOIN orders
          ON events.user_id = orders.o_custkey
         AND events.ts <= orders.o_orderdate)
    SELECT b.event_id, b.user_id, b.ts,
           CASE WHEN bt IS NULL THEN fk
                WHEN ft IS NULL THEN bk
                WHEN (b.ts - bt) <= (ft - b.ts) THEN bk ELSE fk END
               AS o_orderkey
    FROM b JOIN f USING (event_id)
    """,
)
def ts_asof_join_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest as-of (``merge_asof(direction='nearest')``): the closer
    of the backward and forward matches, ties to backward — composed
    from the two directional joins sharing one key shuffle."""
    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = load_table(spark, sf_dir, "orders")
    b = asof_join(e, o, "user_id", "o_custkey", "ts", "o_orderdate",
                  ["o_orderkey", "o_orderdate"], "backward") \
        .withColumnRenamed("o_orderkey", "bk") \
        .withColumnRenamed("o_orderdate", "bt")
    f = asof_join(e, o, "user_id", "o_custkey", "ts", "o_orderdate",
                  ["o_orderkey", "o_orderdate"], "forward") \
        .select("event_id", F.col("o_orderkey").alias("fk"),
                F.col("o_orderdate").alias("ft"))
    # o_orderdate scans as TIMESTAMP_NTZ; cast is identity under the
    # UTC-pinned session and unix_micros requires TIMESTAMP
    def um(c):
        return F.unix_micros(F.col(c).cast("timestamp"))

    back_closer = um("ts") - um("bt") <= um("ft") - um("ts")
    pick = (F.when(F.col("bt").isNull(), F.col("fk"))
            .when(F.col("ft").isNull(), F.col("bk"))
            .when(back_closer, F.col("bk")).otherwise(F.col("fk")))
    return (b.join(f, "event_id")
            .select("event_id", "user_id", "ts", pick.alias("o_orderkey")))


ROLLUP_CUTOFF = "2024-01-25"


@query(
    "ts_rollup_incremental",
    oracle=f"""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(round(sum(value), 6) AS REAL) AS sum_value,
           -- the mean divides the QUANTIZED sum (round 6), mirroring the
           -- merge-boundary quantization on the Spark side exactly
           CAST(round(round(sum(value), 6) / count(*), 6) AS REAL)
               AS mean_value
    FROM events GROUP BY day, event_type
    """,
)
def ts_rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate (hypertable-rollup) maintenance: a daily
    per-event-type rollup kept current by MERGING a pre-materialized
    historical rollup with the aggregate of only the newly arrived raw
    slice — the old raw data is never rescanned. The merge works
    because the kept state is algebraic (sum, count); the mean is
    derived from merged state, never averaged across partials.

    Here the "materialized" half is the rollup of days < {cut} and the
    delta is raw events ≥ {cut}; the oracle aggregates the full raw
    table directly, so the merge path is verified equal to the
    recompute path — the correctness contract of every incremental
    rollup. Scale shape: each half is one (day, type)-keyed partial
    aggregation; the merge re-aggregates rollup-sized rows only. At
    100 TB the historical half is a stored table of ~days×types rows
    and the nightly job touches one day of raw data."""
    e = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts")).alias("day")
    cut = F.lit(ROLLUP_CUTOFF).cast("timestamp")

    def partial(df: DataFrame) -> DataFrame:
        # Partial state is QUANTIZED at the merge boundary (round to the
        # same 6 decimals the output contract uses) — the discipline
        # that keeps merge == recompute bit-stable even when a group's
        # state is assembled from differently-associated partial sums.
        # (With the day-aligned cutoff each (day,type) group's state in
        # fact comes entirely from one side of the split, so the
        # quantization is an idempotent no-op today — it is the guard
        # for a future intra-day cutoff.)
        return (df.groupBy(day, "event_type")
                .agg(F.count("*").alias("n"),
                     F.round(F.sum("value"), 6).alias("sum_value")))

    old_rollup = partial(e.filter(F.col("ts") < cut))      # "materialized"
    delta = partial(e.filter(F.col("ts") >= cut))          # new raw slice
    return (
        old_rollup.unionByName(delta)
        .groupBy("day", "event_type")
        .agg(F.sum("n").alias("n"), F.sum("sum_value").alias("sv"))
        .select(
            "day", "event_type", "n",
            F.round("sv", 6).cast("float").alias("sum_value"),
            F.round(F.col("sv") / F.col("n"), 6).cast("float")
            .alias("mean_value"),
        )
    )


ts_rollup_incremental.__doc__ = ts_rollup_incremental.__doc__.format(
    cut=ROLLUP_CUTOFF)


@query(
    "ts_scd2_islands",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_type, ts, event_id,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id)
               - row_number() OVER (PARTITION BY user_id, event_type
                                    ORDER BY ts, event_id) AS island
        FROM events)
    SELECT user_id, event_type,
           CAST(min(ts) AS TIMESTAMP) AS valid_from,
           CAST(max(ts) AS TIMESTAMP) AS valid_to,
           CAST(count(*) AS BIGINT) AS n_events
    FROM ordered GROUP BY user_id, event_type, island
    """,
)
def ts_scd2_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type-2) history build: collapse each
    user's consecutive same-event_type run into one validity interval
    (valid_from/valid_to) — gaps-and-islands via the double-row_number
    difference, the standard O(n log n)-per-key shape. Both windows
    partition on user_id (plus type), so ONE shuffle keyed by user
    serves both sorts; the grouped collapse reuses the same
    partitioning. Deterministic tie-break (ts, event_id) makes the
    island ids — and therefore the intervals — engine-independent."""
    e = load_table(spark, sf_dir, "events")
    w_u = W.partitionBy("user_id").orderBy("ts", "event_id")
    w_ut = W.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id")
    island = (F.row_number().over(w_u)
              - F.row_number().over(w_ut)).alias("island")
    return (
        e.select("user_id", "event_type", "ts", island)
        .groupBy("user_id", "event_type", "island")
        .agg(F.min("ts").alias("valid_from"),
             F.max("ts").alias("valid_to"),
             F.count("*").alias("n_events"))
        .drop("island")
    )


SUBSEQ_LEN = 24
SUBSEQ_TOPK = 5


def _subseq_oracle() -> str:
    return f"""
    WITH hourly AS (
        SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr,
               CAST(CAST(round(avg(value), 6) AS REAL) AS DOUBLE) AS v
        FROM events GROUP BY event_type, hr),
    idx AS (
        SELECT event_type, hr, v,
               row_number() OVER (PARTITION BY event_type ORDER BY hr) AS i
        FROM hourly),
    win AS (
        SELECT event_type, hr, i,
               list(v) OVER (PARTITION BY event_type ORDER BY i
                             ROWS BETWEEN CURRENT ROW
                             AND {SUBSEQ_LEN - 1} FOLLOWING) AS w
        FROM idx),
    full_win AS (SELECT * FROM win WHERE len(w) = {SUBSEQ_LEN}),
    probe AS (
        SELECT w AS pw FROM full_win WHERE event_type = 'click'
        ORDER BY i DESC LIMIT 1),
    scored AS (
        SELECT f.event_type, f.hr,
               list_sum(list_transform(generate_series(1, {SUBSEQ_LEN}),
                        j -> (f.w[j] - p.pw[j]) * (f.w[j] - p.pw[j])))
                   AS dist
        FROM full_win f, probe p)
    SELECT event_type, hr, CAST(round(dist, 6) AS REAL) AS dist
    FROM scored ORDER BY dist, event_type, hr LIMIT {SUBSEQ_TOPK}
    """


@query("ts_subseq_similarity", oracle=_subseq_oracle())
def ts_subseq_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series subsequence similarity search (the UCR-suite shape
    distributed engines specialize for — REPOSE/Odyssey territory):
    find the {k} sampled {n}-hour windows, across every event type's
    hourly series, closest in squared Euclidean distance to a probe
    window (the latest full window of the 'click' series).

    Plan shape: ONE pass builds every candidate subsequence via a
    sliding window-frame ``collect_list`` over the hourly aggregate
    (series-length rows per type, never the raw events); the probe is a
    1-row broadcast; distance is an in-order JVM fold over the paired
    arrays. Hourly values are quantized round(6)→float32→double before
    windowing so both engines slide over bit-identical series (same
    trick as the k-means centroid re-quantization). At 100 TB the
    hourly series table is ~10⁴ smaller than raw events — the sliding
    search is cheap; the aggregation is the one heavy (and
    partial-agg-combined) pass."""
    e = load_table(spark, sf_dir, "events")
    hourly = (
        e.groupBy("event_type",
                  F.date_trunc("hour", F.col("ts")).alias("hr"))
        .agg(F.round(F.avg("value"), 6).cast("float").cast("double")
             .alias("v"))
    )
    w_idx = W.partitionBy("event_type").orderBy("hr")
    idx = hourly.withColumn("i", F.row_number().over(w_idx))
    w_seq = (W.partitionBy("event_type").orderBy("i")
             .rowsBetween(W.currentRow, SUBSEQ_LEN - 1))
    win = idx.withColumn("w", F.collect_list("v").over(w_seq))
    full_win = win.filter(F.size("w") == SUBSEQ_LEN)
    probe = (full_win.filter(F.col("event_type") == "click")
             .orderBy(F.desc("i")).limit(1)
             .select(F.col("w").alias("pw")))
    dist = F.aggregate(
        F.zip_with(F.col("w"), F.col("pw"),
                   lambda a, b: (a - b) * (a - b)),
        F.lit(0.0), lambda acc, x: acc + x)
    return (
        full_win.crossJoin(F.broadcast(probe))
        .select("event_type", "hr", dist.alias("dist"))
        .orderBy("dist", "event_type", "hr")
        .limit(SUBSEQ_TOPK)
        .select("event_type", "hr",
                F.round("dist", 6).cast("float").alias("dist"))
    )


ts_subseq_similarity.__doc__ = ts_subseq_similarity.__doc__.format(
    k=SUBSEQ_TOPK, n=SUBSEQ_LEN)


@query(
    "ts_time_weighted_avg",
    oracle="""
    WITH nxt AS (
        SELECT event_type, value,
               date_diff('microsecond', ts,
                         lead(ts) OVER (PARTITION BY event_type
                                        ORDER BY ts, event_id)) / 1e6
                   AS dt
        FROM events)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_intervals,
           CAST(round(sum(dt), 6) AS REAL) AS total_sec,
           CAST(round(sum(value * dt) / sum(dt), 6) AS REAL) AS twa
    FROM nxt WHERE dt IS NOT NULL GROUP BY event_type
    """,
)
def ts_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (the TWAP shape): each observation is
    weighted by how long it was "current" — the time until the next
    observation in its series — so irregular sampling doesn't bias the
    mean toward burst periods. One lead() window keyed by the series
    (deterministic (ts, event_id) order) followed by one grouped
    reduction; the open-ended final observation is excluded. This is
    the correct aggregate for sensor/price series where plain avg()
    answers a different question (per-sample mean, not per-second)."""
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy("ts", "event_id")
    dt = ((F.unix_micros(F.lead("ts").over(w))
           - F.unix_micros(F.col("ts"))) / 1e6).alias("dt")
    nxt = e.select("event_type", "value", dt).filter(F.col("dt").isNotNull())
    return (
        nxt.groupBy("event_type")
        .agg(F.count("*").alias("n_intervals"),
             F.round(F.sum("dt"), 6).cast("float").alias("total_sec"),
             F.round(F.sum(F.col("value") * F.col("dt")) / F.sum("dt"), 6)
             .cast("float").alias("twa"))
    )


@query(
    "ts_timezone_battery",
    oracle="""
    SELECT event_id,
           CAST(ts AT TIME ZONE 'UTC' AT TIME ZONE 'America/New_York'
                AS TIMESTAMP) AS ny,
           CAST(ts AT TIME ZONE 'UTC' AT TIME ZONE 'Asia/Tokyo'
                AS TIMESTAMP) AS tokyo,
           CAST(ts AT TIME ZONE 'UTC' AT TIME ZONE 'Europe/Berlin'
                AS TIMESTAMP) AS berlin
    FROM events WHERE event_id % 20 = 0
    """,
)
def ts_timezone_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timezone conversion battery: UTC wall-clock instants rendered in
    three IANA zones (one with US DST, one fixed-offset, one with EU
    DST — the January dataset pins the winter offsets). Both engines
    resolve the same tzdata rules; ``convert_timezone`` is a pure
    projection, so this costs nothing at any scale. The reference
    computes in naive UTC only (``dask_processing.py:29``) — zone
    rendering is a presentation-layer capability its users would
    otherwise hand-roll."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_id") % 20 == 0)
    ntz = F.col("ts").cast("timestamp_ntz")
    return e.select(
        "event_id",
        *[F.convert_timezone(F.lit("UTC"), F.lit(z), ntz)
          .cast("timestamp").alias(a)
          for z, a in [("America/New_York", "ny"), ("Asia/Tokyo", "tokyo"),
                       ("Europe/Berlin", "berlin")]])


@query(
    "ts_gap_fill_interpolate",
    oracle="""
    WITH samples AS (
        SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr,
               CAST(CAST(round(avg(value), 6) AS REAL) AS DOUBLE) AS v
        FROM events WHERE user_id % 50 = 0
        GROUP BY event_type, hr),
    spine AS (
        SELECT event_type,
               unnest(generate_series(min(hr), max(hr),
                                      INTERVAL 1 HOUR)) AS hr
        FROM samples GROUP BY event_type),
    joined AS (
        SELECT s.event_type, s.hr, m.v,
               epoch(s.hr) / 3600 AS i
        FROM spine s LEFT JOIN samples m
          ON m.event_type = s.event_type AND m.hr = s.hr),
    ctx AS (
        SELECT event_type, hr, v, i,
               last_value(v IGNORE NULLS) OVER w AS pv,
               last_value(CASE WHEN v IS NOT NULL THEN i END IGNORE NULLS)
                   OVER w AS pi,
               first_value(v IGNORE NULLS) OVER w2 AS nv,
               first_value(CASE WHEN v IS NOT NULL THEN i END IGNORE NULLS)
                   OVER w2 AS ni
        FROM joined
        WINDOW w AS (PARTITION BY event_type ORDER BY i
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               w2 AS (PARTITION BY event_type ORDER BY i
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
    SELECT event_type, hr, v IS NOT NULL AS observed,
           CAST(round(CASE
               WHEN v IS NOT NULL THEN v
               WHEN pv IS NULL THEN nv
               WHEN nv IS NULL THEN pv
               ELSE pv + (nv - pv) * (i - pi) / (ni - pi)
           END, 6) AS REAL) AS v_filled
    FROM ctx
    """,
)
def ts_gap_fill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap filling with linear interpolation (the continuous-aggregate
    ``interpolate``/``locf`` shape): a thinned hourly series (~5% of
    hours observed) is densified onto a complete per-key hour spine
    (``sequence`` + explode — generated, never scanned), then every
    missing hour gets the linear blend of its bracketing observations
    (edges fall back to nearest). Forward/backward context comes from
    two ``IGNORE NULLS`` window passes over the SAME key partitioning —
    one shuffle serves spine build and both fills. Observed values are
    quantized before interpolation so both engines blend bit-identical
    inputs."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("user_id") % 50 == 0)
    samples = (
        e.groupBy("event_type",
                  F.date_trunc("hour", F.col("ts")).alias("hr"))
        .agg(F.round(F.avg("value"), 6).cast("float").cast("double")
             .alias("v")))
    spine = (
        samples.groupBy("event_type")
        .agg(F.min("hr").alias("lo"), F.max("hr").alias("hi"))
        .select("event_type",
                F.explode(F.sequence(
                    "lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hr")))
    joined = (
        spine.join(samples, ["event_type", "hr"], "left")
        .withColumn("i", F.unix_timestamp("hr") / 3600))
    w_back = (W.partitionBy("event_type").orderBy("i")
              .rowsBetween(W.unboundedPreceding, W.currentRow))
    w_fwd = (W.partitionBy("event_type").orderBy("i")
             .rowsBetween(W.currentRow, W.unboundedFollowing))
    obs_i = F.when(F.col("v").isNotNull(), F.col("i"))
    ctx = joined.select(
        "event_type", "hr", "v", "i",
        F.last("v", ignorenulls=True).over(w_back).alias("pv"),
        F.last(obs_i, ignorenulls=True).over(w_back).alias("pi"),
        F.first("v", ignorenulls=True).over(w_fwd).alias("nv"),
        F.first(obs_i, ignorenulls=True).over(w_fwd).alias("ni"))
    filled = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("pv").isNull(), F.col("nv"))
        .when(F.col("nv").isNull(), F.col("pv"))
        .otherwise(F.col("pv") + (F.col("nv") - F.col("pv"))
                   * (F.col("i") - F.col("pi"))
                   / (F.col("ni") - F.col("pi"))))
    return ctx.select(
        "event_type", "hr", F.col("v").isNotNull().alias("observed"),
        F.round(filled, 6).cast("float").alias("v_filled"))
