"""Structured Streaming pipelines (SURVEY.md §2.B "Streaming", §3.4).

The reference's streaming is architectural: S3 OBJECT_CREATED events
trigger a consumer Lambda per file (``app.py:174-175``), i.e. a
micro-batch file stream at one-minute cadence (``app.py:131-134``).
Spark-first mapping: ``readStream`` file source discovers new files;
``Trigger.AvailableNow`` gives the Lambda-style episodic run (process
everything present, then stop); watermarks bound late data; memory /
foreachBatch sinks close the loop.

Every streaming query starts through one runner, ``start_stream``: one
throwaway checkpoint, the pinned state width (``_pinned``), a memory or
foreachBatch sink, and an AvailableNow or processing-time trigger. The
episodic queries end in ``drain`` (run to termination, return the
memory table); the processing-time ones wait on ``_await_rows``, which
polls the query's progress metadata until enough input rows landed.

Batch-equivalence is the correctness strategy (SURVEY.md §5.2-6): every
streaming query here runs in COMPLETE or deduplicating mode over a
static directory, so its result equals the batch computation the DuckDB
oracle runs.

Scale posture: file-source state (seen-files log) and agg state live in
the checkpoint; watermark + windowed agg keeps state bounded; the
foreachBatch sink pattern is the idempotent-write answer for "write to
S3, Redshift, etc" (``layer/python/dask_processing.py:26-27``).
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from dask_lambda_example_spark.io import (
    load_table, normalize_events_ts, table_schema)
from dask_lambda_example_spark.registry import query
from dask_lambda_example_spark.session import scratch_mkdtemp

_COUNTER = {"n": 0}

# State stores per stateful operator, pinned by ``start_stream``.
STREAM_STATE_PARTITIONS = 8


def _mem_table(prefix: str) -> str:
    _COUNTER["n"] += 1
    return f"{prefix}_{_COUNTER['n']}"


@contextmanager
def _pinned(spark: SparkSession, key: str, value: str):
    """Set the session conf ``key`` to ``value`` for the block, then
    restore its previous value, or unset it if it had none."""
    prev = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def start_stream(df: DataFrame, *, mode: str = "complete",
                 table: str | None = None,
                 batch: Callable[[DataFrame, int], None] | None = None,
                 every: str | None = None) -> StreamingQuery:
    """Start ``df`` as a streaming query and return the running
    StreamingQuery; the caller awaits or stops it.

    The sink is the memory table ``table``, or ``foreachBatch(batch)``
    when ``batch`` is given. The trigger is ``Trigger.AvailableNow``
    (the Lambda-style episodic run, A19: process every file present,
    then stop), or ``processingTime=every`` when ``every`` is given
    (A20: the reference's producer runs on a one-minute EventBridge
    rate, ``app.py:131-134``; poll the source every ``every`` and
    process whatever arrived). The checkpoint is a fresh throwaway
    directory.

    The state width is pinned around the start: a stateful stream
    creates one state store PER shuffle partition PER stateful
    operator, and every micro-batch snapshots every store — so the
    partition count is a per-batch FIXED COST, not a parallelism win,
    until per-partition state is large enough to matter. On local bench
    data 32 stores made the stream-stream join 5× slower than 8 (pure
    checkpoint-file overhead). The query copies the session conf at
    start, and the count is baked into its checkpoint at the first
    batch (throwaway here), so pinning per start is safe; at cluster
    scale raise ``STREAM_STATE_PARTITIONS`` to O(cores) *before* the
    first run against a durable checkpoint — it cannot change across
    restarts of the same checkpoint."""
    w = (df.writeStream.outputMode(mode)
         .option("checkpointLocation", scratch_mkdtemp("ckpt_")))
    w = (w.format("memory").queryName(table) if batch is None
         else w.foreachBatch(batch))
    w = (w.trigger(availableNow=True) if every is None
         else w.trigger(processingTime=every))
    with _pinned(df.sparkSession, "spark.sql.shuffle.partitions",
                 str(STREAM_STATE_PARTITIONS)):
        return w.start()


def drain(df: DataFrame, mode: str = "complete") -> DataFrame:
    """Run ``df`` to termination under AvailableNow into a fresh memory
    table and return that table."""
    table = _mem_table("stream")
    start_stream(df, mode=mode, table=table).awaitTermination()
    return df.sparkSession.table(table)


def _await_rows(q: StreamingQuery, n: int, deadline_s: float,
                _clock=time.time, _sleep=time.sleep) -> bool:
    """Block until ``q``'s committed micro-batches hold at least ``n``
    input rows in total, or ``deadline_s`` passes; return whether they
    did.

    Polls the query's PROGRESS METADATA (numInputRows per committed
    micro-batch — driver-side state, no Spark job) every 0.25 s, never
    a count() per tick, and exits the moment the rows land — so the
    deadline is a worst-case bound, not a sleep. ``_clock`` /
    ``_sleep`` are injectable for the unit test that replays a
    slow-first-batch timeline without a real stream."""
    deadline = _clock() + deadline_s
    while True:
        if sum(p["numInputRows"] for p in q.recentProgress) >= n:
            return True
        if _clock() >= deadline:
            return False
        _sleep(0.25)


def events_stream(spark: SparkSession, sf_dir: str,
                  files_per_trigger: int | None = None) -> DataFrame:
    """Streaming scan of the events table via the file source (the
    S3-event-trigger analog, A19). Schema is pinned from the parquet
    footer through ``io.table_schema`` (inferred once per table
    fingerprint, no inference mid-stream); ts converts with
    ``io.normalize_events_ts``, exactly as ``io.load_table`` does.
    ``files_per_trigger`` sets ``maxFilesPerTrigger`` so a
    directory-of-parts backlog arrives as a sliced micro-batch sequence
    instead of one giant batch (the audit tooling's arrival model;
    registered queries leave it unset)."""
    batch_schema = table_schema(spark, sf_dir, "events")
    # two on-disk layouts exist: a single file `events.parquet` (driver
    # testdata) and a DIRECTORY of part files (the scale tiers from
    # tools/make_sf1.py). The file source treats a directory path as
    # its root, so point at the table path when it IS a directory; the
    # glob filter is only needed for the single-file-in-shared-dir case
    # (without it the stream would ingest every sibling table).
    tbl = f"{sf_dir}/events.parquet"
    reader = spark.readStream.schema(batch_schema)
    if files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(files_per_trigger))
    if os.path.isdir(tbl):
        stream = reader.parquet(tbl)
    else:
        stream = (
            reader.option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
    return normalize_events_ts(stream, batch_schema)


def producer_counts_stream(spark: SparkSession, path: str) -> DataFrame:
    """Streaming file-source scan of the producer's hive-partitioned
    JSON layout (``src/lambda_producer.py:22-27``) — new files under
    ``year=…/…/second=…`` are discovered on every trigger tick, the
    event-driven consumer analog (``app.py:174-175``)."""
    from dask_lambda_example_spark.sources.producer import PAYLOAD_SCHEMA

    return (spark.readStream.schema(PAYLOAD_SCHEMA)
            .option("basePath", path)
            .json(f"{path}/year=*/month=*/day=*/hour=*/minute=*/second=*"))


@query(
    "stream_tumbling_counts",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS w_start,
           event_type, count(*) AS n, round(sum(value), 6) AS sum_v
    FROM events GROUP BY 1, 2
    """,
)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tumbling-window aggregation == its batch equivalent
    over a static input (complete mode: all windows emitted)."""
    agg = (
        events_stream(spark, sf_dir)
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count("*").alias("n"),
             F.round(F.sum("value"), 6).alias("sum_v"))
        .select(F.col("w.start").alias("w_start"), "event_type", "n", "sum_v")
    )
    return drain(agg)


@query(
    "stream_watermark_late_data",
    oracle="""
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS w_start,
           count(*) AS n
    FROM events GROUP BY 1
    """,
)
def stream_watermark_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked hourly windows. With a static input processed in one
    AvailableNow run, nothing is later than the watermark when it
    advances, so complete-mode output equals batch — the watermark
    machinery (state eviction at scale) is still exercised."""
    agg = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("w_start"), "n")
    )
    return drain(agg)


# the event key is unique, so both streaming dedups equal the batch
# DISTINCT ON
_DEDUP_ORACLE = """
    SELECT event_type, count(*) AS n FROM (
        SELECT DISTINCT ON (event_id) event_id, event_type FROM events
        ORDER BY event_id
    ) GROUP BY event_type
    """


@query("stream_dedup", oracle=_DEDUP_ORACLE)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dropDuplicates on the event key, then aggregate —
    chained stateful operators (Spark ≥3.4). event_id is unique in the
    data so dedup is a no-op semantically; the oracle mirrors with
    DISTINCT ON."""
    deduped = (
        events_stream(spark, sf_dir)
        .dropDuplicates(["event_id"])
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )
    return drain(deduped)


@query(
    "stream_sliding_window",
    oracle="""
    SELECT bucket AS w_start, round(avg(value), 6) AS mean_v
    FROM (
        SELECT unnest([
            CAST(date_trunc('hour', ts) AS TIMESTAMP),
            CAST(date_trunc('hour', ts) AS TIMESTAMP) - INTERVAL 1 HOUR,
            CAST(date_trunc('hour', ts) AS TIMESTAMP) - INTERVAL 2 HOUR
        ]) AS bucket, value
        FROM events
    ) GROUP BY bucket
    """,
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sliding windows (3 h window / 1 h slide)."""
    agg = (
        events_stream(spark, sf_dir)
        .groupBy(F.window("ts", "3 hours", "1 hour").alias("w"))
        .agg(F.round(F.avg("value"), 6).alias("mean_v"))
        .select(F.col("w.start").alias("w_start"), "mean_v")
    )
    return drain(agg)


def foreach_batch_to_parquet(spark: SparkSession, sf_dir: str,
                             out_dir: str) -> int:
    """The "write to S3, Redshift, etc" sink intent of the reference
    (``layer/python/dask_processing.py:26-27``): idempotent micro-batch
    writes via foreachBatch (dedup on batch_id gives exactly-once over
    the at-least-once stream). Returns rows written; used by tests."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (batch_df.withColumn("batch_id", F.lit(batch_id))
         .write.mode("append").parquet(out_dir))

    counts = events_stream(spark, sf_dir).groupBy("event_type").agg(
        F.count("*").alias("n"))
    start_stream(counts, batch=write_batch).awaitTermination()
    return spark.read.parquet(out_dir).count()


@query(
    "stream_stateful_running_totals",
    oracle="""
    SELECT user_id, count(*) AS n_events, round(sum(value), 6) AS sum_value
    FROM events GROUP BY user_id
    """,
)
def stream_stateful_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``
    (SURVEY.md §2.B "per-key running state"): per-user running
    count/sum kept in explicit GroupState across micro-batches.

    The static input arrives as one AvailableNow batch, so each key
    emits exactly one update and the result equals the batch aggregate
    the oracle computes — while exercising the real state machinery
    (state schema, get/update, Arrow exchange). At scale, state is
    hash-partitioned by key in the checkpoint; a timeout policy
    (``GroupStateTimeout`` other than NoTimeout) bounds it for keys
    that go quiet.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    def running_totals(key, pdfs, state):
        import pandas as _pd
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield _pd.DataFrame({
            "user_id": [key[0]], "n_events": [n],
            "sum_value": [round(total, 6)],
        })

    out = (
        events_stream(spark, sf_dir)
        .groupBy("user_id")
        .applyInPandasWithState(
            running_totals,
            outputStructType="user_id long, n_events long, sum_value double",
            stateStructType="n long, total double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return drain(out, "update")


@query(
    "stream_session_window",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         IS NULL
                         OR ts - lag(ts) OVER (PARTITION BY user_id
                                               ORDER BY ts, event_id)
                            > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM events),
    sessions AS (
        SELECT user_id, ts, value,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS session_id
        FROM flagged)
    SELECT user_id, min(ts) AS s_start, count(*) AS n,
           round(sum(value), 6) AS sum_v
    FROM sessions GROUP BY user_id, session_id
    """,
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING session windows (``session_window`` under
    ``readStream`` — the stateful merge-as-events-arrive form; state per
    open session, closed by watermark advance). Static input in one
    AvailableNow batch ⇒ equals the batch sessionization the oracle
    derives via lag-gap-cumsum."""
    agg = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n"),
             F.round(F.sum("value"), 6).alias("sum_v"))
        .select("user_id", F.col("w.start").alias("s_start"), "n", "sum_v")
    )
    return drain(agg)


def _view_click_join(spark: SparkSession, sf_dir: str,
                     how: str) -> DataFrame:
    """The attribution join of both stream-stream queries: the view
    stream joined (``how``) to the same user's clicks within the
    following hour, as ``(user_id, view_id, click_id,
    micros_to_click)``, each leg under a 2 h watermark."""
    views = (events_stream(spark, sf_dir)
             .filter(F.col("event_type") == "view")
             .select(F.col("user_id"),
                     F.col("event_id").alias("view_id"),
                     F.col("ts").alias("view_ts"))
             .withWatermark("view_ts", "2 hours"))
    clicks = (events_stream(spark, sf_dir)
              .filter(F.col("event_type") == "click")
              .select(F.col("user_id").alias("c_user_id"),
                      F.col("event_id").alias("click_id"),
                      F.col("ts").alias("click_ts"))
              .withWatermark("click_ts", "2 hours"))
    return (
        views.join(
            clicks,
            (F.col("user_id") == F.col("c_user_id"))
            & (F.col("click_ts") > F.col("view_ts"))
            & (F.col("click_ts") <= F.col("view_ts") + F.expr("INTERVAL 1 HOUR")),
            how,
        )
        .select(
            "user_id", "view_id", "click_id",
            (F.unix_micros("click_ts") - F.unix_micros("view_ts"))
            .alias("micros_to_click"),
        )
    )


@query(
    "stream_stream_join",
    oracle="""
    SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id,
           epoch_us(c.ts) - epoch_us(v.ts) AS micros_to_click
    FROM events v JOIN events c
      ON v.user_id = c.user_id
     AND v.event_type = 'view' AND c.event_type = 'click'
     AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL 1 HOUR
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: the view stream matched to the same
    user's click stream within the following hour (attribution-window
    semantics). Both legs carry a watermark and the join condition
    carries the time range — that pair is what lets Structured
    Streaming BOUND the buffered state: a view row can be dropped from
    the join buffer once the click-side watermark passes view.ts + 1 h,
    so state is (rate × window), not (rate × job lifetime). Append
    mode; over a static input the emitted pairs equal the batch join
    the oracle runs.

    At scale the join shuffles both streams on user_id once per
    micro-batch and the range predicate prunes inside each key group —
    the same shape as the batch range join, plus watermark-driven state
    eviction."""
    return drain(_view_click_join(spark, sf_dir, "inner"), "append")


@query(
    "stream_static_join",
    oracle="""
    SELECT c.c_mktsegment, count(*) AS n, round(sum(e.value), 6) AS sum_v
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY c.c_mktsegment
    """,
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream–static join: the arriving event stream enriched against a
    batch dimension table (the reference's consumer reads a static
    config/catalog beside the event payload — the same shape). The
    static side is broadcast, so each micro-batch joins map-side with
    no stream-side shuffle and no state: stream–static equi-joins are
    STATELESS in Structured Streaming (only stream–stream joins buffer
    rows), which is what keeps this safe at any stream rate. Complete-
    mode aggregation over the static input equals the batch join the
    oracle runs."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment")
    joined = (
        events_stream(spark, sf_dir)
        .join(F.broadcast(cust), F.col("user_id") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n"),
             F.round(F.sum("value"), 6).alias("sum_v"))
    )
    return drain(joined)


@query("stream_rate_source_smoke")  # wall-clock-driven source → rows-only
def stream_rate_source_smoke(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``rate`` source — streaming analog of the synthetic
    timeseries (SURVEY.md §1.3): N rows/second of (timestamp, value),
    generated distributedly. Timestamps are wall-clock ⇒ no DuckDB
    oracle, but the query is INVARIANT-GATED, not merely rows-only:
    the rate source emits the exact sequence value = 0..T-1, so after
    any complete-mode batch the per-letter bucket (value % 26 == k)
    must hold exactly n_k = ceil((T-k)/26) rows with mean exactly
    k + 13·(n_k − 1) — the body reconstructs T from the collected
    26-row aggregate and asserts every count and mean bit-exactly,
    value-checking the distributed generator end-to-end."""
    stream = (spark.readStream.format("rate")
              .option("rowsPerSecond", 1000).load()
              .withColumn("name", F.char(F.lit(97) + (F.col("value") % 26)
                                         .cast("int"))))
    agg = stream.groupBy("name").agg(
        F.count("*").alias("n"), F.avg("value").alias("mean_v"))
    table = _mem_table("stream_rate")
    q = start_stream(agg, table=table, every="1 second")
    try:
        # let the first micro-batch land, then stop — episodic use of a
        # continuous trigger (the reference's 1-minute cadence,
        # app.py:131-134, compressed for test time). The wait exits the
        # moment a batch commits; the generous 90 s deadline only costs
        # wall-clock on a host too loaded to commit any batch at all
        # (on a loaded 32-core host the first 1 s-trigger batch took
        # well over the 8 s this gate once had).
        landed = _await_rows(q, 1, deadline_s=90)
    finally:
        q.stop()
    out = spark.table(table)
    # invariant gate (bounded 26-row collect): values are the exact
    # sequence 0..T-1, so bucket k must hold ceil((T-k)/26) rows whose
    # mean is the arithmetic-series midpoint k + 13*(n_k - 1)
    rows = out.collect()
    total = sum(r["n"] for r in rows)
    # landed=False with total>0 just means the batch committed in the
    # stop window after the last poll — still a pass; the gate is rows.
    assert total > 0, (
        f"no micro-batch landed within the deadline (landed={landed})")
    for r in rows:
        k = ord(r["name"]) - 97
        assert 0 <= k < 26, r
        n_exp = (total - k + 25) // 26
        assert r["n"] == n_exp, (r, total)
        assert r["mean_v"] == k + 13.0 * (n_exp - 1), (r, total)
    return out


@query(
    "stream_stream_left_outer",
    oracle="""
    WITH v AS (SELECT user_id, event_id AS view_id, ts AS view_ts
               FROM events WHERE event_type = 'view'),
    c AS (SELECT user_id, event_id AS click_id, ts AS click_ts
          FROM events WHERE event_type = 'click'),
    m AS (SELECT least((SELECT max(view_ts) FROM v),
                       (SELECT max(click_ts) FROM c)) AS mx)
    SELECT v.user_id, v.view_id, c.click_id,
           epoch_us(c.click_ts) - epoch_us(v.view_ts) AS micros_to_click
    FROM v JOIN c
      ON v.user_id = c.user_id
     AND c.click_ts > v.view_ts
     AND c.click_ts <= v.view_ts + INTERVAL 1 HOUR
    UNION ALL
    SELECT v.user_id, v.view_id,
           CAST(NULL AS BIGINT) AS click_id,
           CAST(NULL AS BIGINT) AS micros_to_click
    FROM v, m
    WHERE NOT EXISTS (
            SELECT 1 FROM c
            WHERE c.user_id = v.user_id
              AND c.click_ts > v.view_ts
              AND c.click_ts <= v.view_ts + INTERVAL 1 HOUR)
      AND v.view_ts + INTERVAL 3 HOUR < m.mx
    """,
)
def stream_stream_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join: every view either matches clicks
    in its attribution hour or is emitted with NULLs — but, unlike the
    batch left join, the NULL row can only be emitted once the
    click-side WATERMARK proves no match can still arrive. That
    state-eviction contract is part of the result: views younger than
    (max event time − watermark delay − join window) are still
    buffered when the stream drains and emit nothing. The oracle
    encodes exactly that — unmatched views qualify only below the
    `view_ts + 3 h < global watermark base` cutoff (1 h window + 2 h
    delay), where the base is the MIN of the two streams' max event
    times (Spark's multiple-watermark policy) — so the check verifies
    Spark's outer-join eviction semantics, not just the join
    predicate.

    State per key is bounded by (rate × 3 h) regardless of job
    lifetime; each micro-batch shuffles both sides on user_id once —
    the batch range-join shape plus watermark-driven cleanup."""
    return drain(_view_click_join(spark, sf_dir, "left_outer"), "append")


@query("stream_dedup_within_watermark", oracle=_DEDUP_ORACLE)
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dropDuplicatesWithinWatermark``: the dedup whose state is
    BOUNDED — a key is only remembered until the watermark passes its
    event time + delay, unlike plain streaming ``dropDuplicates``
    whose seen-key set grows for the job's lifetime. This is the only
    dedup you can afford on an unbounded 100 TB/day stream; the
    trade-off (duplicates separated by more than the delay survive) is
    the operator's contract, and over the static one-batch input it is
    exact, so the oracle equals the batch DISTINCT ON."""
    deduped = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    agg = (deduped.groupBy("event_type")
           .agg(F.count("*").alias("n")))
    return drain(agg)


def stream_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT REGISTERED as a query: ``transformWithStateInPandas``'s
    driver worker needs the ``google.protobuf`` Python package, absent
    in this container — the capability is exercised by an import-gated
    test (``tests/test_streaming_ingest.py``) exactly like the Spark
    Connect smoke, and registers cleanly wherever protobuf exists.

    Custom stateful operator on the MODERN Spark 4 API
    (``transformWithStateInPandas`` + ``StatefulProcessor``): per-user
    count and value range kept in a typed ``ValueState`` handle. Next
    to ``applyInPandasWithState`` this is the forward path — explicit
    state variables (value/list/map state, TTL support) instead of one
    packed tuple, an init/close lifecycle, and timers — and it REQUIRES
    the RocksDB state store provider, which is also the right provider
    at scale (incremental snapshots, state larger than heap, no JVM-GC
    amplification). Static input → one batch → output equals the batch
    aggregate the oracle runs."""
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class RangeProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            import pyspark.sql.types as T
            schema = T.StructType([
                T.StructField("n", T.LongType()),
                T.StructField("vmin", T.DoubleType()),
                T.StructField("vmax", T.DoubleType()),
            ])
            self.state = handle.getValueState("agg", schema)

        def handleInputRows(self, key, rows, timerValues):
            import pandas as _pd
            if self.state.exists():
                n, vmin, vmax = self.state.get()
            else:
                n, vmin, vmax = 0, float("inf"), float("-inf")
            for pdf in rows:
                n += len(pdf)
                vmin = min(vmin, float(pdf["value"].min()))
                vmax = max(vmax, float(pdf["value"].max()))
            self.state.update((n, vmin, vmax))
            yield _pd.DataFrame({
                "user_id": [key[0]], "n_events": [n],
                "value_range": [round(vmax - vmin, 6)],
            })

        def close(self) -> None:
            pass

    with _pinned(
            spark, "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"):
        out = (
            events_stream(spark, sf_dir)
            .groupBy("user_id")
            .transformWithStateInPandas(
                RangeProcessor(),
                outputStructType="user_id long, n_events long, value_range double",
                outputMode="Update",
                timeMode="None",
            )
        )
        return drain(out, "update")
