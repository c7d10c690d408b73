"""Custom connector via the Python Data Source API (Spark 4,
``pyspark.sql.datasource``): a deterministic synthetic trades source.

The reference's data plane starts from a producer that *generates*
records on a schedule (``src/lambda_producer.py:14-27``); its Spark
analog until now was ``range()``+expressions (`sources/synthetic.py`).
This module closes the remaining connector seam: the same generator as
a REGISTERED SOURCE FORMAT — ``spark.read.format("synthetic_trades")``
— i.e. the extension point a user would use for a real external system
(REST API, message queue, bespoke file format) without touching JVM
code.

Scale posture: the source declares explicit input partitions, so reads
parallelize like any file scan — each task materializes only its own
partition's rows, one at a time from a generator (no per-partition
list). Generation is pure integer arithmetic on the global row id:
deterministic, seed-free, engine-replicable — the DuckDB oracle
reproduces the identical rows from ``generate_series``, value-hash
included. Python-side generation costs the Python boundary; for hot
paths the JVM-side ``range()`` generator remains the fast variant —
this is the CONNECTOR seam, priced accordingly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource, DataSourceReader, DataSourceWriter, InputPartition,
    SimpleDataSourceStreamReader, WriterCommitMessage)

from dask_lambda_example_spark.registry import query
from dask_lambda_example_spark.session import scratch_mkdtemp

N_PARTS = 8
ROWS_PER_PART = 5000
# Knuth multiplicative hash constant — exact in int64 for our id range
MULT = 2654435761


class SyntheticTradesDataSource(DataSource):
    """``format("synthetic_trades")`` — options: parts, rows_per_part."""

    @classmethod
    def name(cls) -> str:
        return "synthetic_trades"

    def schema(self) -> str:
        return "trade_id bigint, side string, qty bigint, price double"

    def reader(self, schema) -> "SyntheticTradesReader":
        return SyntheticTradesReader(
            int(self.options.get("parts", N_PARTS)),
            int(self.options.get("rows_per_part", ROWS_PER_PART)),
        )


class SyntheticTradesReader(DataSourceReader):
    def __init__(self, parts: int, rows_per_part: int) -> None:
        self.parts = parts
        self.rows_per_part = rows_per_part

    def partitions(self):  # explicit split list → parallel scan
        return [InputPartition(p) for p in range(self.parts)]

    def read(self, partition):
        base = partition.value * self.rows_per_part
        for i in range(self.rows_per_part):
            g = base + i
            h = (g * MULT) % 1_000_000
            yield (g, "buy" if g % 2 == 0 else "sell",
                   g % 100 + 1, h / 100.0)


@query(
    "src_python_datasource",
    oracle=f"""
    WITH t AS (
      SELECT g AS trade_id,
             CASE WHEN g % 2 = 0 THEN 'buy' ELSE 'sell' END AS side,
             g % 100 + 1 AS qty,
             (g * {MULT}) % 1000000 / 100.0 AS price
      FROM generate_series(0, {N_PARTS * ROWS_PER_PART - 1}) AS s(g))
    SELECT side, count(*) AS n_trades,
           CAST(sum(qty) AS BIGINT) AS total_qty,
           CAST(round(avg(price), 6) AS REAL) AS avg_price,
           round(min(price), 6) AS min_price,
           round(max(price), 6) AS max_price
    FROM t GROUP BY side
    """,
)
def src_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read through the registered Python data source and aggregate —
    proving the connector integrates with the full declarative stack:
    the source's explicit partitions become scan tasks, and everything
    above the scan (grouping, partial aggregation) is ordinary
    Catalyst planning. Registration is idempotent per session."""
    spark.dataSource.register(SyntheticTradesDataSource)
    t = (spark.read.format("synthetic_trades")
         .option("parts", N_PARTS)
         .option("rows_per_part", ROWS_PER_PART)
         .load())
    return (
        t.groupBy("side")
        .agg(F.count("*").alias("n_trades"),
             F.sum("qty").alias("total_qty"),
             F.round(F.avg("price"), 6).cast("float").alias("avg_price"),
             F.round(F.min("price"), 6).alias("min_price"),
             F.round(F.max("price"), 6).alias("max_price"))
    )


# ---------------------------------------------------------------------------
# streaming variant: custom Python stream source (bounded, deterministic)
# ---------------------------------------------------------------------------

STREAM_MAX = 10_000
STREAM_STEP = 2_000


class SyntheticTradesStreamSource(DataSource):
    """``readStream.format("synthetic_trades_stream")`` — a BOUNDED
    offset-based stream: each micro-batch advances the offset by
    ``STREAM_STEP`` until ``STREAM_MAX``; rows are the same pure
    integer-arithmetic trades as the batch connector, so the drained
    stream is deterministic and the oracle replays it exactly."""

    @classmethod
    def name(cls) -> str:
        return "synthetic_trades_stream"

    def schema(self) -> str:
        return "trade_id bigint, side string, qty bigint, price double"

    def simpleStreamReader(self, schema) -> "SyntheticTradesStreamReader":
        return SyntheticTradesStreamReader()


def _trade_rows(start: int, end: int):
    for g in range(start, end):
        yield (g, "buy" if g % 2 == 0 else "sell",
               g % 100 + 1, ((g * MULT) % 1_000_000) / 100.0)


class SyntheticTradesStreamReader(SimpleDataSourceStreamReader):
    def initialOffset(self):
        return {"o": 0}

    def read(self, start):
        s = start["o"]
        e = min(s + STREAM_STEP, STREAM_MAX)
        # a list iterator, not a generator: Spark's prefetch cache
        # copy.copy()s the iterator for replay, generators can't be
        return (iter(list(_trade_rows(s, e))), {"o": e})

    def readBetweenOffsets(self, start, end):
        # exact replay for recovery — offsets fully determine the data
        return iter(list(_trade_rows(start["o"], end["o"])))


@query(
    "src_python_stream_datasource",
    oracle=f"""
    WITH t AS (
      SELECT g AS trade_id,
             CASE WHEN g % 2 = 0 THEN 'buy' ELSE 'sell' END AS side,
             g % 100 + 1 AS qty,
             (g * {MULT}) % 1000000 / 100.0 AS price
      FROM generate_series(0, {STREAM_MAX - 1}) AS s(g))
    SELECT side, count(*) AS n_trades,
           CAST(sum(qty) AS BIGINT) AS total_qty,
           CAST(round(sum(price), 6) AS REAL) AS total_price
    FROM t GROUP BY side
    """,
)
def src_python_stream_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the custom Python STREAM source across multiple real
    micro-batches (processing-time trigger, ~5 batches of
    ``STREAM_STEP`` rows), then aggregate the landed rows. The source
    is offset-based with exact ``readBetweenOffsets`` replay — the
    recovery contract a production connector must honor — and bounded,
    so the drained result is deterministic and value-hash-gated against
    the oracle's replay of the identical offset range. Covers the
    reference's producer→consumer cadence (``app.py:131-134``) with a
    USER-DEFINED source instead of the built-in file/rate sources."""
    from dask_lambda_example_spark.streaming.pipeline import (
        _await_rows, _mem_table, start_stream)

    spark.dataSource.register(SyntheticTradesStreamSource)
    stream = spark.readStream.format("synthetic_trades_stream").load()
    table = _mem_table("pyds_stream")
    q = start_stream(stream, mode="append", table=table,
                     every="250 milliseconds")
    try:
        if not _await_rows(q, STREAM_MAX, deadline_s=120):
            raise RuntimeError("stream source did not drain in time")
    finally:
        q.stop()
    return (
        spark.table(table)
        .groupBy("side")
        .agg(F.count("*").alias("n_trades"),
             F.sum("qty").alias("total_qty"),
             F.round(F.sum("price"), 6).cast("float").alias("total_price"))
    )


# ---------------------------------------------------------------------------
# write path: custom Python data SINK (the connector seam outbound)
# ---------------------------------------------------------------------------


class JsonlCommit(WriterCommitMessage):
    """Per-task commit message: which attempt file this task produced.

    Must be picklable (travels executor → driver with the task result).
    """

    def __init__(self, tmp_name: str, final_name: str) -> None:
        self.tmp_name = tmp_name
        self.final_name = final_name


class JsonlSinkDataSource(DataSource):
    """``format("jsonl_sink")`` — a user-defined WRITE connector with a
    real two-phase commit: each task serializes its partition to an
    ATTEMPT-UNIQUE temp file (``part-NNNNN-<uuid>.jsonl.tmp``) and
    reports the name in its ``WriterCommitMessage``; only the
    driver-side ``commit`` renames attempt files to their final
    ``*.jsonl`` names and publishes a manifest listing exactly the
    committed files, while ``abort`` deletes every reported attempt
    file. A failed / speculatively-retried task therefore never leaves
    a file a consumer can see: readers glob ``*.jsonl`` (tmp files
    don't match) or, stricter, read only the manifest's file list.

    Requires ``path`` to be storage the driver can rename on — a shared
    filesystem (NFS/FUSE-mounted object store) in cluster mode; for a
    rename-less object store the same protocol holds with temp KEYS and
    a server-side copy-on-commit.
    """

    @classmethod
    def name(cls) -> str:
        return "jsonl_sink"

    def writer(self, schema, overwrite: bool):
        return JsonlSinkWriter(self.options["path"])


class JsonlSinkWriter(DataSourceWriter):
    def __init__(self, path: str) -> None:
        self.path = path

    def write(self, iterator):
        # executor-side: one ATTEMPT-UNIQUE temp file per task attempt;
        # the .tmp suffix keeps it invisible to any *.jsonl consumer
        # until the driver commits it.
        import json as _json
        import os
        import uuid

        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        final = f"part-{pid:05d}.jsonl"
        tmp = f"part-{pid:05d}-{uuid.uuid4().hex}.jsonl.tmp"
        with open(os.path.join(self.path, tmp), "w") as f:
            for row in iterator:
                f.write(_json.dumps(row.asDict()) + "\n")
        return JsonlCommit(tmp_name=tmp, final_name=final)

    def commit(self, messages) -> None:
        # driver-side: all tasks succeeded → atomically publish each
        # attempt file under its final name, then write the manifest
        # naming exactly the committed files.
        import os

        committed = []
        for m in messages:
            if m is None:  # pragma: no cover - defensive
                continue
            os.replace(os.path.join(self.path, m.tmp_name),
                       os.path.join(self.path, m.final_name))
            committed.append(m.final_name)
        with open(os.path.join(self.path, "_MANIFEST"), "w") as f:
            f.write(f"tasks={len(committed)}\n")
            for name in sorted(committed):
                f.write(name + "\n")

    def abort(self, messages) -> None:  # pragma: no cover - failure path
        # delete every reported attempt file; nothing was published
        import contextlib
        import os

        for m in messages or ():
            if m is None:
                continue
            with contextlib.suppress(FileNotFoundError):
                os.remove(os.path.join(self.path, m.tmp_name))


@query(
    "src_python_datasink_roundtrip",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderkey % 10 = 0
    """,
)
def src_python_datasink_roundtrip(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Write through the registered Python data SINK, read back, and
    value-check against the source rows — the outbound half of the
    user-defined connector seam (the inbound half is
    ``src_python_datasource``). Doubles survive because Python's json
    emits shortest-round-trip representations and the schema-pinned
    read parses them back to the identical bits. The commit protocol
    (per-task file + driver manifest) is the structure a real external
    sink needs for exactly-once publishes."""
    import os

    from dask_lambda_example_spark.io import load_table

    spark.dataSource.register(JsonlSinkDataSource)
    out = scratch_mkdtemp("jsonl_sink_")
    rows = (load_table(spark, sf_dir, "orders")
            .filter(F.col("o_orderkey") % 10 == 0)
            .select("o_orderkey", "o_orderstatus", "o_totalprice"))
    (rows.write.format("jsonl_sink").option("path", out)
     .mode("append").save())
    # two-phase-commit contract: no attempt files survive, and the
    # manifest names exactly the published *.jsonl files
    manifest = os.path.join(out, "_MANIFEST")
    assert os.path.exists(manifest)
    listed = {ln for ln in open(manifest).read().splitlines()[1:]}
    on_disk = {f for f in os.listdir(out) if f.endswith(".jsonl")}
    assert listed == on_disk and not any(
        f.endswith(".tmp") for f in os.listdir(out))
    return (spark.read
            .schema("o_orderkey bigint, o_orderstatus string, "
                    "o_totalprice double")
            .option("pathGlobFilter", "*.jsonl").json(out))
