"""The benchmark's workloads: seeded operation lists and the operations.

Both workloads are closed loops with one client: the next operation is
issued only after the previous one returned and was checked. The seed
decides only the operation list; the engine sees the generated inputs.

- ``tpch``: the 22 registered TPC-H queries over the sf0.01 TPC-H tables
  kept under ``perfbench/sf0.01`` (the engine's seeded test tables), a
  fresh seed-shuffled order on every pass, each query built through
  ``registry.QUERIES[name].fn`` and run to ``collect()``.
- ``lambda_pipeline``: the reference's event path, one event at a time.
  An event writes ``{"count": days}`` under the six-level hive key of
  its minute (``io.write_hive_partitioned_json``), one
  ``producer_counts_stream`` AvailableNow run over a persistent
  checkpoint delivers it (one Lambda invocation), and the reference
  computation ``timeseries(days).groupby("name").mean().y.std()`` runs
  on the delivered count.
"""

from __future__ import annotations

import hashlib
import math
import os
import random
import re
import time
from dataclasses import dataclass, field
from datetime import datetime, timedelta

# --seconds sizes a run: one TPC-H pass per TPCH_PASS_S and
# EVENTS_PER_S events per second. The operation count is a fixed
# function of --seconds, so two commits compared at the same --seconds
# run the same work. At 30 s that is 22 queries (about 20 s on 4 cores,
# after a 40 s set-up; tail percentile p54) and 24 events (about 38 s,
# after a 22 s set-up; tail p58): 48 runs of the two must fit the
# benchmark's 3420 s budget on a 4-core host.
TPCH_PASS_S = 30.0
EVENTS_PER_S = 0.8
MIN_EVENTS = 4
# Width of the seeded jitter inside each event-size stratum, as a share
# of the stratum: narrow, so every run draws nearly the same sizes.
JITTER = 0.25
# Event sizes: the reference producer's count range, in days.
DAYS_LO, DAYS_HI = 10, 1000
# Warm-up events: one small, one middle, one large.
WARMUP_DAYS = (10, 100, 1000)
ROWS_PER_DAY = 86_400
_EPOCH = datetime(2024, 1, 1)
# The TPC-H tables, one ``<table>.parquet`` each (the layout
# ``io.load_table`` reads).
SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "sf0.01")
TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
               "lineitem")
# Significant digits of a float that a result check compares.
FLOAT_DIGITS = 9


def tpch_names(queries) -> list[str]:
    """The registered TPC-H queries ``q1_*`` … ``q22_*`` in query order."""
    names = [n for n in queries if re.fullmatch(r"q\d+_\w+", n)]
    names.sort(key=lambda n: int(n[1:].split("_", 1)[0]))
    if len(names) != 22:
        raise RuntimeError(f"expected the 22 TPC-H queries, found {names}")
    return names


def tpch_ops(names: list[str], seed: int, seconds: float) -> list[str]:
    """Whole passes over ``names``, each in its own seeded order."""
    rng = random.Random(f"tpch:{seed}")
    ops: list[str] = []
    for _ in range(max(1, round(seconds / TPCH_PASS_S))):
        order = list(names)
        rng.shuffle(order)
        ops.extend(order)
    return ops


def lambda_events(seed: int, seconds: float) -> list[int]:
    """Event sizes in days, log-uniform over ``[DAYS_LO, DAYS_HI]``.

    Stratified: event ``i`` of ``n`` draws its quantile from a band of
    width ``JITTER / n`` around the middle of ``[i/n, (i+1)/n)``, so
    every run covers the range evenly and runs with different seeds
    differ by that jitter and by the order, which is shuffled."""
    n = max(MIN_EVENTS, round(seconds * EVENTS_PER_S))
    rng = random.Random(f"lambda:{seed}")
    ratio = DAYS_HI / DAYS_LO
    quantiles = [(i + 0.5 + JITTER * (rng.random() - 0.5)) / n
                 for i in range(n)]
    days = [round(DAYS_LO * ratio ** q) for q in quantiles]
    rng.shuffle(days)
    return days


def _coarse(v):
    """A float cut to ``FLOAT_DIGITS`` significant digits (and -0.0 to
    0.0); any other value unchanged."""
    return float(f"{v:.{FLOAT_DIGITS}g}") + 0.0 if isinstance(v, float) else v


def result_hash(columns: list[str], rows: list[tuple]) -> str:
    """Order-insensitive hash of a result, columns sorted by name, with
    the oracle gate's value normalization applied to floats cut to
    ``FLOAT_DIGITS`` significant digits. A TPC-H sum reaches 1e8-1e10,
    where summation order, which follows the partitioning and so the
    core count, can move the sixth decimal."""
    from tests.oracle_check import canonical_rows

    rows = [tuple(_coarse(v) for v in r) for r in rows]
    text = "\n".join(canonical_rows(columns, rows))
    return hashlib.sha256(text.encode()).hexdigest()


@dataclass
class OpResult:
    """One timed operation: wall seconds, whether the checked output was
    right, the rows it produced and, on failure, why."""
    wall: float
    ok: bool
    rows: int
    error: str = ""
    layers: dict = field(default_factory=dict)


class TpchWorkload:
    name = "tpch"
    # the engine layers whose per-layer metrics it moves; the others read
    # 0 in a traced run (its table loads are timed inside operators.build)
    layers = ("session", "operators", "exec")

    def __init__(self, spark, sf_dir: str, expected: dict, queries):
        self.spark, self.sf_dir = spark, sf_dir
        self.expected, self.queries = expected, queries
        self.names = tpch_names(queries)

    def warmup_ops(self) -> list[str]:
        return list(self.names)

    def ops(self, seed: int, seconds: float) -> list[str]:
        return tpch_ops(self.names, seed, seconds)

    def layout_file_count(self) -> int:
        return 0  # the queries only read

    def run(self, name: str, tracer) -> OpResult:
        t0 = time.perf_counter()
        with tracer.span("operators.build", build=True):
            df = self.queries[name].fn(self.spark, self.sf_dir)
        with tracer.span("exec.collect"):
            rows = df.collect()
        wall = time.perf_counter() - t0
        want = self.expected[name]
        got = [tuple(r) for r in rows]
        if len(got) != want["rows"]:
            return OpResult(wall, False, len(got),
                            f"{name}: {len(got)} rows, expected {want['rows']}")
        if result_hash(list(df.columns), got) != want["hash"]:
            return OpResult(wall, False, len(got), f"{name}: value hash differs")
        return OpResult(wall, True, len(got))


class LambdaWorkload:
    name = "lambda_pipeline"
    layers = ("session", "operators", "exec", "io", "streaming", "synthetic")

    def __init__(self, spark, root: str, expected_std: dict):
        self.spark = spark
        self.data = os.path.join(root, "data")
        self.ckpt = os.path.join(root, "checkpoint")
        self.expected_std = expected_std
        self.minute = 0
        self.delivered: list[int] = []

    def warmup_ops(self) -> list[int]:
        return list(WARMUP_DAYS)

    def ops(self, seed: int, seconds: float) -> list[int]:
        return lambda_events(seed, seconds)

    def layout_file_count(self) -> int:
        """Payload files in the producer layout written so far."""
        return sum(f.endswith(".json") for _, _, files in os.walk(self.data)
                   for f in files)

    def _collect_batch(self, df, _batch_id) -> None:
        self.delivered.extend(r["count"] for r in df.collect())

    def run(self, days: int, tracer) -> OpResult:
        from pyspark.sql import functions as F

        from dask_lambda_example_spark.io import write_hive_partitioned_json
        from dask_lambda_example_spark.sources.producer import PARTITION_COLS
        from dask_lambda_example_spark.sources.synthetic import timeseries
        from dask_lambda_example_spark.streaming.pipeline import (
            producer_counts_stream)

        spark = self.spark
        ts = _EPOCH + timedelta(minutes=self.minute)
        self.minute += 1
        key = dict(zip(PARTITION_COLS, (ts.year, ts.month, ts.day, ts.hour,
                                        ts.minute, ts.second)))
        t0 = time.perf_counter()
        with tracer.span("io.write"):
            payload = spark.range(1).select(
                F.lit(days).cast("long").alias("count"),
                *(F.lit(v).alias(k) for k, v in key.items()))
            write_hive_partitioned_json(payload, self.data, PARTITION_COLS)
        with tracer.span("streaming.run"):
            self.delivered.clear()
            query = (producer_counts_stream(spark, self.data).writeStream
                     .foreachBatch(self._collect_batch)
                     .option("checkpointLocation", self.ckpt)
                     .trigger(availableNow=True).start())
            query.awaitTermination()
        delivered = list(self.delivered)
        rows, error = 0, f"stream delivered {delivered}, wrote [{days}]"
        if delivered == [days]:
            with tracer.span("synthetic.build", build=True):
                agg = (timeseries(spark, delivered[0]).groupBy("name")
                       .agg(F.avg("y").alias("y")).agg(F.stddev_samp("y")))
            with tracer.span("synthetic.exec"):
                std = agg.collect()[0][0]
            rows, want = days * ROWS_PER_DAY, self.expected_std[str(days)]
            error = ("" if math.isclose(std, want, rel_tol=1e-7)
                     else f"days={days}: std {std!r}, expected {want!r}")
        wall = time.perf_counter() - t0
        layers = {"progress": [p["durationMs"] for p in query.recentProgress],
                  "undelivered": int(delivered != [days]), "rows": rows}
        return OpResult(wall, not error, rows, error, layers)
