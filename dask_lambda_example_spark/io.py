"""Table loaders / sinks over the driver-generated parquet tables.

The reference's I/O surface is: hive-partitioned S3 JSON writes
(``src/lambda_producer.py:22-27``), single-object JSON reads
(``layer/python/dask_processing.py:17-18``), and the implied
``dask.dataframe`` read/write family (SURVEY.md §2.B). Spark covers all
of it natively; this module is a thin, schema-aware convenience layer.

Scale posture: parquet scans get predicate pushdown, column pruning and
partition pruning from Catalyst for free; loaders never infer JSON
schemas (explicit ``StructType`` only — inference is a full extra pass
at 100 TB).
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Row bound under which load_table(parallel=True) skips its round-robin
# rebalance (see load_table docstring). Sized to the heaviest per-row
# work in the battery (document shingling+hashing, ~1 ms/row: 3,000
# rows ≈ the exchange's own scheduling cost on this host); numeric
# per-row work (vector folds, PQ encodes, ~15 µs/row) breaks even far
# higher.
PARALLEL_MIN_ROWS = 3000
# Estimated cosine pairs at or above which load_table(parallel=True)
# rebalances whatever the row count. Paired sf0.1 A/Bs bracket it: 31 k
# pairs ran faster without the rebalance (BENCH_ab_parallel_gate_r14),
# 160-200 k faster with it (BENCH_ab_parallel_force_r15).
PARALLEL_MIN_PAIRS = 100_000

# Runtime-settable SQL confs every query needs regardless of which
# SparkSession it runs in. The verification driver (and any real user of
# this library) constructs its own bare session without session.py's
# builder confs — round 1 proved the events table is unreadable there
# (parquet TIMESTAMP(NANOS) → PARQUET_TYPE_ILLEGAL without nanosAsLong)
# and timestamp semantics drift without a pinned UTC session timezone.
# All four are dynamic SQLConf entries, so we set them defensively at
# query entry as well as in session.get_spark's builder.
_PORTABLE_CONFS = {
    # events.ts is parquet TIMESTAMP(NANOS); Spark has no nanosecond
    # timestamp type — scan as long, convert in load_table (ns → µs
    # truncation, matching DuckDB on the same file).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # the reference computes in naive UTC throughout
    # (layer/python/dask_processing.py:29); DuckDB compares in UTC.
    "spark.sql.session.timeZone": "UTC",
    # InferFiltersFromGenerate duplicates the generator expression into
    # an inferred Filter that predicate-pushdown then sinks below the
    # defining Project, re-expanding aliases — for our shingle/explode
    # pipelines that re-evaluates an expensive array transform several
    # times per row (measured 7-10× on the Jaccard/MinHash
    # inverted-index joins). Our explode inputs are never
    # null/empty-heavy, so the rule only costs.
    "spark.sql.optimizer.excludedRules":
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    # full PushedFilters/ReadSchema in plan strings for plan-contract
    # checks (default 100 chars truncates them)
    "spark.sql.maxMetadataStringLength": "2000",
}


def ensure_portable_session(spark: SparkSession) -> SparkSession:
    """Set the dynamic confs every query depends on, idempotently.

    Safe to call on any session (including one that already has the
    values); memoized on the session object so repeated query dispatch
    costs nothing. Failures are swallowed per-conf so a future
    Spark-Connect session that forbids one key still gets the rest.
    """
    if getattr(spark, "_spark_graft_portable", False):
        return spark
    for k, v in _PORTABLE_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - conf rejected by session
            pass
    try:
        spark._spark_graft_portable = True
    except Exception:  # pragma: no cover - session forbids attributes
        pass
    return spark


# Session confs that change what parquet schema inference returns for
# the same files; part of ``table_schema``'s memo key.
_PARQUET_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.caseSensitive",
    "spark.sql.parquet.mergeSchema",
)

_SCHEMA_CACHE: dict[tuple, tuple] = {}


def _memo(cache: dict, key: tuple, fingerprint: tuple, compute):
    """One entry per ``key``, holding (fingerprint, value): a hit needs
    the stored fingerprint to equal the current one, and a miss
    overwrites the entry, so a table rewritten in place is recomputed
    and the cache never grows with rewrites."""
    hit = cache.get(key)
    if hit is None or hit[0] != fingerprint:
        hit = cache[key] = (fingerprint, compute())
    return hit[1]


def table_schema(spark: SparkSession, sf_dir: str, name: str) -> StructType:
    """The parquet-inferred schema of one driver table, memoized.

    ``spark.read.parquet(path)`` runs a schema-inference JOB (footer
    reads) every time it is called; a table's schema is a function of
    its files and of the session's inference confs, so it is inferred
    once per (``table_fingerprint``, ``_PARQUET_INFERENCE_CONFS``
    values) and later reads pass it with ``spark.read.schema`` —
    building a DataFrame then launches no job (ADVICE r4). A rewritten
    table changes the fingerprint and is re-inferred. The memo holds the
    Python ``StructType``, never a JVM handle, so it stays valid across
    SparkContexts, and it needs no JVM gateway (works over Spark
    Connect).

    A table the driver cannot stat locally (an object-store URI, or a
    path only a remote Connect server sees) has no fingerprint; its
    schema is inferred on every call, as a plain ``spark.read`` does."""
    ensure_portable_session(spark)
    path = f"{sf_dir}/{name}.parquet"
    try:
        fingerprint = table_fingerprint(sf_dir, name)
    except FileNotFoundError:
        return spark.read.parquet(path).schema
    confs = tuple(spark.conf.get(k) for k in _PARQUET_INFERENCE_CONFS)
    return _memo(_SCHEMA_CACHE, (path, confs), fingerprint,
                 lambda: spark.read.parquet(path).schema)


def normalize_events_ts(df: DataFrame, schema: StructType) -> DataFrame:
    """events.ts contract: session-timezone TIMESTAMP (µs), regardless of
    how the driver generated the file; ``schema`` is the scan's schema.
    Two observed encodings:

    - TIMESTAMP(NANOS): scans as bigint under nanosAsLong → truncate
      ns→µs (what DuckDB does on the same file).
    - timestamp[us] without tz: scans as TIMESTAMP_NTZ → cast to
      TIMESTAMP; the session is pinned UTC so the wall-clock value is
      preserved bit-for-bit, matching DuckDB's naive read.

    Shared by the batch scan (``load_table``) and the file stream
    (``streaming.pipeline.events_stream``)."""
    ts_type = {f.name: f.dataType.simpleString() for f in schema}.get("ts")
    if ts_type == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str,
               parallel: bool = False, pairs: int = 0) -> DataFrame:
    """Columnar scan of one driver table (pushdown/pruning-eligible).

    The scan reads with the table's memoized schema (``table_schema``):
    the schema is inferred once per table fingerprint, and every later
    build of the same table launches no Spark job. That holds for
    tables on the driver's local file system (plain path or
    ``file://``); other schemes infer the schema on every build, as
    ``spark.read.parquet`` does.

    ``events.ts`` is parquet TIMESTAMP(NANOS): with
    ``spark.sql.legacy.parquet.nanosAsLong`` it scans as a long of
    nanoseconds; convert to a microsecond timestamp with integer
    truncation — exactly what DuckDB does reading the same file, so the
    oracle comparison stays bit-identical.

    ``parallel=True`` asks for a round-robin rebalance to the session
    default parallelism, for CPU-dense pipelines (per-row hashing,
    array transforms, pair scoring) whose source is a single small
    file and would otherwise run on its one input partition. It is
    granted once, at the scan, only where the work it spreads pays for
    the extra stage (~0.3-0.5 s of scheduling on this host; guide
    §2.4: "a repartition someone added for parallelism" is the
    canonical accidental exchange): when the footer row count reaches
    ``PARALLEL_MIN_ROWS`` (per-row work), or when ``pairs``, the
    caller's estimate of the cosine pairs a join after the scan scores
    (from footer counts and its blocking constants), reaches
    ``PARALLEL_MIN_PAIRS`` — a broadcast pair join's fold work has no
    parallelism but the scan's partitions. Both inputs are metadata,
    so the same code keeps the rebalance wherever the input is big
    enough for it to pay.
    """
    schema = table_schema(spark, sf_dir, name)
    df = spark.read.schema(schema).parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = normalize_events_ts(df, schema)
    if parallel and (pairs >= PARALLEL_MIN_PAIRS
                     or parquet_rowcount(sf_dir, name) >= PARALLEL_MIN_ROWS):
        df = df.repartition(spark.sparkContext.defaultParallelism)
    return df


def table_files(sf_dir: str, name: str, pattern: str = "*.parquet") -> list:
    """List one driver table's files — single-file or directory-of-parts
    layout — failing LOUDLY on a missing/empty table. Every driver-local
    footer/column helper below goes through this one listing so a layout
    change (hive subdirs, success-marker filtering) has exactly one home,
    and so no caller can silently treat a typo'd table name as empty
    (ADVICE r5; review r9 found six divergent copies of this walk)."""
    import pathlib
    from urllib.parse import urlparse

    # sf_dir is a local path or a file:// URI; any other scheme (s3a://,
    # ...) is not on the driver's file system and fails like a missing
    # table.
    uri = urlparse(sf_dir)
    if uri.scheme not in ("", "file"):
        raise FileNotFoundError(
            f"{sf_dir!r} is not on the driver's local file system")
    p = pathlib.Path(uri.path if uri.scheme else sf_dir) / f"{name}.parquet"
    files = ([p] if p.is_file()
             else sorted(f for f in p.rglob(pattern) if f.is_file())
             if p.is_dir() else [])
    if not files:
        raise FileNotFoundError(
            f"no parquet data for table {name!r} under {sf_dir!r}")
    return files


_ROWCOUNT_CACHE: dict[tuple, tuple] = {}


def parquet_rowcount(sf_dir: str, name: str) -> int:
    """Exact row count of one driver table from parquet FOOTER metadata —
    a driver-local file-stat read, NO Spark job. Operators that size an
    adaptive knob to the corpus (blocking bits, broadcast-vs-shuffle
    dispatch) use this instead of an eager ``df.count()`` so that merely
    CONSTRUCTING their DataFrame never launches a job (ADVICE r4: eager
    actions at plan-build time break plan inspection and composition).
    On a real cluster the same number comes from the table catalog /
    manifest; footer num_rows is the file-system-only equivalent. A
    missing path or empty directory FAILS (ADVICE r5): a typo'd table
    name silently picking the small-scale configuration is the worst
    failure mode.

    Memoized per (sf_dir, name) against ``table_fingerprint`` — the
    same fingerprint ``table_schema`` checks — so a table rewritten
    in-process is recounted instead of going stale (ADVICE r14).
    """
    import pyarrow.parquet as pq

    return _memo(_ROWCOUNT_CACHE, (sf_dir, name),
                 table_fingerprint(sf_dir, name),
                 lambda: sum(pq.ParquetFile(f).metadata.num_rows
                             for f in table_files(sf_dir, name)))


def parquet_column_ndv(sf_dir: str, name: str, column: str) -> int:
    """Exact distinct count of ONE column, read driver-locally with
    pyarrow (no Spark job at plan-construction time — ADVICE r4).
    Used where an adaptive knob needs the cardinality of a small
    partitioning column (e.g. the SemDeDup quantizer-cell id). At real
    scale this number IS configuration — a quantizer's k, a partition
    count — or comes from catalog/NDV statistics; reading the column is
    the file-system-only stand-in and is only appropriate for columns
    whose table fits a driver read."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    seen: set = set()
    for f in table_files(sf_dir, name):
        col = pq.read_table(f, columns=[column])[column]
        seen.update(pc.unique(col).to_pylist())
    return len(seen)


def table_fingerprint(sf_dir: str, name: str) -> tuple:
    """Cheap CONTENT fingerprint of one driver table — (name, size,
    mtime_ns) per file, a driver-local stat with NO Spark job. Memo
    keys that must invalidate when the data under an sf_dir is
    regenerated in-session (e.g. tools/make_skew.py rewriting a tier)
    include this alongside the path; ``table_schema`` and
    ``parquet_rowcount`` check it. Recurses into a directory-of-parts
    table, so rewriting, adding or removing a part changes it. Fails loudly on a missing table —
    same contract as ``parquet_rowcount`` (ADVICE r5/r8): a typo'd name
    silently degrading the cache key to path-only is the worst mode."""
    return tuple((f.name, (st := f.stat()).st_size, st.st_mtime_ns)
                 for f in table_files(sf_dir, name, pattern="*"))


def bind_tables(spark: SparkSession, sf_dir: str,
                *tables: str) -> dict[str, str]:
    """Temp views over driver tables for ``spark.sql``; returns
    ``{table: view}``, the names a query text formats in.

    A view is named per (``sf_dir``, table), ``sg_<8 hex of
    sha1(sf_dir)>_<table>``, so two sf_dirs in one session (a path and
    its ``file://`` form, two scale tiers) never rebind each other, and
    a caller's own ``orders`` view is never replaced. Each view is
    registered once per session and bound again only when its
    (``table_fingerprint``, ``_PARQUET_INFERENCE_CONFS`` values) key
    changes; the memo lives on the session object, like
    ``ensure_portable_session``'s mark. A hit runs no ``load_table``
    and registers nothing: the view's plan, with its resolved file
    index, serves every later query. A table the driver cannot stat
    locally (an object-store URI) has no fingerprint and is bound again
    on every call, as ``table_schema`` infers it again."""
    ensure_portable_session(spark)
    bound = getattr(spark, "_spark_graft_views", None)
    if bound is None:
        bound = {}
        try:
            spark._spark_graft_views = bound
        except AttributeError:  # pragma: no cover - session forbids them
            pass
    confs = tuple(spark.conf.get(k) for k in _PARQUET_INFERENCE_CONFS)
    tag = hashlib.sha1(sf_dir.encode()).hexdigest()[:8]
    views = {}
    for t in tables:
        view = views[t] = f"sg_{tag}_{t}"
        try:
            key = (table_fingerprint(sf_dir, t), confs)
        except FileNotFoundError:
            key = None
        if key is None or bound.get(view) != key:
            load_table(spark, sf_dir, t).createOrReplaceTempView(view)
            bound[view] = key
    return views


def write_hive_partitioned_json(df: DataFrame, path: str,
                                partition_cols: list[str],
                                mode: str = "append") -> None:
    """Reference A2/A3: JSON sink under ``key=value`` partition dirs
    (``src/lambda_producer.py:22-27`` builds the same layout by hand).
    Spark's ``partitionBy`` produces it natively and keeps the layout
    partition-prunable for every later scan.
    """
    df.write.mode(mode).partitionBy(*partition_cols).json(path)
