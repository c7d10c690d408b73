"""SparkSession factory.

The reference amortizes one long-running Dask cluster across all jobs
(``src/lambda_consumer.py:31-33`` — connect-or-create via a
SecretsManager "catalog"). The Spark-first analog is a single shared
``SparkSession`` obtained through ``getOrCreate()``; per-query session
cost is the #1 fixed overhead at any scale (BASELINE.md).

Scale posture (100 TB): every knob here is chosen so the same code runs
unchanged on a real cluster — AQE for runtime re-planning (coalesce +
skew-join splitting), the confs of ``io._PORTABLE_CONFS`` (a UTC session
timezone among them), Arrow for any pandas exchange, and shuffle
partitions sized to cores locally but expected to be overridden (or
AQE-coalesced) on a cluster.
"""

from __future__ import annotations

import os
import re
import tempfile

from pyspark.sql import SparkSession

from dask_lambda_example_spark.io import _PORTABLE_CONFS

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# JVM unified-logging routing: warnings must NEVER land on stdout
# (bench.py's contract is one JSON line there). ``-Xlog:...:stderr``
# alone only ADDS a stderr output — the JVM's default
# ``stdout all=warning`` output stays active and still duplicates every
# warning onto stdout (round-12, measured with ``jcmd VM.log list``: a
# gc,alloc GCLocker warning leaked ahead of the sf10 battery's JSON
# line). ``-Xlog:disable`` first removes ALL outputs including the
# stdout default; the second option then adds back exactly one, on
# stderr.
XLOG_STDERR_OPTS = "-Xlog:disable -Xlog:all=warning:stderr"

# Entries in Spark's JVM-wide cache of compiled generated classes
# (``spark.sql.codegen.cache.maxEntries``, default 100). The cache is
# LRU, so a battery that cycles through more classes than it holds
# evicts every one before its next use: at 100, every repeat of a query
# in a long-lived session recompiles its classes with Janino and runs
# them cold in the JIT again (the 22 TPC-H queries alone generate
# about 260 classes a pass). The bound sits above the whole registry's
# working set, measured as the classes one pass compiles: 3,075 at
# sf0.001 and 3,187 at sf0.1, so 5,000 leaves room for queries added
# later. Two registry passes in one session at sf0.001 (local[4], 4 g
# heap) then compile 3,075 and 141 classes instead of 4,320 and 4,289,
# for +25 MB of Metaspace (254 against 229 MB) and +19 MB of CodeHeap
# (148 against 130 MB) after the second pass. The conf is static:
# Spark reads it once, when it creates the JVM-wide cache, so it goes
# in the builder and ``io.ensure_portable_session`` cannot set it at
# runtime. A Connect session ignores it: pyspark sends builder confs
# to a remote session with ``silent=True``, and the server refuses a
# static conf without an error.
CODEGEN_CACHE_ENTRIES = 5_000


def _default_local_dir() -> str | None:
    """Fast scratch space for shuffle files and block-manager spill.

    Spark's default (``/tmp``) sits on the sandbox's virtual block
    device here, and the shuffle file write+fetch path is what pays for
    it: a warm 1 M-row/32-partition groupBy measured 2.1-2.8 s against
    /tmp vs 0.47 s against tmpfs — the per-shuffle floor under every
    query in the battery (optimization guide §2.1: "local disk
    bandwidth for shuffle files can be the tighter limit"). Prefer
    ``/dev/shm`` when it is present and writable; on a real cluster
    the same knob points at striped local NVMe (standard practice) and
    the env override wins either way. Returns ``None`` when no tmpfs
    is available so the caller keeps Spark's default.

    RAM posture: shuffle/spill blocks in tmpfs consume page-cache-like
    memory OUTSIDE the 16 g JVM heap; the sandbox has 128 GiB and the
    largest battery tier (sf10) peaks well under the headroom. If a
    future tier outgrows it, set SPARK_GRAFT_LOCAL_DIR=/tmp to restore
    the disk-backed default."""
    env = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if env:
        return env
    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        return os.path.join(shm, "spark_graft_local")
    return None


def fast_scratch_dir() -> str:
    """Root for QUERY-OWNED scratch: write-and-read-back format dirs,
    streaming state checkpoints, the Derby JDBC db, the bucketed-table
    warehouse. Same fast-medium preference as the shuffle local dir
    (and the same env override) — streaming state stores in particular
    do many small checkpoint writes per microbatch, which the slow
    /tmp block device turns into the dominant per-batch cost. Distinct
    leaf from the Spark-managed local dir so Spark's own cleanup never
    races ours. Falls back to the system tempdir when no tmpfs exists.
    The dir is created here because ``tempfile.mkdtemp(dir=...)``
    requires an existing parent."""
    base = _default_local_dir()
    root = (os.path.join(os.path.dirname(base), "spark_graft_scratch")
            if base else tempfile.gettempdir())
    os.makedirs(root, exist_ok=True)
    return root


def scratch_mkdtemp(prefix: str) -> str:
    """``tempfile.mkdtemp`` on the fast scratch medium with an atexit
    rmtree: checkpoint/sink dirs used to leak to /tmp (the container's
    cleanup problem); on tmpfs a leak is RAM, so every dir created here
    is reclaimed at interpreter exit."""
    import atexit
    import shutil
    import tempfile as _tf

    d = _tf.mkdtemp(prefix=prefix, dir=fast_scratch_dir())
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def _xlog_submit_args(submit_args: str, opts: str) -> str:
    """Thread the ``-Xlog`` stderr routing into ``PYSPARK_SUBMIT_ARGS``.

    spark-submit keeps only the LAST ``--driver-java-options``
    occurrence, so if the caller's args already carry one, MERGE the
    -Xlog flag into that occurrence (a second prepended occurrence
    would be silently discarded and the stdout routing lost — review
    finding, round 11); otherwise prepend a fresh option. A bare
    (unquoted) existing value gains quotes, since the merged value
    contains a space. Both separator forms spark-submit accepts are
    matched — ``--driver-java-options VALUE`` and
    ``--driver-java-options=VALUE`` (ADVICE r11: the equals form used
    to slip past the regex, prepend a second occurrence, and silently
    lose the -Xlog routing to whichever occurrence came last).
    With MULTIPLE existing occurrences the merge targets the LAST one —
    the only one spark-submit keeps (round-12 review: merging into the
    first would hand the routing to a discarded occurrence)."""
    matches = list(re.finditer(
        r'--driver-java-options(?:\s+|=)(")([^"]*)(")'
        r"|--driver-java-options(?:\s+|=)(')([^']*)(')"
        r"|--driver-java-options(?:\s+|=)()([^\s'\"]+)()", submit_args))
    if not matches:
        return f'--driver-java-options "{opts}" {submit_args}'
    m = matches[-1]
    quote, val = next(
        (m.group(i), m.group(i + 1))
        for i in (1, 4, 7) if m.group(i) is not None)
    quote = quote or '"'
    merged = (f"--driver-java-options "
              f"{quote}{opts} {val}{quote}")
    return submit_args[:m.start()] + merged + submit_args[m.end():]


def get_spark(app_name: str = "dask_lambda_example_spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    """Return the shared SparkSession (create on first call).

    Local mode for tests; on a real deployment the same builder picks up
    ``--master``/Connect config from the environment, mirroring the
    reference's connect-to-running-cluster decorator
    (``src/lambda_consumer.py:15-44``).
    """
    n = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # (Size-first AQE coalescing — parallelismFirst=false — was
        # re-measured this round with interleaved A/B pairs and is a
        # NET LOSS here: median best-ratio 1.295 across 12 heavy
        # queries, worst 2.96x on dedup_jaccard_pairs — the CPU-dense/
        # byte-light aggregations need the parallelism far more than
        # the tiny exchanges cost in scheduling. BENCH_ab artifact in
        # OPTIMIZATION_r14.md; keep parallelism-first.)
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.ui.enabled", "false")
        # fixed writable warehouse for bucketed saveAsTable regardless
        # of the driver's cwd — on the fast scratch medium (bucketed
        # writes + read-backs are measured query paths)
        .config("spark.sql.warehouse.dir",
                os.path.join(fast_scratch_dir(), "spark_graft_warehouse"))
        .config("spark.sql.codegen.cache.maxEntries",
                str(CODEGEN_CACHE_ENTRIES))
    )
    # the confs every query needs in any session (io._PORTABLE_CONFS
    # says why each is set)
    for k, v in _PORTABLE_CONFS.items():
        builder = builder.config(k, v)
    if not os.environ.get("SPARK_GRAFT_REMOTE"):
        # Local test/bench mode: single JVM. Driver heap is 16g, NOT
        # "all the machine's memory" (round-10 measurement): with a 90g
        # heap the allocation-heavy query shapes (HOF folds, BNLJ probe
        # scans) collapsed into 85-95% KERNEL time — the JVM's giant
        # heap mapping keeps the kernel busy committing/uncommitting
        # and huge-page-collapsing tens of GB around every GC cycle —
        # measured 188 s vs 8.4 s on the same sf10 brute-force cosine
        # scan (capping only the young gen did NOT help; total mapping
        # size is what hurts). 16g comfortably holds every working set
        # in the battery (largest: ~1 GB of watermark state + shuffle
        # buffers; Spark spills gracefully if a future query outgrows
        # it) and matches the 8-32 GB per-executor sizing a real
        # cluster would use — a 90g executor was never the deployment
        # shape. Override with SPARK_GRAFT_DRIVER_MEM.
        # (A smaller AQE advisoryPartitionSizeInBytes speeds up the
        # CPU-dense/byte-light dedup aggregations 2× in isolation, but
        # measurably degrades a long multi-query session — keep the
        # default; per-query parallelism needs are handled with explicit
        # repartition instead.)
        local_dir = _default_local_dir()
        if local_dir:
            builder = builder.config("spark.local.dir", local_dir)
        builder = builder.master(f"local[{cpus}]").config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
        ).config(
            # ContextCleaner only drops shuffle files / broadcast state
            # when the JVM GCs the owning objects; if G1 goes minutes
            # between collections, a long multi-query session
            # accumulates dead shuffle state on disk and in the old
            # gen. The default periodic-GC interval (30min) never
            # fires inside a typical bench/test session — 5min keeps
            # cleanup amortized. No-op for short sessions.
            "spark.cleaner.periodicGC.interval", "5min"
        ).config(
            # JVM unified logging defaults to STDOUT; a gc/alloc
            # warning (seen under allocation-heavy sf10 shapes:
            # "Retried waiting for GCLocker too often") can therefore
            # land AFTER bench.py's one-JSON-line output and corrupt
            # any consumer that reads the last stdout line. Route all
            # JVM log output to stderr; Spark's own log4j already goes
            # there. Prepended (not assigned) so user-supplied driver
            # JVM options via SPARK_GRAFT_DRIVER_JAVA_OPTS survive —
            # same override pattern as SPARK_GRAFT_DRIVER_MEM
            # (ADVICE r10).
            "spark.driver.extraJavaOptions",
            (XLOG_STDERR_OPTS + " "
             + os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS", "")).strip()
        )
        # The conf above only reaches the JVM when spark-submit launches
        # it (cluster/client deployments). A PLAIN-PYTHON launch starts
        # the gateway JVM before builder configs apply, so the -Xlog
        # flag must ride the gateway's own launch args (round-11,
        # measured: a gc,alloc warning still landed on stdout mid-bench
        # under the conf-only form and corrupted a last-line consumer).
        # No-op once a JVM is up — getOrCreate() reuses it regardless.
        from pyspark import SparkContext

        submit_args = os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell")
        if SparkContext._gateway is None and "-Xlog" not in submit_args:
            opts = (XLOG_STDERR_OPTS + " "
                    + os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS", "")
                    ).strip()
            os.environ["PYSPARK_SUBMIT_ARGS"] = _xlog_submit_args(
                submit_args, opts)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
