"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload tpch --seed 1 --seconds 30 --trace 0

Run from the repository root; everything the run writes goes under
``.perfbench/`` there and is removed at exit, except the span file of a
traced run (``.perfbench/traces/``).

A run:

1. fits Spark to the host (``local[nproc]``, a JVM heap sized from
   RAM, scratch inside the checkout);
2. sets up: imports the query registry, creates the session and runs
   one untimed warm-up pass (``setup_s``);
3. runs the seeded operation list in a closed loop, checking every
   result, and prints the end-to-end metrics (``--trace 0``), or runs
   each operation of half that list twice, untraced and traced in
   alternating order, and prints the per-layer metrics (``--trace 1``).

The last stdout line is ``{"correct", "attempted", "failed",
"metrics"}``; a readable report and the run record (seed, operation
list hash, host) go to stderr.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import resource
import shutil
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("tpch", "lambda_pipeline")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def fit_host(work: Path) -> dict:
    """Settings that size the engine to this host, identical for any two
    commits compared on it; returns what the run record keeps."""
    cpus = len(os.sched_getaffinity(0))
    ram_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    heap_gib = max(1, min(4, int(ram_gib // 4)))
    tmp, local = work / "tmp", work / "spark_local"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ.pop("SPARK_GRAFT_REMOTE", None)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_gib}g",
        # shuffle, spill and query scratch stay inside the checkout
        "SPARK_GRAFT_LOCAL_DIR": str(local),
        "SPARK_LOCAL_DIRS": str(local),
        "TMPDIR": str(tmp),
        "SPARK_GRAFT_DRIVER_JAVA_OPTS":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # keep every job and stage of a run in the status store
        "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.retainedJobs=100000 "
                               "--conf spark.ui.retainedStages=100000 "
                               "--conf spark.ui.showConsoleProgress=false "
                               "pyspark-shell",
    })
    return {"nproc": cpus, "ram_gib": round(ram_gib, 1),
            "jvm_heap": f"{heap_gib}g"}


def shutdown_spark() -> None:
    """Stop the SparkContext and the gateway JVM, and wait for it."""
    import subprocess

    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _status_kib(pid, field: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    raise KeyError(field)


def memory_mb(spark) -> tuple[float, float]:
    """``(retained, peak)`` memory of the Spark JVM plus this process.

    Retained: JVM heap still live after a full collection, JVM non-heap
    in use (metaspace, code cache) and this process's resident set. It
    repeats within a few percent run to run. Peak: the high-water
    resident sets, which also count heap the collector happened to
    commit; that varies by a quarter between identical runs."""
    jvm = spark.sparkContext._jvm
    jvm_pid = jvm.java.lang.ProcessHandle.current().pid()
    peak_kib = (resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
                + _status_kib(jvm_pid, "VmHWM"))
    # drop Python's proxies first, then let the context cleaner release
    # what the first collection found unreachable before measuring
    gc.collect()
    jvm.System.gc()
    time.sleep(1)
    jvm.System.gc()
    mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    retained = (mem.getHeapMemoryUsage().getUsed()
                + mem.getNonHeapMemoryUsage().getUsed()
                + _status_kib("self", "VmRSS") * 1024)
    return retained / 1e6, peak_kib * 1024 / 1e6


def make_workload(name: str, spark, work: Path, expected: dict):
    from perfbench import workloads

    if name == "tpch":
        from dask_lambda_example_spark.registry import QUERIES

        return workloads.TpchWorkload(spark, workloads.SF_DIR,
                                      expected["tpch"], QUERIES)
    return workloads.LambdaWorkload(spark, str(work / "lambda"),
                                    expected["lambda_std"])


def run_op(workload, op, tracer):
    from perfbench.workloads import OpResult

    t0 = time.perf_counter()
    try:
        return workload.run(op, tracer)
    except Exception as exc:  # a failed operation is counted, not fatal
        return OpResult(time.perf_counter() - t0, False, 0,
                        f"{op}: {type(exc).__name__}: {exc}")


def run(args, work: Path, expected: dict, host: dict) -> tuple[dict, dict]:
    from perfbench import stats, tracing

    t0 = time.perf_counter()
    from dask_lambda_example_spark.registry import _ensure_loaded
    from dask_lambda_example_spark.session import get_spark

    _ensure_loaded()
    spark = get_spark("perfbench")
    t_session = time.perf_counter()
    workload = make_workload(args.workload, spark, work, expected)
    off = tracing.NullTracer()
    warm = [run_op(workload, op, off) for op in workload.warmup_ops()]
    setup_s = time.perf_counter() - t0

    # a traced run runs each operation twice, so it takes half the list
    ops = workload.ops(args.seed, args.seconds / (2 if args.trace else 1))
    record = {"workload": args.workload, "seed": args.seed,
              "ops": len(ops),
              "ops_sha256": hashlib.sha256(
                  json.dumps(ops).encode()).hexdigest(),
              "layers": list(workload.layers), "spark": spark.version,
              **host}
    failures = [r.error for r in warm if not r.ok]
    if args.trace:
        results, metrics, spans = traced_loop(spark, workload, ops,
                                              host["nproc"])
        write_spans(spans, record)
        metrics["session.start_s"] = t_session - t0
        metrics["session.warm_s"] = setup_s - (t_session - t0)
    else:
        t_loop = time.perf_counter()
        results = [run_op(workload, op, off) for op in ops]
        timed = time.perf_counter() - t_loop
        walls = [r.wall for r in results]
        pct, tail_s, beyond = stats.tail(walls)
        retained, peak = memory_mb(spark)
        record.update(tail_pct=pct, tail_beyond=beyond, samples=len(walls),
                      peak_rss_mb=round(peak, 1))
        metrics = {
            "setup_s": setup_s,
            "latency_p50_s": statistics.median(walls),
            "latency_tail_s": tail_s,
            "ops_per_s": len(results) / timed,
            "rows_per_s": sum(r.rows for r in results) / timed,
            "retained_mb": retained,
        }
    failures += [r.error for r in results if not r.ok]
    failed = sum(not r.ok for r in results)
    record["fail_ratio"] = failed / len(results)
    result = {"correct": not failures, "attempted": len(results),
              "failed": failed, "metrics": metrics}
    return result, {"record": record, "failures": failures}


def traced_loop(spark, workload, ops, cores: int):
    """Each operation twice, untraced and traced, alternating which goes
    first; the traced twin carries spans, job groups and counters.
    Returns both twins' results, the per-layer metrics and the spans."""
    from perfbench import tracing

    sc = spark.sparkContext
    counter = tracing.Py4jCounter(spark)
    tracer = tracing.Tracer(counter)
    off = tracing.NullTracer()
    plain, traced, gc_s = [], [], []

    def run_traced(i, op):
        # jobs go to the group of the innermost span, "op<i>/<span>"
        tracer.op = i
        tracer.on_span = lambda name, start: sc.setJobGroup(
            f"op{i}/{name if start else 'op'}", str(op))
        gc0 = tracing.gc_ms(spark)
        with tracer.span("op"):
            traced.append(run_op(workload, op, tracer))
        gc_s.append((tracing.gc_ms(spark) - gc0) / 1e3)
        sc._jsc.clearJobGroup()

    steal0, total0 = tracing.cpu_ticks()
    try:
        for i, op in enumerate(ops):
            if i % 2:
                run_traced(i, op)
            plain.append(run_op(workload, op, off))
            if not i % 2:
                run_traced(i, op)
    finally:
        counter.close()
    steal1, total1 = tracing.cpu_ticks()
    groups = sorted({f"op{s['op']}/{s['name']}" for s in tracer.spans})
    counters = tracing.group_counters(spark, groups)
    metrics = layer_metrics(tracer.spans, traced, plain, counters, gc_s,
                            len(ops), cores, workload)
    metrics["host.steal_share"] = ((steal1 - steal0) / (total1 - total0)
                                   if total1 > total0 else 0.0)
    return plain + traced, metrics, tracer.spans


BUILD_SPANS = ("operators.build", "synthetic.build")
EXEC_SPANS = ("exec.collect", "synthetic.exec")


def layer_metrics(spans, traced, plain, counters, gc_s, n_ops, cores,
                  workload) -> dict:
    """Per-operation means of the traced twins' spans and counters.

    Every metric is a total over the operations divided by their number,
    so a layer the workload never reaches reads 0 (no time, no jobs, no
    payload lost); ``workload.layers`` names the layers it reaches."""
    def total(*names):
        return sum(s["end"] - s["start"] for s in spans if s["name"] in names)

    def jobs_in(names):
        """Stage counters summed over the job groups of these spans."""
        sums = dict.fromkeys(next(iter(counters.values())), 0)
        for group, c in counters.items():
            if group.split("/", 1)[1] in names:
                for k, v in c.items():
                    sums[k] += v
        return sums

    build, execute = total(*BUILD_SPANS), total(*EXEC_SPANS)
    exec_c = jobs_in(EXEC_SPANS)
    progress = [d for r in traced for d in r.layers.get("progress", [])]
    synth_rows = sum(r.layers.get("rows", 0) for r in traced)
    synth_s = total("synthetic.build", "synthetic.exec")
    return {
        "operators.build_s": build / n_ops,
        "operators.build_share": build / (build + execute),
        "operators.py4j_calls": sum(s.get("py4j_calls", 0)
                                    for s in spans) / n_ops,
        "operators.build_jobs": jobs_in(BUILD_SPANS)["jobs"] / n_ops,
        "exec.exec_s": execute / n_ops,
        **{f"exec.{k}": v / n_ops for k, v in exec_c.items()},
        "exec.slot_busy_share": exec_c["task_run_s"] / (execute * cores),
        "exec.gc_s": sum(gc_s) / n_ops,
        "io.write_s": total("io.write") / n_ops,
        "io.layout_files": float(workload.layout_file_count()),
        "streaming.discover_s": total("streaming.run") / n_ops,
        "streaming.latest_offset_ms": sum(d.get("latestOffset", 0)
                                          for d in progress) / n_ops,
        "streaming.wal_commit_ms": sum(d.get("walCommit", 0)
                                       for d in progress) / n_ops,
        "streaming.add_batch_ms": sum(d.get("addBatch", 0)
                                      for d in progress) / n_ops,
        "streaming.undelivered": float(sum(r.layers.get("undelivered", 0)
                                           for r in traced)),
        "synthetic.compute_s": synth_s / n_ops,
        "synthetic.ns_per_row": synth_s * 1e9 / synth_rows if synth_rows
                                else 0.0,
        "trace.overhead": (sum(r.wall for r in traced)
                           / sum(r.wall for r in plain)),
    }


def write_spans(spans: list[dict], record: dict) -> None:
    """Write the run record and the spans, each with its self time."""
    from perfbench.tracing import self_times

    out = ROOT / ".perfbench" / "traces"
    out.mkdir(parents=True, exist_ok=True)
    for s, t in zip(spans, self_times(spans)):
        s["self_s"] = t
    path = out / f"{record['workload']}-seed{record['seed']}-{os.getpid()}.json"
    path.write_text(json.dumps({"record": record, "spans": spans}))
    print(f"spans: {path}", file=sys.stderr)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "dask_lambda_example_spark").is_dir():
        print(f"no engine package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    expected = json.loads((ROOT / "perfbench" / "expected.json").read_text())
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"]
             for m in spec["end_to_end"] + spec["per_layer"]}
    work = ROOT / ".perfbench" / f"{args.workload}-{os.getpid()}"
    try:
        host = fit_host(work)
        try:
            result, report = run(args, work, expected, host)
        finally:
            shutdown_spark()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(report["record"]), file=sys.stderr)
    for line in report["failures"]:
        print(f"FAILED {line}", file=sys.stderr)
    result["metrics"] = {k: {"value": v, "unit": units[k]}
                         for k, v in result["metrics"].items()}
    for name, m in result["metrics"].items():
        print(f"{name:28s} {m['value']:<14.6g} {m['unit']}", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
