"""Capture ``explain("formatted")`` for a set of queries into
``OUTDIR/<name>_<tag>.txt`` — run once with PYTHONPATH at the parent
commit (tag=before) and once at the changed tree (tag=after).

After each capture it prints one line per query with the plan's
RoundRobin (round-robin repartitions), Exchange (shuffles, round-robin
ones included) and BroadcastExchange counts. When ``OUTDIR`` also holds
the query's ``before`` capture, each count reads ``before/<tag>``.

Usage: PYTHONPATH=<repo-at-rev> python tools/capture_plans.py TAG OUTDIR name...
"""

from __future__ import annotations

import os
import re
import sys


def exchange_counts(plan: str) -> tuple[int, int, int]:
    """(RoundRobin, Exchange, BroadcastExchange) node counts of a
    formatted plan, read from its numbered node headers."""
    return (plan.count("RoundRobinPartitioning"),
            len(re.findall(r"^\(\d+\) Exchange$", plan, re.M)),
            len(re.findall(r"^\(\d+\) BroadcastExchange$", plan, re.M)))


def main() -> int:
    tag, outdir = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    os.makedirs(outdir, exist_ok=True)
    from dask_lambda_example_spark.registry import QUERIES, _ensure_loaded
    from dask_lambda_example_spark.session import get_spark

    _ensure_loaded()
    spark = get_spark("plan-capture")
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    counts = {}
    for name in names:
        df = QUERIES[name].fn(spark, sf)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        path = os.path.join(outdir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)", flush=True)
        counts[name] = [str(c) for c in exchange_counts(plan)]
        before = os.path.join(outdir, f"{name}_before.txt")
        if tag != "before" and os.path.exists(before):
            with open(before) as f:
                counts[name] = [f"{b}/{c}" for b, c in
                                zip(exchange_counts(f.read()), counts[name])]
    width = max(map(len, names)) + 1
    for name in names:
        rr, ex, bex = counts[name]
        print(f"{name:{width}s}RR={rr} Ex={ex} BEx={bex}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
