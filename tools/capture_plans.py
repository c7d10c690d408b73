"""Capture ``explain("formatted")`` for a set of queries into
``OUTDIR/<name>_<tag>.txt`` — run once with PYTHONPATH at the parent
commit (tag=before) and once at the changed tree (tag=after).

Usage: PYTHONPATH=<repo-at-rev> python tools/capture_plans.py TAG OUTDIR name...
"""

from __future__ import annotations

import os
import sys


def main() -> int:
    tag, outdir = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    os.makedirs(outdir, exist_ok=True)
    from dask_lambda_example_spark.registry import QUERIES, _ensure_loaded
    from dask_lambda_example_spark.session import get_spark

    _ensure_loaded()
    spark = get_spark("plan-capture")
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    for name in names:
        df = QUERIES[name].fn(spark, sf)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        path = os.path.join(outdir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
