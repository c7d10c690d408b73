"""Regenerate ``expected.json``, the benchmark's stored correct results.

- ``tpch``: row count and order-insensitive value hash of every TPC-H
  query, computed by DuckDB from the query's registered oracle SQL over
  the benchmark's copy of the TPC-H tables (``workloads.SF_DIR``).
- ``lambda_std``: the reference result ``timeseries(days).groupby
  ("name").mean().y.std()`` for every event size the workload can draw.
  The synthetic source is an integer LCG, so per-day, per-name sums of
  ``y`` are computed once with NumPy and prefix-summed; three sizes are
  cross-checked against DuckDB running the source's own oracle SQL.

Run from the repository root: ``python3 perfbench/make_expected.py``.
"""

from __future__ import annotations

import json
import math
import os
import sys

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from dask_lambda_example_spark.sources.synthetic import (  # noqa: E402
    _INC_Y, _M32, _MULT_Y, _oracle_timeseries_sql)
from perfbench import workloads  # noqa: E402

OUT = os.path.join(ROOT, "perfbench", "expected.json")


def tpch_expected(sf_dir: str) -> dict:
    import duckdb

    from dask_lambda_example_spark.registry import QUERIES, _ensure_loaded

    _ensure_loaded()
    con = duckdb.connect()
    for t in workloads.TPCH_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")
    out = {}
    for name in workloads.tpch_names(QUERIES):
        rel = con.sql(QUERIES[name].oracle)
        rows = rel.fetchall()
        out[name] = {"rows": len(rows),
                     "hash": workloads.result_hash(list(rel.columns), rows)}
    return out


def lambda_std() -> dict:
    """std of the 26 per-name means of ``y`` over ``d`` days, for every
    ``d`` in the workload's range."""
    per_day = np.zeros((workloads.DAYS_HI, 26))
    counts = np.zeros((workloads.DAYS_HI, 26))
    for d in range(workloads.DAYS_HI):
        i = np.arange(d * workloads.ROWS_PER_DAY,
                      (d + 1) * workloads.ROWS_PER_DAY, dtype=np.int64)
        y = ((i * _MULT_Y + _INC_Y) % _M32) / float(_M32) * 2 - 1
        per_day[d] = np.bincount(i % 26, weights=y, minlength=26)
        counts[d] = np.bincount(i % 26, minlength=26)
    sums, ns = np.cumsum(per_day, axis=0), np.cumsum(counts, axis=0)
    return {str(d): float(np.std(sums[d - 1] / ns[d - 1], ddof=1))
            for d in range(workloads.DAYS_LO, workloads.DAYS_HI + 1)}


def duckdb_std(days: int) -> float:
    import duckdb

    return duckdb.sql(
        "SELECT stddev_samp(m) FROM (SELECT avg(y) AS m FROM "
        f"({_oracle_timeseries_sql(days)}) GROUP BY name)").fetchone()[0]


def main() -> int:
    tpch = tpch_expected(workloads.SF_DIR)
    std = lambda_std()
    for d in (10, 37, 100):
        if not math.isclose(std[str(d)], duckdb_std(d), rel_tol=1e-9):
            raise SystemExit(f"NumPy and DuckDB disagree on days={d}")
    with open(OUT, "w") as f:
        json.dump({"tpch": tpch, "lambda_std": std}, f, indent=1,
                  sort_keys=True)
        f.write("\n")
    print(f"wrote {OUT}: {len(tpch)} queries, {len(std)} event sizes")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
