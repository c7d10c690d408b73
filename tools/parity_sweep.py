"""Strict driver-parity sweep: run every oracle-gated query on Spark AND
DuckDB at sf0.01 and compare at DRIVER strictness — exact values (bit-level
for floats, no `.9g` smoothing) and pandas-level dtype compatibility.

The verification driver converts both sides to pandas and hashes factorized
values with columns sorted by name; that hash distinguishes int64 23 from
float64 23.0, dies on list/dict cells, and sees last-ulp float diffs. This
sweep reproduces those failure modes locally so local green predicts driver
green.

Usage:  [PYTHONPATH=<tree>] python tools/parity_sweep.py [name_prefix ...]
        [PYTHONPATH=<tree>] python tools/parity_sweep.py --json OUT.json

The sweep imports the package from ``PYTHONPATH`` when it is set, else
from the checkout this script lives in.

With ``--json PATH`` the sweep also writes a machine-readable artifact:
``{"sf": ..., "n": N, "clean": M, "queries": {name: "ok" | "<problem>"}}``
— committed per-round (PARITY_r{N}.json) as the builder's full-battery
answer to the driver's 50-query sample window.
"""

from __future__ import annotations

import sys
import traceback
from pathlib import Path

import duckdb

SF = "/root/testdata/sf0.01"

# pandas dtype kinds that the driver's hasher would treat as distinct
# (numpy kind codes: i=int, u=uint, f=float, b=bool, O=object, M=datetime)
_KIND_GROUPS = {
    "i": "int", "u": "int",
    "f": "float",
    "b": "bool",
    "O": "object",
    "M": "datetime",
    "m": "timedelta",
}


def _kind(dtype) -> str:
    return _KIND_GROUPS.get(dtype.kind, dtype.kind)


def check_query(spark, con, name, fn, sql) -> list[str]:
    """Return a list of human-readable problems ('' clean)."""
    problems: list[str] = []
    sdf = fn(spark, SF)
    spd = sdf.toPandas()
    dpd = con.sql(sql).df()

    if sorted(spd.columns) != sorted(dpd.columns):
        return [f"columns differ: spark={sorted(spd.columns)} duck={sorted(dpd.columns)}"]
    if len(spd) != len(dpd):
        return [f"row count: spark={len(spd)} duck={len(dpd)}"]

    cols = sorted(spd.columns)
    spd = spd[cols]
    dpd = dpd[cols]

    # unhashable cell types kill the driver's hasher outright
    for c in cols:
        for side, df in (("spark", spd), ("duck", dpd)):
            if df[c].dtype.kind == "O" and len(df):
                v = df[c].dropna()
                if len(v) and isinstance(v.iloc[0], (list, dict, set, tuple)) or (
                        len(v) and type(v.iloc[0]).__module__ == "numpy"
                        and getattr(v.iloc[0], "ndim", 0) > 0):
                    problems.append(f"col {c}: {side} emits unhashable "
                                    f"{type(v.iloc[0]).__name__} cells")

    # dtype-kind parity
    for c in cols:
        sk, dk = _kind(spd[c].dtype), _kind(dpd[c].dtype)
        if sk != dk:
            problems.append(
                f"col {c}: dtype kind spark={spd[c].dtype}({sk}) duck={dpd[c].dtype}({dk})")
    if problems:
        return problems

    # exact value parity, order-insensitive: canonical-sort rows on both
    # sides using repr-level normalization, then compare cell-by-cell
    def canon(df):
        import math

        def norm(v):
            if v is None:
                return "<N>"
            try:
                if v != v:  # NaN/NaT
                    return "<N>"
            except (TypeError, ValueError):
                pass
            if isinstance(v, float):
                return repr(v) if v != 0 else "0.0"
            return repr(v)

        rows = ["|".join(norm(v) for v in row) for row in df.itertuples(index=False)]
        return sorted(rows)

    s_rows, d_rows = canon(spd), canon(dpd)
    ndiff = sum(1 for a, b in zip(s_rows, d_rows) if a != b)
    if ndiff:
        first = next((a, b) for a, b in zip(s_rows, d_rows) if a != b)
        problems.append(f"{ndiff}/{len(s_rows)} rows differ at bit level; first: "
                        f"spark={first[0][:200]!r} duck={first[1][:200]!r}")
    return problems


def main() -> int:
    # PYTHONPATH picks the tree to sweep; the repo root is only a
    # fallback, so a bare run from a checkout still imports the package
    sys.path.append(str(Path(__file__).resolve().parent.parent))
    from pyspark.sql import SparkSession

    from dask_lambda_example_spark.io import TABLES
    from dask_lambda_example_spark.registry import oracle_queries, spark_queries

    argv = sys.argv[1:]
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        json_out = argv[i + 1]
        argv = argv[:i] + argv[i + 2:]
    prefixes = argv
    # BARE session on purpose — the verification driver does NOT use
    # session.get_spark(), so every query must carry its own conf needs
    # (io.ensure_portable_session). Default 200 shuffle partitions also
    # exercises summation-order variation that 32 partitions can hide.
    spark = (SparkSession.builder.appName("parity_sweep")
             .master("local[32]")
             .config("spark.driver.memory", "48g")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .getOrCreate())
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")

    qs, oracles = spark_queries(), oracle_queries()
    bad = 0
    results: dict[str, str] = {}
    names = [n for n in qs if n in oracles
             and (not prefixes or any(n.startswith(p) for p in prefixes))]
    for name in names:
        try:
            problems = check_query(spark, con, name, qs[name], oracles[name])
        except Exception as exc:  # noqa: BLE001
            problems = [f"EXCEPTION: {exc}"]
            traceback.print_exc()
        results[name] = "ok" if not problems else "; ".join(problems)[:500]
        if problems:
            bad += 1
            print(f"FAIL {name}")
            for p in problems:
                print(f"     {p}")
        else:
            print(f"ok   {name}", flush=True)
    print(f"\n{len(names) - bad}/{len(names)} strict-parity clean")
    if json_out:
        import json

        with open(json_out, "w") as f:
            json.dump({"sf": SF, "n": len(names), "clean": len(names) - bad,
                       "queries": results}, f, indent=1, sort_keys=True)
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
