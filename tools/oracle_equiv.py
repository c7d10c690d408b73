"""Write each query's DuckDB oracle text to ``OUTDIR/<name>_<tag>.sql``
— run once with PYTHONPATH at the parent commit (tag=before) and once
at the changed tree (tag=after).

When ``OUTDIR`` also holds the query's ``before`` text and the two
texts differ, both run in DuckDB at sf0.001, sf0.01 and sf0.1 (the
scale factors beside ``parity_sweep.SF``). They are equal when their
sorted rows, column names and column types are. One line per query
reads ``name equal|DIFF rows=<n per scale factor>``, or ``name
identical`` for a byte-identical text, and the results go to
``OUTDIR/oracle_text_equivalence.json``.

Usage: PYTHONPATH=<repo-at-rev> python tools/oracle_equiv.py TAG OUTDIR name...
"""

from __future__ import annotations

import json
import os
import sys

import duckdb

from parity_sweep import SF

SCALES = ("sf0.001", "sf0.01", "sf0.1")


def run(con, sql: str):
    """(column names, column types, rows sorted by their repr)."""
    rel = con.sql(sql)
    return (rel.columns, [str(t) for t in rel.types],
            sorted(rel.fetchall(), key=repr))


def main() -> int:
    tag, outdir = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    os.makedirs(outdir, exist_ok=True)
    from dask_lambda_example_spark.io import TABLES
    from dask_lambda_example_spark.registry import QUERIES, _ensure_loaded

    _ensure_loaded()
    pairs = {}
    for name in names:
        text = QUERIES[name].oracle
        with open(os.path.join(outdir, f"{name}_{tag}.sql"), "w") as f:
            f.write(text)
        before = os.path.join(outdir, f"{name}_before.sql")
        if tag != "before" and os.path.exists(before):
            with open(before) as f:
                pairs[name] = (f.read(), text)
    if not pairs:
        return 0
    changed = sorted(n for n, (a, b) in pairs.items() if a != b)
    results, bad = {}, 0
    for sf in SCALES:
        con = duckdb.connect()
        root = os.path.join(os.path.dirname(SF), sf)
        for t in TABLES:
            path = os.path.join(root, f"{t}.parquet")
            if os.path.exists(path):
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        for name in changed:
            old, new = (run(con, sql) for sql in pairs[name])
            results[f"{name}@{sf}"] = {"equal": old == new, "rows": len(new[2])}
            bad += old != new
        con.close()
    for name in names:
        if name not in pairs:
            continue
        if name not in changed:
            print(f"{name} identical")
            continue
        rs = [results[f"{name}@{sf}"] for sf in SCALES]
        verdict = "equal" if all(r["equal"] for r in rs) else "DIFF"
        print(f"{name} {verdict} rows={'/'.join(str(r['rows']) for r in rs)}")
    with open(os.path.join(outdir, "oracle_text_equivalence.json"), "w") as f:
        json.dump({"changed": changed, "results": results}, f, indent=1)
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
