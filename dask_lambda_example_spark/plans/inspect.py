"""Plan-inspection helpers: make the optimizer's work checkable.

The reference relies on dask's implicit optimizations (SURVEY.md §4.1 —
lazy culling, blockwise fusion, tree-reduce aggregation) and never
inspects a plan. Here the optimizer contract is explicit and *tested*:
predicate pushdown, column pruning, partition pruning, broadcast
strategy and whole-stage codegen are assertions (tests/test_plans.py),
not hopes — the knobs that decide whether a plan survives a 100×
scale-up.

All helpers read the pre-execution physical plan string (with AQE the
final plan may improve further at runtime — these assert the static
floor, e.g. a broadcast chosen by size estimate).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    """The formatted physical plan (what ``.explain()`` prints)."""
    return df._jdf.queryExecution().executedPlan().toString()


def pushed_filters(df: DataFrame) -> list[str]:
    """Every ``PushedFilters: [...]`` entry across the plan's scans —
    predicates the parquet/orc reader skips row groups with."""
    return re.findall(r"PushedFilters: \[([^\]]*)\]", physical_plan(df))


def partition_filters(df: DataFrame) -> list[str]:
    """``PartitionFilters`` entries — directory-level pruning on
    hive-partitioned layouts (the producer's ``key=value`` scheme)."""
    return re.findall(r"PartitionFilters: \[([^\]]*)\]", physical_plan(df))


def read_schemas(df: DataFrame) -> list[str]:
    """``ReadSchema`` of each scan — the column-pruning evidence: a scan
    reading all columns for a 2-column projection is a wrong plan."""
    return re.findall(r"ReadSchema: (\S+)", physical_plan(df))


def assert_pushed_filter(df: DataFrame, fragment: str) -> None:
    found = pushed_filters(df)
    assert any(fragment in f for f in found), (
        f"expected pushed filter containing {fragment!r}, got {found}")


def assert_partition_filter(df: DataFrame, fragment: str) -> None:
    found = partition_filters(df)
    assert any(fragment in f for f in found), (
        f"expected partition filter containing {fragment!r}, got {found}")


def assert_read_schema_excludes(df: DataFrame, column: str) -> None:
    schemas = read_schemas(df)
    assert schemas and all(column not in s for s in schemas), (
        f"column {column!r} should be pruned from scans, got {schemas}")


def assert_broadcast_join(df: DataFrame) -> None:
    plan = physical_plan(df)
    assert "Broadcast" in plan and "Join" in plan, (
        f"expected a broadcast join strategy:\n{plan[:2000]}")


def assert_no_cartesian(df: DataFrame) -> None:
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan, (
        f"plan degenerated to a cartesian product:\n{plan[:2000]}")


def assert_join_type(df: DataFrame, join_type: str) -> None:
    """e.g. ``LeftSemi`` / ``LeftAnti`` — proves a subquery was
    decorrelated into the join form rather than re-executed per row."""
    plan = physical_plan(df)
    assert join_type in plan, (
        f"expected {join_type} join in plan:\n{plan[:2000]}")


def assert_partial_aggregation(df: DataFrame) -> None:
    """Two HashAggregate levels = map-side partial combine before the
    shuffle — the tree-reduce shape the reference gets from dask's ACA
    (``layer/python/dask_processing.py:32``)."""
    plan = physical_plan(df)
    assert len(re.findall(r"HashAggregate|SortAggregate", plan)) >= 2, (
        f"expected partial+final aggregation:\n{plan[:2000]}")


def assert_wholestage_codegen(df: DataFrame) -> None:
    # codegen'd operators carry a "*(stageId)" prefix in plan strings;
    # under AQE they only appear in the FINAL plan, so execute THIS
    # df's own QueryExecution first (count() would build a new one)
    df.collect()
    plan = physical_plan(df)
    assert "*(" in plan or "WholeStageCodegen" in plan, (
        f"expected whole-stage codegen spans:\n{plan[:2000]}")
