"""Property-based test (SURVEY.md §5): the composed as-of join must
match pandas ``merge_asof`` on arbitrary generated inputs — seeded
hypothesis search over key collisions, duplicate timestamps, empty
sides, and unmatched keys (the edge cases a fixed fixture misses)."""

from __future__ import annotations

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from dask_lambda_example_spark.operators.timeseries import asof_join

ts_strategy = st.integers(min_value=0, max_value=50)
key_strategy = st.integers(min_value=0, max_value=3)

left_rows = st.lists(
    st.tuples(key_strategy, ts_strategy), min_size=1, max_size=12)
right_rows = st.lists(
    st.tuples(key_strategy, ts_strategy, st.integers(0, 1000)),
    min_size=0, max_size=12)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(left=left_rows, right=right_rows)
def test_asof_backward_matches_merge_asof(spark, left, right):
    lpdf = pd.DataFrame(
        [{"rid": i, "k": k, "t": t} for i, (k, t) in enumerate(left)])
    rpdf = pd.DataFrame(right, columns=["k", "t", "payload"])
    if not rpdf.empty:
        # dedupe (k, t) collisions: with duplicate right timestamps the
        # "which payload" choice is tie-ordering-dependent in ANY asof
        # implementation — the property under test is the match
        # semantics, so make the input well-defined
        rpdf = (rpdf.groupby(["k", "t"], as_index=False)["payload"].max()
                .sort_values("t", kind="stable").reset_index(drop=True))
    ldf = spark.createDataFrame(lpdf)
    rdf = (spark.createDataFrame(rpdf) if not rpdf.empty
           else spark.createDataFrame([], "k long, t long, payload long"))
    got = (asof_join(ldf, rdf, "k", "k", "t", "t", ["payload"], "backward")
           .toPandas().set_index("rid").sort_index())
    if rpdf.empty:
        expected_payload = [-1.0] * len(lpdf)
    else:
        expected = pd.merge_asof(
            lpdf.sort_values("t", kind="stable"), rpdf,
            on="t", by="k", direction="backward",
            allow_exact_matches=True).set_index("rid").sort_index()
        expected_payload = list(expected["payload"].fillna(-1))
    assert list(got["payload"].fillna(-1)) == expected_payload, (lpdf, rpdf)
