"""UDF / UDAF / UDTF surface (SURVEY.md §2.B "UDF / UDAF / UDTF").

The dask side is ``map_partitions`` / elementwise ``apply`` /
``groupby().apply`` / custom ``dd.Aggregation`` — and the reference's
``client.submit(arbitrary_python)`` idiom (``src/lambda_consumer.py:68``)
which this engine deliberately replaces with declarative programs plus
these four Arrow-vectorized escape hatches (never row-at-a-time Python):

- ``pandas_udf``           — elementwise, Series→Series
- ``applyInPandas``        — per-group pandas DataFrame in/out
- ``pandas_udf GROUPED_AGG`` — custom aggregation
- ``mapInPandas``          — per-partition batch iterator

Every query here computes something ALSO expressible in SQL so the
DuckDB oracle can check the UDF machinery itself (Arrow round-trip,
grouping, batch iteration) — the point is verifying the plumbing, not
the arithmetic.

Scale posture: all four exchange columnar Arrow batches with the JVM
(~10-100× over pickled rows); applyInPandas shuffles once on the group
key; mapInPandas streams batches with no shuffle at all.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dask_lambda_example_spark.io import bind_tables, load_table
from dask_lambda_example_spark.registry import query


@query(
    "udf_pandas_scalar",
    oracle="""
    SELECT event_id, round(value * 2.0 + 1.0, 6) AS scaled
    FROM events WHERE event_type = 'view'
    """,
)
def udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Elementwise pandas_udf (dask ``Series.apply`` analog), Arrow
    batch transfer both ways."""

    @F.pandas_udf("double")
    def scale(s: pd.Series) -> pd.Series:
        return s * 2.0 + 1.0

    e = load_table(spark, sf_dir, "events")
    return (
        e.filter(F.col("event_type") == "view")
        .select("event_id", F.round(scale(F.col("value")), 6).alias("scaled"))
    )


@query(
    "udf_apply_in_pandas_zscore",
    oracle="""
    SELECT user_id, event_id,
           round((value - avg(value) OVER (PARTITION BY user_id))
                 / stddev_samp(value) OVER (PARTITION BY user_id), 6) AS z
    FROM events
    """,
)
def udf_apply_in_pandas_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group normalization via applyInPandas (dask
    ``groupby().apply``): whole group as a pandas frame in, frame out.
    Oracle expresses the same z-score with window functions."""

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf["value"]
        pdf["z"] = ((v - v.mean()) / v.std(ddof=1)).round(6)
        return pdf[["user_id", "event_id", "z"]]

    e = load_table(spark, sf_dir, "events")
    return e.groupBy("user_id").applyInPandas(
        zscore, schema="user_id long, event_id long, z double")


@query(
    "udf_grouped_agg_weighted_mean",
    oracle="""
    SELECT event_type,
           round(sum(value * CAST(json_extract_string(props, '$.k') AS DOUBLE))
                 / sum(CAST(json_extract_string(props, '$.k') AS DOUBLE)), 6)
                 AS wmean
    FROM events GROUP BY event_type
    """,
)
def udf_grouped_agg_weighted_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom UDAF via GROUPED_AGG pandas_udf (dask ``dd.Aggregation``):
    weight each value by the JSON ``k`` field."""

    @F.pandas_udf("double")
    def wmean(v: pd.Series, w: pd.Series) -> float:
        return float((v * w).sum() / w.sum())

    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("double")
    return (
        e.groupBy("event_type")
        .agg(F.round(wmean(F.col("value"), k), 6).alias("wmean"))
    )


@query(
    "udf_map_in_pandas",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice * (1 - l_discount) * (1 + l_tax), 6) AS charge
    FROM lineitem WHERE l_quantity >= 30
    """,
)
def udf_map_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition batch iterator (dask ``map_partitions``): filter +
    derive inside pandas, streaming one Arrow batch at a time — the
    custom-operator escape hatch (file-at-a-time semantics of the
    reference's ``client.submit`` jobs, distributed properly)."""

    def charge_op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf[pdf["l_quantity"] >= 30]
            yield pd.DataFrame({
                "l_orderkey": out["l_orderkey"],
                "l_linenumber": out["l_linenumber"],
                "charge": (out["l_extendedprice"] * (1 - out["l_discount"])
                           * (1 + out["l_tax"])).round(6),
            })

    li = load_table(spark, sf_dir, "lineitem")
    return li.mapInPandas(
        charge_op, schema="l_orderkey long, l_linenumber int, charge double")


@query(
    "udf_python_udtf",
    oracle="""
    SELECT o_orderkey, unnest(['status:' || o_orderstatus,
                               'priority:' || o_orderpriority]) AS tag
    FROM orders WHERE o_orderkey < 100
    """,
)
def udf_python_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-expanding transform (UDTF-shaped, SURVEY.md §2.B): one order
    row → one row per derived tag. Expressed Spark-first as explode over
    an array expression (codegen, no Python) — the UDTF surface with the
    fast path; ``@udtf`` exists for cases needing arbitrary Python."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 100)
    tags = F.array(
        F.concat(F.lit("status:"), F.col("o_orderstatus")),
        F.concat(F.lit("priority:"), F.col("o_orderpriority")),
    )
    return o.select("o_orderkey", F.explode(tags).alias("tag"))


@query(
    "udf_real_python_udtf",
    oracle="""
    SELECT o_orderkey, unnest(['status:' || o_orderstatus,
                               'priority:' || o_orderpriority]) AS tag
    FROM orders WHERE o_orderkey < 100
    """,
)
def udf_real_python_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Genuine Python UDTF (``@udtf``, Spark 3.5+): one input row →
    several output rows from arbitrary Python, consumed via a LATERAL
    join. Arrow-batched like the other UDF forms. (The explode-based
    ``udf_python_udtf`` shows the JVM fast path for the same shape —
    prefer it when the expansion is expressible as an array.)"""
    from pyspark.sql.functions import udtf

    @udtf(returnType="o_orderkey bigint, tag string")
    class TagExploder:
        def eval(self, o_orderkey: int, status: str, priority: str):
            yield o_orderkey, f"status:{status}"
            yield o_orderkey, f"priority:{priority}"

    spark.udtf.register("tag_exploder", TagExploder)
    return spark.sql("""
        SELECT t.o_orderkey, t.tag
        FROM {orders} o,
             LATERAL tag_exploder(o_orderkey, o_orderstatus, o_orderpriority) t
        WHERE o.o_orderkey < 100
    """.format(**bind_tables(spark, sf_dir, "orders")))


@query(
    "udf_map_in_arrow",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice * (1 - l_discount), 6) AS net_price,
           CAST(l_quantity AS BIGINT) AS qty
    FROM lineitem WHERE l_discount > 0.05
    """,
)
def udf_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition ARROW-native iterator (``mapInArrow``): the same
    escape hatch as ``mapInPandas`` minus the pandas materialization —
    batches stay ``pyarrow.RecordBatch`` end to end, so there is no
    index construction, no object-dtype risk, and no copy beyond
    Arrow's own buffers. This is the floor of Python-boundary cost in
    Spark; use it when the Python work is itself Arrow/NumPy-native
    (codec shims, tensor libs) and pandas semantics buy nothing.
    Filter + arithmetic run via ``pyarrow.compute`` kernels
    (vectorized C++), one batch at a time — peak memory is the batch,
    not the partition."""

    def net_op(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for b in batches:
            t = pa.Table.from_batches([b])
            t = t.filter(pc.greater(t["l_discount"], 0.05))
            # NB: no pc.round here — Arrow's decimal rounding lands on a
            # different ulp than JVM/DuckDB round; the 6-decimal parity
            # rounding happens in the Spark projection after the UDF
            net = pc.multiply(t["l_extendedprice"],
                              pc.subtract(pa.scalar(1.0), t["l_discount"]))
            out = pa.table({
                "l_orderkey": t["l_orderkey"],
                "l_linenumber": t["l_linenumber"],
                "net_price": net,
                "qty": pc.cast(t["l_quantity"], pa.int64()),
            })
            for ob in out.to_batches():
                yield ob

    li = load_table(spark, sf_dir, "lineitem")
    raw = li.mapInArrow(
        net_op,
        schema="l_orderkey long, l_linenumber int, net_price double, qty long")
    return raw.select("l_orderkey", "l_linenumber",
                      F.round("net_price", 6).alias("net_price"), "qty")


@query(
    "udf_polymorphic_udtf_analyze",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k,
           event_type AS type
    FROM events WHERE event_id % 40 = 0
    """,
)
def udf_polymorphic_udtf_analyze(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """POLYMORPHIC Python UDTF: the output schema is not declared
    statically — ``analyze()`` computes it at plan time from a constant
    argument (here a CSV of field names to project out of a JSON
    payload, each becoming its own typed column). This is the Spark 4
    contract for schema-on-demand table functions (CSV explorers,
    pivot-like expanders, config-driven extractors) — the planner sees
    real columns, so everything above the UDTF is ordinary Catalyst.
    The JSON field lands as BIGINT via analyze-declared types; the
    oracle extracts the same fields with json_extract."""
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import StructType
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    class JsonFields:
        @staticmethod
        def analyze(row_id: AnalyzeArgument, payload: AnalyzeArgument,
                    extra: AnalyzeArgument,
                    fields: AnalyzeArgument) -> AnalyzeResult:
            schema = StructType().add("event_id", "long")
            for name in fields.value.split(","):
                typ = "long" if name == "k" else "string"
                schema = schema.add(name if name != "event_type" else "type",
                                    typ)
            return AnalyzeResult(schema=schema)

        def eval(self, row_id: int, payload: str, extra: str, fields: str):
            import json as _json

            doc = _json.loads(payload)
            out = [row_id]
            for name in fields.split(","):
                if name == "event_type":
                    # the one pass-through field sourced from the extra
                    # scalar arg, not the JSON payload
                    out.append(extra)
                else:
                    # absent typed JSON field → NULL, matching
                    # json_extract semantics (never substitute a string
                    # into an analyze-declared LONG column)
                    out.append(doc.get(name))
            yield tuple(out)

    poly = udtf(JsonFields)
    spark.udtf.register("json_fields", poly)
    return spark.sql("""
        SELECT t.event_id, t.k, t.type
        FROM {events} e,
             LATERAL json_fields(event_id, props, event_type,
                                 'k,event_type') t
        WHERE e.event_id % 40 = 0
    """.format(**bind_tables(spark, sf_dir, "events")))
