"""Vector column expressions over ``array<float/double>`` embeddings —
the reusable JVM-side toolkit behind the similarity and embedding-dedup
operators (SURVEY.md §2.C), with the one scored cosine join and top-k
cut they all share and the DuckDB cosine their oracles write.

All of these are higher-order-function expressions (``zip_with`` +
in-order ``aggregate`` fold over doubles): whole-stage codegen, no
Python in the hot path, and bit-identical to DuckDB's sequential
``list_dot_product`` — which is what makes value-hash oracle parity
possible for floating-point similarity scores.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def as_double(vec) -> Column:
    """Cast an array<float> embedding to array<double> once, up front —
    doing arithmetic in float32 then comparing to a double oracle loses
    parity; doing the cast per-operation loses codegen CSE."""
    return F.transform(vec, lambda x: x.cast("double"))


def dot(u: Column, v: Column) -> Column:
    """In-order left fold — same summation order as DuckDB's
    ``list_dot_product`` (double addition is order-sensitive)."""
    return F.aggregate(F.zip_with(u, v, lambda p, q: p * q),
                       F.lit(0.0), lambda acc, x: acc + x)


def l2norm(u: Column) -> Column:
    return F.sqrt(dot(u, u))


def cosine(u: Column, v: Column) -> Column:
    return dot(u, v) / (l2norm(u) * l2norm(v))


def cosine_pair(u: Column, v: Column, nrm_u: Column, nrm_v: Column) -> Column:
    """Cosine for pair joins with the norms HOISTED to per-vector
    columns computed before the join.  Arithmetic is bit-identical to
    ``cosine`` (same fold, same order, same sqrt — the norm columns
    must be ``l2norm`` of the same arrays), but each interpreted
    HOF-fold norm runs once per input row instead of twice per emitted
    pair — the dominant cost in a blocked similarity self-join, where
    pairs outnumber rows by the bucket size."""
    return dot(u, v) / (nrm_u * nrm_v)


def cosine_sql(a: str, b: str) -> str:
    """DuckDB twin of ``cosine`` over two ``DOUBLE[]`` expressions —
    the one cosine the oracles write."""
    return (f"list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a}))"
            f" * sqrt(list_dot_product({b}, {b})))")


def cosine_join(q: DataFrame, c: DataFrame, on: Column) -> DataFrame:
    """The one scored cosine join: each side's ``emb`` gets its
    ``l2norm`` hoisted to ``nrm``, the sides are aliased ``q`` and
    ``c`` (``on`` and the caller's selections name ``q.*``/``c.*``),
    joined on ``on``, and every pair gets ``cos``. The caller owns the
    blocking key, the self-pair predicate, any broadcast hint and any
    threshold filter."""
    nrm = l2norm(F.col("emb"))  # one py4j build (~95 calls) serves both
    q = q.withColumn("nrm", nrm).alias("q")
    c = c.withColumn("nrm", nrm).alias("c")
    return q.join(c, on).withColumn("cos", cosine_pair(
        F.col("q.emb"), F.col("c.emb"), F.col("q.nrm"), F.col("c.nrm")))


def cosine_topk(pairs: DataFrame, k: int) -> DataFrame:
    """The one per-probe top-``k`` cut over a ``cosine_join`` whose
    probe side ``q`` carries its id as ``query_id``: (query_id,
    neighbor_id = ``c.vec_id``, cos, rank), ranked on the exact cosine
    (ties by neighbor_id) and rounded to 6 places after ranking."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"),
                                               F.asc("neighbor_id"))
    return (
        pairs.select("q.query_id", F.col("c.vec_id").alias("neighbor_id"),
                     "cos")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("cos", 6).alias("cos"),
                "rank")
    )


def l2dist(u: Column, v: Column) -> Column:
    return F.sqrt(F.aggregate(
        F.zip_with(u, v, lambda p, q: (p - q) * (p - q)),
        F.lit(0.0), lambda acc, x: acc + x))


def sign_lsh_bucket(vec, n_bits: int) -> Column:
    """Axis-aligned random-hyperplane LSH bucket: the sign pattern of
    the first ``n_bits`` dimensions as a bit-string. An equi-joinable
    blocking key — the candidate generator that keeps similarity joins
    off the O(n²) path."""
    return F.concat(*[
        F.when(F.element_at(vec, i + 1) >= 0, F.lit("1")).otherwise(F.lit("0"))
        for i in range(n_bits)
    ])
