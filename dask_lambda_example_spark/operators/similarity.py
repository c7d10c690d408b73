"""Similarity search over the ``embeddings`` table (SURVEY.md §2.C):
vector math battery, exact brute-force cosine top-k, threshold
similarity join, sign-LSH bucketed ANN, and an MLlib
BucketedRandomProjectionLSH variant.

North-star extension tier (BASELINE.json ``north_star``); the reference
itself has no vector ops — the anchor is its arbitrary-dataframe-compute
contract (``layer/python/dask_processing.py:26-27``).

Design notes (100 TB posture):

- Cosine/dot are JVM-side higher-order-function expressions
  (``zip_with`` + in-order ``aggregate`` fold over doubles) — whole-stage
  codegen, no Python, and bit-identical to DuckDB's sequential
  ``list_dot_product``, which is what makes value-hash parity possible.
- Brute-force top-k broadcasts the (small) probe side; the corpus side
  streams — no shuffle of the corpus. That is the right plan shape at
  any corpus size as long as the probe set fits in memory.
- The ANN variant prunes by an LSH bucket equi-join (axis-sign
  hyperplanes) so candidate generation is shuffle-bounded; the oracle
  replicates the identical bucketing, so recall loss is part of the
  checked contract, not hand-waved.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dask_lambda_example_spark.functions.vector import (
    as_double, cosine, cosine_join, cosine_pair, cosine_sql, cosine_topk, dot,
    l2dist, l2norm, sign_lsh_bucket)
from dask_lambda_example_spark.io import (
    load_table, parquet_column_ndv, parquet_rowcount)
from dask_lambda_example_spark.registry import QUERIES, query

# ---------------------------------------------------------------------------
# vector expression toolkit (JVM HOFs, no UDFs)
# ---------------------------------------------------------------------------


DOT_SQL = "list_dot_product({a}, {b})"


# ---------------------------------------------------------------------------
# function battery
# ---------------------------------------------------------------------------


@query(
    "sim_vector_math",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)
    SELECT a.vec_id,
           round(list_dot_product(a.emb, b.emb), 6) AS dot_ab,
           round(sqrt(list_dot_product(a.emb, a.emb)), 6) AS norm_a,
           round(sqrt(list_sum(list_transform(generate_series(1, 64),
                 i -> (a.emb[i] - b.emb[i]) * (a.emb[i] - b.emb[i])))), 6)
               AS l2_ab,
           round({cos}, 6) AS cos_ab
    FROM e a JOIN e b ON b.vec_id = a.vec_id + 1
    """.format(cos=cosine_sql("a.emb", "b.emb")),
)
def sim_vector_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector math battery (dot, L2 norm, L2 distance, cosine) over
    consecutive-id pairs — all codegen'd HOF expressions."""
    e = load_table(spark, sf_dir, "embeddings", parallel=True).select(
        "vec_id", as_double(F.col("embedding")).alias("emb"))
    a, b = e.alias("a"), e.alias("b")
    ea, eb = F.col("a.emb"), F.col("b.emb")
    return (
        a.join(b, F.col("b.vec_id") == F.col("a.vec_id") + 1)
        .select(
            F.col("a.vec_id").alias("vec_id"),
            F.round(dot(ea, eb), 6).alias("dot_ab"),
            F.round(l2norm(ea), 6).alias("norm_a"),
            F.round(l2dist(ea, eb), 6).alias("l2_ab"),
            F.round(cosine(ea, eb), 6).alias("cos_ab"),
        )
    )


# ---------------------------------------------------------------------------
# exact brute-force cosine top-k
# ---------------------------------------------------------------------------

TOP_K = 5
PROBE_MOD = 25  # vec_id % 25 == 0 → small probe set
# The probe set is a FIXED query workload, not a fraction of the corpus:
# without the cap, probes grow with the corpus and every probe-style scan
# does probes × corpus = O(n²) work — measured 100-126× at the 10× sf1
# run.  Capping the probe ids keeps the serving shape (bounded query set
# against a growing corpus): work is O(|probes| × n), exactly linear.
# At sf ≤ 0.1 every vec_id is < 2000, so the cap is a no-op there and the
# sf0.01 oracle contract is unchanged (the cap appears in BOTH engines).
PROBE_CAP = 2000


def _probe_filter() -> Column:
    return (F.col("vec_id") % PROBE_MOD == 0) & (F.col("vec_id") < PROBE_CAP)


_PROBE_SQL = f"q.vec_id % {PROBE_MOD} = 0 AND q.vec_id < {PROBE_CAP}"


def _embeddings(spark: SparkSession, sf_dir: str,
                scanned: float) -> DataFrame:
    """(vec_id, label, emb) over the embeddings scan that feeds a
    probe-style cosine join in which each probe scores the ``scanned``
    fraction of the corpus. The pair estimate handed to ``load_table``
    is probes × ``scanned`` × n, from the footer row count n and the
    probe bound (ids run 0..n-1)."""
    n = parquet_rowcount(sf_dir, "embeddings")
    pairs = min(n, PROBE_CAP) // PROBE_MOD * n * scanned
    return load_table(spark, sf_dir, "embeddings", parallel=True,
                      pairs=int(pairs)).select(
        "vec_id", "label", as_double(F.col("embedding")).alias("emb"))


def _topk_sql(pairs: str, k: int) -> str:
    """DuckDB twin of ``cosine_topk`` over ``cosine_join``: ``pairs``
    is the FROM clause that joins probe alias ``q`` to corpus alias
    ``c``; this is the ``scored`` CTE and the ranked SELECT that close
    a WITH."""
    return f"""
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {cosine_sql('q.emb', 'c.emb')} AS cos
        FROM {pairs})
    SELECT query_id, neighbor_id, round(cos, 6) AS cos, rank FROM (
        SELECT query_id, neighbor_id, cos,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rank
        FROM scored) WHERE rank <= {k}
    """


@query(
    "sim_cosine_topk_bruteforce",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    {_topk_sql(f"e q JOIN e c ON {_PROBE_SQL} AND c.vec_id <> q.vec_id", TOP_K)}""",
)
def sim_cosine_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k: broadcast the probe vectors against the full
    corpus, rank per probe, keep k.

    Plan shape for scale: ``broadcast(probes)`` × corpus scan (no corpus
    shuffle) → per-query TopK window. Ties broken by neighbor_id for
    determinism; ranking uses the unrounded score. Every probe scores
    the whole corpus, so from about 1,600 vectors on (at
    ``PARALLEL_MIN_PAIRS``) the scan is rebalanced: the corpus scan's
    partitioning is the only parallelism the folds get."""
    return _exact_cosine_topk(_embeddings(spark, sf_dir, 1), TOP_K)


def _exact_cosine_topk(e: DataFrame, k: int) -> DataFrame:
    """The one exact cosine top-``k`` over a (vec_id, emb) frame:
    (query_id, neighbor_id, cos, rank) for every probe against every
    other row of ``e``. The caller picks the scan, so the post-ingest
    recall audit reuses it over its own."""
    q = e.filter(_probe_filter()).withColumnRenamed("vec_id", "query_id")
    return cosine_topk(cosine_join(
        F.broadcast(q), e, F.col("c.vec_id") != F.col("q.query_id")), k)


# ---------------------------------------------------------------------------
# threshold similarity join (probe-style)
# ---------------------------------------------------------------------------

SIM_THRESHOLD = 0.3


@query(
    "sim_threshold_join",
    oracle="""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
               FROM embeddings)
    SELECT q.vec_id AS query_id, c.vec_id AS match_id,
           c.label AS match_label, round({cos}, 6) AS cos
    FROM e q JOIN e c ON {probe} AND c.vec_id <> q.vec_id
    WHERE {cos} >= {t}
    """.format(cos=cosine_sql("q.emb", "c.emb"), t=SIM_THRESHOLD,
               probe=_PROBE_SQL),
)
def sim_threshold_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity join: probe set × corpus, keep pairs with cosine ≥ t.
    Broadcast probe side; the threshold filter sits directly on the
    codegen'd cosine expression. Same pair work, and so the same scan
    rebalance, as ``sim_cosine_topk_bruteforce``."""
    e = _embeddings(spark, sf_dir, 1)
    return (
        cosine_join(F.broadcast(e.filter(_probe_filter())), e,
                    F.col("c.vec_id") != F.col("q.vec_id"))
        .filter(F.col("cos") >= SIM_THRESHOLD)
        .select(
            F.col("q.vec_id").alias("query_id"),
            F.col("c.vec_id").alias("match_id"),
            F.col("c.label").alias("match_label"),
            F.round("cos", 6).alias("cos"),
        )
    )


# ---------------------------------------------------------------------------
# sign-LSH bucketed ANN (deterministic, oracle-replicated)
# ---------------------------------------------------------------------------

ANN_SIGN_BITS = 8
ANN_K = 3


def _ann_oracle() -> str:
    bucket = " || ".join(
        f"(CASE WHEN emb[{i + 1}] >= 0 THEN '1' ELSE '0' END)"
        for i in range(ANN_SIGN_BITS)
    )
    pairs = (f"eb q JOIN eb c ON q.bucket = c.bucket AND {_PROBE_SQL}"
             " AND c.vec_id <> q.vec_id")
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    eb AS (SELECT vec_id, emb, {bucket} AS bucket FROM e),
    {_topk_sql(pairs, ANN_K)}"""


@query("sim_ann_signlsh_topk", oracle=_ann_oracle())
def sim_ann_signlsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k: random-hyperplane (axis-sign) LSH buckets on
    the first 8 dimensions; candidates come from a bucket equi-join and
    only they are scored — the IVF/LSH scale path where the corpus is
    hash-partitioned by bucket and each probe touches one partition.

    The oracle runs the identical bucketing, so the approximation itself
    is value-hash-checked (recall loss vs. the brute-force query is
    visible by comparing with ``sim_cosine_topk_bruteforce``)."""
    e = _embeddings(spark, sf_dir, 1 / 2 ** ANN_SIGN_BITS).select(
        "vec_id", "emb",
        sign_lsh_bucket(F.col("emb"), ANN_SIGN_BITS).alias("bucket"))
    q = e.filter(_probe_filter()).withColumnRenamed("vec_id", "query_id")
    return cosine_topk(cosine_join(
        F.broadcast(q), e, (F.col("q.bucket") == F.col("c.bucket"))
        & (F.col("c.vec_id") != F.col("q.query_id"))), ANN_K)


# ---------------------------------------------------------------------------
# recall@k audit — the one sign-off join every approximate path ships
# (``sim_*_recall*``), here first for exact vs LSH
# ---------------------------------------------------------------------------


def _recall_at_k(exact: DataFrame, approx: DataFrame, k: int) -> DataFrame:
    """Per probe, how many of the exact top-``k`` neighbors the
    approximate result recovered: (query_id, n_hit, recall_at_k).
    ``exact`` is a ranked (query_id, neighbor_id, rank) frame, ``approx``
    any (query_id, neighbor_id) one. Both are probe-bounded, so the
    left audit join touches only |probes| × k rows."""
    exact_k = (exact.filter(F.col("rank") <= k)
               .select("query_id", "neighbor_id"))
    hits = approx.select(F.col("query_id").alias("hit_query"),
                         F.col("neighbor_id").alias("hit"))
    return (
        exact_k.join(
            hits, (F.col("query_id") == F.col("hit_query"))
            & (F.col("neighbor_id") == F.col("hit")), "left")
        .groupBy("query_id")
        .agg(F.count("hit").alias("n_hit"))
        .select("query_id", "n_hit",
                F.round(F.col("n_hit") / k, 6).alias("recall_at_k"))
    )


def _recall_sql(exact: str, approx: str, k: int) -> str:
    """The DuckDB reference for ``_recall_at_k`` over two oracle
    queries: ``exact`` ranked (query_id, neighbor_id, rank), ``approx``
    any (query_id, neighbor_id) result."""
    return f"""
    WITH exact_k AS (SELECT query_id, neighbor_id FROM ({exact})
                     WHERE rank <= {k}),
    approx AS ({approx})
    SELECT e.query_id, CAST(count(a.neighbor_id) AS BIGINT) AS n_hit,
           round(count(a.neighbor_id) * 1.0 / {k}, 6) AS recall_at_k
    FROM exact_k e
    LEFT JOIN approx a ON a.query_id = e.query_id
                      AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
    """


def _cosine_recall(approx: str, k: int) -> str:
    """Oracle of a recall audit against the exact cosine search."""
    return _recall_sql(QUERIES["sim_cosine_topk_bruteforce"].oracle,
                       QUERIES[approx].oracle, k)


@query("sim_ann_recall_report",
       oracle=_cosine_recall("sim_ann_signlsh_topk", ANN_K))
def sim_ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k audit of the sign-LSH ANN against exact brute force —
    the number a serving team actually signs off on before shipping an
    approximate index. Per probe: how many of the exact top-{k}
    neighbors the bucketed ANN recovered.

    Composed from the two REGISTERED queries (same discipline as
    ``pipeline_curation_funnel``): ``_recall_at_k`` over their
    implementations, ``_recall_sql`` over their oracle SQL — so the
    audit itself is value-checked end-to-end, and recall loss is a
    measured artifact rather than a hoped-for property. Scale: both
    inputs are probe-bounded (O(|probes| × n) worst case), the audit
    join touches only |probes| × k rows.

    What it shows at the test scale is itself instructive: mean
    recall@3 ≈ 0.02 at sf0.01 — 8 sign bits give 256 buckets against a
    500-vector corpus, i.e. ~2 vectors per bucket, so almost no true
    neighbor shares a bucket. That is the over-sharded regime
    (bucket count should track corpus/TARGET, cf. ``adaptive_extra_bits``
    in dedup.py, which grows bits only ABOVE a per-bucket target);
    the report is the tool that catches the misconfiguration before an
    index ships."""
    return _recall_at_k(sim_cosine_topk_bruteforce(spark, sf_dir),
                        sim_ann_signlsh_topk(spark, sf_dir), ANN_K)


sim_ann_recall_report.__doc__ = sim_ann_recall_report.__doc__.format(k=ANN_K)


# ---------------------------------------------------------------------------
# MLlib BucketedRandomProjectionLSH (rows-only: model hashes are
# MLlib-internal, not reproducible in ANSI SQL)
# ---------------------------------------------------------------------------


@query("sim_mllib_brp_join")
def sim_mllib_brp_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN similarity join via MLlib ``BucketedRandomProjectionLSH``
    (seeded → deterministic): array<float> → VectorUDT at the MLlib
    boundary, ``approxSimilarityJoin`` under an L2 distance threshold,
    then verify the reported distance exactly with the HOF expression —
    a self-validating invariant in lieu of a SQL oracle (SURVEY.md
    §5.2-5). Output: pairs, MLlib distance, exact distance, both rounded
    (any disagreement would show as check=false rows)."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    e = load_table(spark, sf_dir, "embeddings", parallel=True).select(
        "vec_id",
        as_double(F.col("embedding")).alias("emb"),
        array_to_vector(F.col("embedding")).alias("features"),
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes",
        bucketLength=2.0, numHashTables=4, seed=42)
    model = lsh.fit(e)
    # probe-style (small left side vs. full corpus): bounds the
    # hash-exploded join — the full self-join quadratically couples the
    # corpus to itself, which is exactly what LSH joins exist to avoid
    probes = e.filter(_probe_filter())
    pairs = model.approxSimilarityJoin(probes, e, threshold=1.2, distCol="dist")
    exact = l2dist(F.col("datasetA.emb"), F.col("datasetB.emb"))
    return (
        pairs.filter(F.col("datasetA.vec_id") < F.col("datasetB.vec_id"))
        .select(
            F.col("datasetA.vec_id").alias("vec_a"),
            F.col("datasetB.vec_id").alias("vec_b"),
            F.round("dist", 6).alias("mllib_dist"),
            F.round(exact, 6).alias("exact_dist"),
            (F.round("dist", 6) == F.round(exact, 6)).alias("check"),
        )
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) coarse quantization + cell-pruned search
# ---------------------------------------------------------------------------

IVF_K = 3


def _ingest_corpus_cells(corpus: DataFrame):
    """(cen, cnorm): the coarse index of a (label, emb) frame —
    per-(label, pos) centroid values and per-label centroid norms.
    The one centroid build: the IVF searches and ``sim_ivf_centroids``
    pass the whole table, IVF-PQ takes ``cen`` for its L2 assignment,
    the ingest family passes the frozen corpus only. Tiny (n_cells ×
    dim and n_cells rows) → broadcast material."""
    cexpl = corpus.select(
        "label", F.posexplode("emb").alias("pos0", "val")).select(
        "label", (F.col("pos0") + 1).alias("pos"), "val")
    cen = cexpl.groupBy("label", "pos").agg(F.avg("val").alias("cval"))
    cnorm = cen.groupBy("label").agg(
        F.sqrt(F.sum(F.col("cval") * F.col("cval"))).alias("cn"))
    return cen, cnorm


def _ingest_assign_cells(vecs: DataFrame, cen: DataFrame,
                         cnorm: DataFrame, n_cells: int,
                         adapt_margin: float | None = None) -> DataFrame:
    """Top-``n_cells`` coarse-cell assignment by cosine against the
    broadcast centroids: (vec_id, label, ccos), ties broken by label —
    the single cosine assignment, shared by the IVF searches' probes,
    the ingest batch and the post-ingest recall. With ``adapt_margin``
    set, only cells whose cosine is within that margin of the best
    cell's are kept (the adaptive dial). The norm table is
    |vecs|-sized and joins on vec_id WITHOUT a broadcast hint: for a
    probe set it is tiny anyway (planned as a broadcast), for a 100 TB
    ingest batch it must never pin executor memory — only the
    n_cells-sized index tables broadcast."""
    vexpl = vecs.select(
        "vec_id", F.posexplode("emb").alias("pos0", "val")).select(
        "vec_id", (F.col("pos0") + 1).alias("pos"), "val")
    vnorm = vexpl.groupBy("vec_id").agg(
        F.sqrt(F.sum(F.col("val") * F.col("val"))).alias("vn"))
    vpc = (vexpl.join(F.broadcast(cen), "pos")
           .groupBy("vec_id", "label")
           .agg(F.sum(F.col("val") * F.col("cval")).alias("dot"))
           .join(vnorm, "vec_id")
           .join(F.broadcast(cnorm), "label")
           .select("vec_id", "label",
                   (F.col("dot") / (F.col("vn") * F.col("cn")))
                    .alias("ccos")))
    w = Window.partitionBy("vec_id").orderBy(F.desc("ccos"), F.asc("label"))
    ranked = vpc.withColumn("rn", F.row_number().over(w))
    keep = F.col("rn") <= n_cells
    if adapt_margin is not None:
        ranked = ranked.withColumn(
            "best", F.max("ccos").over(Window.partitionBy("vec_id")))
        keep = keep & (F.col("ccos") >= F.col("best") - F.lit(adapt_margin))
    return ranked.filter(keep).select("vec_id", "label", "ccos")


def _cell_pruned_cosine_topk(probes: DataFrame, assigned: DataFrame,
                             idx: DataFrame, k: int) -> DataFrame:
    """The one cell-pruned exact cosine scan: each probe (vec_id, emb)
    is scored only against the ``idx`` rows (vec_id, label, emb) of
    its ``assigned`` (vec_id, label) cells — the broadcast probe⋈cell
    side equi-joins the index on ``label``, never a cartesian — then
    cut by ``cosine_topk``."""
    q = (F.broadcast(probes.select("vec_id", "emb").join(assigned, "vec_id"))
         .select(F.col("vec_id").alias("query_id"),
                 F.col("label").alias("cell"), "emb"))
    return cosine_topk(cosine_join(
        q, idx, (F.col("c.label") == F.col("q.cell"))
        & (F.col("c.vec_id") != F.col("q.query_id"))), k)


def _cells_sql(src: str) -> str:
    """DuckDB twin of ``_ingest_corpus_cells`` over the (label, emb)
    relation ``src``: CTEs ``cexpl``, ``cen`` (label, pos, cval) and
    ``cnorm`` (label, cn)."""
    return f"""
    cexpl AS (SELECT label, unnest(emb) AS val,
                     generate_subscripts(emb, 1) AS pos FROM {src}),
    cen AS (SELECT label, pos, avg(val) AS cval
            FROM cexpl GROUP BY label, pos),
    cnorm AS (SELECT label, sqrt(sum(cval * cval)) AS cn
              FROM cen GROUP BY label)"""


def _assign_sql(vecs: str, n: int, margin: float | None = None) -> str:
    """DuckDB twin of ``_ingest_assign_cells`` for the (vec_id, emb)
    relation ``vecs``, against ``_cells_sql``'s tables: CTEs
    ``{vecs}_expl`` (vec_id, val, pos), ``{vecs}_norm``, ``{vecs}_pc``
    and ``{vecs}_cells`` (vec_id, label, ccos)."""
    # fixed dial: keep the n best cells.  adaptive dial: keep cells
    # whose centroid cosine is within ``margin`` of the best cell's,
    # capped at n — easy probes scan one cell, ambiguous probes scan
    # more (the FAISS nprobe heuristic, additive because cosine can be
    # negative).
    adapt = f"AND ccos >= best - {margin}" if margin is not None else ""
    return f"""
    {vecs}_expl AS (SELECT vec_id, unnest(emb) AS val,
                    generate_subscripts(emb, 1) AS pos FROM {vecs}),
    {vecs}_norm AS (SELECT vec_id, sqrt(sum(val * val)) AS vn
                    FROM {vecs}_expl GROUP BY vec_id),
    {vecs}_pc AS (SELECT x.vec_id, c.label,
                         sum(x.val * c.cval) / (xn.vn * cn.cn) AS ccos
                  FROM {vecs}_expl x JOIN cen c USING (pos)
                  JOIN {vecs}_norm xn ON xn.vec_id = x.vec_id
                  JOIN cnorm cn ON cn.label = c.label
                  GROUP BY x.vec_id, c.label, xn.vn, cn.cn),
    {vecs}_cells AS (SELECT vec_id, label, ccos FROM (
        SELECT vec_id, label, ccos,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY ccos DESC, label) AS rn,
               max(ccos) OVER (PARTITION BY vec_id) AS best
        FROM {vecs}_pc) WHERE rn <= {n} {adapt})"""


def _cell_scan_sql(probes: str, cells: str, idx: str, k: int) -> str:
    """DuckDB twin of ``_cell_pruned_cosine_topk``."""
    return _topk_sql(f"""{probes} q
        JOIN {cells} a ON a.vec_id = q.vec_id
        JOIN {idx} c ON c.label = a.label AND c.vec_id <> q.vec_id""", k)


_PROBES_CTE = f"probes AS (SELECT vec_id, emb FROM e q WHERE {_PROBE_SQL})"


@query(
    "sim_ivf_centroids",
    oracle=f"""
    WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS emb
               FROM embeddings),
    {_cells_sql('e')}
    SELECT label, CAST(pos AS INT) AS pos, round(cval, 6) AS centroid_val
    FROM cen
    """,
)
def sim_ivf_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer build: the centroid of each cell (cells =
    the label partitioning; a k-means assignment would slot in
    identically) as (label, dim, value) rows — the shared
    ``_ingest_corpus_cells`` vector aggregation (``posexplode`` + one
    grouped average). At scale this is a single partial+final
    aggregation over n_cells × dim groups, regardless of corpus
    size."""
    cen, _ = _ingest_corpus_cells(
        load_table(spark, sf_dir, "embeddings", parallel=True).select(
            "label", as_double(F.col("embedding")).alias("emb")))
    return cen.select("label", "pos", F.round("cval", 6).alias("centroid_val"))


def _ivf_search_oracle(n_probe_cells: int = 1,
                       adapt_margin: float | None = None) -> str:
    return f"""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
               FROM embeddings),
    {_cells_sql('e')},
    {_PROBES_CTE},
    {_assign_sql('probes', n_probe_cells, adapt_margin)},
    {_cell_scan_sql('probes', 'probes_cells', 'e', IVF_K)}"""


def _ivf_search_impl(spark: SparkSession, sf_dir: str,
                     n_probe_cells: int, k: int = IVF_K,
                     adapt_margin: float | None = None) -> DataFrame:
    """Shared IVF pipeline: assign each probe to its ``n_probe_cells``
    nearest centroids (with ``adapt_margin`` set, only those within
    that cosine margin of the best cell — the adaptive dial), exact
    top-k within those cells only. A probe scans ``n_probe_cells`` of
    the label-NDV cells, which sizes the scan's pair estimate."""
    e = _embeddings(spark, sf_dir, n_probe_cells
                    / parquet_column_ndv(sf_dir, "embeddings", "label"))
    cen, cnorm = _ingest_corpus_cells(e)
    probes = e.filter(_probe_filter())
    assigned = _ingest_assign_cells(probes, cen, cnorm, n_probe_cells,
                                    adapt_margin)
    return _cell_pruned_cosine_topk(probes, assigned, e, k)


@query("sim_ivf_search", oracle=_ivf_search_oracle())
def sim_ivf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search: assign each probe to its nearest centroid (cosine
    over the tiny centroid table), then exact top-k *within that cell
    only* — the partition-pruned ANN scale path: with the corpus
    hash-partitioned by cell, each probe reads 1/n_cells of the data.

    Pipeline: ``_ingest_corpus_cells`` builds the centroids,
    ``_ingest_assign_cells`` scores probe↔centroid cosines in exploded
    (vec_id, pos, val) form — as do the oracle's ``_cells_sql`` and
    ``_assign_sql`` CTEs, so the float summation grouping is identical
    — and ``_cell_pruned_cosine_topk`` reranks in-cell with the exact
    HOF cosine. The oracle replicates the whole pipeline — assignment
    mistakes (vs. brute force) are part of the checked contract."""
    return _ivf_search_impl(spark, sf_dir, 1)


IVF_PROBE_CELLS = 2


@query("sim_ivf_search_multiprobe",
       oracle=_ivf_search_oracle(IVF_PROBE_CELLS))
def sim_ivf_search_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The n_probe knob of IVF made concrete: search the top-{p}
    centroid cells per probe instead of 1. Scan fraction grows to
    {p}/n_cells; the recall lost to wrong single-cell assignment (the
    loss ``sim_ivf_recall_report`` measures) is recovered whenever the
    true neighbor sits in the runner-up cell — the standard
    recall-vs-cost dial of every production IVF index, here with both
    settings oracle-gated so the tradeoff is value-checked, not
    quoted from a paper."""
    return _ivf_search_impl(spark, sf_dir, IVF_PROBE_CELLS)


sim_ivf_search_multiprobe.__doc__ = sim_ivf_search_multiprobe.__doc__.format(
    p=IVF_PROBE_CELLS)


@query("sim_ivf_recall_multiprobe",
       oracle=_cosine_recall("sim_ivf_search_multiprobe", IVF_K))
def sim_ivf_recall_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the 2-cell multiprobe IVF search — read next to
    ``sim_ivf_recall_report`` (the 1-cell number), the pair IS the
    measured recall-vs-scan-fraction curve."""
    return _recall_at_k(sim_cosine_topk_bruteforce(spark, sf_dir),
                        sim_ivf_search_multiprobe(spark, sf_dir), IVF_K)


# Adaptive probe dial (round 14): both fixed dials spend the SAME scan
# budget on every probe — 1 or 2 cells — even though most queries'
# nearest centroid is unambiguous and a minority sit between cells
# (those are where the single-cell recall loss concentrates; the r13/
# r14 verdicts' 0.21-0.25 recall commentary is cell-membership at a
# FIXED 2-of-10 dial).  The adaptive rule probes every cell within
# IVF_ADAPT_MARGIN cosine of the best cell, capped at
# IVF_ADAPT_MAX_CELLS: easy probes scan 1 cell, ambiguous probes up to
# {cap} — the FAISS-style budget-where-it-helps heuristic, additive
# because cosine can be negative.  All three queries (search, recall
# twin, probe-count stats) are oracle-gated, so the recall-vs-scan
# trade is value-checked at BOTH ends: what it recovers (recall) and
# what it spends (cells probed).
IVF_ADAPT_MARGIN = 0.05
IVF_ADAPT_MAX_CELLS = 4


@query("sim_ivf_search_adaptive",
       oracle=_ivf_search_oracle(IVF_ADAPT_MAX_CELLS, IVF_ADAPT_MARGIN))
def sim_ivf_search_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search with the ADAPTIVE probe dial: each probe scans every
    cell whose centroid cosine is within {m} of its best cell's, capped
    at {cap} cells — variable scan budget spent exactly where the fixed
    dials lose recall (probes that sit between cells). Exact top-k
    within the probed cells; whole pipeline oracle-replicated including
    the margin rule. Read with ``sim_ivf_recall_adaptive`` (what it
    recovers) and ``sim_ivf_adaptive_probe_stats`` (what it spends)."""
    return _ivf_search_impl(spark, sf_dir, IVF_ADAPT_MAX_CELLS,
                            adapt_margin=IVF_ADAPT_MARGIN)


sim_ivf_search_adaptive.__doc__ = sim_ivf_search_adaptive.__doc__.format(
    m=IVF_ADAPT_MARGIN, cap=IVF_ADAPT_MAX_CELLS)


@query("sim_ivf_recall_adaptive",
       oracle=_cosine_recall("sim_ivf_search_adaptive", IVF_K))
def sim_ivf_recall_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the adaptive-probe IVF search — read next to
    ``sim_ivf_recall_report`` (1 cell) and ``sim_ivf_recall_multiprobe``
    (2 cells): the three rows ARE the measured recall-vs-scan curve,
    with the adaptive point spending its extra cells only on ambiguous
    probes (``sim_ivf_adaptive_probe_stats`` prices that side)."""
    return _recall_at_k(sim_cosine_topk_bruteforce(spark, sf_dir),
                        sim_ivf_search_adaptive(spark, sf_dir), IVF_K)


def _ivf_adaptive_stats_oracle() -> str:
    ivf = _ivf_search_oracle(IVF_ADAPT_MAX_CELLS, IVF_ADAPT_MARGIN)
    return f"""
    WITH ivf_full AS ({ivf}),
    cells AS (SELECT s.query_id, count(DISTINCT e.label) AS n_cells
              FROM ivf_full s JOIN embeddings e
                ON e.vec_id = s.neighbor_id
              GROUP BY s.query_id)
    SELECT CAST(count(*) AS BIGINT) AS n_probes,
           CAST(sum(n_cells) AS BIGINT) AS cells_scanned,
           round(avg(n_cells), 6) AS avg_cells
    FROM cells
    """


@query("sim_ivf_adaptive_probe_stats", oracle=_ivf_adaptive_stats_oracle())
def sim_ivf_adaptive_probe_stats(spark: SparkSession, sf_dir: str
                                 ) -> DataFrame:
    """The SPEND side of the adaptive dial: how many cells the adaptive
    rule actually scanned, aggregated over probes (n_probes,
    cells_scanned, avg_cells) — derived from the search output's
    neighbor cells, so the oracle prices exactly what the search
    emitted. avg_cells ≈ 1.x on an easy corpus vs the fixed dial's
    flat 2.0: the budget concentrates on ambiguous probes."""
    search = sim_ivf_search_adaptive(spark, sf_dir)
    e = load_table(spark, sf_dir, "embeddings", parallel=True).select(
        "vec_id", "label")
    cells = (search.join(e, search.neighbor_id == e.vec_id)
             .groupBy("query_id")
             .agg(F.countDistinct("label").alias("n_cells")))
    return cells.agg(
        F.count("*").cast("long").alias("n_probes"),
        F.sum("n_cells").cast("long").alias("cells_scanned"),
        F.round(F.avg("n_cells"), 6).alias("avg_cells"))


@query(
    "sim_embed_quantize_int8",
    oracle="""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
        WHERE vec_id % 10 = 0),
    n AS (SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm
          FROM e)
    SELECT vec_id,
           CAST(round(nrm, 6) AS REAL) AS norm,
           array_to_string(
               list_transform(emb,
                   x -> CAST(CAST(round(x / nrm * 127, 0) AS INT)
                             AS VARCHAR)), ' ') AS q8
    FROM n
    """,
)
def sim_embed_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding storage quantization: L2-normalize then symmetric int8
    (scale 127) — the 4× footprint cut that makes a 100 TB embedding
    corpus shippable, with cosine preserved to ~1e-2. All JVM array
    HOFs in one projection: the norm is the same in-order fold as every
    other vector op (bit-identical to the oracle), rounding happens on
    identical doubles, and the int codes serialize for the hash. The
    dequantize side is the same transform with /127."""
    e = (load_table(spark, sf_dir, "embeddings", parallel=True)
         .filter(F.col("vec_id") % 10 == 0)
         .select("vec_id", as_double(F.col("embedding")).alias("emb")))
    nrm = l2norm(F.col("emb"))
    n = e.select("vec_id", "emb", nrm.alias("nrm"))
    q8 = F.array_join(
        F.transform(F.col("emb"),
                    lambda x: F.round(x / F.col("nrm") * 127, 0)
                    .cast("int").cast("string")), " ")
    return n.select(
        "vec_id", F.round("nrm", 6).cast("float").alias("norm"),
        q8.alias("q8"))


MMR_PROBE = 0
MMR_CAND = 12
MMR_K = 4
MMR_LAMBDA = 0.7


def _mmr_oracle() -> str:
    cos = cosine_sql("{a}", "{b}")

    def c(a, b):
        return cos.format(a=a, b=b)

    steps = []
    prev_sel = "s1"
    sel_union = "SELECT * FROM s1"
    for i in range(2, MMR_K + 1):
        steps.append(f"""
    r{i} AS (
        SELECT c.vec_id, c.emb, c.cos,
               max({c('c.emb', 's.emb')}) AS msim
        FROM cand c JOIN ({sel_union}) s ON c.vec_id <> s.vec_id
        WHERE c.vec_id NOT IN (SELECT vec_id FROM ({sel_union}))
        GROUP BY c.vec_id, c.emb, c.cos),
    s{i} AS (
        SELECT {i} AS rank, vec_id, emb, cos FROM r{i}
        ORDER BY {MMR_LAMBDA!r} * cos - {1 - MMR_LAMBDA!r} * msim DESC,
                 vec_id LIMIT 1)""")
        sel_union += f" UNION ALL SELECT * FROM s{i}"
        prev_sel = f"s{i}"
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
               FROM embeddings),
    p AS (SELECT emb AS pemb FROM e WHERE vec_id = {MMR_PROBE}),
    cand AS (
        SELECT vec_id, emb, {c('emb', 'p.pemb')} AS cos
        FROM e, p WHERE vec_id <> {MMR_PROBE}
        ORDER BY cos DESC, vec_id LIMIT {MMR_CAND}),
    s1 AS (SELECT 1 AS rank, vec_id, emb, cos FROM cand
           ORDER BY cos DESC, vec_id LIMIT 1),
    {",".join(steps)}
    SELECT rank, vec_id, CAST(round(cos, 6) AS REAL) AS cos
    FROM ({sel_union})
    """


@query("sim_mmr_diversified_topk", oracle=_mmr_oracle())
def sim_mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance re-ranking: from the cosine top-{n}
    candidates of a probe, greedily select {k} results balancing
    relevance against redundancy (λ={lam} · cos(probe,c) −
    (1−λ) · max-sim-to-already-selected) — the diversified-retrieval
    step between ANN candidate generation and a RAG context window.

    Scale split: candidate generation is the distributed part
    (broadcast probe over the streaming corpus, TakeOrdered {n}) and is
    shared with `sim_cosine_topk_bruteforce`; the greedy loop runs on
    the {n}-row candidate frame — bounded by k·n tiny joins, corpus
    size irrelevant. All cosines are the same in-order folds as every
    vector op, so the greedy argmax (tie-break vec_id) is bit-exact
    across engines and the oracle unrolls the identical {k}-step
    recurrence."""
    e = (load_table(spark, sf_dir, "embeddings", parallel=True)
         .select("vec_id", as_double(F.col("embedding")).alias("emb")))
    p = (e.filter(F.col("vec_id") == MMR_PROBE)
         .select(F.col("emb").alias("pemb")))
    cand = (
        e.filter(F.col("vec_id") != MMR_PROBE)
        .crossJoin(F.broadcast(p))
        .select("vec_id", "emb", cosine(F.col("emb"), F.col("pemb"))
                .alias("cos"))
        .orderBy(F.desc("cos"), F.asc("vec_id")).limit(MMR_CAND)
        .localCheckpoint(eager=True)
    )
    sel = (cand.orderBy(F.desc("cos"), F.asc("vec_id")).limit(1)
           .select(F.lit(1).alias("rank"), "vec_id", "emb", "cos"))
    for i in range(2, MMR_K + 1):
        s = sel.select(F.col("vec_id").alias("svid"),
                       F.col("emb").alias("semb"))
        scored = (
            cand.join(F.broadcast(sel.select("vec_id")), "vec_id",
                      "left_anti")
            .crossJoin(F.broadcast(s))
            .select("vec_id", "emb", "cos",
                    cosine(F.col("emb"), F.col("semb")).alias("sim"))
            .groupBy("vec_id", "emb", "cos")
            .agg(F.max("sim").alias("msim"))
        )
        pick = (
            scored.orderBy(
                F.desc(MMR_LAMBDA * F.col("cos")
                       - (1 - MMR_LAMBDA) * F.col("msim")),
                F.asc("vec_id")).limit(1)
            .select(F.lit(i).alias("rank"), "vec_id", "emb", "cos"))
        sel = sel.unionByName(pick).localCheckpoint(eager=True)
    return sel.select("rank", "vec_id",
                      F.round("cos", 6).cast("float").alias("cos"))


sim_mmr_diversified_topk.__doc__ = sim_mmr_diversified_topk.__doc__.format(
    n=MMR_CAND, k=MMR_K, lam=MMR_LAMBDA)


# ---------------------------------------------------------------------------
# hybrid retrieval: BM25 (lexical) + cosine (semantic) fused with RRF
# ---------------------------------------------------------------------------

RRF_K = 60          # standard reciprocal-rank-fusion damping constant
RRF_N_CAND = 50     # candidate-list depth per modality
RRF_TOP = 20        # fused results returned
RRF_QUERY_VEC = 0   # pinned probe: embedding of vec_id 0


def _hybrid_rrf_oracle() -> str:
    from dask_lambda_example_spark.operators.text import (
        _bm25_ctes, _bm25_score_sql)

    cos = cosine_sql("c.emb", "q.emb")
    return f"""
    WITH {_bm25_ctes()},
    lex AS (
        SELECT doc_id, r_lex FROM (
            SELECT doc_id,
                   row_number() OVER (ORDER BY {_bm25_score_sql()} DESC,
                                      doc_id) AS r_lex
            FROM per_doc)
        WHERE r_lex <= {RRF_N_CAND}),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
          FROM embeddings),
    qv AS (SELECT emb FROM e WHERE vec_id = {RRF_QUERY_VEC}),
    sem_scored AS (
        SELECT c.vec_id AS doc_id, {cos} AS cos
        FROM e c CROSS JOIN qv q
        WHERE c.vec_id <> {RRF_QUERY_VEC}),
    sem AS (
        SELECT doc_id, r_sem FROM (
            SELECT doc_id,
                   row_number() OVER (ORDER BY cos DESC, doc_id) AS r_sem
            FROM sem_scored)
        WHERE r_sem <= {RRF_N_CAND}),
    fused AS (
        SELECT coalesce(l.doc_id, s.doc_id) AS doc_id,
               coalesce(CAST(1.0 AS DOUBLE) / ({RRF_K} + l.r_lex), 0)
               + coalesce(CAST(1.0 AS DOUBLE) / ({RRF_K} + s.r_sem), 0)
                 AS rrf,
               l.r_lex, s.r_sem
        FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id)
    SELECT doc_id, round(rrf, 6) AS rrf, r_lex, r_sem
    FROM fused ORDER BY rrf DESC, doc_id LIMIT {RRF_TOP}
    """


@query("sim_hybrid_rrf", oracle=_hybrid_rrf_oracle())
def sim_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion — the standard RAG
    recall stage: a LEXICAL candidate list (Okapi BM25 over the pinned
    term query, ``text.bm25_scores``) and a SEMANTIC candidate list
    (exact cosine against one pinned probe embedding) are each cut to
    the top-{n}, then fused by ``rrf = Σ 1/({k} + rank_i)`` and the
    top-{top} returned.

    Plan shape for 100 TB: each modality keeps its own scale-safe scan
    — the BM25 side is the inverted-index plan (postings filtered at
    explode, |query|-row broadcast df), the semantic side is a
    broadcast-probe projection over the corpus with NO shuffle — and
    both reduce to a TakeOrdered top-{n} BEFORE fusion, so the
    rank-assignment windows and the full-outer fusion join only ever
    see ≤{n}-row frames regardless of corpus size. Candidate-list
    depth, not data volume, bounds everything downstream of the two
    scans.

    Float discipline: ranks are integers; each fused score is exactly
    two IEEE divisions added in fixed order — bit-stable against the
    oracle's identical expression. Ties broken by doc_id at every
    ranking step."""
    from dask_lambda_example_spark.operators.text import bm25_scores

    lex_top = (
        bm25_scores(spark, sf_dir)
        .orderBy(F.desc("bm25"), F.asc("doc_id")).limit(RRF_N_CAND))
    w_lex = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    lex = lex_top.select(
        "doc_id", F.row_number().over(w_lex).alias("r_lex"))

    e = load_table(spark, sf_dir, "embeddings", parallel=True).select(
        "vec_id", as_double(F.col("embedding")).alias("emb")
    ).withColumn("nrm", l2norm(F.col("emb")))
    qv = e.filter(F.col("vec_id") == RRF_QUERY_VEC).select(
        F.col("emb").alias("qemb"), F.col("nrm").alias("qnrm"))
    sem_scored = (
        e.filter(F.col("vec_id") != RRF_QUERY_VEC)
        .crossJoin(F.broadcast(qv))
        .select(F.col("vec_id").alias("doc_id"),
                cosine_pair(F.col("emb"), F.col("qemb"),
                            F.col("nrm"), F.col("qnrm")).alias("cos")))
    sem_top = sem_scored.orderBy(
        F.desc("cos"), F.asc("doc_id")).limit(RRF_N_CAND)
    w_sem = Window.orderBy(F.desc("cos"), F.asc("doc_id"))
    sem = sem_top.select(
        "doc_id", F.row_number().over(w_sem).alias("r_sem"))

    fused = (
        lex.join(sem, "doc_id", "full_outer")
        .select(
            "doc_id",
            (F.coalesce(1.0 / (RRF_K + F.col("r_lex")), F.lit(0.0))
             + F.coalesce(1.0 / (RRF_K + F.col("r_sem")), F.lit(0.0))
             ).alias("rrf"),
            "r_lex", "r_sem"))
    return (fused
            .select("doc_id", F.round("rrf", 6).alias("rrf"),
                    "r_lex", "r_sem")
            .orderBy(F.desc("rrf"), F.asc("doc_id")).limit(RRF_TOP))


sim_hybrid_rrf.__doc__ = sim_hybrid_rrf.__doc__.format(
    n=RRF_N_CAND, k=RRF_K, top=RRF_TOP)


# ---------------------------------------------------------------------------
# IVF recall audit (exact vs cell-pruned search) — the second ANN index
# gets the same sign-off number as the sign-LSH one
# ---------------------------------------------------------------------------


@query("sim_ivf_recall_report",
       oracle=_cosine_recall("sim_ivf_search", IVF_K))
def sim_ivf_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k audit of the IVF cell-pruned search against exact brute
    force — the sibling of ``sim_ann_recall_report`` for the second ANN
    index, so BOTH approximate paths ship with a measured sign-off
    number. Per probe: how many of the exact top-{k} neighbors the
    single-cell IVF search recovered.

    Same audit (``_recall_at_k`` over the two REGISTERED queries, their
    oracle SQL nested by ``_recall_sql``), so IVF's single-probe-cell
    recall loss (probes whose true neighbors live in a different cell
    score 0) is a measured artifact. Scale: both inputs are
    probe-bounded; the audit join touches |probes| × k rows. The knob
    this report tunes at 100 TB is n_probe_cells — searching the top-p
    centroid cells instead of 1 trades scan fraction (p / n_cells)
    against exactly the recall measured here."""
    return _recall_at_k(sim_cosine_topk_bruteforce(spark, sf_dir),
                        sim_ivf_search(spark, sf_dir), IVF_K)


sim_ivf_recall_report.__doc__ = sim_ivf_recall_report.__doc__.format(k=IVF_K)


# ---------------------------------------------------------------------------
# metadata-thresholded auto-dispatch: exact brute force <-> IVF ANN
# (VERDICT r6 item 2: the exact/IVF pair was the same naive/twin shape
# as rank/ntile/percentile/rolling but undispatched)
# ---------------------------------------------------------------------------

# Above this many corpus vectors the exact search stops being
# acceptable as a default: brute force scans the WHOLE corpus per probe
# (O(|probes| x n) dot products), while IVF-multiprobe scans
# n_probe/n_cells of it with the recall cost measured by
# `sim_ivf_recall_multiprobe`. 1e7 128-dim float vectors ~ 5 GB of
# per-probe streaming compute -- the last scale where exactness is
# worth a full scan by default; past it a user reaching for "top-k
# neighbors" by name gets the index. Row count from parquet footer
# metadata, no job at plan-construction time.
SIM_EXACT_MAX_ROWS = 10_000_000


def sim_search_auto_impl(spark: SparkSession, sf_dir: str,
                         max_exact_rows: int = SIM_EXACT_MAX_ROWS
                         ) -> DataFrame:
    """Size-dispatched similarity search: exact brute-force cosine
    top-k below the corpus-row threshold (no recall loss, bounded
    scan), IVF multiprobe (scan fraction n_probe/n_cells, recall
    measured by the registered audits) above it. Both branches return
    the same (query_id, neighbor_id, cos, rank<=k) contract with
    k = TOP_K."""
    if parquet_rowcount(sf_dir, "embeddings") <= max_exact_rows:
        return sim_cosine_topk_bruteforce(spark, sf_dir)
    return _ivf_search_impl(spark, sf_dir, IVF_PROBE_CELLS, k=TOP_K)


def _sim_search_auto_oracle() -> str:
    from dask_lambda_example_spark.registry import QUERIES

    return QUERIES["sim_cosine_topk_bruteforce"].oracle


@query("sim_search_auto", oracle=_sim_search_auto_oracle())
def sim_search_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered entry point for ``sim_search_auto_impl`` (shares the
    exact search's oracle: below the threshold -- including the sf0.01
    oracle scale -- the dispatcher IS the exact search; above it the
    approximation is a deliberate, recall-audited trade the
    ``sim_ivf_recall_*`` queries price. The plan assert
    ``tests/test_plans.py::test_sim_search_auto_dispatch`` pins that
    above-threshold input plans the centroid-pruned pipeline, never the
    full-corpus scan-per-probe join)."""
    return sim_search_auto_impl(spark, sf_dir)


# ---------------------------------------------------------------------------
# product quantization (PQ) with asymmetric-distance (ADC) scoring —
# the vector-COMPRESSION half of billion-scale ANN (Jégou et al., "Product
# Quantization for Nearest Neighbor Search", TPAMI 2011; the FAISS IVF-PQ
# scale path). IVF above prunes WHICH cells to scan; PQ shrinks WHAT is
# scanned: each d-dim float vector becomes PQ_M small codes (here 32
# byte-sized codes vs 64 dims × float32 = 256 bytes — 8x compression),
# and a query scans codes with per-subspace table lookups instead of
# full-width float math.
# ---------------------------------------------------------------------------

PQ_M = 32         # subspaces; dim 64 → 2 dims per subspace
PQ_DSUB = 64 // PQ_M
# quantizer bits per dimension (3 → 8 fixed-width levels). The
# compression↔recall trade at 2, 3 and 4 bits is measured in
# GROWTH_r10_pq_tiers.json (raw ADC) and GROWTH_r11_pq_rerank.json
# (with the exact re-rank); the oracle SQL is built from this constant.
PQ_BITS = 3
# The ADC distance-table broadcast carries PQ_M · PQ_K = PQ_M ·
# (2^bits)^PQ_DSUB slots PER PROBE — exponential in the dial (at dim 64
# / M=32 / dsub=2: 3 bits → 2 k slots/probe and the sf1 probe set's
# table is ~10 MB; 6 bits → 131 k slots/probe, ~GB-scale per probe set,
# hopeless under the 16 g production heap). Bound the constant to the
# range whose broadcast stays executor material (ADVICE r10); the
# measured recall curve across this range is in SCALE.md.
assert 2 <= PQ_BITS <= 5, (
    f"PQ_BITS={PQ_BITS} outside supported range [2, 5]: "
    "the ADC table broadcast is PQ_M*(2^bits)^PQ_DSUB slots per probe "
    "and stops being broadcast material above 5 bits")
PQ_LEVELS = 1 << PQ_BITS
PQ_K = PQ_LEVELS ** PQ_DSUB   # codes per subspace (64 at 3 bits × 2 dims)
PQ_STRIDE = PQ_K  # (m, code) slot packing stride: slot = m·stride + code
PQ_TOPK = IVF_K   # neighbors returned per probe

# the packing m*PQ_STRIDE+code collides silently if a code ever reaches
# the stride (ADVICE r9 — the round-9 data-driven label domain made this
# a latent hazard; the lattice domain makes it structural): codes are
# < PQ_LEVELS**PQ_DSUB by construction, so pin that against the stride.
assert PQ_K <= PQ_STRIDE, "PQ code domain must fit the slot-packing stride"


def _pq_grid(e: DataFrame) -> DataFrame:
    """1-row frame with two broadcastable POSITIONAL ARRAYS (min and
    bin width per dimension, index = pos): the per-dimension
    fixed-width quantization grid — ``PQ_LEVELS`` equal bins across
    [min, max]. min/max are chosen over trained centroids
    deliberately: they are ORDER-INDEPENDENT exact reductions, so
    Spark and DuckDB derive bit-identical grids and the bin assignment
    (one subtract/divide/floor per dimension) can never diverge
    between the engines. Width is floored at 1e-30 so a constant
    dimension bins to 0 instead of dividing by zero. One partial+final
    aggregation over dim groups regardless of corpus size.

    Arrays, not maps (round-10 measurement): the encode projection
    reads the grid 2×dim times PER ROW, and ``element_at`` on a Spark
    map is a linear scan of its key array — 64-entry maps made the
    encode ~5 ms/row; positional arrays are O(1) and the same encode
    is ~15 µs/row (3.1 s for the 200 k-row tier)."""
    return (e.select(F.posexplode("emb").alias("pos0", "val"))
             .groupBy("pos0")
             .agg(F.min("val").alias("mn"),
                  F.greatest(F.max("val") - F.min("val"),
                             F.lit(1e-30)).alias("w"))
             .agg(F.array_sort(F.collect_list(F.struct("pos0", "mn")))
                   .alias("s1"),
                  F.array_sort(F.collect_list(F.struct("pos0", "w")))
                   .alias("s2"))
             .select(F.transform("s1", lambda s: s["mn"]).alias("mna"),
                     F.transform("s2", lambda s: s["w"]).alias("wa")))


def _pq_bin_sql(pos: int) -> str:
    """The saturating ``PQ_BITS``-bit lattice bin of dimension ``pos``
    against the grid arrays: greatest(0, least(levels-1, floor((x -
    min) / w · levels))). A frozen grid (the ingest family's, trained
    on the corpus only) can meet values outside [min, max]; both
    clamps pin those to the edge bins. On the rows a grid was trained
    on x ≥ min, so there the low clamp never fires. DuckDB applies
    the identical clamps (``_pq_sql``); floor output is integral, so
    its INT cast is exact under DuckDB's round-on-cast."""
    x, mn, w = (f"element_at({a}, {pos + 1})" for a in ("emb", "mna", "wa"))
    return (f"CAST(greatest(0, least({PQ_LEVELS - 1}, "
            f"floor(({x} - {mn}) / {w} * {PQ_LEVELS}))) AS INT)")


def _pq_coded(e: DataFrame, train: DataFrame) -> DataFrame:
    """(vec_id, label, emb, codes array<int>): the one PQ encode of the
    (vec_id, label, emb) frame ``e`` against the grid trained on
    ``train`` — ONE whole-stage-codegen projection against the
    broadcast 1-row grid of positional arrays: no explode, no join, no
    shuffle. It encodes the corpus (``train`` = ``e``), the ingest
    batch and the post-ingest index (``train`` = the frozen corpus).

    Subspace m's code is Σ_j bin_{m·dsub+j} · levels^j, domain [0,
    PQ_K). The quantizer IS this binning function (a product lattice
    with data-driven per-bin reconstruction values), so encoding needs
    no argmin, no codebook and no join — ``PQ_DSUB``
    subtract/divide/floors per code. The ~3,000-op array is ONE SQL
    string the JVM parses: built through the Column API it cost
    1.4-2.0 s of py4j calls per query build; parsed, it costs
    milliseconds and optimizes to the same plan."""
    codes = "array({})".format(", ".join(
        " + ".join(f"{_pq_bin_sql(m * PQ_DSUB + j)} * {PQ_LEVELS ** j}"
                   for j in range(PQ_DSUB))
        for m in range(PQ_M)))
    return (e.crossJoin(F.broadcast(_pq_grid(train)))
             .select("vec_id", "label", "emb", F.expr(codes).alias("codes")))


def _pq_codebook(coded: DataFrame) -> DataFrame:
    """(code, m, pos0, cval): per-bin mean subvectors — the
    reconstruction values of the lattice quantizer (the centroid of
    every occupied bin, exactly what k-means converges to for a fixed
    assignment). One partial+final aggregation over ≤ PQ_M × PQ_K × dim
    groups regardless of corpus size; empty bins simply don't occur in
    the output (they have no members to reconstruct)."""
    return (coded.select(
                F.posexplode("emb").alias("pos0", "val"),
                F.element_at(F.col("codes"),
                             (F.col("pos0") / PQ_DSUB).cast("int") + 1)
                 .alias("code"))
            .select("code", (F.col("pos0") / PQ_DSUB).cast("int").alias("m"),
                    "pos0", "val")
            .groupBy("code", "m", "pos0")
            .agg(F.avg("val").alias("cval")))


def _pq_probe_d2(probes: DataFrame, cb: DataFrame) -> DataFrame:
    """Probe-side per-(subspace, code) squared distances — the ADC
    distance tables. Exploded + grouped like the oracle, but ONLY over
    the bounded probe set (|probes| × dim × occupied-codes rows; the
    codebook broadcasts)."""
    sub = probes.select("vec_id", F.posexplode("emb").alias("pos0", "val"))
    diff = F.col("val") - F.col("cval")
    return (sub.join(F.broadcast(cb), "pos0")
               .groupBy("vec_id", "m", "code")
               .agg(F.sum(diff * diff).alias("d2")))


def _pq_dt_array(pdt: DataFrame) -> DataFrame:
    """(query_id, dta): each probe's ADC distance table as ONE DENSE
    POSITIONAL array of ``PQ_M × PQ_STRIDE`` slots (slot = m·stride +
    code), so the pair-side score is O(1) array indexes.

    Round-10 measurement lesson (the production-shape code domain made
    both wrong forms visible): (a) keeping the table as a per-probe
    MAP makes every pair-side ``element_at`` a linear scan of the
    map's key array; (b) densifying the map with
    ``transform(sequence(...), i -> element_at(map, i))`` re-evaluates
    the map expression inside the lambda per slot — measured 150-260 s
    at sf0.1 for 80 probes. The shape that stays fast is relational:
    LEFT-join the probe × slot spine (|probes| × PQ_M·PQ_STRIDE
    rows, broadcast hash join) against the occupied entries, then
    ``array_sort(collect_list(struct(slot, d2)))`` and a single
    field-extract transform — every per-entry operation is a plain
    join/aggregate, the only lambda touches 1 struct field per slot.
    Unoccupied slots carry null and are never indexed (every
    candidate's code is an occupied bin by construction)."""
    spark = pdt.sparkSession
    slots = spark.range(PQ_M * PQ_STRIDE).select(
        F.col("id").cast("int").alias("slot"))
    entries = pdt.select(
        "query_id",
        (F.col("m") * PQ_STRIDE + F.col("code")).cast("int").alias("slot"),
        "d2")
    spine = (pdt.select("query_id").distinct()
                .crossJoin(F.broadcast(slots)))
    return (spine.join(entries, ["query_id", "slot"], "left")
                 .groupBy("query_id")
                 .agg(F.array_sort(
                          F.collect_list(F.struct("slot", "d2")))
                       .alias("ent"))
                 .select("query_id",
                         F.transform(F.col("ent"), lambda s: s["d2"])
                          .alias("dta")))


def _pq_adc_ranked(probes: DataFrame, coded: DataFrame,
                   assigned: DataFrame | None = None) -> DataFrame:
    """The one ADC ranking: (query_id, neighbor_id, ad2, rank) of each
    ``probes`` (vec_id, emb) row against the ``coded`` table
    (``_pq_coded``), ranked by (ad2, neighbor_id). Without
    ``assigned`` every code row is scored; with a (query_id, cell)
    ``assigned`` a probe scores only the code rows whose label is one
    of its cells (IVF-PQ and the post-ingest index). Callers own the
    coarse assignment and the rank cut."""
    # Materialize the encode ONCE (round-10 measurement): the coded
    # frame feeds BOTH the codebook build and the pair-side scan, and
    # without a materialization barrier Catalyst inlines the ~3,000-op
    # encode expression into the pair projection — re-encoding the
    # corpus row PER CANDIDATE PAIR (measured 37 s vs 5.5 s at sf0.1).
    # The checkpoint is n × (id + PQ_M ints): the codes table a real
    # pipeline would persist, at exactly the compression PQ promises.
    coded = coded.localCheckpoint(eager=True)
    dtm = _pq_dt_array(
        _pq_probe_d2(probes, _pq_codebook(coded))
        .select(F.col("vec_id").alias("query_id"), "m", "code", "d2"))
    # ADC as a broadcast ARRAY-INDEX FOLD, not a join+re-aggregation
    # (round-9 lesson: the relational form pushed n×M×|probes| rows
    # through a hash aggregate — 320M rows at sf10, 67.8s; the fold
    # scans |probes|×n rows once in codegen) — and not a MAP fold
    # (round-10 lesson in _pq_dt_array: map element_at is a linear
    # key scan, 18× at the production code domain). Every join is a
    # broadcast join; nothing shuffles after the encode. The fold
    # Σ_m dta[m·stride + code_m] is one SQL string of literal
    # element_at terms: no higher-order-function lambda, which would
    # be evaluated per element outside whole-stage codegen.
    ad2 = " + ".join(
        f"element_at(dta, CAST({m * PQ_STRIDE} + element_at(codes, {m + 1})"
        f" + 1 AS INT))" for m in range(PQ_M))
    scan = coded.select("vec_id", F.col("label").alias("cell"), "codes")
    if assigned is None:
        pairs = scan.join(F.broadcast(dtm),
                          F.col("vec_id") != F.col("query_id"))
    else:
        pairs = (scan.join(F.broadcast(assigned), ["cell"])
                 .join(F.broadcast(dtm), ["query_id"])
                 .filter(F.col("vec_id") != F.col("query_id")))
    wrank = Window.partitionBy("query_id").orderBy("ad2", "neighbor_id")
    return (pairs.select("query_id", F.col("vec_id").alias("neighbor_id"),
                         F.expr(ad2).alias("ad2"))
            .withColumn("rank", F.row_number().over(wrank)))


def _pq_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings", parallel=True).select(
        "vec_id", "label", as_double(F.col("embedding")).alias("emb"))


def _pq_corpus_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ADC ranking over the whole corpus, shared by the top-k cut
    (``sim_pq_adc_search``) and the re-rank shortlist cut
    (``sim_pq_rerank_search``)."""
    e = _pq_embeddings(spark, sf_dir)
    return _pq_adc_ranked(e.filter(_probe_filter()), _pq_coded(e, e))


_PQ_E_SQL = """e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
          FROM embeddings)"""


def _pq_sql(train: str, coded: str) -> str:
    """DuckDB twin of ``_pq_coded`` and the tables ``_pq_adc_ranked``
    builds: CTE ``grid`` (pos, mn, w) over the relation ``train``; then
    over the (vec_id, label, emb) relation ``coded``: ``sub`` (vec_id,
    label, val, pos, m, j), the saturating ``codes`` (vec_id, cell, m,
    code), the codebook ``cb`` and the probes' distance tables ``pdt``
    (query_id, m, code, d2)."""
    return f"""
    grid AS (SELECT pos, min(val) AS mn,
                    greatest(max(val) - min(val), 1e-30) AS w
             FROM (SELECT unnest(emb) AS val,
                          generate_subscripts(emb, 1) AS pos FROM {train})
             GROUP BY pos),
    sub AS (SELECT vec_id, label, val, pos,
                   -- integer floor division: DuckDB CAST(float AS INT)
                   -- ROUNDS, Spark's cast truncates — '//' avoids both
                   CAST((pos - 1) // {PQ_DSUB} AS INT) AS m,
                   CAST((pos - 1) % {PQ_DSUB} AS INT) AS j
            FROM (SELECT vec_id, label, unnest(emb) AS val,
                         generate_subscripts(emb, 1) AS pos FROM {coded})),
    codes AS (SELECT vec_id, label AS cell, m,
                     CAST(sum(greatest(0, least({PQ_LEVELS - 1},
                              CAST(floor((s.val - g.mn) / g.w
                                         * {PQ_LEVELS}) AS INT)))
                          * (1 << ({PQ_BITS} * s.j))) AS INT) AS code
              FROM sub s JOIN grid g USING (pos)
              GROUP BY vec_id, label, m),
    cb AS (SELECT c.code, s.m, s.pos, avg(s.val) AS cval
           FROM sub s JOIN codes c ON c.vec_id = s.vec_id AND c.m = s.m
           GROUP BY c.code, s.m, s.pos),
    pdt AS (SELECT s.vec_id AS query_id, s.m, cb.code,
                   sum((s.val - cb.cval) * (s.val - cb.cval)) AS d2
            FROM sub s JOIN cb ON cb.m = s.m AND cb.pos = s.pos
            WHERE s.vec_id % {PROBE_MOD} = 0 AND s.vec_id < {PROBE_CAP}
            GROUP BY s.vec_id, s.m, cb.code)"""


def _adc_sql(k: int, cells: str | None = None) -> str:
    """DuckDB twin of ``_pq_adc_ranked`` cut at rank ``k``, over
    ``_pq_sql``'s tables: the ``adc`` CTE and the ranked SELECT
    (query_id, neighbor_id, adist2, rank) that close a WITH. A
    (vec_id, label) ``cells`` relation prunes each probe's scan to the
    code rows of its cells."""
    prune = (f"JOIN {cells} a ON a.vec_id = q.query_id AND a.label = c.cell"
             if cells else "")
    return f"""
    adc AS (SELECT q.query_id, c.vec_id AS neighbor_id, sum(q.d2) AS ad2
            FROM pdt q
            JOIN codes c ON c.m = q.m AND c.code = q.code
            {prune}
            WHERE c.vec_id <> q.query_id
            GROUP BY q.query_id, c.vec_id)
    SELECT query_id, neighbor_id, round(ad2, 6) AS adist2, rank FROM (
        SELECT query_id, neighbor_id, ad2,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY ad2, neighbor_id) AS rank
        FROM adc) WHERE rank <= {k}
    """


def _pq_adc_oracle(topk: int = PQ_TOPK) -> str:
    """Full-pipeline replication (the IVF-oracle discipline): the
    lattice grid, the lattice encode, bin-mean codebooks, distance
    tables and the ADC sum are all recomputed in DuckDB — approximation
    error vs exact search is part of the checked contract, not
    hand-waved. ``topk`` widens the cut for the re-rank shortlist
    (``sim_pq_rerank_search`` nests this at ``PQ_RERANK``)."""
    return f"WITH {_PQ_E_SQL}, {_pq_sql('e', 'e')}, {_adc_sql(topk)}"


@query("sim_pq_adc_search", oracle=_pq_adc_oracle())
def sim_pq_adc_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-compressed approximate nearest neighbors with ADC scoring.

    Pipeline (all JVM-side; the only wide ops are two partial-agg
    groupBys):

    1. **Grid**: per-dimension fixed-width quantization grid over the
       exact [min, max] — one tiny aggregation, broadcast as a 1-row
       frame of positional arrays.
    2. **Encode**: per (vector, subspace), {PQ_BITS} lattice bits per
       dimension → code ∈ [0, {PQ_K}) per subspace (production-shape
       codebooks — VERDICT r9 item 4; the round-9 form had 10
       per-label codes and recall@3 0.15). The quantizer is the
       binning function itself, so the corpus encode is a pure
       whole-stage-codegen projection: the corpus collapses from
       n × d floats to n × {PQ_M} byte-sized codes (8× compression
       at d=64/float32; PQ_BITS is the compression↔recall dial — 2
       bits/dim doubles compression for recall@3 0.358 at sf0.1 vs
       0.596 at 3 bits, both in GROWTH_r10_pq_tiers.json) with NO
       argmin, NO join, NO shuffle.
    3. **Codebooks** (reconstruction values): per-bin mean subvectors —
       the centroid of every occupied bin, what k-means converges to
       for this assignment; ≤ {PQ_M} × {PQ_K} × d/{PQ_M} tiny rows,
       broadcast.
    4. **ADC**: each probe's per-(subspace, code) distance table is d2
       restricted to the probe set — asymmetric distance: query stays
       full-precision, corpus is code lookups. Approximate squared
       L2 = Σ_m dt[m, code_m(x)]: the probe tables broadcast as DENSE
       positional arrays (maps would be linear key scans per lookup —
       ``_pq_dt_array``)
       and the Σ folds in whole-stage codegen over the code table —
       NO full-width float math against the corpus, no shuffle after
       the encode projection.
    5. Top-{PQ_TOPK} per probe by (adist2, neighbor_id) — bounded
       window over |probes| × n pairs of SCALAR distances.

    Steps 3-4 and the ranking are ``_pq_adc_ranked``, which IVF-PQ
    and the post-ingest serving path share. Scale: at 100 TB of
    embeddings the codes table is ~3 TB; combined with IVF cell
    pruning (``sim_ivfpq_search``) each probe touches n_probe/n_cells
    of THAT — the standard IVF-PQ composition. L2 metric (PQ's native
    space); for cosine, L2-normalize upstream. The oracle replicates
    grid → lattice codes → bin means → tables → fold end to end."""
    return (_pq_corpus_ranked(spark, sf_dir)
            .filter(F.col("rank") <= PQ_TOPK)
            .select("query_id", "neighbor_id",
                    F.round("ad2", 6).alias("adist2"), "rank"))


sim_pq_adc_search.__doc__ = sim_pq_adc_search.__doc__.format(
    PQ_BITS=PQ_BITS, PQ_K=PQ_K, PQ_M=PQ_M, PQ_TOPK=PQ_TOPK)


# ---------------------------------------------------------------------------
# PQ shortlist → exact re-rank (the refine stage every production
# IVF-PQ serving stack runs: FAISS's refine/RFlat wrapper — ADC picks a
# shortlist from the compressed codes, then the shortlist's FULL-
# precision vectors are fetched and exactly re-scored, so the answer
# quality is bounded by shortlist membership, not by quantization
# error on the final ordering).
# ---------------------------------------------------------------------------

# ADC shortlist width refined with exact distances. Recall@k of the
# re-ranked result equals P(true top-k ∈ shortlist): any true top-k
# member in the shortlist survives the exact re-sort (only genuinely
# nearer vectors can outrank it, and there are < k of those). The
# refine stage reads PQ_RERANK/n of the full-precision corpus per
# probe — the bytes PQ saved stay saved except for the shortlist.
PQ_RERANK = 20


def _pq_rerank_d2_sql(q: str, c: str) -> str:
    # exact ‖q−c‖² grouped as qq − 2qc + cc, the SAME float evaluation
    # order as the Spark side's dot() fold (the sim_pq_recall_report
    # discipline) — value-hash parity depends on it.
    return (f"list_dot_product({q}, {q}) - 2 * list_dot_product({q}, {c})"
            f" + list_dot_product({c}, {c})")


def _exact_l2_sql(k: int, shortlist: str | None = None) -> str:
    """The DuckDB reference for ``_exact_l2_topk``: exact squared-L2
    top-``k`` per probe, (query_id, neighbor_id, dist2, rank), over the
    ``shortlist`` query's (query_id, neighbor_id) pairs, or over probe ×
    corpus when there is none."""
    d2 = _pq_rerank_d2_sql("q.emb", "c.emb")
    pairs = (f"({shortlist}) s JOIN e q ON q.vec_id = s.query_id"
             f" JOIN e c ON c.vec_id = s.neighbor_id" if shortlist
             else f"e q JOIN e c ON {_PROBE_SQL} AND c.vec_id <> q.vec_id")
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
               FROM embeddings)
    SELECT query_id, neighbor_id, round(d2, 6) AS dist2, rank FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {d2} AS d2,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY {d2}, c.vec_id) AS rank
        FROM {pairs})
    WHERE rank <= {k}
    """


def _exact_l2_topk(spark: SparkSession, sf_dir: str, k: int,
                   shortlist: DataFrame | None = None) -> DataFrame:
    """The one exact squared-L2 top-k: (query_id, neighbor_id, dist2,
    rank) per probe, ‖q−c‖² evaluated as qq − 2qc + cc with the
    in-order dot() fold, ties broken by neighbor_id.

    Without ``shortlist`` it is the brute-force side of the L2 recall
    audits: the probe set broadcasts against the corpus scan, which is
    never shuffled. With a (query_id, neighbor_id) ``shortlist`` it is
    the refine stage of the re-rank searches: the shortlist (joined to
    its broadcast probe vectors) broadcasts and fetches the
    full-precision neighbors with ONE broadcast-hash join against the
    corpus, again scanned once and never shuffled."""
    e = load_table(spark, sf_dir, "embeddings", parallel=True).select(
        "vec_id", as_double(F.col("embedding")).alias("emb"))
    q = (e.filter(_probe_filter())
          .select(F.col("vec_id").alias("query_id"),
                  F.col("emb").alias("qemb"),
                  dot(F.col("emb"), F.col("emb")).alias("qq")))
    c = e.select(F.col("vec_id").alias("neighbor_id"),
                 F.col("emb").alias("cemb"),
                 dot(F.col("emb"), F.col("emb")).alias("cc"))
    if shortlist is None:
        pairs = F.broadcast(q).join(
            c, F.col("neighbor_id") != F.col("query_id"))
    else:
        pairs = F.broadcast(shortlist.join(F.broadcast(q), "query_id")
                            ).join(c, "neighbor_id")
    d2 = (F.col("qq") - 2 * dot(F.col("qemb"), F.col("cemb"))
          + F.col("cc"))
    wrank = Window.partitionBy("query_id").orderBy("d2", "neighbor_id")
    return (pairs.select("query_id", "neighbor_id", d2.alias("d2"))
            .withColumn("rank", F.row_number().over(wrank))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id",
                    F.round("d2", 6).alias("dist2"), "rank"))


@query("sim_pq_rerank_search",
       oracle=_exact_l2_sql(PQ_TOPK, _pq_adc_oracle(PQ_RERANK)))
def sim_pq_rerank_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC shortlist → exact re-rank (the FAISS ``refine`` stage).

    The ADC ranking (``_pq_corpus_ranked`` — identical plan to
    ``sim_pq_adc_search``) is cut at ``PQ_RERANK`` instead of top-k;
    the |probes| × {PQ_RERANK} shortlist is then exactly re-scored by
    ``_exact_l2_topk`` (one broadcast-hash join against the corpus,
    which is scanned once and never shuffled), keeping the final
    top-{PQ_TOPK}.

    Scale: this is the standard accuracy-recovery dial at 100 TB —
    compressed codes prune n → shortlist, and the refine stage reads
    only |probes| × {PQ_RERANK} full vectors (point lookups in a real
    serving store; here one broadcast join). Measured effect at the
    3-bit lattice: mean recall@3 rises from the raw-ADC 0.46 at sf1 to
    the re-ranked value in ``sim_pq_rerank_recall`` /
    GROWTH_r11_pq_rerank.json, because re-ranking converts "top-k
    somewhere in the shortlist" into "top-k in order". The oracle
    nests the full ADC pipeline at the shortlist width and replicates
    the exact re-score."""
    sl = (_pq_corpus_ranked(spark, sf_dir)
          .filter(F.col("rank") <= PQ_RERANK)
          .select("query_id", "neighbor_id"))
    return _exact_l2_topk(spark, sf_dir, PQ_TOPK, sl)


sim_pq_rerank_search.__doc__ = sim_pq_rerank_search.__doc__.format(
    PQ_RERANK=PQ_RERANK, PQ_TOPK=PQ_TOPK)


def _l2_recall(approx: str) -> str:
    """Oracle of a recall audit against the exact squared-L2 search."""
    return _recall_sql(_exact_l2_sql(PQ_TOPK), QUERIES[approx].oracle,
                       PQ_TOPK)


@query("sim_pq_rerank_recall", oracle=_l2_recall("sim_pq_rerank_search"))
def sim_pq_rerank_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k audit of the re-ranked PQ search against exact
    squared-L2 brute force — the measured sign-off number for the
    refine stage (every approximate path in this repo ships one):
    ``_recall_at_k`` of the re-ranked frame against ``_exact_l2_topk``.
    Because the re-rank orders its shortlist exactly, this recall is
    exactly shortlist membership of the true top-k — the number the
    PQ_RERANK width buys (VERDICT r10 item 7: the sf1 recall dial)."""
    return _recall_at_k(_exact_l2_topk(spark, sf_dir, PQ_TOPK),
                        sim_pq_rerank_search(spark, sf_dir), PQ_TOPK)


@query("sim_pq_recall_report", oracle=_l2_recall("sim_pq_adc_search"))
def sim_pq_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k audit of PQ-ADC against exact squared-L2 brute force —
    every approximate path in this repo ships with a measured sign-off
    number (``_recall_at_k``), and PQ's is measured in PQ's NATIVE
    metric (L2, ``_exact_l2_topk``), not borrowed from the cosine exact
    search; the PQ side is the registered query itself (the oracle
    nests its SQL). Scale: probe-bounded on both sides; the audit join
    touches |probes| × k rows. The knob this report prices at 100 TB
    is PQ_BITS (lattice bits per dimension): finer quantization →
    higher recall and a proportionally larger code table. Measured at
    the round-10 codebook shape (3-bit lattice, 64 codes/subspace):
    mean recall@3 0.70 / 0.60 at sf0.01 / sf0.1 vs 0.15 for the
    10-code round-9 form, above the whole IVF-multiprobe recall curve
    (0.22→0.42) — GROWTH_r10_pq_tiers.json carries the tier numbers."""
    return _recall_at_k(_exact_l2_topk(spark, sf_dir, PQ_TOPK),
                        sim_pq_adc_search(spark, sf_dir), PQ_TOPK)


IVFPQ_PROBE_CELLS = 2   # coarse cells scanned per probe (multiprobe)


def _ivfpq_oracle(topk: int = PQ_TOPK) -> str:
    """``topk`` widens the cut for the re-rank shortlist
    (``sim_ivfpq_rerank_search`` nests this at ``PQ_RERANK``)."""
    return f"""
    WITH {_PQ_E_SQL}, {_pq_sql('e', 'e')}, {_cells_sql('e')},
    assigned AS (SELECT vec_id, label FROM (
            SELECT p.vec_id, cen.label,
                   row_number() OVER (
                       PARTITION BY p.vec_id
                       ORDER BY sum((p.val - cen.cval)
                                    * (p.val - cen.cval)), cen.label) AS rn
            FROM sub p JOIN cen ON cen.pos = p.pos
            WHERE p.vec_id % {PROBE_MOD} = 0 AND p.vec_id < {PROBE_CAP}
            GROUP BY p.vec_id, cen.label)
        WHERE rn <= {IVFPQ_PROBE_CELLS}),
    {_adc_sql(topk, 'assigned')}"""


@query("sim_ivfpq_search", oracle=_ivfpq_oracle())
def sim_ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ: the composed billion-scale ANN path — coarse cell
    pruning (IVF) over a PQ-compressed corpus with ADC scoring. The
    structure every production vector index ships (FAISS IVFx,PQy).

    The coarse quantizer is the label-cell centroid table (the
    ``sim_ivf_centroids`` build), assignment by squared L2 over the
    bounded probe set — in PQ's native metric, consistent with the ADC
    scores the fine stage produces. (The round-9 composition reused
    the per-label PQ codebook distances as centroid distances, a trick
    only possible BECAUSE codes were labels; with production-shape
    lattice codebooks the coarse stage is its own — tiny — pipeline,
    exactly as FAISS separates coarse and fine quantizers.)

    Scale posture: the ADC scan touches only the assigned cells' code
    rows ({p}/n_cells of the code table — which is itself ~8× smaller
    than the embeddings); the per-probe tables, centroid table and
    cell assignments broadcast; the embeddings never shuffle. This is
    the plan whose two dials the recall reports price: n_probe
    (``sim_ivf_recall_multiprobe``) and the PQ codebook shape
    (``sim_pq_recall_report``).
    """
    return (_ivfpq_ranked(spark, sf_dir)
            .filter(F.col("rank") <= PQ_TOPK)
            .select("query_id", "neighbor_id",
                    F.round("ad2", 6).alias("adist2"), "rank"))


def _ivfpq_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cell-pruned ADC ranking, shared by the top-k cut
    (``sim_ivfpq_search``) and the re-rank shortlist cut
    (``sim_ivfpq_rerank_search``): each probe's top cells by exact L2
    to the label centroids (probe-bounded: |probes| × dim explode
    against the broadcast centroid table), then ``_pq_adc_ranked``."""
    e = _pq_embeddings(spark, sf_dir)
    probes = e.filter(_probe_filter())
    cen, _ = _ingest_corpus_cells(e)
    pexpl = probes.select(
        "vec_id", F.posexplode("emb").alias("pos0", "val")).select(
        "vec_id", (F.col("pos0") + 1).alias("pos"), "val")
    cdiff = F.col("val") - F.col("cval")
    wcell = Window.partitionBy("query_id").orderBy("cd2", "cell")
    assigned = (pexpl.join(F.broadcast(cen), "pos")
                .groupBy(F.col("vec_id").alias("query_id"),
                         F.col("label").alias("cell"))
                .agg(F.sum(cdiff * cdiff).alias("cd2"))
                .withColumn("rn", F.row_number().over(wcell))
                .filter(F.col("rn") <= IVFPQ_PROBE_CELLS)
                .select("query_id", "cell"))
    return _pq_adc_ranked(probes, _pq_coded(e, e), assigned)


sim_ivfpq_search.__doc__ = sim_ivfpq_search.__doc__.format(
    p=IVFPQ_PROBE_CELLS)


@query("sim_ivfpq_rerank_search",
       oracle=_exact_l2_sql(PQ_TOPK, _ivfpq_oracle(PQ_RERANK)))
def sim_ivfpq_rerank_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete production ANN path: IVF cell pruning → PQ-ADC
    scoring → exact re-rank of the shortlist (FAISS ``IVFx,PQy`` +
    refine). Coarse quantizer prunes WHICH code rows are scanned, PQ
    shrinks WHAT is scanned, the refine stage restores exact ordering
    on the |probes| × PQ_RERANK survivors — all three dials
    (n_probe cells, lattice bits, shortlist width) priced by their
    respective recall reports (``sim_ivf_recall_multiprobe``,
    ``sim_pq_recall_report``, ``sim_pq_rerank_recall``; the
    composition's recall is bounded above by cell membership — a true
    neighbor outside the probed cells can never enter the shortlist,
    which is the n_probe trade the IVF report prices).

    Plan: the cell-pruned ADC ranking (identical to
    ``sim_ivfpq_search``) cut at ``PQ_RERANK``, then the shared
    ``_exact_l2_topk`` refine join — shortlist broadcasts, corpus
    scanned once, never shuffled. The oracle nests the full IVF-PQ
    pipeline at shortlist width and replicates the exact re-score."""
    sl = (_ivfpq_ranked(spark, sf_dir)
          .filter(F.col("rank") <= PQ_RERANK)
          .select("query_id", "neighbor_id"))
    return _exact_l2_topk(spark, sf_dir, PQ_TOPK, sl)


# ---------------------------------------------------------------------------
# incremental ANN ingest (VERDICT r12 item 5) — the similarity-search
# analog of dedup_incremental_minhash: a NEW embedding batch is folded
# into an EXISTING IVF-PQ index without rebuilding it. The index side
# (coarse centroids, PQ grid) is derived from the corpus ONLY; each
# batch vector is (a) assigned to its nearest coarse cell (cosine over
# the tiny broadcast centroid table) and (b) PQ-encoded against the
# frozen corpus grid — the reference's file-arrival cadence
# (app.py:131-134) applied to the vector index. At 100 TB the batch is
# a day's shard: work is |batch| × n_cells for assignment and one
# codegen projection for the codes; the corpus is touched only to
# derive the (cached, in production persisted) centroid/grid tables —
# never joined against the batch.
# ---------------------------------------------------------------------------

INGEST_MOD = 10
INGEST_REM = 7  # batch = vec_id % 10 == 7 — disjoint from the probe
#                 set (% 25 == 0), so probe workloads never mutate


def _ingest_is_batch() -> Column:
    return (F.col("vec_id") % INGEST_MOD) == INGEST_REM


def _ingest_index(e: DataFrame):
    """(corpus, cen, cnorm, idx) over the (vec_id, label, emb) frame
    ``e``: the corpus/batch split, the frozen corpus-only cells and the
    post-ingest index ``idx`` (vec_id, label, emb) — corpus vectors
    under their original cells ∪ batch vectors under their
    ingest-assigned cells. Shared by the post-ingest recall and the
    post-ingest serving path."""
    corpus = e.filter(~_ingest_is_batch())
    batch = e.filter(_ingest_is_batch())
    cen, cnorm = _ingest_corpus_cells(corpus)
    ingested = _ingest_assign_cells(batch, cen, cnorm, 1)
    idx = corpus.select("vec_id", "label", "emb").unionAll(
        batch.select("vec_id", "emb")
             .join(ingested, "vec_id")
             .select("vec_id", "label", "emb"))
    return corpus, cen, cnorm, idx


_INGEST_BATCH_SQL = f"vec_id % {INGEST_MOD} = {INGEST_REM}"

# The oracle head every ingest query shares: the corpus/batch split,
# the frozen corpus-only cells, the batch's nearest-cell assignment
# (``batch_cells``) and the post-ingest index ``idx``.
_INGEST_INDEX_SQL = f"""
    {_PQ_E_SQL},
    corpus AS (SELECT * FROM e WHERE NOT ({_INGEST_BATCH_SQL})),
    batch AS (SELECT * FROM e WHERE {_INGEST_BATCH_SQL}),
    {_cells_sql('corpus')},
    {_assign_sql('batch', 1)},
    idx AS (SELECT vec_id, label, emb FROM corpus
            UNION ALL
            SELECT b.vec_id, i.label, b.emb
            FROM batch b JOIN batch_cells i USING (vec_id))"""


def _ingest_oracle() -> str:
    return f"""
    WITH {_INGEST_INDEX_SQL}, {_pq_sql('corpus', 'batch')},
    cstr AS (SELECT vec_id,
                    string_agg(CAST(code AS VARCHAR), '-' ORDER BY m)
                      AS codes_str
             FROM codes GROUP BY vec_id)
    SELECT a.vec_id, a.label AS cell, round(a.ccos, 6) AS ccos,
           cstr.codes_str
    FROM batch_cells a JOIN cstr USING (vec_id)
    """


@query("sim_ivf_incremental_ingest", oracle=_ingest_oracle())
def sim_ivf_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF-PQ ingest: assign each NEW vector (the batch,
    ``vec_id % {mod} == {rem}``) to its nearest existing coarse cell
    and PQ-encode it against the frozen corpus grid — (vec_id, cell,
    ccos, codes_str), deterministic given the fixed index, so fully
    oracle-gated.

    Plan shape: centroid/norm/grid tables are tiny corpus aggregations
    (n_cells × dim and dim rows) that BROADCAST; the batch explodes
    once for the assignment dot products (|batch| × dim × n_cells
    partial-agg rows — map-side combined) and the PQ encode is one
    whole-stage-codegen projection against the broadcast grid (the
    ``_pq_coded`` discipline: no argmin, no join, no shuffle of the
    batch). The corpus is NEVER joined against the batch.
    ``sim_ivf_incremental_recall`` value-checks that a post-ingest
    multiprobe search over the updated index finds the new vectors."""
    e = _pq_embeddings(spark, sf_dir)
    corpus = e.filter(~_ingest_is_batch())
    batch = e.filter(_ingest_is_batch())

    cen, cnorm = _ingest_corpus_cells(corpus)
    assigned = _ingest_assign_cells(batch, cen, cnorm, 1).select(
        "vec_id", F.col("label").alias("cell"),
        F.round("ccos", 6).alias("ccos"))
    # batch values outside the frozen corpus grid saturate at the edge
    # bins (``_pq_bin_sql``); the oracle applies the identical clamps
    coded = _pq_coded(batch, corpus).select(
        "vec_id",
        F.array_join(F.transform("codes", lambda c: c.cast("string")),
                     "-").alias("codes_str"))
    return assigned.join(coded, "vec_id").select(
        "vec_id", "cell", "ccos", "codes_str")


sim_ivf_incremental_ingest.__doc__ = sim_ivf_incremental_ingest.__doc__\
    .format(mod=INGEST_MOD, rem=INGEST_REM)


def _ingest_recall_oracle() -> str:
    """Post-ingest multiprobe search recall vs exact brute force over
    batch ∪ corpus: the index labels are the ORIGINAL cells for corpus
    vectors and the INGEST-ASSIGNED cells for batch vectors (the
    centroid table stays corpus-only — frozen index)."""
    ivf_k = f"""
    WITH {_INGEST_INDEX_SQL},
    {_PROBES_CTE},
    {_assign_sql('probes', IVF_PROBE_CELLS)},
    {_cell_scan_sql('probes', 'probes_cells', 'idx', IVF_K)}"""
    return _recall_sql(QUERIES["sim_cosine_topk_bruteforce"].oracle,
                       ivf_k, IVF_K)


@query("sim_ivf_incremental_recall", oracle=_ingest_recall_oracle())
def sim_ivf_incremental_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k sign-off for the incremental ingest: run the standard
    multiprobe IVF search over the POST-INGEST index (corpus vectors
    under their original cells ∪ batch vectors under their ingest-
    assigned cells; centroids stay corpus-only — the frozen-index
    contract) and audit it with ``_recall_at_k`` against
    ``_exact_cosine_topk`` over batch ∪ corpus.
    A newly ingested vector is retrievable exactly when its assigned
    cell is among a probe's scanned cells — the recall number this
    report prices (every approximate path in this repo ships one; the
    ``sim_ivf_recall_multiprobe`` discipline). Plan shape matches the
    ingest + search queries: broadcast centroid/assignment tables, one
    cell-pruned scored join, bounded windows. The exact audit reads
    its own scan, sized like ``sim_cosine_topk_bruteforce``'s; the IVF
    side's scan is sized by its probed cells."""
    e = _embeddings(spark, sf_dir, IVF_PROBE_CELLS
                    / parquet_column_ndv(sf_dir, "embeddings", "label"))
    _, cen, cnorm, idx = _ingest_index(e)
    probes = e.filter(_probe_filter())
    passigned = _ingest_assign_cells(probes, cen, cnorm, IVF_PROBE_CELLS)
    ivf_k = _cell_pruned_cosine_topk(probes, passigned, idx, IVF_K)
    return _recall_at_k(_exact_cosine_topk(_embeddings(spark, sf_dir, 1),
                                           IVF_K), ivf_k, IVF_K)


# ---------------------------------------------------------------------------
# incremental ANN ingest + exact-refine serving path (VERDICT r13
# item 3) — the composition the r13 recall numbers exposed as missing:
# ``sim_ivf_incremental_recall`` signs the ingest off at multiprobe-
# family recall (0.21-0.25 @3), while the corpus-side serving path
# (``sim_ivfpq_rerank_search``) recovers the rerank-family level by
# ADC-shortlisting and exactly re-scoring. This operator runs that
# same serving discipline over the FROZEN+INGESTED index: multiprobe
# cell pruning over corpus cells ∪ ingest-assigned cells, ADC against
# the post-ingest code table, ONE broadcast exact re-rank.
#
# Frozen-index contract at 100 TB: centroids and the PQ grid stay
# corpus-derived (never recomputed per batch); the batch contributes
# (a) its ingest-assigned cell rows and (b) its saturated codes. The
# per-bin reconstruction values (the codebook) DO fold the batch in —
# bin means are sum/count aggregates, so a production index maintains
# them incrementally at O(|batch|) delta cost, the one index structure
# that updates with an ingest besides the postings themselves.
# ---------------------------------------------------------------------------


def _ingest_rerank_oracle() -> str:
    return _exact_l2_sql(PQ_TOPK, f"""
    WITH {_INGEST_INDEX_SQL}, {_pq_sql('corpus', 'idx')},
    {_PROBES_CTE},
    {_assign_sql('probes', IVF_PROBE_CELLS)},
    {_adc_sql(PQ_RERANK, 'probes_cells')}""")


@query("sim_ivf_incremental_rerank_search", oracle=_ingest_rerank_oracle())
def sim_ivf_incremental_rerank_search(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    """The production serving path over the FROZEN+INGESTED index:
    multiprobe IVF cell pruning (corpus cells ∪ ingest-assigned
    cells, frozen corpus centroids) → ADC scoring against the
    post-ingest code table (the index encoded once against the frozen
    corpus grid; codebook = incrementally-maintained bin means) → ONE
    broadcast exact re-rank of the PQ_RERANK shortlist
    (``_exact_l2_topk``: shortlist broadcasts, the full-precision
    corpus is scanned once, never shuffled).

    This closes the loop the r13 round left open: ingest
    (``sim_ivf_incremental_ingest``) priced adding vectors at
    O(|batch|); this query serves them at rerank-family quality —
    ``sim_ivf_incremental_rerank_recall`` measures the recovery vs the
    0.21-0.25 multiprobe-only recall. Deterministic given the frozen
    index, so fully oracle-gated: the SQL replays split → centroids →
    assignment → grid → encode → codebook → distance tables →
    cell-pruned ADC → exact refine end to end.

    Plan shape: every index-side table (centroids, norms, grid,
    distance-table arrays, probe cell assignments) broadcasts; the
    only scans of the corpus are the encode projection and the
    refine's single broadcast-hash join; the batch never joins the
    corpus. At 100 TB the ADC scan touches n_probe/n_cells of the
    code table — which is ~8× smaller than the embeddings — and the
    refine reads |probes| × {PQ_RERANK} full vectors."""
    e = _pq_embeddings(spark, sf_dir)
    corpus, cen, cnorm, idx = _ingest_index(e)
    probes = e.filter(_probe_filter())
    passigned = _ingest_assign_cells(
        probes, cen, cnorm, IVF_PROBE_CELLS).select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("cell"))
    sl = (_pq_adc_ranked(probes, _pq_coded(idx, corpus), passigned)
          .filter(F.col("rank") <= PQ_RERANK)
          .select("query_id", "neighbor_id"))
    return _exact_l2_topk(spark, sf_dir, PQ_TOPK, sl)


sim_ivf_incremental_rerank_search.__doc__ = \
    sim_ivf_incremental_rerank_search.__doc__.format(PQ_RERANK=PQ_RERANK)


@query("sim_ivf_incremental_rerank_recall",
       oracle=_l2_recall("sim_ivf_incremental_rerank_search"))
def sim_ivf_incremental_rerank_recall(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    """Recall@k sign-off for the incremental serving path (every
    approximate path in this repo ships one): the post-ingest
    multiprobe→ADC→exact-refine result audited against exact
    squared-L2 brute force over batch ∪ corpus. The number this
    report prices is what the refine stage RECOVERS over the
    multiprobe-only ``sim_ivf_incremental_recall`` (0.21-0.25 @3 at
    r13 dials) — bounded above by cell membership of the true top-k,
    exactly like the corpus-side ``sim_pq_rerank_recall``: the same
    ``_recall_at_k`` against ``_exact_l2_topk``."""
    return _recall_at_k(_exact_l2_topk(spark, sf_dir, PQ_TOPK),
                        sim_ivf_incremental_rerank_search(spark, sf_dir),
                        PQ_TOPK)
