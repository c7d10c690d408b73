"""Graph analytics over the star schema: PageRank on the
customer↔supplier trade graph.

North-star extension tier (no reference analog — the anchor is the
reference's arbitrary-dataframe-compute contract,
``layer/python/dask_processing.py:26-27``). Together with the
connected-components clustering in ``dedup.py`` this covers the
iterative-algorithm surface: a fixed-point loop whose every round is
ordinary DataFrame joins/aggregations, driver-side control flow only.

Scale posture: the rank vector is |nodes| rows (tiny next to the edge
set); each iteration is ONE shuffle of the edge list keyed by
destination, with map-side partial aggregation of rank contributions.
Edge list and degrees are computed once and ``localCheckpoint``-ed so
the iteration's plan size stays constant. Fixed iteration count keeps
the computation deterministic and lets the DuckDB oracle run the
IDENTICAL unrolled recurrence — the whole iterative pipeline is
value-checked, not rows-only.

Every PageRank query is one call into one pipeline: ``GRAPHS`` describes
the two input graphs (trade, crawl), ``_pagerank`` materializes a
graph's edges and degrees and runs the one recurrence loop in its
broadcast or co-partitioned form, and ``pagerank_auto`` picks the form
from footer metadata.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dask_lambda_example_spark.io import load_table, parquet_rowcount
from dask_lambda_example_spark.registry import query

PR_ITERS = 3
PR_DAMP = 0.85


# Non-recursive CTEs defining the symmetrized trade graph's
# ``edges(src, dst)``: shared by the trade-graph PageRank oracles and
# the reachability oracle.
_TRADE_EDGES_SQL = """
    e0 AS (
        SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
    edges AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0)"""

# The trade-graph PageRank prelude: the edge CTEs plus the node set. A
# different prelude (same edges/nodes contract) retargets the identical
# unrolled recurrence at another graph — see the crawl link graph below.
_TRADE_PR_PRELUDE = _TRADE_EDGES_SQL + """,
    nodes AS (SELECT DISTINCT src AS node FROM edges)"""


def _pagerank_oracle(prelude: str = _TRADE_PR_PRELUDE) -> str:
    """Unrolled PageRank recurrence over whatever graph ``prelude``
    defines (CTEs ``edges(src, dst)`` and ``nodes(node)``)."""
    rec = """
    r{i} AS (
        SELECT n.node,
               0.15 + {damp} * coalesce(sum(p.rank / d.outdeg), 0) AS rank
        FROM nodes n
        LEFT JOIN edges e ON e.dst = n.node
        LEFT JOIN r{prev} p ON p.node = e.src
        LEFT JOIN deg d ON d.src = e.src
        GROUP BY n.node)"""
    iters = ",".join(
        rec.format(i=i + 1, prev=i, damp=PR_DAMP) for i in range(PR_ITERS))
    return f"""
    WITH {prelude},
    deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
    r0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS rank FROM nodes),
    {iters}
    SELECT node, CAST(round(rank, 6) AS REAL) AS rank
    FROM r{PR_ITERS}
    """


# The trade-graph edge build runs a DISTINCT over the orders⋈lineitem
# pair projection — |lineitem| input rows. With the default 32 shuffle
# partitions that is a ~2M-entry string-keyed hash map per task at the
# 100×-bench tier, and 32 of them concurrently exceeded the executor
# aggregate-memory pool under the production-shape 16 g heap (measured:
# AGGREGATE_OUT_OF_MEMORY at sf10 — the round-9 90 g heap had masked
# it). Above this input bound the build repartitions on the pair key
# FIRST, sized so each post-exchange partition's dedup map holds
# ~EDGE_BUILD_ROWS_PER_PART rows: the aggregate's required distribution
# is then already satisfied, so the whole dedup runs as small
# per-partition maps and no task ever builds a giant one. Below the
# bound the plan is unchanged (map-side partial dedup stays worthwhile
# when the map fits). This is SCALE.md's partition-width rule (width ∝
# state rows) applied at plan-build time from footer metadata.
EDGE_BUILD_REPART_MIN_ROWS = 8_000_000
EDGE_BUILD_ROWS_PER_PART = 500_000


def _edge_ckpt_level(e_bound: int):
    """Storage level for a materialized edge list of ``e_bound`` row
    bound: ``None`` (Spark's memory-and-disk default) while the edges
    are broadcast-plan material, ``MEMORY_AND_DISK`` (serialized — PySpark 4's
    default-serialized level; the deserialized variant is the separate
    ``MEMORY_AND_DISK_DESER``) above the
    dispatch bound. Round-11, measured twice at sf10 under the 16 g
    production heap: a 100 M-row edge checkpoint held as
    memory-greedy blocks competes with the query's own unroll/shuffle
    memory and — standalone-green notwithstanding — OOM'd the
    SparkContext mid-battery; round 11 priced that guard as straight
    ``DISK_ONLY``, which cost PR_ITERS sequential re-reads of blocks a
    healthy session could have kept resident (the 1.454x paired rcte
    trade, VERDICT r12 item 3). ``MEMORY_AND_DISK`` keeps the OOM
    guard — blocks spill to disk under storage pressure instead of
    pinning the heap, and the serialized form keeps the resident
    footprint far below deserialized caching — while letting an idle 16 g
    session serve the recursion levels from memory
    (BENCH_ab_rcte_r13.json pairs it against the r9/DISK_ONLY forms;
    the r9-failure shape — four consecutive 100 M-edge graph queries
    at sf10/16 g — re-run green). At cluster scale the judgement is
    unchanged: a multi-TB edge list is spill-tier data, never
    PINNED executor-storage-tier.

    ROLLBACK: if a battery run OOMs the SparkContext with graph
    checkpoints resident, restoring round 11's ``DISK_ONLY`` guard is
    a one-line edit of the return below."""
    from pyspark import StorageLevel

    if e_bound <= PR_BROADCAST_MAX_EDGE_ROWS:
        return None
    return StorageLevel.MEMORY_AND_DISK


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The symmetrized customer↔supplier trade graph's edge list (lazy —
    the caller owns materialization): the distinct trading pairs of the
    order lines plus their reversal, so every node has out-degree ≥ 1
    (no dangling-mass correction needed). The dedup aggregate's
    partition count scales from parquet footer row counts (no job) so
    its hash state fits executor memory at any tier. The union of the
    two directed halves is already distinct: the pairs are distinct and
    the 'c'/'s' prefixes make the src/dst namespaces disjoint."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    pairs = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
                F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"))
    )
    n_li = parquet_rowcount(sf_dir, "lineitem")
    if n_li > EDGE_BUILD_REPART_MIN_ROWS:
        n_part = min(2048, n_li // EDGE_BUILD_ROWS_PER_PART)
        pairs = pairs.repartition(n_part, "src", "dst")
    e0 = pairs.distinct()
    return e0.union(e0.select(F.col("dst").alias("src"),
                              F.col("src").alias("dst")))


# The crawl link graph, as the oracle sees it: the HTML pages'
# in-content anchors target deterministic ⊕-neighbor documents
# (sources/warc.py make_html_page — xor 1 always, xor 2 for
# doc_id%3>=1, xor 4 for doc_id%3=2; the same analytic census that
# gates graph_crawl_indegree), closed over the crawled corpus (targets
# that were never fetched have no page to rank).
_CRAWL_PR_PRELUDE = """
    l0 AS (
        SELECT doc_id AS src, xor(doc_id, 1) AS dst FROM documents
        UNION ALL SELECT doc_id, xor(doc_id, 2) FROM documents
            WHERE doc_id % 3 >= 1
        UNION ALL SELECT doc_id, xor(doc_id, 4) FROM documents
            WHERE doc_id % 3 = 2),
    edges AS (SELECT l0.src, l0.dst FROM l0
              JOIN documents d ON d.doc_id = l0.dst),
    nodes AS (SELECT doc_id AS node FROM documents)"""


def _crawl_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DIRECTED crawl link graph's edge list (lazy — the caller owns
    materialization): the document links of the HTML crawl
    (``warc.crawl_links``) semi-joined over the crawled corpus (a target
    that was never fetched has no page to rank)."""
    from dask_lambda_example_spark.sources.warc import crawl_links

    docs = load_table(spark, sf_dir, "documents")
    return crawl_links(spark, sf_dir).join(
        docs.select(F.col("doc_id").alias("dst")), "dst", "left_semi")


# Above this many nodes the rank/degree vectors stop being broadcast
# material (1e8 string-keyed rows ≈ multiple GiB per executor copy) and
# the co-partitioned shuffle plan takes over. Tunable per cluster.
PR_BROADCAST_MAX_NODES = 100_000_000

# Edge-volume term of the dispatch (VERDICT r10 item 1): the node bound
# alone is the wrong signal when the EDGE list stresses the heap — the
# broadcast formulation re-derives each iteration's rank vector by
# re-executing the prior iterations' broadcast builds over the full
# edge list inside one driver-resident job, and under the
# production-shape 16 g heap the sf10 trade graph (120 M symmetrized
# edge-row bound) walls >10 min there while the co-partitioned plan
# (whose per-iteration joins stream the checkpointed edges through
# fixed-size shuffled-hash maps) stays at minutes-scale. Measured flip
# window on the 16 g heap: 12 M edge-row bound (sf1) healthy broadcast,
# 120 M (sf10) walls — the threshold sits 2× above the measured-good
# point, 5× under the measured wall, i.e. it flips EARLY toward the
# scale-safe plan. Scales with executor memory; tunable per cluster.
PR_BROADCAST_MAX_EDGE_ROWS = 24_000_000

# The crawl pages carry at most 3 in-content anchors each by
# construction (sources/warc.py make_html_page); a general crawl would
# plug its per-page anchor census bound (or a catalog stat) in here.
CRAWL_LINKS_PER_PAGE_BOUND = 3


class _Graph(NamedTuple):
    """One PageRank input graph. ``edges(spark, sf_dir)`` builds its lazy
    ``(src, dst)`` edge list; ``bounds(sf_dir)`` reads its (node, edge)
    row bounds from parquet footers (driver-local stat reads — no Spark
    job at plan-construction time, ADVICE r4); ``nodes(spark, sf_dir,
    deg)`` gives its ``nodes(node)`` set, given the materialized
    ``deg(src, outdeg)`` table."""

    edges: Callable[[SparkSession, str], DataFrame]
    bounds: Callable[[str], tuple[int, int]]
    nodes: Callable[[SparkSession, str, DataFrame], DataFrame]


GRAPHS = {
    # Symmetric, so deg's keys ARE the node set: one aggregation +
    # checkpoint yields both loop vectors (optimization round 14).
    # Nodes: |customer| + |supplier| ≥ |nodes| (prefixed keys). Edges:
    # 2·|lineitem| ≥ |symmetrized pairs| (each order line contributes
    # at most one directed pair; l_orderkey is a foreign key).
    "trade": _Graph(
        _trade_edges,
        lambda sf_dir: (parquet_rowcount(sf_dir, "customer")
                        + parquet_rowcount(sf_dir, "supplier"),
                        2 * parquet_rowcount(sf_dir, "lineitem")),
        lambda spark, sf_dir, deg: deg.select(F.col("src").alias("node"))),
    # Directed, so the node set is the document corpus (a page with no
    # outlinks still holds the damping floor). Nodes: |documents|
    # exactly. Edges: CRAWL_LINKS_PER_PAGE_BOUND·|documents| (closure
    # can only shrink it).
    "crawl": _Graph(
        _crawl_edges,
        lambda sf_dir: (parquet_rowcount(sf_dir, "documents"),
                        CRAWL_LINKS_PER_PAGE_BOUND
                        * parquet_rowcount(sf_dir, "documents")),
        lambda spark, sf_dir, deg: (load_table(spark, sf_dir, "documents")
                                    .select(F.col("doc_id").alias("node")))),
}


def _pr_loop(nodes: DataFrame, edges: DataFrame, deg: DataFrame,
             copartitioned: bool) -> DataFrame:
    """The PageRank recurrence over ``nodes(node)``, ``edges(src, dst)``
    and ``deg(src, outdeg)``, in one of two physical forms. Each
    iteration joins the rank and degree vectors onto the edge sources,
    then ONE shuffle groups the contributions by destination.

    Broadcast form: the |nodes|-sized rank and degree vectors are
    broadcast. Every non-final rank vector is MATERIALIZED
    (``localCheckpoint`` of a |nodes|-sized frame — cheap) rather than
    left lazy (round-11, measured): un-materialized, iteration i's
    broadcast build re-executes iterations 1..i-1 inline — O(iters²)
    scans of the edge list, with every nested broadcast relation live
    in ONE job's heap — which walled the r10 sf10 run >10 min on a
    90 g heap and OOM'd the SparkContext outright on the production
    16 g heap. Materialized, each iteration is one bounded job over
    the checkpointed edges and the broadcasts build from |nodes|-row
    LogicalRDDs.

    Co-partitioned form: NOTHING is broadcast; every join is a
    sort-free ShuffledHashJoin (``shuffle_hash`` hints — SMJ would
    re-sort the static edge list every round and auto-broadcast would
    re-create the broadcast plan at test scale). With the edges
    checkpointed hash-partitioned by ``src`` the edge side moves zero
    bytes: per-iteration network cost is O(|nodes|) rank rows plus the
    contribution shuffle, never O(|edges|)."""
    def vec(df: DataFrame) -> DataFrame:  # a |nodes|-sized join side
        return df.hint("shuffle_hash") if copartitioned else F.broadcast(df)

    ranks = nodes.select("node", F.lit(1.0).alias("rank"))
    for i in range(PR_ITERS):
        contrib = (
            edges.join(vec(ranks), edges.src == F.col("node"))
            .join(vec(deg), "src")
            .select(F.col("dst"),
                    (F.col("rank") / F.col("outdeg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("in_sum"))
        )
        if copartitioned:
            contrib = contrib.hint("shuffle_hash")
        ranks = (
            nodes.join(contrib, nodes.node == contrib.dst, "left")
            .select("node",
                    (0.15 + PR_DAMP * F.coalesce(F.col("in_sum"), F.lit(0.0)))
                    .alias("rank"))
        )
        if not copartitioned and i < PR_ITERS - 1:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks.select(
        "node", F.round("rank", 6).cast("float").alias("rank"))


def _pagerank(spark: SparkSession, sf_dir: str, graph: str,
              copartitioned: bool) -> DataFrame:
    """PageRank over ``GRAPHS[graph]``: materialize its edges and degree
    vector once, then run ``_pr_loop`` in the requested form.

    Session hygiene (ADVICE r5): the whole query runs on a dedicated
    ``spark.newSession()`` child (same SparkContext, ISOLATED SQLConf),
    so the conf changes below cannot de-optimize a query planned
    concurrently on the caller's session. The checkpointed blocks are
    reclaimed by ContextCleaner once the returned DataFrame (the only
    plan referencing them) is collected and released — session.py pins
    ``spark.cleaner.periodicGC.interval`` to 5 min so reclamation is
    bounded, not session-lifetime.

    AQE is OFF while the edges and degrees materialize. Co-partitioned,
    the checkpointed LogicalRDD then advertises hashpartitioning(src,
    n_part) and Catalyst satisfies every later src-keyed requirement
    for free (with AQE on it captures UnknownPartitioning — measured:
    33 exchanges vs 3 — and every iteration re-shuffles the edges). In
    both forms the block width stays the build's shuffle width (AQE
    would coalesce sf10's ~240 edge partitions to ~24 × multi-hundred-MB
    blocks — the 16 g-heap hazard class of SCALE.md's partition-width
    rule). The degree vector is checkpointed too, off the checkpointed
    edges: lazy, the loop's final plan re-aggregated the full edge list
    once per iteration. Its AQE-off checkpoint advertises
    hashpartitioning(src) in both forms, so where the node set is deg's
    key projection (trade graph) the nodes⋈contributions join does not
    shuffle the node side. Above the dispatch edge bound the edge blocks
    persist serialized memory-and-disk (``_edge_ckpt_level``).

    Partition-width rule (round-11, measured): co-partitioned, the
    checkpoint materializes the full edge list as one block per
    partition, built concurrently by every core — at sf10's 120 M-row
    edge bound over the default 32 partitions that OOM'd the 16 g
    production heap (``java.lang.OutOfMemoryError`` during
    ``localCheckpoint``). The child session's shuffle width therefore
    scales from the footer edge bound (~``EDGE_BUILD_ROWS_PER_PART``
    rows per partition, the edge-build dedup's rule), which sizes the
    checkpoint blocks AND every loop exchange consistently."""
    g = GRAPHS[graph]
    spark = spark.newSession()
    e_bound = g.bounds(sf_dir)[1]
    edges = g.edges(spark, sf_dir)
    if copartitioned:
        try:
            n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
        except ValueError:  # e.g. "auto" under some AQE configurations
            n_part = spark.sparkContext.defaultParallelism
        n_part = max(n_part, min(2048, e_bound // EDGE_BUILD_ROWS_PER_PART))
        spark.conf.set("spark.sql.shuffle.partitions", str(n_part))
        edges = edges.repartition(n_part, "src")
    aqe_prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        edges = edges.localCheckpoint(eager=True,
                                      storageLevel=_edge_ckpt_level(e_bound))
        deg = (edges.groupBy("src").agg(F.count("*").alias("outdeg"))
               .localCheckpoint(eager=True))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe_prev)
    return _pr_loop(g.nodes(spark, sf_dir, deg), edges, deg, copartitioned)


def pagerank_auto(spark: SparkSession, sf_dir: str, graph: str,
                  max_broadcast_nodes: int = PR_BROADCAST_MAX_NODES,
                  max_broadcast_edge_rows: int = PR_BROADCAST_MAX_EDGE_ROWS,
                  ) -> DataFrame:
    """Size-dispatched PageRank over ``GRAPHS[graph]``: the broadcast
    form while BOTH the node bound is safely broadcastable AND the edge
    bound fits the broadcast plan's heap posture; the co-partitioned
    form above either threshold. Both bounds are footer metadata — no
    Spark job at plan-construction time."""
    n_bound, e_bound = GRAPHS[graph].bounds(sf_dir)
    copartitioned = not (n_bound <= max_broadcast_nodes
                         and e_bound <= max_broadcast_edge_rows)
    return _pagerank(spark, sf_dir, graph, copartitioned)


@query("graph_pagerank", oracle=_pagerank_oracle())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, {n} fixed iterations) on the bipartite
    customer↔supplier graph induced by order lines — the "who are the
    hub suppliers / anchor customers" question. Edges are the DISTINCT
    trading pairs, symmetrized so every node has out-degree ≥ 1.

    Broadcast form: the |nodes|-sized rank and degree vectors are
    broadcast each iteration; the edge list is the only large operand
    and it is scanned, never mutated. This is the small-graph fast
    path; ``graph_pagerank_copartitioned`` runs the identical
    recurrence with nothing broadcast, and ``graph_pagerank_auto``
    dispatches between them from catalog metadata. Fixed iterations +
    REAL cast make the float fixed-point oracle-checkable
    bit-for-bit."""
    return _pagerank(spark, sf_dir, "trade", copartitioned=False)


graph_pagerank.__doc__ = graph_pagerank.__doc__.format(n=PR_ITERS)


@query("graph_pagerank_copartitioned", oracle=_pagerank_oracle())
def graph_pagerank_copartitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank, co-partitioned form — identical recurrence (and oracle)
    to ``graph_pagerank``, different physical plan: NOTHING is
    broadcast. Broadcasting the |nodes|-sized vectors is the right plan
    while they fit in an executor — and a dead end on a billion-node
    graph (VERDICT r4). Here the edge list is hash-partitioned by
    ``src`` ONCE (repartition + localCheckpoint pins the partitioning in
    the LogicalRDD), the degree vector derives from it so it is born
    co-partitioned, and each iteration is a shuffled-hash join that
    moves only the rank vector, a co-partitioned degree join and ONE
    contribution shuffle keyed by ``dst``."""
    return _pagerank(spark, sf_dir, "trade", copartitioned=True)


@query("graph_pagerank_auto", oracle=_pagerank_oracle())
def graph_pagerank_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered entry point for ``pagerank_auto`` on the trade graph —
    the dispatcher itself as a named, oracle-gated query (VERDICT r9
    item 1). Both forms share the identical unrolled recurrence and
    therefore the identical DuckDB oracle, so the dispatch flip can
    never change answers — only plans; the plan assert
    ``tests/test_plans.py::test_pagerank_auto_dispatch`` pins the
    broadcast joins below ``PR_BROADCAST_MAX_NODES`` and the sort-free
    co-partitioned shuffled-hash shape (no broadcast) above it."""
    return pagerank_auto(spark, sf_dir, "trade")


RCTE_MAX_HOPS = 2
RCTE_SEED = "c1"

# The recursion and its final aggregate over an ``{edges}`` relation:
# Spark reads a checkpointed temp view, DuckDB the trade edge CTEs.
_REACH_SQL = f"""
    reach(node, hops) AS (
        SELECT '{RCTE_SEED}' AS node, 0 AS hops
        UNION ALL
        SELECT e.dst, r.hops + 1
        FROM reach r JOIN {{edges}} e ON e.src = r.node
        WHERE r.hops < {RCTE_MAX_HOPS})
    SELECT node, CAST(min(hops) AS BIGINT) AS hops
    FROM reach GROUP BY node
"""

_RCTE_SQL = "\n    WITH RECURSIVE" + _REACH_SQL

_RCTE_ORACLE = (f"\n    WITH RECURSIVE{_TRADE_EDGES_SQL},"
                + _REACH_SQL.format(edges="edges"))


@query("graph_reachability_rcte", oracle=_RCTE_ORACLE)
def graph_reachability_rcte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive reachability by recursive CTE (Spark 4's
    ``WITH RECURSIVE``): BFS from one customer across the symmetrized
    trade graph, min-hop distance per reached node, horizon {h} hops
    (the co-buyer neighborhood). The recursion itself is the SAME SQL
    text on both engines; the edge list is the PageRank family's trade
    edge build (with its footer-scaled dedup width), materialized ONCE
    (``localCheckpoint``) before the loop — Spark inlines non-recursive
    CTEs into every recursion level, so an unmaterialized edge list
    would re-run the join+distinct per hop (measured 5×). The UNION ALL
    frontier carries duplicate paths that the final min-aggregation
    collapses; Spark does not yet support UNION (distinct) recursion,
    so the horizon is kept small — for deeper or unbounded closure
    prefer the driver-loop shape of ``dedup_cluster_cc``, which dedups
    the frontier every round. The view is registered on a
    ``newSession()`` child, as in ``_pagerank``: the returned DataFrame
    is then the only holder of the checkpoint, so ContextCleaner can
    reclaim it once the result is released."""
    spark = spark.newSession()
    e_bound = GRAPHS["trade"].bounds(sf_dir)[1]
    edges = _trade_edges(spark, sf_dir).localCheckpoint(
        eager=True, storageLevel=_edge_ckpt_level(e_bound))
    edges.createOrReplaceTempView("rcte_edges_v")
    return spark.sql(_RCTE_SQL.format(edges="rcte_edges_v"))


graph_reachability_rcte.__doc__ = graph_reachability_rcte.__doc__.format(
    h=RCTE_MAX_HOPS)


@query("graph_crawl_pagerank", oracle=_pagerank_oracle(_CRAWL_PR_PRELUDE))
def graph_crawl_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the EXTRACTED crawl link graph — the composition
    every web-corpus pipeline runs (CommonCrawl → link graph → rank as
    a quality prior for curation): WARC archives → streaming HTML
    anchor census (the registered ``text_html_outlinks``) → document
    namespace filter + target parse → semi-join against the crawled
    corpus (dangling targets have no page to rank) → the same
    damping-0.85 fixed-iteration recurrence as the trade graph.
    Unlike ``graph_pagerank`` the edge list here is DIRECTED and built
    from parsed page bytes, so the oracle (analytic ⊕-neighbor census +
    identical unrolled recurrence) value-checks extraction, parsing,
    graph closure and the iteration end-to-end.

    The HTML parse is the expensive operand and runs EXACTLY ONCE: the
    parsed edge list is ``localCheckpoint``-ed before the loop (PR_ITERS
    scans of a checkpointed long-pair list, never PR_ITERS re-parses of
    the archive bytes). Broadcast form; ``graph_crawl_pagerank_auto``
    flips to the co-partitioned form exactly as the trade graph does."""
    return _pagerank(spark, sf_dir, "crawl", copartitioned=False)


@query("graph_crawl_pagerank_copartitioned",
       oracle=_pagerank_oracle(_CRAWL_PR_PRELUDE))
def graph_crawl_pagerank_copartitioned(spark: SparkSession,
                                       sf_dir: str) -> DataFrame:
    """Crawl-graph PageRank, co-partitioned form — identical recurrence
    (and oracle) to ``graph_crawl_pagerank``, billion-page physical
    plan: NOTHING is broadcast. The parsed edge list is hash-partitioned
    by ``src`` ONCE as it materializes (still exactly one HTML parse).
    The graph is directed, so the node set is the document corpus, not
    the edge sources: the rank vector shuffles once per iteration onto
    the edge partitioning instead of deriving partitioned."""
    return _pagerank(spark, sf_dir, "crawl", copartitioned=True)


@query("graph_crawl_pagerank_auto", oracle=_pagerank_oracle(_CRAWL_PR_PRELUDE))
def graph_crawl_pagerank_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered entry point for ``pagerank_auto`` on the crawl graph
    (VERDICT r10 item 5: the crawl graph gets the same footer-dispatched
    flip the trade graph has). Both forms share the identical unrolled
    recurrence and oracle, so the flip can only change plans, never
    answers; the plan assert
    ``tests/test_plans.py::test_crawl_pagerank_auto_dispatch`` pins the
    broadcast shape below the thresholds and the nothing-broadcast
    shuffled-hash shape above them (on either axis)."""
    return pagerank_auto(spark, sf_dir, "crawl")
