"""Optimizer-contract tests (SURVEY.md §4): the plan shapes that decide
100 TB viability, asserted on representative queries — pushdown reaches
the scan, projections prune columns, partitioned layouts prune
directories, small dims broadcast, subqueries decorrelate to semi/anti
joins, aggregations combine map-side, hot paths stay in codegen."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dask_lambda_example_spark.io import load_table
from dask_lambda_example_spark.plans.inspect import (
    assert_broadcast_join,
    assert_join_type,
    assert_no_cartesian,
    assert_partial_aggregation,
    assert_partition_filter,
    assert_pushed_filter,
    assert_read_schema_excludes,
    assert_wholestage_codegen,
    physical_plan,
)
from dask_lambda_example_spark.registry import QUERIES, _ensure_loaded

_ensure_loaded()


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = QUERIES["project_filter_pushdown"].fn(spark, sf_dir)
    assert_pushed_filter(df, "l_quantity")


def test_projection_prunes_columns(spark, sf_dir):
    # a 2-column projection must not scan the wide text column
    df = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    assert_read_schema_excludes(df, "text")


def test_partition_pruning_on_hive_layout(spark, sf_dir):
    df = QUERIES["fmt_partitioned_parquet_pruned"].fn(spark, sf_dir)
    assert_partition_filter(df, "event_type")


def test_small_dim_joins_broadcast(spark, sf_dir):
    df = QUERIES["join_broadcast_fact_dim"].fn(spark, sf_dir)
    assert_broadcast_join(df)
    assert_no_cartesian(df)


def test_star_join_no_cartesian(spark, sf_dir):
    df = QUERIES["join_star_customer_geo"].fn(spark, sf_dir)
    assert_no_cartesian(df)


def test_exists_subquery_decorrelates_to_semijoin(spark, sf_dir):
    df = QUERIES["subq_exists_semijoin"].fn(spark, sf_dir)
    assert_join_type(df, "LeftSemi")


def test_not_exists_decorrelates_to_antijoin(spark, sf_dir):
    df = QUERIES["subq_not_exists_antijoin"].fn(spark, sf_dir)
    assert_join_type(df, "LeftAnti")


# Operator counts in each TPC-H query's physical plan before execution:
# shuffle Exchange, BroadcastExchange, SortMergeJoin, BroadcastHashJoin
# + BroadcastNestedLoopJoin, ShuffledHashJoin, LeftSemi, LeftAnti. The
# counts are those of the DataFrame-API bodies the hinted Spark SQL
# texts replaced; they are the same at sf0.001, sf0.01 and sf0.1.
_SHAPE_OPS = (r"(?<![A-Za-z])Exchange ", r"BroadcastExchange ",
              r"SortMergeJoin ", r"Broadcast(?:Hash|NestedLoop)Join ",
              r"ShuffledHashJoin ", r"LeftSemi", r"LeftAnti")
_TPCH_PLAN_SHAPES = {
    "q1_pricing_summary": (1, 0, 0, 0, 0, 0, 0),
    "q2_min_cost_supplier": (3, 8, 0, 8, 0, 0, 0),
    "q3_shipping_priority": (1, 2, 0, 2, 0, 0, 0),
    "q4_priority_exists": (1, 1, 0, 1, 0, 1, 0),
    "q5_local_supplier_volume": (1, 5, 0, 5, 0, 0, 0),
    "q6_forecast_revenue": (1, 0, 0, 0, 0, 0, 0),
    "q7_nation_volume": (1, 5, 0, 5, 0, 0, 0),
    "q8_market_share": (1, 6, 0, 6, 0, 0, 0),
    "q9_product_profit": (1, 4, 0, 4, 0, 0, 0),
    "q10_returned_items": (1, 2, 0, 2, 0, 0, 0),
    "q11_important_parts": (3, 5, 0, 5, 0, 0, 0),
    "q12_priority_classes": (1, 1, 0, 1, 0, 0, 0),
    "q13_order_count_distribution": (2, 1, 0, 1, 0, 0, 0),
    "q14_promo_revenue": (1, 1, 0, 1, 0, 0, 0),
    "q15_top_supplier": (3, 2, 0, 2, 0, 0, 0),
    "q16_supplier_variety": (2, 2, 0, 2, 0, 0, 1),
    "q17_small_quantity_revenue": (2, 3, 0, 3, 0, 0, 0),
    "q18_large_orders": (2, 2, 0, 2, 0, 1, 0),
    "q19_disjunctive_join": (1, 1, 0, 1, 0, 0, 0),
    "q20_excess_inventory": (3, 2, 1, 2, 0, 1, 0),
    "q21_waiting_supplier": (3, 4, 1, 4, 0, 1, 1),
    "q22_dormant_customers": (2, 3, 0, 3, 0, 0, 1),
}


def plan_shape(plan: str) -> tuple:
    """``_SHAPE_OPS`` counts of a physical plan string."""
    import re

    return tuple(len(re.findall(op, plan)) for op in _SHAPE_OPS)


@pytest.mark.parametrize("name", _TPCH_PLAN_SHAPES)
def test_tpch_plan_shape(spark, sf_dir, name):
    # each query's text keeps the join order, broadcasts, pre-aggregations
    # and semi/anti joins of the plan it pins (the DuckDB oracle texts
    # of q2 and q18, run by Spark, plan 5 and 3 exchanges instead)
    plan = physical_plan(QUERIES[name].fn(spark, sf_dir))
    assert plan_shape(plan) == _TPCH_PLAN_SHAPES[name], plan


def test_flagship_partial_aggregation(spark, sf_dir):
    df = QUERIES["flagship_groupby_mean_std"].fn(spark, sf_dir)
    assert_partial_aggregation(df)
    assert_wholestage_codegen(df)


def test_repeated_tpch_pass_compiles_no_class_per_query(spark, sf_dir):
    # the session's codegen class cache holds the 22 TPC-H queries'
    # generated classes (about 260 a pass), so a second pass, in the
    # reverse order, finds them there instead of compiling them again;
    # at Spark's default of 100 entries it compiles about 175. The bound
    # is absolute because earlier tests may have warmed the cache.
    import re

    tpch = [QUERIES[n].fn for n in QUERIES if re.fullmatch(r"q\d+_\w+", n)]
    assert len(tpch) == 22
    for fn in tpch:
        fn(spark, sf_dir).collect()
    compiles = (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
                .METRIC_COMPILATION_TIME())
    before = compiles.getCount()
    for fn in reversed(tpch):
        fn(spark, sf_dir).collect()
    assert compiles.getCount() - before < len(tpch)


def test_topk_uses_take_ordered(spark, sf_dir):
    from dask_lambda_example_spark.plans.inspect import physical_plan

    df = QUERIES["sort_limit_topk"].fn(spark, sf_dir)
    assert "TakeOrderedAndProject" in physical_plan(df)


def test_similarity_probe_broadcasts(spark, sf_dir):
    df = QUERIES["sim_cosine_topk_bruteforce"].fn(spark, sf_dir)
    assert_broadcast_join(df)


def test_vector_ops_stay_jvm_side(spark, sf_dir):
    # HOF cosine must not fall back to a Python UDF (BatchEvalPython)
    from dask_lambda_example_spark.plans.inspect import physical_plan

    df = QUERIES["sim_vector_math"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_exact_dedup_shuffles_hash_not_text(spark, sf_dir):
    # the dedup window partitions on the 128-bit hash; the original
    # text column must be pruned from the scan (only doc_id + text in,
    # but the shuffle carries hash — check text not in exchange output)
    from dask_lambda_example_spark.plans.inspect import physical_plan

    df = QUERIES["dedup_exact_hash"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "Exchange hashpartitioning(content_hash" in plan


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    # pay-the-shuffle-once: bucketed tables feed the SMJ directly
    from dask_lambda_example_spark.plans.inspect import physical_plan

    df = QUERIES["join_bucketed_colocated"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "SortMergeJoin" in plan
    join_subtree = plan[plan.find("SortMergeJoin"):]
    assert "Exchange" not in join_subtree
    assert "SelectedBucketsCount" in plan


def test_distributed_rank_avoids_low_cardinality_sort(spark, sf_dir):
    """VERDICT r1 item 9: the two-phase rank must NOT funnel the fact
    table through a 3-partition window sort. Contract: the only Window
    sits ABOVE the histogram aggregation (tiny input), the fact side
    reaches the join via broadcast (no re-sort of the full table), and
    the full-table exchange is the parallel (flag, quantity) hash
    aggregation, not a 3-key window partitioning."""
    from dask_lambda_example_spark.plans.inspect import physical_plan

    df = QUERIES["win_rank_distributed_twophase"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # the Window subtree must contain the histogram HashAggregate, i.e.
    # the window's input is the aggregated domain, not the raw scan
    widx = plan.find("Window")
    assert widx != -1
    assert "HashAggregate" in plan[widx:], plan[widx:widx + 1500]
    # the naive plan's signature — a full-table sort keyed only by
    # (l_returnflag, l_quantity ASC) directly over the scan subtree that
    # ALSO feeds rank — must not be how the fact side reaches the join:
    # the fact side of the broadcast join carries no Sort at all
    bidx = plan.find("BroadcastHashJoin")
    fact_side = plan[bidx:plan.find("Window")] if bidx < widx else plan[bidx:]
    assert "Sort" not in fact_side.split("BroadcastExchange")[0]


def test_distributed_rank_matches_window_semantics(spark, sf_dir):
    """The scale-safe plan is only interesting if it computes the SAME
    answer as the semantic (windowed) form, rank for rank."""
    naive = QUERIES["win_rank_dense_ntile"].fn(spark, sf_dir).select(
        "l_orderkey", "l_linenumber", "rnk", "drnk", "prank", "cdist")
    twophase = QUERIES["win_rank_distributed_twophase"].fn(spark, sf_dir)
    assert naive.exceptAll(twophase).count() == 0
    assert twophase.exceptAll(naive).count() == 0


def test_melt_expand_above_pruned_scan(spark, sf_dir):
    # unpivot must be a single Expand projection pass — no shuffle, no
    # join — with the id-key filter evaluated below it at the scan
    from dask_lambda_example_spark.plans.inspect import physical_plan

    df = QUERIES["reshape_melt_unpivot"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "Expand" in plan
    assert "Exchange" not in plan
    assert_wholestage_codegen(df)


def test_unigram_lm_vocab_broadcasts(spark, sf_dir):
    # the vocabulary side table must come back as a broadcast join —
    # the token stream never shuffles for the probability lookup
    df = QUERIES["text_unigram_lm_score"].fn(spark, sf_dir)
    assert_broadcast_join(df)


def test_semdedup_is_cell_equijoin(spark, sf_dir):
    # in-cell pair generation must be an equi-join on the cell id,
    # never a cartesian product
    df = QUERIES["dedup_semdedup_cells"].fn(spark, sf_dir)
    assert_no_cartesian(df)


def test_incremental_minhash_is_band_equijoin(spark, sf_dir):
    # batch-vs-index candidate generation must be a plain equi-join on
    # (band_id, band_val) — never a cartesian product, never a
    # nested-loop join (the corpus x corpus shape the incremental
    # design exists to avoid)
    from dask_lambda_example_spark.plans.inspect import physical_plan

    df = QUERIES["dedup_incremental_minhash"].fn(spark, sf_dir)
    assert_no_cartesian(df)
    assert "BroadcastNestedLoopJoin" not in physical_plan(df)


def test_share_twophase_has_no_window(spark, sf_dir):
    # the scale-safe share-of-total must not contain a Window node —
    # denominators travel as broadcast aggregates
    from dask_lambda_example_spark.plans.inspect import physical_plan

    df = QUERIES["win_share_global_twophase"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_pagerank_rank_vector_broadcasts(spark, sf_dir):
    # the |nodes|-sized rank/degree vectors must broadcast onto the
    # edge list each iteration — the edge list itself never re-shuffles
    # into a sort-merge join
    df = QUERIES["graph_pagerank"].fn(spark, sf_dir)
    assert_broadcast_join(df)


def test_pagerank_copartitioned_never_broadcasts(spark, sf_dir):
    # the billion-node formulation (VERDICT r4): no broadcast of the
    # rank/degree vectors, no sort-merge re-sort of the static edge
    # list, and — the whole point — the checkpointed edges advertise
    # their hashpartitioning(src) so no iteration re-shuffles them.
    # Exactly one exchange per iteration: the contribution aggregation
    # keyed by dst.
    import re

    from dask_lambda_example_spark.operators.graph import PR_ITERS
    from dask_lambda_example_spark.plans.inspect import physical_plan

    df = QUERIES["graph_pagerank_copartitioned"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "BroadcastExchange" not in plan
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" in plan
    src_reshuffles = re.findall(
        r"Exchange hashpartitioning\(src#\d+, \d+\), ENSURE_REQUIREMENTS",
        plan)
    assert not src_reshuffles, "edge list re-shuffled despite checkpoint"
    n_exchanges = len(re.findall(r"\bExchange hashpartitioning", plan))
    assert n_exchanges == PR_ITERS, plan


def test_pagerank_copartitioned_matches_broadcast_sibling(spark, sf_dir):
    # same recurrence, different physical strategy — results must be
    # bit-identical (both round to 6 decimals and cast to float)
    a = QUERIES["graph_pagerank"].fn(spark, sf_dir).orderBy("node").collect()
    b = (QUERIES["graph_pagerank_copartitioned"].fn(spark, sf_dir)
         .orderBy("node").collect())
    assert a == b and len(a) > 0


def test_pagerank_auto_dispatches_on_metadata(spark, sf_dir):
    # below BOTH thresholds the broadcast plan is chosen; above EITHER
    # (forced to 0 one axis at a time) the shuffle plan — decided from
    # parquet footer metadata, no Spark job at construction time.
    # The edge axis exists because the node bound alone mis-dispatched
    # sf10 under the production 16g heap (VERDICT r10 item 1).
    from dask_lambda_example_spark.operators.graph import pagerank_auto
    from dask_lambda_example_spark.plans.inspect import physical_plan

    assert "BroadcastExchange" in physical_plan(
        pagerank_auto(spark, sf_dir, "trade"))
    assert "BroadcastExchange" not in physical_plan(
        pagerank_auto(spark, sf_dir, "trade", max_broadcast_nodes=0))
    assert "BroadcastExchange" not in physical_plan(
        pagerank_auto(spark, sf_dir, "trade", max_broadcast_edge_rows=0))


def test_rcte_leaves_no_view_on_callers_session(spark, sf_dir):
    # the checkpointed edge view lives on a child session, so the
    # caller's catalog cannot keep the edge blocks cached
    QUERIES["graph_reachability_rcte"].fn(spark, sf_dir).collect()
    assert "rcte_edges_v" not in {t.name for t in spark.catalog.listTables()}


def test_distributed_ntile_avoids_global_sort(spark, sf_dir):
    # the global-ntile reformulation must contain NO native ntile window
    # (that would be a single-task sort of the whole table) — only a
    # range exchange plus pid-partitioned local windows, with the
    # assignment as arithmetic
    from dask_lambda_example_spark.plans.inspect import physical_plan

    df = QUERIES["win_ntile_distributed"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "rangepartitioning" in plan
    assert "ntile(" not in plan
    # the only single-partition exchange feeds the tiny P-row offsets
    # frame, never the fact stream
    assert plan.count("Exchange SinglePartition") <= 1


def test_distributed_ntile_matches_native_window(spark, sf_dir):
    # semantics equivalence against Spark's own ntile on the same total
    # order (the oracle checks against DuckDB; this pins Spark-vs-Spark)
    from pyspark.sql import Window

    from dask_lambda_example_spark.io import load_table
    from dask_lambda_example_spark.operators.windows import (
        NTILE_K, _NTILE_ORDER)

    got = {tuple(r) for r in
           QUERIES["win_ntile_distributed"].fn(spark, sf_dir).collect()}
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.orderBy(*_NTILE_ORDER)
    exp = {tuple(r) for r in li.select(
        "l_orderkey", "l_linenumber",
        F.ntile(NTILE_K).over(w).alias("quartile")).collect()}
    assert got == exp


def test_budget_select_avoids_global_ordered_window(spark, sf_dir):
    # the ordered-prefix cut must be the distributed-selection plan:
    # a range exchange, pid-partitioned local running sums, and a
    # single-partition exchange only for the P-row offsets frame
    from dask_lambda_example_spark.plans.inspect import physical_plan

    df = QUERIES["curation_quality_budget_select"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "rangepartitioning" in plan
    assert plan.count("Exchange SinglePartition") <= 1


def test_dynamic_partition_pruning_in_scan(spark, sf_dir):
    # the fact scan's partition filters must carry a runtime
    # dynamicpruning expression fed by the dim side
    from dask_lambda_example_spark.plans.inspect import physical_plan

    df = QUERIES["fmt_dynamic_partition_pruning"].fn(spark, sf_dir)
    assert "dynamicpruning" in physical_plan(df).lower()


def test_join_hint_forces_shuffled_hash(spark, sf_dir):
    from dask_lambda_example_spark.plans.inspect import physical_plan

    df = QUERIES["join_hint_shuffle_hash"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "ShuffledHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_kmeans_centroids_broadcast_no_window(spark, sf_dir):
    # the k-row centroid table must broadcast onto the corpus for
    # assignment (BroadcastNestedLoopJoin), and the argmin must be a
    # grouped aggregate (map-side combinable), never a window sort over
    # the corpus
    from dask_lambda_example_spark.plans.inspect import physical_plan

    df = QUERIES["ml_kmeans_lloyd"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" in plan
    assert "Window" not in plan


def test_vocab_encode_broadcasts_vocab(spark, sf_dir):
    # the bounded vocabulary must broadcast onto the exploded token
    # stream — the corpus is never shuffled for the id lookup
    df = QUERIES["text_vocab_encode"].fn(spark, sf_dir)
    assert_broadcast_join(df)


def test_aqe_splits_skewed_join_partitions(spark, sf_dir):
    # the AQE skew-join path is the runtime half of the skew story
    # (join_salted_skew is the static half): with a pathologically
    # skewed key, AQE must mark the sort-merge join skew=true and
    # split the oversized partition into mapper-range slices — conf
    # only, no code change. The skewed side needs >1 map task (slices
    # are formed from mapper ranges), hence the upstream repartition —
    # at real scale the scan has many splits and this is automatic.
    from dask_lambda_example_spark.plans.inspect import physical_plan

    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, sf_dir, "lineitem").repartition(16)
        skew_key = (F.when(F.col("l_orderkey") % 10 < 9, F.lit(1))
                    .otherwise(F.col("l_orderkey"))).alias("k")
        left = li.select(skew_key, "l_quantity")
        right = load_table(spark, sf_dir, "orders").select(
            F.col("o_orderkey").alias("k"), "o_totalprice")
        joined = left.join(right, "k")
        joined.collect()  # AQE decides at runtime; plan final after action
        plan = physical_plan(joined)
        assert "skew=true" in plan
        assert "AQEShuffleRead skewed" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_null_skew_hygiene_null_leg_has_no_exchange(spark, sf_dir):
    # the NULL-key leg must reach the union without any exchange —
    # only the non-null leg shuffles for the join
    from dask_lambda_example_spark.plans.inspect import physical_plan

    df = QUERIES["join_null_skew_hygiene"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "Union" in plan
    # the null leg is the Union child after the join subtree; it must
    # be exchange-free: count exchanges overall — the join needs at
    # most 2 (one per side; broadcast replaces one), the null leg adds 0
    assert plan.count("Exchange") <= 2 + plan.count("BroadcastExchange")


def test_runtime_bloom_filter_join_pruning(spark, sf_dir):
    # the row-level sibling of dynamic partition pruning: a selective
    # filter on the build side injects a bloom filter that prunes the
    # probe side's shuffle input at runtime — conf only. At 100 TB this
    # is what keeps a selective dim filter from paying a full fact
    # shuffle; locally we force it past the size thresholds.
    from dask_lambda_example_spark.plans.inspect import physical_plan

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold":
            "100MB",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderstatus") == "P")
        j = (li.join(o, li.l_orderkey == o.o_orderkey)
             .agg(F.sum("l_quantity").alias("q")))
        plan = physical_plan(j)
        assert "bloomfiltermightcontain" in plan.lower() \
            or "bloom_filter" in plan.lower()
        j.collect()  # and it still computes correctly
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_aqe_coalesces_small_shuffle_partitions(spark, sf_dir):
    # the other half of AQE: 32 configured shuffle partitions collapse
    # to few at runtime when the data is small — the knob that makes
    # one cluster-wide shuffle.partitions setting workable across
    # mixed-size stages (locally: a 25-row aggregate must not schedule
    # 32 reduce tasks)
    from dask_lambda_example_spark.plans.inspect import physical_plan

    prev = spark.conf.get(
        "spark.sql.adaptive.coalescePartitions.enabled", "true")
    try:
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.enabled", "true")
        n = load_table(spark, sf_dir, "nation")
        agg = n.groupBy("n_regionkey").agg(F.count("*").alias("c"))
        agg.collect()
        plan = physical_plan(agg)
        assert "AQEShuffleRead coalesced" in plan
    finally:
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.enabled", prev)


def test_adversarial_skew_salting_bounds_partition_size(spark):
    # deliberately adversarial fixture: ONE key owns 50% of the fact
    # rows. A plain hash repartition on the join key puts that entire
    # key in one shuffle partition (the straggler task that kills the
    # job at 100 TB); salting the key with N_SALT sub-keys must cut the
    # max partition to ~1/N_SALT of the hot key's mass.
    from pyspark.sql import functions as F

    from dask_lambda_example_spark.operators.skew import N_SALT

    n = 200_000
    fact = spark.range(n).select(
        F.when(F.col("id") % 2 == 0, F.lit(0))
         .otherwise(F.pmod(F.xxhash64("id"), F.lit(1000)) + 1)
         .alias("k"),
        F.col("id").alias("v"))

    def max_partition_rows(df):
        sizes = (df.withColumn("p", F.spark_partition_id())
                 .groupBy("p").count().collect())
        return max(r["count"] for r in sizes)

    naive = max_partition_rows(fact.repartition(32, "k"))
    salted = max_partition_rows(
        fact.withColumn("salt", F.pmod(F.xxhash64("v"), F.lit(N_SALT)))
            .repartition(32, "k", "salt"))
    assert naive >= n // 2              # the hot key lands whole
    # the 8 hot-key salt shards spread over 32 partitions; two may
    # hash-collide into one partition, so the guaranteed bound is ~1/3
    # of the naive straggler, not a full 1/N_SALT
    assert salted <= naive // 3


def test_adversarial_skew_aqe_splits_join_partition(spark):
    # same fixture through the OTHER mitigation: AQE's runtime skew-join
    # split. With skew thresholds sized to the fixture, the executed
    # sort-merge join must mark the skewed side split (skew=true) —
    # proof the engine re-plans a straggler partition into parallel
    # chunks without any query rewrite.
    from pyspark.sql import functions as F

    from dask_lambda_example_spark.plans.inspect import physical_plan

    overrides = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        n = 400_000
        fact = spark.range(n).select(
            F.when(F.col("id") % 2 == 0, F.lit(0))
             .otherwise(F.pmod(F.xxhash64("id"), F.lit(1000)) + 1)
             .alias("k"),
            F.col("id").alias("v"))
        dim = spark.range(1001).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w"))
        # consumer must NOT require the join's k-partitioning (a
        # groupBy("k") downstream would make the skew split introduce
        # an extra shuffle, which AQE declines by default) — a global
        # aggregate leaves the join free to split its skewed partition
        joined = (fact.join(dim.hint("merge"), "k")
                  .agg(F.count("*").alias("n"), F.sum("v").alias("sv")))
        joined.collect()
        plan = physical_plan(joined)
        assert "skew=true" in plan or "skewed" in plan, plan[:2000]
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_rank_ntile_auto_dispatch(spark, sf_dir):
    # VERDICT r5: no registered name's only coded plan may be the
    # serial single-partition sort. rank_auto / ntile_auto must pick
    # the native window BELOW the metadata threshold and the
    # distributed formulations ABOVE it — asserted on the physical
    # plan: the scale path contains NO native rank()/ntile() window
    # function anywhere (both twins compute the values arithmetically
    # from histogram / range-bucket counts) and carries the range
    # shuffle the distributed-selection shape is built on.
    from dask_lambda_example_spark.operators.windows import (
        ntile_auto, rank_auto)
    from dask_lambda_example_spark.plans.inspect import physical_plan

    naive = physical_plan(rank_auto(spark, sf_dir))  # sf0.001 << 5e7
    assert "rank(" in naive, naive[:1500]

    scale = physical_plan(rank_auto(spark, sf_dir, max_naive_rows=0))
    assert "rank(" not in scale, scale[:1500]

    naive_nt = physical_plan(ntile_auto(spark, sf_dir))
    assert "ntile(" in naive_nt, naive_nt[:1500]

    scale_nt = physical_plan(ntile_auto(spark, sf_dir, max_naive_rows=0))
    assert "ntile(" not in scale_nt, scale_nt[:1500]
    assert "rangepartitioning" in scale_nt.lower(), scale_nt[:1500]

    # same contract for the percentile dispatcher: the scale path must
    # never plan the buffered TypedImperative percentile aggregate
    from dask_lambda_example_spark.operators.aggregates import (
        percentile_auto)

    naive_p = physical_plan(percentile_auto(spark, sf_dir))
    assert "percentile(" in naive_p, naive_p[:1500]
    scale_p = physical_plan(percentile_auto(spark, sf_dir,
                                            max_buffered_rows=0))
    assert "percentile(" not in scale_p, scale_p[:1500]
    assert "rangepartitioning" in scale_p.lower(), scale_p[:1500]


def test_rolling_auto_dispatch(spark, sf_dir):
    # Round-6 skew battery: a 27%-hot user_id made the plain rolling
    # time-range window 4.2x slower -- one task owns the whole hot
    # partition. The bucketed-overlap twin must partition the window by
    # (user_id, bkt) so a hot entity's timeline splits across tasks,
    # and the dispatcher must choose it above the metadata threshold.
    import re

    from dask_lambda_example_spark.operators.windows import (
        rolling_time_range_auto, win_rolling_time_range_bucketed)
    from dask_lambda_example_spark.plans.inspect import physical_plan

    naive = physical_plan(rolling_time_range_auto(spark, sf_dir))
    assert "hashpartitioning(user_id" in naive, naive[:1500]
    assert "bkt" not in naive, naive[:1500]

    scale = physical_plan(rolling_time_range_auto(spark, sf_dir,
                                                  max_naive_rows=0))
    # the window's exchange must hash on BOTH the entity and the time
    # bucket -- that is the straggler fix
    assert re.search(r"hashpartitioning\(user_id#\d+(?:L)?,\s*bkt#\d+",
                     scale), scale[:2000]

    # and the bucketed form agrees with the plain form row-for-row
    from dask_lambda_example_spark.operators.windows import (
        win_rolling_time_range)

    a = {tuple(r) for r in
         win_rolling_time_range(spark, sf_dir).collect()}
    b = {tuple(r) for r in
         win_rolling_time_range_bucketed(spark, sf_dir).collect()}
    assert a == b and len(a) > 0


def test_hybrid_rrf_plan_shape(spark, sf_dir):
    # Both modalities must reduce to TakeOrdered top-N before fusion
    # (candidate depth, not corpus size, bounds the fusion join and the
    # rank windows), the semantic probe must broadcast, and the BM25 df
    # table must broadcast -- no corpus-sized shuffle after the scans.
    from dask_lambda_example_spark.operators.similarity import (
        sim_hybrid_rrf)
    from dask_lambda_example_spark.plans.inspect import physical_plan

    plan = physical_plan(sim_hybrid_rrf(spark, sf_dir))
    assert "BroadcastExchange" in plan, plan[:2000]
    # the fusion join is a full-outer SMJ by necessity (full outer
    # cannot broadcast) — the contract is that BOTH of its inputs are
    # the candidate-depth TakeOrdered frames, i.e. the only SMJ sits
    # above the two limit-50 cuts, never on a corpus-sized side
    from dask_lambda_example_spark.operators.similarity import RRF_N_CAND

    smj = plan.find("SortMergeJoin")
    assert smj != -1 and plan.count("SortMergeJoin") == 1, plan[:2000]
    cuts = [i for i in range(len(plan))
            if plan.startswith(
                f"TakeOrderedAndProject(limit={RRF_N_CAND}", i)]
    assert len(cuts) == 2 and all(i > smj for i in cuts), plan[:2000]


def test_theta_auto_dispatch(spark, sf_dir):
    # VERDICT r6 item 1: the range-join aggregation dispatcher must pick
    # the enumerate-then-count form BELOW the metadata threshold (the
    # row-level range join is visible as the sz1 < sz2 residual) and the
    # pair-free CDF form ABOVE it (no pair-level join survives — the
    # only window/joins there run over the |brands| x |sizes| domain),
    # and NEITHER branch may ever plan a BroadcastNestedLoopJoin.
    import re

    from dask_lambda_example_spark.operators.joins import (
        theta_range_agg_auto)
    from dask_lambda_example_spark.plans.inspect import physical_plan

    naive = physical_plan(theta_range_agg_auto(spark, sf_dir))
    assert re.search(r"sz1#\d+ < sz2#\d+", naive), naive[:2000]
    assert "BroadcastNestedLoopJoin" not in naive, naive[:2000]

    scale = physical_plan(theta_range_agg_auto(spark, sf_dir,
                                               max_enum_pairs=0))
    assert "sz1" not in scale, scale[:2000]
    assert "BroadcastNestedLoopJoin" not in scale, scale[:2000]
    assert "Window" in scale, scale[:2000]

    # and the two formulations agree row-for-row (zero-pair brands
    # included -- the enum branch restores them via the brand domain)
    a = {tuple(r) for r in
         theta_range_agg_auto(spark, sf_dir).collect()}
    b = {tuple(r) for r in
         theta_range_agg_auto(spark, sf_dir, max_enum_pairs=0).collect()}
    assert a == b and len(a) > 0


def test_band_binned_plan_shape(spark, sf_dir):
    # The pair-list range join must reach the corpus through a bin
    # equi-join (hash join on the bin id, probe side broadcast after
    # the x3 bin explode) -- never a BroadcastNestedLoopJoin, which is
    # what a bare |a-b| <= W predicate would plan.
    import re

    from dask_lambda_example_spark.operators.joins import join_band_binned
    from dask_lambda_example_spark.plans.inspect import physical_plan

    plan = physical_plan(join_band_binned(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]
    assert re.search(r"BroadcastHashJoin \[__bin#\d+L?\]", plan), plan[:2000]
    assert "Generate explode" in plan, plan[:2000]


def test_sim_search_auto_dispatch(spark, sf_dir):
    # VERDICT r6 item 2: below the corpus-row threshold the dispatcher
    # IS the exact brute-force search (no centroid build anywhere in
    # the plan); above it the IVF pipeline must appear (the posexplode
    # centroid aggregation) and the full-corpus scan-per-probe join
    # must NOT -- the probe side joins the corpus only through the cell
    # equi-key. Both branches keep the same output contract.
    from dask_lambda_example_spark.operators.similarity import (
        TOP_K, sim_search_auto_impl)
    from dask_lambda_example_spark.plans.inspect import physical_plan

    naive_df = sim_search_auto_impl(spark, sf_dir)
    naive = physical_plan(naive_df)
    assert "posexplode" not in naive, naive[:2000]

    scale_df = sim_search_auto_impl(spark, sf_dir, max_exact_rows=0)
    scale = physical_plan(scale_df)
    assert "posexplode" in scale, scale[:2000]

    # same column contract, same k, on both sides of the threshold
    assert scale_df.columns == naive_df.columns
    ranks = [r.rank for r in scale_df.select("rank").collect()]
    assert ranks and max(ranks) <= TOP_K


def test_pagerank_auto_dispatch(spark, sf_dir):
    # VERDICT r9 item 1: the PageRank dispatcher, like every other
    # auto name, must be pinned on the PHYSICAL plan. Below BOTH
    # thresholds the iteration joins broadcast the |nodes|-sized
    # rank/degree vectors (BroadcastHashJoin, zero shuffled-hash
    # joins); above EITHER (forced to 0 one axis at a time) the
    # co-partitioned formulation takes over — every iteration join is
    # a sort-free ShuffledHashJoin against the once-partitioned edge
    # list and NOTHING is broadcast (a billion-node rank vector must
    # never be an executor-local copy). The choice is made from parquet
    # footer metadata, no Spark job at construction time.
    from dask_lambda_example_spark.operators.graph import pagerank_auto
    from dask_lambda_example_spark.plans.inspect import physical_plan

    naive_df = pagerank_auto(spark, sf_dir, "trade")  # sf0.001 << 1e8 nodes
    naive = physical_plan(naive_df)
    assert "BroadcastExchange" in naive, naive[:2000]
    assert "BroadcastHashJoin" in naive, naive[:2000]
    assert "ShuffledHashJoin" not in naive, naive[:2000]

    scale_df = pagerank_auto(spark, sf_dir, "trade", max_broadcast_nodes=0)
    scale = physical_plan(scale_df)
    assert "ShuffledHashJoin" in scale, scale[:2000]
    assert "BroadcastExchange" not in scale, scale[:2000]
    assert "BroadcastHashJoin" not in scale, scale[:2000]
    assert "SortMergeJoin" not in scale, scale[:2000]

    # the EDGE-volume axis must force the same flip on its own
    # (VERDICT r10 item 1: node bound alone mis-dispatched sf10 under
    # the 16g production heap)
    edge_df = pagerank_auto(spark, sf_dir, "trade",
                            max_broadcast_edge_rows=0)
    edge = physical_plan(edge_df)
    assert "ShuffledHashJoin" in edge, edge[:2000]
    assert "BroadcastExchange" not in edge, edge[:2000]
    assert "BroadcastHashJoin" not in edge, edge[:2000]

    # same output contract on both sides of the threshold
    assert scale_df.columns == naive_df.columns
    assert edge_df.columns == naive_df.columns


def test_crawl_pagerank_auto_dispatch(spark, sf_dir):
    # The crawl graph's dispatcher (VERDICT r10 item 5), pinned on the
    # physical plan exactly like the trade graph's: below the
    # thresholds the iteration joins broadcast the |docs|-sized rank
    # vector; above EITHER axis nothing is broadcast and every
    # iteration join is a sort-free ShuffledHashJoin against the
    # once-partitioned parsed edge list.
    from dask_lambda_example_spark.operators.graph import pagerank_auto
    from dask_lambda_example_spark.plans.inspect import physical_plan

    naive_df = pagerank_auto(spark, sf_dir, "crawl")
    naive = physical_plan(naive_df)
    assert "BroadcastHashJoin" in naive, naive[:2000]
    assert "ShuffledHashJoin" not in naive, naive[:2000]

    for kw in ({"max_broadcast_nodes": 0}, {"max_broadcast_edge_rows": 0}):
        scale_df = pagerank_auto(spark, sf_dir, "crawl", **kw)
        scale = physical_plan(scale_df)
        assert "ShuffledHashJoin" in scale, scale[:2000]
        assert "BroadcastHashJoin" not in scale, scale[:2000]
        assert "SortMergeJoin" not in scale, scale[:2000]
        assert scale_df.columns == naive_df.columns


def test_pq_adc_scan_broadcasts_and_never_cartesians(spark, sf_dir):
    # PQ's whole point is that the corpus side stays put: the per-probe
    # dense distance-table arrays broadcast against the code table (the
    # |probes| x n scan is the deliberate brute-force-over-CODES shape,
    # same as sim_cosine_topk_bruteforce's probe x corpus join), never
    # a CartesianProduct, and after the encode stage there is no
    # shuffle at all — the ADC sum is a codegen'd array-index fold.
    df = QUERIES["sim_pq_adc_search"].fn(spark, sf_dir)
    assert_broadcast_join(df)
    assert_no_cartesian(df)


def test_pq_rerank_refine_stage_broadcasts(spark, sf_dir):
    # the refine stage must fetch the shortlist's full-precision
    # vectors by broadcasting the |probes| x PQ_RERANK shortlist
    # against the corpus — a BroadcastHashJoin on neighbor_id, the
    # corpus scanned once and never shuffled for the re-rank. The only
    # sort-merge joins allowed are the probe-BOUNDED distance-table
    # spine joins the ADC build already plans (keys (query_id, slot),
    # |probes| x PQ_M*stride rows — AQE converts them at runtime); the
    # only nested-loop joins are the 1-row quantization-grid attaches
    # (the IVF-PQ allowance) plus the ADC scan's broadcast probe-table
    # attach (the deliberate |probes| x n code scan, non-equi on
    # vec_id != query_id — sim_pq_adc_search's own shape).
    import re

    from dask_lambda_example_spark.plans.inspect import physical_plan

    df = QUERIES["sim_pq_rerank_search"].fn(spark, sf_dir)
    assert_broadcast_join(df)
    assert_no_cartesian(df)
    plan = physical_plan(df)
    assert re.search(r"BroadcastHashJoin \[neighbor_id#\d+L?\]", plan), \
        plan[:2000]
    smj = re.findall(r"SortMergeJoin[^\n]*", plan)
    assert all("query_id" in s and "slot" in s for s in smj), smj
    bnlj = re.findall(r"BroadcastNestedLoopJoin[^\n]*", plan)
    assert all("Cross" in b or "query_id" in b for b in bnlj), bnlj
    assert len(bnlj) <= 3, bnlj


def test_ivfpq_rerank_composition_discipline(spark, sf_dir):
    # the composed IVF→PQ→refine path keeps both parents' contracts:
    # broadcast joins, no cartesian, the refine fetch is a
    # BroadcastHashJoin on neighbor_id, and the only sort-merge joins
    # are the probe-bounded distance-table spine joins.
    import re

    from dask_lambda_example_spark.plans.inspect import physical_plan

    df = QUERIES["sim_ivfpq_rerank_search"].fn(spark, sf_dir)
    assert_broadcast_join(df)
    assert_no_cartesian(df)
    plan = physical_plan(df)
    assert re.search(r"BroadcastHashJoin \[neighbor_id#\d+L?\]", plan), \
        plan[:2000]
    smj = re.findall(r"SortMergeJoin[^\n]*", plan)
    assert all("query_id" in s and "slot" in s for s in smj), smj


def test_ivfpq_scan_is_all_equijoins(spark, sf_dir):
    # the cell-pruned composition tightens the contract further: the
    # assigned-cells and distance-table joins are broadcast EQUI-joins,
    # so the scan never visits a code row outside the probe's cells.
    # The ONLY nested-loop joins allowed are the 1-row quantization-grid
    # attaches (crossJoin of the broadcast single-row min/width arrays in
    # the encode projection — a build side of exactly one row; the
    # encode subtree plans once under the codebook build and once under
    # the code scan, hence up to two); any other BNLJ would mean the
    # scan itself degenerated.
    import re

    from dask_lambda_example_spark.plans.inspect import physical_plan

    df = QUERIES["sim_ivfpq_search"].fn(spark, sf_dir)
    assert_broadcast_join(df)
    assert_no_cartesian(df)
    plan = physical_plan(df)
    bnlj = re.findall(r"BroadcastNestedLoopJoin[^\n]*", plan)
    assert all("Cross" in b for b in bnlj) and len(bnlj) <= 2, bnlj


def test_substring_spans_is_gram_equijoin(spark, sf_dir):
    # both the anchor candidate join and the extension join must be
    # plain equi-joins on the gram (plus the candidate-diagonal key) —
    # never a cartesian product, never a nested-loop join: the df-cap
    # bounds per-gram fan-out only if the join stays keyed (round-13,
    # VERDICT r12 item 6)
    from dask_lambda_example_spark.plans.inspect import physical_plan

    df = QUERIES["dedup_substring_spans"].fn(spark, sf_dir)
    assert_no_cartesian(df)
    assert "BroadcastNestedLoopJoin" not in physical_plan(df)


def test_ivf_incremental_ingest_broadcasts_index(spark, sf_dir):
    # the frozen index tables (centroids, norms, PQ grid) must reach
    # the batch as BROADCAST relations — the corpus is never shuffled
    # against the batch (round-13, VERDICT r12 item 5); the only
    # allowed non-broadcast join key is the |batch|-sized vec_id
    from dask_lambda_example_spark.plans.inspect import physical_plan

    df = QUERIES["sim_ivf_incremental_ingest"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan
    assert_no_cartesian(df)
    # exactly ONE nested-loop join is the intended plan: the PQ encode
    # crossJoins the broadcast 1-ROW grid frame (the _pq_coded
    # discipline — a bounded broadcast cross, not a pair explosion);
    # any second one would be a real join-degradation regression
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_ivf_incremental_rerank_refine_is_one_broadcast(spark, sf_dir):
    # the serving composition over the frozen+ingested index (round-14,
    # VERDICT r13 item 3): the refine stage must be ONE broadcast hash
    # join keyed on neighbor_id (shortlist broadcasts, corpus scanned
    # once), the cell/distance-table attaches broadcast equi-joins, and
    # nothing degenerates to a cartesian. The post-ingest code table is
    # an eager localCheckpoint, so the 1-row grid-attach BNLJs plan
    # inside the (already executed) checkpoint, not here — the only
    # nested-loop join allowed in the final plan is the bounded
    # distance-table slot spine (|probes|-distinct × broadcast slots,
    # the _pq_dt_array discipline shared with the ivfpq family).
    import re

    from dask_lambda_example_spark.plans.inspect import physical_plan

    df = QUERIES["sim_ivf_incremental_rerank_search"].fn(spark, sf_dir)
    assert_broadcast_join(df)
    assert_no_cartesian(df)
    plan = physical_plan(df)
    assert re.search(r"BroadcastHashJoin \[neighbor_id#\d+L?\]", plan), \
        plan[:2000]
    bnlj = re.findall(r"BroadcastNestedLoopJoin[^\n]*", plan)
    assert all("Cross" in b for b in bnlj) and len(bnlj) <= 1, bnlj


def test_exact_l2_audit_broadcasts_probes_over_streamed_corpus(spark, sf_dir):
    # the one exact squared-L2 top-k (similarity._exact_l2_topk) keeps
    # its brute-force shape under each of its three recall-audit
    # consumers: exactly one probe x corpus join (non-equi on
    # neighbor_id != query_id), the probe side (qq) is the broadcast
    # build side, and the corpus side (cc) streams from its scan with
    # no hash/range shuffle before the join. The only exchange allowed
    # there is load_table's footer-gated round-robin rebalance.
    import re

    def walk(node):
        yield node
        kids = node.children()
        for i in range(kids.size()):
            yield from walk(kids.apply(i))

    def names(node):
        return set(re.findall(r"(\w+)#\d+", node.output().toString()))

    exact_join = re.compile(r"NOT \(neighbor_id#\d+L? = query_id#\d+L?\)")
    for name in ("sim_pq_rerank_recall", "sim_pq_recall_report",
                 "sim_ivf_incremental_rerank_recall"):
        df = QUERIES[name].fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().executedPlan()
        joins = [n for n in walk(plan)
                 if exact_join.search(n.simpleString(400))]
        assert len(joins) == 1, (name, [j.simpleString(400) for j in joins])
        join = joins[0]
        desc = join.simpleString(400)
        assert join.nodeName() == "BroadcastNestedLoopJoin", (name, desc)
        build, stream = ((join.children().apply(0), join.children().apply(1))
                         if "BuildLeft" in desc else
                         (join.children().apply(1), join.children().apply(0)))
        assert build.nodeName() == "BroadcastExchange", (name, desc)
        assert "qq" in names(build) and "cc" in names(stream), (name, desc)
        below = list(walk(stream))
        assert any(n.nodeName().startswith("Scan") for n in below), name
        shuffles = [n.simpleString(200) for n in below
                    if n.nodeName() == "Exchange"
                    and "RoundRobinPartitioning" not in n.simpleString(200)]
        assert not shuffles, (name, shuffles)


def test_substring_cutlist_adds_no_joins(spark, sf_dir):
    # the cut-list consumer (round-14, VERDICT r13 item 4) is pure
    # gaps-and-islands OVER the span table: its plan must contain
    # exactly the span detection's joins (equi, df-cap bounded) plus
    # windows/aggregates — no cartesian, no nested-loop join, and no
    # join keyed on anything but the span stage's gram/candidate keys.
    from dask_lambda_example_spark.plans.inspect import physical_plan

    df = QUERIES["dedup_substring_cutlist"].fn(spark, sf_dir)
    assert_no_cartesian(df)
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan  # the islands construction


def test_image_phash_is_banded_equijoin(spark, sf_dir):
    # perceptual image dedup (round-14, VERDICT r13 item 5): candidate
    # pairs must come from the (band, value) EQUI-join — never
    # all-pairs: no cartesian, no nested-loop join anywhere in the
    # plan, and the pair join keyed on the band value.
    import re

    from dask_lambda_example_spark.plans.inspect import physical_plan

    df = QUERIES["dedup_image_phash"].fn(spark, sf_dir)
    assert_no_cartesian(df)
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    joins = re.findall(r"(?:SortMergeJoin|ShuffledHashJoin|"
                       r"BroadcastHashJoin)[^\n]*", plan)
    assert joins and any("v#" in j for j in joins), joins


def test_funnel_cut_stage_plan(spark, sf_dir):
    # the cut-list-consuming funnel (round-14, VERDICT r13 item 4's
    # consumer seam) must keep the funnel's join discipline: the cut
    # aggregate joins back on doc_id like every other stage flag, no
    # cartesian, no nested-loop join anywhere.
    from dask_lambda_example_spark.plans.inspect import physical_plan

    import re

    df = QUERIES["pipeline_curation_funnel_cut"].fn(spark, sf_dir)
    assert_no_cartesian(df)
    plan = physical_plan(df)
    # the only nested-loop joins allowed are the LM stage's bounded
    # 1-row corpus-total attaches (broadcast Cross), present in the
    # base funnel too — the cut stage itself must add none
    bnlj = re.findall(r"BroadcastNestedLoopJoin[^\n]*", plan)
    assert all("Cross" in b for b in bnlj), bnlj
    assert "Expand" in plan or "Generate" in plan  # the stage explode


def test_canonical_consumers_are_bucket_min_equijoins(spark, sf_dir):
    # round-14 second wave: the canonical-assignment consumers (image
    # phash canonical + audio fingerprint) must stay O(n)-output
    # bucket-min passes — candidates only from the (band, value)
    # equi-join against the bucket-minimum aggregate, never all-pairs:
    # no cartesian, no nested-loop join, and both the candidate join
    # and the final attach keyed equi-joins.
    import re

    from dask_lambda_example_spark.plans.inspect import physical_plan

    for name in ("dedup_image_phash_canonical", "dedup_audio_fingerprint",
                 "dedup_video_fingerprint"):
        df = QUERIES[name].fn(spark, sf_dir)
        assert_no_cartesian(df)
        plan = physical_plan(df)
        assert "BroadcastNestedLoopJoin" not in plan, name
        joins = re.findall(r"(?:SortMergeJoin|ShuffledHashJoin|"
                           r"BroadcastHashJoin)[^\n]*", plan)
        # band-value candidate join + the doc_id left attach
        assert any("v#" in j for j in joins), (name, joins)
        assert any("doc_id#" in j and "LeftOuter" in j
                   for j in joins), (name, joins)


# two-pass media or archive query -> the binary column _media_objects
# or warc._archives builds
_MEDIA_COLUMN = {
    "mm_decode_wav_audio": "wav",
    "mm_decode_png_image": "png",
    "mm_demux_avi_frames": "avi",
    "mm_decode_jpeg_image": "jpg",
    "mm_demux_mjpeg_avi": "avi",
    "dedup_image_phash": "png",
    "dedup_image_phash_canonical": "png",
    "dedup_audio_fingerprint": "wav",
    "dedup_video_fingerprint": "avi",
    "src_warc_scan": "warc",
    "src_warc_by_lang_scan": "warc",
    "text_html_extract": "warc",
    "pipeline_crawl_funnel": "warc",
    "text_html_outlinks": "warc",
    "graph_crawl_indegree": "warc",
    "src_tar_archive_scan": "tar",
}


@pytest.mark.parametrize("name", list(_MEDIA_COLUMN))
def test_media_bytes_never_shuffle(spark, sf_dir, name):
    # the media files and archives are built and decoded per object, so
    # no Exchange or BroadcastExchange may carry their column: only the
    # typed rows _per_object emits reach a shuffle. (mm_frame_sample is
    # not listed: it gathers per-frame bytes into clips with a shuffle.)
    import re

    col = _MEDIA_COLUMN[name]
    df = QUERIES[name].fn(spark, sf_dir)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
    assert re.search(rf"\b{col}#\d+", plan), (name, "media column absent")
    exchanged = re.findall(
        r"^\(\d+\) (?:Broadcast)?Exchange\nInput \[\d+\]: \[(.*)\]$",
        plan, re.M)
    carried = [c for cols in exchanged for c in cols.split(", ")
               if re.fullmatch(rf"{col}#\d+", c)]
    assert not carried, (name, carried)


# query -> BroadcastNestedLoopJoins its plan holds: the recall audit's
# exact side (_exact_cosine_topk) is one by design, probes × every
# other vector.
_IVF_SCAN_BNLJ = {
    "sim_ivf_search": 0,
    "sim_ivf_search_multiprobe": 0,
    "sim_ivf_search_adaptive": 0,
    "sim_ivf_incremental_recall": 1,
}


@pytest.mark.parametrize("name", list(_IVF_SCAN_BNLJ))
def test_adaptive_probe_keeps_ivf_plan_shape(spark, sf_dir, name):
    # every IVF search runs the one cell-pruned scan
    # (_cell_pruned_cosine_topk), and the adaptive dial (round 14)
    # changes only the cell-keep predicate — the plan must stay the IVF
    # shape: centroid tables broadcast, probe-side join broadcast, no
    # cartesian/BNLJ, and the in-cell scan an equi-join on the cell
    # label.
    import re

    from dask_lambda_example_spark.plans.inspect import physical_plan

    df = QUERIES[name].fn(spark, sf_dir)
    assert_no_cartesian(df)
    plan = physical_plan(df)
    assert plan.count("BroadcastNestedLoopJoin") == _IVF_SCAN_BNLJ[name], plan
    joins = re.findall(r"(?:SortMergeJoin|ShuffledHashJoin|"
                       r"BroadcastHashJoin)[^\n]*", plan)
    # the probe⋈index scan (the one join on query_id) keys on the label
    scan = [j for j in joins if "query_id#" in j and "cell#" in j]
    assert len(scan) == 1 and re.search(
        r"\[cell#\d+\], \[label#\d+\]|\[label#\d+\], \[cell#\d+\]",
        scan[0]), joins
    assert "Window" in plan  # per-probe cell and neighbor rankings
