"""Central query registry — the correctness contract.

Every operator implemented from SURVEY.md §2 registers here as a named
query: a PySpark callable ``(spark, sf_dir) -> DataFrame`` plus (when
SQL-expressible) the equivalent ANSI SQL for the DuckDB oracle. The
driver runs both sides at sf0.01 and compares row count + schema +
order-insensitive value hash (``/root/repo/__spark_entry__.py``).

Float discipline (SURVEY.md §5.2-4): aggregate outputs are rounded to 6
decimals on BOTH sides and every computed column carries the same alias
in both dialects — the driver sorts columns by name before hashing.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    fn: SparkQuery
    oracle: str | None  # DuckDB SQL, or None → driver rows-only check
    doc: str


QUERIES: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None = None) -> Callable[[SparkQuery], SparkQuery]:
    """Decorator: register ``fn`` as a named query with its oracle SQL."""

    def deco(fn: SparkQuery) -> SparkQuery:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")

        @functools.wraps(fn)
        def portable(spark: SparkSession, sf_dir: str) -> DataFrame:
            # Every query must run in ANY SparkSession, not just the one
            # session.get_spark() builds — the verification driver uses a
            # bare builder. Set the dynamic confs (nanosAsLong, UTC, …)
            # before the query body touches a file.
            from dask_lambda_example_spark.io import ensure_portable_session

            ensure_portable_session(spark)
            return fn(spark, sf_dir)

        QUERIES[name] = QuerySpec(name=name, fn=portable, oracle=oracle,
                                  doc=(fn.__doc__ or "").strip())
        return fn

    return deco


# CORRECTNESS artifacts the rotation derives its state from — pinned to
# the rounds committed at HEAD, so a stray working-tree file (e.g. the
# current round's artifact, written by the driver before it re-reads
# queries()) cannot silently change the sample order between this
# checkout and a clean clone (review finding, ADVICE r3).
CORRECTNESS_ARTIFACTS = (
    "CORRECTNESS_r01.json",
    "CORRECTNESS_r02.json",
    "CORRECTNESS_r03.json",
    "CORRECTNESS_r04.json",
    "CORRECTNESS_r05.json",
    "CORRECTNESS_r06.json",
    "CORRECTNESS_r07.json",
    "CORRECTNESS_r08.json",
    "CORRECTNESS_r09.json",
    "CORRECTNESS_r10.json",
    "CORRECTNESS_r11.json",
    "CORRECTNESS_r12.json",
    "CORRECTNESS_r13.json",
    "CORRECTNESS_r14.json",
    "CORRECTNESS_r15.json",
)

# Names whose implementation changed materially after their last green
# driver row: listed here they are treated as unverified again and float
# back into the driver window (ADVICE r3 — a green row attests the code
# that ran THAT round, not later rewrites).
# r12: every r11 REVERIFY name earned a fresh green row in the r11
# driver window (CORRECTNESS_r11.json, 44/44 oracle-gated green), so
# the list drains. The one body change this round —
# stream_rate_source_smoke's first-batch wait — is a rows-only query
# that re-earns its row every round by construction, so it needs no
# REVERIFY entry.
# Similarity consolidation: the incremental-ANN bodies went back to the
# r14 form, the eight recall audits share one recall join
# (similarity._recall_at_k), and the exact searches share one exact
# top-k per metric (_exact_cosine_topk, _exact_l2_topk, which is also
# the re-rank searches' refine stage). Results are unchanged, but none
# of these names ran this code when it earned its last green row —
# re-earn (ADVICE r3).
# One coarse IVF index: the IVF searches, the centroid build and IVF-PQ
# now build their cells with the ingest family's _ingest_corpus_cells,
# assign probes with _ingest_assign_cells (which carries the adaptive
# margin) and scan with the shared _cell_pruned_cosine_topk; their
# oracles share _cells_sql/_assign_sql/_cell_scan_sql — re-earn.
# One cosine join: the six hand-written cosine joins (brute-force,
# threshold, sign-LSH ANN, IVF cell scan, near-dup, SemDeDup) and every
# composite over them now score with vector.cosine_join and cut with
# vector.cosine_topk, and their embeddings scans rebalance from
# estimated pair counts, not a per-call-site override — re-earn.
# One PQ pipeline: the PQ family now shares one encode, one ADC ranking
# and one oracle CTE chain — sim_pq_adc_search joins the eight PQ names
# above.
# One text near-dup core: the shingle, MinHash, decontamination and
# substring queries (and the funnel that consumes the cut list) share
# one word n-gram builder, one posting-list pair expansion, one Jaccard
# verify and one set of oracle CTEs — re-earn.
# One PageRank core: the trade and crawl PageRank queries, broadcast and
# co-partitioned, run one edge materialization (graph._pagerank), one
# recurrence loop and one footer dispatch (graph.pagerank_auto), and
# graph_reachability_rcte reads the same trade edge build; its oracle
# reuses the trade edge CTEs — re-earn.
REVERIFY: tuple[str, ...] = (
    "sim_cosine_topk_bruteforce", "sim_search_auto",
    "sim_ann_recall_report", "sim_ivf_recall_report",
    "sim_ivf_recall_multiprobe", "sim_ivf_recall_adaptive",
    "sim_pq_rerank_search", "sim_pq_rerank_recall", "sim_pq_recall_report",
    "sim_ivfpq_rerank_search", "sim_ivf_incremental_ingest",
    "sim_ivf_incremental_recall", "sim_ivf_incremental_rerank_search",
    "sim_ivf_incremental_rerank_recall",
    "sim_ivf_centroids", "sim_ivf_search", "sim_ivf_search_multiprobe",
    "sim_ivf_search_adaptive", "sim_ivf_adaptive_probe_stats",
    "sim_ivfpq_search",
    "sim_threshold_join", "sim_ann_signlsh_topk",
    "dedup_embedding_neardup", "dedup_semdedup_cells",
    "sim_pq_adc_search",
    "dedup_jaccard_pairs", "dedup_jaccard_stopshingle",
    "dedup_minhash_lsh_pairs", "dedup_incremental_minhash",
    "dedup_cluster_cc", "dedup_decontaminate",
    "dedup_repeated_ngram_spans", "dedup_repeated_ngram_spans_hashed",
    "dedup_substring_spans", "dedup_substring_cutlist",
    "pipeline_curation_funnel_cut",
    "graph_pagerank", "graph_pagerank_copartitioned", "graph_pagerank_auto",
    "graph_reachability_rcte", "graph_crawl_pagerank",
    "graph_crawl_pagerank_copartitioned", "graph_crawl_pagerank_auto",
)


def _is_green(r: dict) -> bool:
    """One CORRECTNESS row is green: no error, row counts match, and —
    when the full oracle comparison ran — schema + value-hash match
    too. A ``no_oracle`` row records only that the query ran
    (rows_match / schema_match / hash_match are all null); that is NOT
    a correctness signal, so it never marks the name verified —
    rows-only queries re-earn their row every round.
    """
    return bool(r.get("err") is None and r.get("rows_match")
                and r.get("schema_match") in (True, None)
                and r.get("hash_match") in (True, None))


def _artifact_rows() -> list[tuple[int, str, dict]]:
    """(artifact index, name, row) over the pinned committed artifacts,
    oldest round first; a missing or unreadable artifact is skipped."""
    import json
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent
    out = []
    for i, fname in enumerate(CORRECTNESS_ARTIFACTS):
        try:
            rows = json.loads((root / fname).read_text())
        except (OSError, ValueError):
            continue
        out.extend((i, name, r) for name, r in rows.items())
    return out


def _verdicts() -> dict[str, bool]:
    """Per-name verdict, **latest round wins** — a name green in r01
    but red in r03 counts as unverified, so regressions rotate back into
    the window instead of being masked by a stale green (review finding,
    ADVICE r3)."""
    return {name: _is_green(r) for _, name, r in _artifact_rows()}


def _last_green_round() -> dict[str, int]:
    """Name -> index of the latest pinned artifact whose row is green
    (staleness key for re-sampling: lower = longer unchecked)."""
    return {name: i for i, name, r in _artifact_rows() if _is_green(r)}


def driver_verified() -> set[str]:
    """Names whose LATEST driver CORRECTNESS row (pinned committed
    artifacts only) is fully green and whose implementation has not
    changed since (``REVERIFY``)."""
    return {n for n, ok in _verdicts().items() if ok} - set(REVERIFY)


def priority_queries() -> list[str]:
    """The head of the driver's window: the rows-only queries (no
    oracle, so the driver records only that they ran and that weak
    signal is re-earned every round) in registration order, then
    ``REVERIFY``."""
    _ensure_loaded()
    return [*(n for n, s in QUERIES.items() if s.oracle is None), *REVERIFY]


def _ordered() -> list[QuerySpec]:
    """Registry order = the driver's sample order (it checks the FIRST
    50 entries of ``queries()`` each round). Rotation is automatic and
    self-maintaining: never-driver-verified names come first —
    ``priority_queries()`` (the head for this round's window), then
    the remaining unverified names in registration order — and
    verified names re-register after them ordered stalest-green-round
    first, so when fewer than 50 unverified names remain the driver's
    surplus slots automatically re-sample the longest-unchecked green
    names (regression detection rather than dead slots).
    """
    _ensure_loaded()
    missing = [n for n in REVERIFY if n not in QUERIES]
    if missing:
        raise RuntimeError(f"REVERIFY names not registered: {missing}")
    green = driver_verified()
    priority = priority_queries()
    pri = set(priority)
    head = [n for n in priority if n not in green]
    unverified = [n for n in QUERIES if n not in green and n not in pri]
    last = _last_green_round()
    reg_pos = {n: i for i, n in enumerate(QUERIES)}
    verified = sorted((n for n in QUERIES if n in green),
                      key=lambda n: (last.get(n, -1), reg_pos[n]))
    return [QUERIES[n] for n in (*head, *unverified, *verified)]


def spark_queries() -> dict[str, SparkQuery]:
    return {s.name: s.fn for s in _ordered()}


def oracle_queries() -> dict[str, str]:
    return {s.name: s.oracle for s in _ordered() if s.oracle is not None}


_LOADED = False


def _ensure_loaded() -> None:
    """Import every module that registers queries (idempotent)."""
    global _LOADED
    if _LOADED:
        return
    import dask_lambda_example_spark.operators.relational  # noqa: F401
    import dask_lambda_example_spark.operators.aggregates  # noqa: F401
    import dask_lambda_example_spark.operators.joins  # noqa: F401
    import dask_lambda_example_spark.operators.scalar_functions  # noqa: F401
    import dask_lambda_example_spark.operators.windows  # noqa: F401
    import dask_lambda_example_spark.operators.timeseries  # noqa: F401
    import dask_lambda_example_spark.operators.setops  # noqa: F401
    import dask_lambda_example_spark.operators.subqueries  # noqa: F401
    import dask_lambda_example_spark.operators.tpch_extra  # noqa: F401
    import dask_lambda_example_spark.operators.tpch_extra2  # noqa: F401
    import dask_lambda_example_spark.operators.skew  # noqa: F401
    import dask_lambda_example_spark.operators.events_analytics  # noqa: F401
    import dask_lambda_example_spark.operators.graph  # noqa: F401
    import dask_lambda_example_spark.operators.clustering  # noqa: F401
    import dask_lambda_example_spark.operators.cdc  # noqa: F401
    import dask_lambda_example_spark.operators.profiling  # noqa: F401
    import dask_lambda_example_spark.operators.dedup  # noqa: F401
    import dask_lambda_example_spark.operators.curation  # noqa: F401
    import dask_lambda_example_spark.operators.similarity  # noqa: F401
    import dask_lambda_example_spark.operators.text  # noqa: F401
    import dask_lambda_example_spark.operators.multimodal  # noqa: F401
    import dask_lambda_example_spark.operators.udf_surface  # noqa: F401
    import dask_lambda_example_spark.operators.bpe  # noqa: F401
    import dask_lambda_example_spark.sources.synthetic  # noqa: F401
    import dask_lambda_example_spark.sources.formats  # noqa: F401
    import dask_lambda_example_spark.sources.pydatasource  # noqa: F401
    import dask_lambda_example_spark.sources.warc  # noqa: F401
    import dask_lambda_example_spark.streaming.pipeline  # noqa: F401
    _LOADED = True
