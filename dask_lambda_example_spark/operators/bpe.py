"""Distributed BPE tokenizer training and encoding (SURVEY.md §2.C
training-data tier): the tokenizer-fitting job every LLM corpus
pipeline runs before anything else touches the text.

The reference never tokenizes (its analytics are numeric,
`src/dask_processing.py:31-33`); this family is pure added capability
for the 100 TB corpus case, built the way BPE actually scales:

- **ONE corpus-wide shuffle, then vocabulary-sized work.** The classic
  BPE trick (Sennrich et al. 2016, "Neural Machine Translation of Rare
  Words with Subword Units") is to train on the WORD-FREQUENCY table,
  not the corpus: after one explode+groupBy over the text, every merge
  iteration touches only distinct words weighted by count — a table
  that grows sublinearly with corpus size (Heaps' law), so 24 merge
  rounds over 100 TB cost 24 jobs over a few million rows, not 24
  corpus passes.
- **Per-iteration argmax is a 1-row collect** — the same bounded
  driver-scalar pattern as connected-components' convergence sum
  (`dedup.py`), with a deterministic tie-break (count DESC, then pair
  lexicographic ASC) so the merge sequence is reproducible and
  property-testable against a pure-Python reference.
- **Encode broadcasts the merge table** (≤ BPE_MERGES rows) and runs
  one Arrow-batched pass over the documents — shuffle-free.

Correctness strategy (BPE's iterative argmax is not SQL-expressible,
so the train/encode queries are rows-only for the driver — the same
class as `agg_approx_sketches` — but each carries an EXACT gate):
- `text_bpe_pair_counts` — the per-iteration workhorse job (weighted
  adjacent-symbol pair counts) IS SQL-expressible and is fully
  oracle-gated against DuckDB;
- `text_bpe_train` asserts in-body that the merge sequence is
  well-formed and is compared MERGE-BY-MERGE, EXACTLY, against an
  independent pure-Python reference in tests/test_units.py;
- `text_bpe_encode` re-encodes every 97th document worker-side with an
  independent slow-path implementation (rank-at-a-time whole-word
  replay, a different algorithm from the hot path's lowest-rank-first
  scan) and raises on any disagreement — so even the driver's
  rows-only run executes an exact self-check.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dask_lambda_example_spark.io import load_table
from dask_lambda_example_spark.registry import query

BPE_MERGES = 24                # merge rounds to learn
BPE_MIN_PAIR_COUNT = 2         # stop early below this (standard BPE)
BPE_END = "</w>"               # word-terminal symbol
BPE_GATE_EVERY = 97            # encode self-check sampling stride


# ------------------------------------------------------ pure functions
# (shared by the Spark ops, the worker-side gate, and the pytest
# reference — importable without a SparkSession)


def word_to_symbols(word: str) -> tuple[str, ...]:
    return tuple(word) + (BPE_END,)


def merge_word(syms: tuple[str, ...], left: str, right: str
               ) -> tuple[str, ...]:
    """Apply ONE merge to a symbol sequence, leftmost-first iterated —
    the T.81-grade detail: after merging positions (i, i+1) the scan
    resumes at the merged symbol's successor, so 'a a a a' under merge
    (a,a) becomes 'aa aa', not 'aa a a'."""
    out: list[str] = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return tuple(out)


def train_bpe_reference(word_counts: dict[str, int], n_merges: int
                        ) -> list[tuple[str, str, int]]:
    """Pure-Python reference trainer (the pytest oracle): greedy
    highest-count pair with (count DESC, pair ASC) tie-break."""
    vocab = {word_to_symbols(w): c for w, c in word_counts.items()}
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        pairs: dict[tuple[str, str], int] = {}
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                pairs[syms[i], syms[i + 1]] = pairs.get(
                    (syms[i], syms[i + 1]), 0) + c
        if not pairs:
            break
        (left, right), cnt = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if cnt < BPE_MIN_PAIR_COUNT:
            break
        merges.append((left, right, cnt))
        vocab = {merge_word(s, left, right): c for s, c in vocab.items()}
    return merges


def encode_word(word: str, ranks: dict[tuple[str, str], int]
                ) -> tuple[str, ...]:
    """Hot-path encode: repeatedly merge the LOWEST-RANK applicable
    pair (GPT-2-style) until none applies."""
    syms = word_to_symbols(word)
    while len(syms) > 1:
        best, best_rank = None, None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best, best_rank = (syms[i], syms[i + 1]), r
        if best is None:
            break
        syms = merge_word(syms, *best)
    return syms


def encode_word_replay(word: str, merges: list[tuple[str, str]]
                       ) -> tuple[str, ...]:
    """Independent slow-path encode (the worker-side gate): replay the
    merge list rank-at-a-time over the whole word. For merges learned
    by greedy BPE the two strategies agree; any divergence is a bug in
    one of them and must raise."""
    syms = word_to_symbols(word)
    for left, right in merges:
        syms = merge_word(syms, left, right)
    return syms


# -------------------------------------------------------- distributed


def _word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The single corpus-wide job: documents → (word, count). Everything
    downstream is vocabulary-sized."""
    d = load_table(spark, sf_dir, "documents")
    return (d.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
             .filter(F.col("word") != "")
             .groupBy("word").agg(F.count("*").alias("cnt")))


@query(
    "text_bpe_pair_counts",
    oracle=f"""
    WITH wc AS (
        SELECT word, count(*) AS cnt
        FROM (SELECT unnest(string_split(text, ' ')) AS word
              FROM documents)
        WHERE word <> ''
        GROUP BY word),
    pairs AS (
        SELECT substr(w.word, i.i, 1)     AS left_sym,
               CASE WHEN i.i = length(w.word)
                    THEN '{BPE_END}'
                    ELSE substr(w.word, i.i + 1, 1) END AS right_sym,
               w.cnt
        FROM wc w,
             LATERAL (SELECT unnest(generate_series(1, length(w.word)))
                      AS i) i)
    SELECT left_sym, right_sym,
           CAST(SUM(cnt) AS BIGINT) AS pair_count
    FROM pairs
    GROUP BY left_sym, right_sym
    """,
)
def text_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE's per-iteration workhorse, oracle-gated: weighted
    adjacent-symbol pair counts over the word-frequency table at the
    initial (character + terminal) symbolization. This is the exact
    job the trainer's loop re-runs per merge; value-hash parity here
    pins the distributed half of training.

    Shape: one corpus shuffle for word counts, then a vocabulary-sized
    explode+groupBy — the pair table is bounded by |alphabet|² and
    never by the corpus."""
    wc = _word_counts(spark, sf_dir)
    pairs = wc.select(
        F.explode(F.expr(
            f"""transform(sequence(1, length(word)),
                i -> struct(substr(word, i, 1) AS left_sym,
                            CASE WHEN i = length(word) THEN '{BPE_END}'
                                 ELSE substr(word, i + 1, 1) END
                                AS right_sym))"""
        )).alias("p"),
        F.col("cnt"),
    )
    return (pairs.select("p.left_sym", "p.right_sym", "cnt")
                 .groupBy("left_sym", "right_sym")
                 .agg(F.sum("cnt").alias("pair_count")))


# Deterministic memo: the merge sequence is a pure function of the
# corpus, so encode (and repeated battery runs) reuse train's result
# instead of re-running 24 iterative jobs. The key includes a cheap
# CONTENT fingerprint of the documents table (file names, sizes,
# mtimes — a driver-local stat, no Spark job), so regenerating the
# data under the same sf_dir within one session (e.g. tools/
# make_skew.py rewriting a tier) invalidates the memo instead of
# silently reusing merges from the old corpus (ADVICE r7).
_MERGE_CACHE: dict[tuple, list[tuple[str, str, int]]] = {}


def _corpus_fingerprint(sf_dir: str) -> tuple:
    """(name, size, mtime_ns) per file of the documents table — single
    file or directory-of-parts layout. Delegates to the shared
    fail-loud helper: a missing/odd-layout table raises instead of
    silently degrading the memo key to sf_dir-only (ADVICE r8)."""
    from dask_lambda_example_spark.io import table_fingerprint

    return table_fingerprint(sf_dir, "documents")

# Rows of vocabulary per partition in the iterative loop. The word
# table is Heaps'-law small, so the default 32 shuffle partitions would
# pay 24 rounds x 32 near-empty tasks of pure scheduling at bench SFs;
# at 100 TB (vocab in the millions) the same rule widens the loop to
# real parallelism. Same metadata-driven dispatch idea as rank_auto.
BPE_VOCAB_ROWS_PER_PART = 65536
BPE_LOCAL_VOCAB_MAX = 200_000  # vocabularies up to this train on the driver


def train_bpe(spark: SparkSession, sf_dir: str,
              n_merges: int = BPE_MERGES) -> list[tuple[str, str, int]]:
    """Distributed BPE training. One corpus shuffle builds the word
    table; each merge round is an explode+groupBy over the vocabulary
    plus a 1-row argmax collect (bounded driver scalar, the CC
    pattern), then an Arrow-batched merge application.
    ``localCheckpoint`` per round keeps the lineage flat across the
    iterative loop; the loop width follows the measured vocabulary
    size, not the corpus."""
    key = (sf_dir, n_merges, _corpus_fingerprint(sf_dir))
    if key in _MERGE_CACHE:
        return _MERGE_CACHE[key]
    wc = _word_counts(spark, sf_dir)
    n_vocab = wc.count()          # vocabulary-sized, one cheap job

    # Metadata dispatch (the rank_auto pattern): below the threshold the
    # word-count table fits comfortably on the driver — collect it
    # (bounded by ``BPE_LOCAL_VOCAB_MAX``) and run the iterations
    # locally, which is how production tokenizer trainers work once the
    # distributed count is done. Above it, run the loop distributed.
    # Both paths implement identical semantics (pytest forces the
    # distributed path by lowering the bound and compares
    # merge-by-merge).
    if n_vocab <= BPE_LOCAL_VOCAB_MAX:
        counts = {r["word"]: int(r["cnt"]) for r in wc.collect()}
        merges = train_bpe_reference(counts, n_merges)
        _MERGE_CACHE[key] = merges
        return merges

    n_parts = max(1, min(int(n_vocab // BPE_VOCAB_ROWS_PER_PART) + 1,
                         spark.sparkContext.defaultParallelism))
    vocab = wc.repartition(n_parts).select(
        F.expr(f"concat(split(word, ''), array('{BPE_END}'))").alias("syms"),
        "cnt",
    ).localCheckpoint()

    merges: list[tuple[str, str, int]] = []
    for it in range(n_merges):
        # CASE-guard fully-merged words: Spark's sequence(1, 0) counts
        # DOWN ([1, 0]) instead of producing an empty range.
        pairs = vocab.select(
            F.explode(F.expr(
                """CASE WHEN size(syms) < 2 THEN
                       array()
                   ELSE
                       transform(sequence(1, size(syms) - 1),
                           i -> struct(element_at(syms, i) AS l,
                                       element_at(syms, i + 1) AS r))
                   END"""
            )).alias("p"),
            "cnt",
        )
        top = (pairs.groupBy("p.l", "p.r")
                    .agg(F.sum("cnt").alias("c"))
                    .orderBy(F.desc("c"), F.asc("l"), F.asc("r"))
                    .limit(1).collect())
        if not top or top[0]["c"] < BPE_MIN_PAIR_COUNT:
            break
        left, right, cnt = top[0]["l"], top[0]["r"], int(top[0]["c"])
        merges.append((left, right, cnt))

        def apply_merge(batches: Iterator[pd.DataFrame], _l=left, _r=right,
                        _mw=merge_word) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                yield pd.DataFrame({
                    "syms": [list(_mw(tuple(s), _l, _r))
                             for s in pdf["syms"]],
                    "cnt": pdf["cnt"],
                })

        vocab = vocab.mapInPandas(apply_merge, "syms array<string>, cnt long")
        # Checkpoint every few rounds, not every round: the lineage of a
        # handful of Arrow passes replays cheaply, and each checkpoint
        # is a full materialization job.
        if it % 6 == 5:
            vocab = vocab.localCheckpoint()
    _MERGE_CACHE[key] = merges
    return merges


@query("text_bpe_train")  # iterative argmax → rows-only for the driver;
# exact merge-by-merge parity vs the pure-Python reference is pytest-
# enforced (test_units.py::test_bpe_train_matches_reference)
def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training (see ``train_bpe``). Returns
    the learned merge table (rank, left, right, merged, pair_count).
    In-body gate (violations raise rather than return): every pair
    count >= BPE_MIN_PAIR_COUNT; pair counts non-increasing by rank
    (greedy argmax can never pick a pair whose count exceeds an earlier
    winner's — any new pair created by a merge occurs at most as often
    as the merge that created it); and each merge's parts must be
    DERIVABLE — a single character, the terminal symbol, or the product
    of an earlier merge — i.e. the merge list is closed under its own
    construction order (ADVICE r7: the previous gate was vacuous)."""
    merges = train_bpe(spark, sf_dir)
    derivable: set[str] = set()
    prev_cnt: int | None = None
    for rank, (left, right, cnt) in enumerate(merges):
        if cnt < BPE_MIN_PAIR_COUNT:
            raise ValueError(f"rank {rank}: merge below the minimum "
                             f"pair count ({cnt})")
        if prev_cnt is not None and cnt > prev_cnt:
            raise ValueError(
                f"rank {rank}: pair count {cnt} exceeds earlier winner "
                f"{prev_cnt} — greedy argmax order violated")
        prev_cnt = cnt
        for part in (left, right):
            if len(part) > 1 and part != BPE_END and part not in derivable:
                raise ValueError(
                    f"rank {rank}: symbol {part!r} is neither a single "
                    f"character, the terminal, nor an earlier merge")
        derivable.add(left + right)
    rows = [(rank, left, right, left + right, cnt)
            for rank, (left, right, cnt) in enumerate(merges)]
    return spark.createDataFrame(
        rows, "rank int, left string, right string, merged string, "
              "pair_count long")


@query("text_bpe_encode")  # encode applies the trained ranks → rows-only;
# every 97th document is re-encoded worker-side with the independent
# rank-replay implementation and any disagreement raises
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-encode the corpus with the merges learned by ``train_bpe``:
    broadcast the (tiny) merge table, one Arrow-batched shuffle-free
    pass over documents; per document emit token count, character
    count, compression ratio, and an order-sensitive token checksum.
    Worker-side exact gate: sampled documents are re-encoded with the
    independent rank-at-a-time replay implementation and compared
    token-for-token."""
    merges = train_bpe(spark, sf_dir)
    merge_pairs = [(left, right) for left, right, _ in merges]
    ranks = {pair: i for i, pair in enumerate(merge_pairs)}
    b_ranks = spark.sparkContext.broadcast(ranks)
    b_merges = spark.sparkContext.broadcast(merge_pairs)

    def encode(batches: Iterator[pd.DataFrame], _enc=encode_word,
               _replay=encode_word_replay) -> Iterator[pd.DataFrame]:
        import zlib

        rk = b_ranks.value
        mg = b_merges.value
        cache: dict[str, tuple[str, ...]] = {}
        for pdf in batches:
            rows = {k: [] for k in ("doc_id", "n_tokens", "n_chars",
                                    "chars_per_token", "token_checksum")}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                toks: list[str] = []
                for w in text.split(" "):
                    if not w:
                        continue
                    if w not in cache:
                        cache[w] = _enc(w, rk)
                    toks.extend(cache[w])
                if int(doc_id) % BPE_GATE_EVERY == 0:
                    slow = []
                    for w in text.split(" "):
                        if w:
                            slow.extend(_replay(w, mg))
                    if slow != toks:
                        raise ValueError(
                            f"encode gate: doc {doc_id} hot path disagrees "
                            f"with rank-replay reference")
                n_chars = sum(len(t) for t in toks)
                rows["doc_id"].append(int(doc_id))
                rows["n_tokens"].append(len(toks))
                rows["n_chars"].append(n_chars)
                rows["chars_per_token"].append(
                    round(n_chars / len(toks), 6) if toks else 0.0)
                rows["token_checksum"].append(
                    zlib.crc32("\x1f".join(toks).encode()) & 0xFFFFFFFF)
            yield pd.DataFrame(rows)

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return d.mapInPandas(
        encode,
        "doc_id long, n_tokens long, n_chars long, chars_per_token double, "
        "token_checksum long")
