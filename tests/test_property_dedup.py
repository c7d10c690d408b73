"""Property-based test (SURVEY.md §5): the inverted-index Jaccard
near-dup join, plain and with the stop-shingle df cap, must match a
brute-force all-pairs reference on arbitrary generated corpora —
seeded hypothesis search over shingle collisions, identical docs,
sub-shingle-length docs, empty docs, and singleton corpora (the edge
cases a fixed fixture misses). The query's scalable
formulation (posting-list equi-join, no cross product) and the O(n²)
reference must be EXTENSIONALLY equal wherever Jaccard ≥ threshold.
"""

from __future__ import annotations

import tempfile
from collections import Counter

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from dask_lambda_example_spark.operators.dedup import (
    JACCARD_THRESHOLD, STOP_SHINGLE_DF_CAP)

# tiny alphabet → forced shingle collisions; short docs → boundary cases
_word = st.sampled_from(["aa", "bb", "cc", "dd"])
_doc = st.lists(_word, min_size=0, max_size=8)
_corpus = st.lists(_doc, min_size=1, max_size=7)


def _shingles(tokens: list[str]) -> set[str]:
    # mirror operators.dedup.shingles: DISTINCT word 3-grams; <3 tokens
    # yield none (the sequence() guard)
    return {" ".join(tokens[i:i + 3]) for i in range(len(tokens) - 2)}


def _reference_pairs(corpus: list[list[str]],
                     max_df: int | None = None) -> dict[tuple[int, int], float]:
    # with max_df, shingles in more than max_df docs are dropped first
    # and the set sizes are those of the capped sets (the stop-shingle
    # query's contract)
    sh = {i: _shingles(toks) for i, toks in enumerate(corpus)}
    if max_df is not None:
        df = Counter(g for s in sh.values() for g in s)
        sh = {i: {g for g in s if df[g] <= max_df} for i, s in sh.items()}
    out = {}
    for a in range(len(corpus)):
        for b in range(a + 1, len(corpus)):
            if not sh[a] or not sh[b]:
                continue  # no shingles → absent from the inverted index
            inter = len(sh[a] & sh[b])
            if inter == 0:
                continue
            jac = inter / len(sh[a] | sh[b])
            if jac >= JACCARD_THRESHOLD:
                out[(a, b)] = round(jac, 6)
    return out


def _hex32(token: str) -> int:
    import hashlib

    return int(hashlib.md5(token.encode()).hexdigest()[:8], 16)


def _reference_minhash_pairs(
        corpus: list[list[str]]) -> dict[tuple[int, int], float]:
    """Pure-Python replica of the FULL minhash→band→verify pipeline
    (16 universal hashes from two md5-derived values, 8 bands of 2) —
    including LSH's false negatives, which are part of the contract."""
    sh = {i: _shingles(toks) for i, toks in enumerate(corpus)}
    sigs = {}
    for i, s in sh.items():
        if not s:
            continue
        hs = [(_hex32(t), _hex32(t + "#")) for t in s]
        sigs[i] = [min((h1 + j * h2) % 4_294_967_296 for h1, h2 in hs)
                   for j in range(16)]
    buckets: dict[tuple[int, str], list[int]] = {}
    for i, sig in sigs.items():
        for b in range(8):
            buckets.setdefault(
                (b, f"{sig[2 * b]}|{sig[2 * b + 1]}"), []).append(i)
    cands = {tuple(sorted((x, y)))
             for ids in buckets.values() if len(ids) > 1
             for xi, x in enumerate(ids) for y in ids[xi + 1:]}
    out = {}
    for a, b in sorted(cands):
        jac = len(sh[a] & sh[b]) / len(sh[a] | sh[b])
        if jac >= JACCARD_THRESHOLD:
            out[(a, b)] = round(jac, 6)
    return out


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(corpus=_corpus)
def test_minhash_lsh_pairs_match_reference(spark, corpus):
    from dask_lambda_example_spark.registry import QUERIES, _ensure_loaded

    _ensure_loaded()
    sf = tempfile.mkdtemp(prefix="mhprop_")
    rows = [(i, " ".join(toks), "en", "prop", len(" ".join(toks)))
            for i, toks in enumerate(corpus)]
    (spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long")
     .coalesce(1).write.mode("overwrite").parquet(f"{sf}/documents.parquet"))

    got = {(r.doc_a, r.doc_b): r.jaccard for r in
           QUERIES["dedup_minhash_lsh_pairs"].fn(spark, sf).collect()}
    assert got == _reference_minhash_pairs(corpus)


def _reference_simhash(tokens: list[str]) -> int:
    """Pure-Python replica of dedup_simhash: DISTINCT unigrams vote ±1
    per bit of their 32-bit md5-derived hash; bit set iff the vote sum
    is STRICTLY positive (ties → 0, the documented convention)."""
    votes = [0] * 32
    for t in set(tokens):
        h = _hex32(t)
        for i in range(32):
            votes[i] += 1 if (h >> i) & 1 else -1
    return sum(1 << i for i in range(32) if votes[i] > 0)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(corpus=_corpus)
def test_simhash_matches_reference(spark, corpus):
    from dask_lambda_example_spark.registry import QUERIES, _ensure_loaded

    _ensure_loaded()
    sf = tempfile.mkdtemp(prefix="shprop_")
    rows = [(i, " ".join(toks), "en", "prop", len(" ".join(toks)))
            for i, toks in enumerate(corpus)]
    (spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long")
     .coalesce(1).write.mode("overwrite").parquet(f"{sf}/documents.parquet"))

    got = {r.doc_id: r.simhash for r in
           QUERIES["dedup_simhash"].fn(spark, sf).collect()}
    # the query tokenizes the JOINED text, so the reference must split
    # identically (an empty doc becomes the single empty-string token)
    exp = {i: _reference_simhash(" ".join(toks).split(" "))
           for i, toks in enumerate(corpus)}
    assert got == exp


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(corpus=_corpus)
# "aa aa aa" sits in 6 docs, above the stop-shingle cap: only the
# post-cap set sizes give the capped pairs (docs 0-1 at 1.0, not 0.6)
@example(corpus=[["aa", "aa", "aa", "bb", "cc", "dd"]] * 2
         + [["aa", "aa", "aa", "cc"]] * 4 + [["bb", "cc", "dd", "aa"]])
def test_jaccard_pairs_match_bruteforce(spark, corpus):
    from dask_lambda_example_spark.registry import QUERIES, _ensure_loaded

    _ensure_loaded()
    sf = tempfile.mkdtemp(prefix="jacprop_")
    rows = [(i, " ".join(toks), "en", "prop", len(" ".join(toks)))
            for i, toks in enumerate(corpus)]
    (spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long")
     .coalesce(1).write.mode("overwrite").parquet(f"{sf}/documents.parquet"))

    got = {(r.doc_a, r.doc_b): r.jaccard
           for r in QUERIES["dedup_jaccard_pairs"].fn(spark, sf).collect()}
    assert got == _reference_pairs(corpus)
    capped = {(r.doc_a, r.doc_b): r.jaccard for r in
              QUERIES["dedup_jaccard_stopshingle"].fn(spark, sf).collect()}
    assert capped == _reference_pairs(corpus, STOP_SHINGLE_DF_CAP)


# ---------------------------------------------------------------------------
# dedup_substring_spans (VERDICT r12 item 6)
# ---------------------------------------------------------------------------


def _reference_substring_spans(corpus: list[list[str]]):
    """Pure-Python replica of the FULL anchored-k-gram span pipeline:
    k-grams, df/occurrence caps, content-defined anchors, candidate
    diagonals, gaps-and-islands extension — including the documented
    misses (spans with no anchor gram; spans crossing a df-capped
    gram), which are part of the contract."""
    from collections import Counter, defaultdict

    from dask_lambda_example_spark.operators.dedup import (
        SUBSTR_ANCHOR_MOD, SUBSTR_DF_CAP, SUBSTR_K, SUBSTR_MIN_SPAN,
        SUBSTR_OCC_CAP)

    grams = []  # (doc, 1-based pos, gram)
    for d, toks in enumerate(corpus):
        for i in range(len(toks) - SUBSTR_K + 1):
            grams.append((d, i + 1, " ".join(toks[i:i + SUBSTR_K])))
    docs_of, occ = defaultdict(set), Counter()
    for d, p, g in grams:
        docs_of[g].add(d)
        occ[g] += 1
    keep = {g for g in occ
            if 2 <= len(docs_of[g]) <= SUBSTR_DF_CAP
            and occ[g] <= SUBSTR_OCC_CAP}
    by_g = defaultdict(list)
    for d, p, g in grams:
        if g in keep:
            by_g[g].append((d, p))
    cand = set()
    for g, lst in by_g.items():
        if _hex32(g) % SUBSTR_ANCHOR_MOD != 0:
            continue
        for da, pa in lst:
            for db, pb in lst:
                if da < db:
                    cand.add((da, db, pa - pb))
    diag_pas = defaultdict(set)
    for g, lst in by_g.items():
        for da, pa in lst:
            for db, pb in lst:
                if da < db and (da, db, pa - pb) in cand:
                    diag_pas[(da, db, pa - pb)].add(pa)
    spans = []
    for (da, db, diag), pas in diag_pas.items():
        run = sorted(pas)
        start = prev = run[0]
        for p in run[1:] + [None]:
            if p is not None and p == prev + 1:
                prev = p
                continue
            length = prev - start + SUBSTR_K
            if length >= SUBSTR_MIN_SPAN:
                spans.append((da, db, start, start - diag, length))
            if p is not None:
                start = prev = p
    return sorted(spans)


def _spans_corpus_to_sfdir(spark, corpus):
    sf = tempfile.mkdtemp(prefix="ssprop_")
    rows = [(i, " ".join(toks), "en", "prop", len(" ".join(toks)))
            for i, toks in enumerate(corpus)]
    (spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long")
     .coalesce(1).write.mode("overwrite").parquet(f"{sf}/documents.parquet"))
    return sf


def test_substring_spans_constructed(spark):
    """Constructed documents with KNOWN duplicated spans: the operator
    must report each shared run with exact 1-based offsets and length,
    and must NOT report sub-threshold or df-capped (viral) overlap."""
    from dask_lambda_example_spark.operators.dedup import SUBSTR_DF_CAP
    from dask_lambda_example_spark.registry import QUERIES, _ensure_loaded

    _ensure_loaded()
    run20 = [f"s{i}" for i in range(20)]     # 20-token shared span
    run12 = [f"m{i}" for i in range(12)]     # exactly MIN_SPAN tokens
    run11 = [f"u{i}" for i in range(11)]     # one below threshold
    viral = [f"v{i}" for i in range(8)]      # one gram, in >DF_CAP docs
    filler = lambda tag, n: [f"{tag}{i}" for i in range(n)]  # noqa: E731

    corpus = [
        filler("a", 5) + run20 + filler("b", 3),            # doc 0
        filler("c", 10) + run20 + run11,                    # doc 1
        run12 + filler("d", 6),                             # doc 2
        filler("e", 2) + run12 + filler("f", 4) + run11,    # doc 3
    ]
    # viral 8-gram present in > SUBSTR_DF_CAP additional docs: evidence
    # from it must be capped away (no spans among viral-only docs)
    corpus += [filler(f"z{k}_", 3) + viral
               for k in range(SUBSTR_DF_CAP + 3)]

    expected = _reference_substring_spans(corpus)
    # the constructed runs all surface (anchor luck is deterministic:
    # verified here so a token rename that loses every anchor fails
    # loudly rather than silently weakening the test)
    assert (0, 1, 6, 11, 20) in expected        # run20: doc0@6, doc1@11
    assert (2, 3, 1, 3, 12) in expected         # run12: doc2@1, doc3@3
    assert not any(s[0] >= 4 or s[1] >= 4 for s in expected), \
        "viral-only doc pair must be df-capped away"
    assert not any((a, b) == (1, 3) for a, b, *_ in expected), \
        "11-token overlap is below MIN_SPAN"

    sf = _spans_corpus_to_sfdir(spark, corpus)
    got = sorted((r.doc_a, r.doc_b, r.a_start, r.b_start, r.span_len)
                 for r in QUERIES["dedup_substring_spans"]
                 .fn(spark, sf).collect())
    assert got == expected


# longer docs than the other dedup strategies (spans need >= 2×K
# tokens to get interesting), tiny alphabet for collision pressure
_span_word = st.sampled_from(["aa", "bb", "cc"])
_span_doc = st.lists(_span_word, min_size=0, max_size=28)
_span_corpus = st.lists(_span_doc, min_size=1, max_size=5)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(corpus=_span_corpus)
def test_substring_spans_match_reference(spark, corpus):
    from dask_lambda_example_spark.registry import QUERIES, _ensure_loaded

    _ensure_loaded()
    sf = _spans_corpus_to_sfdir(spark, corpus)
    got = sorted((r.doc_a, r.doc_b, r.a_start, r.b_start, r.span_len)
                 for r in QUERIES["dedup_substring_spans"]
                 .fn(spark, sf).collect())
    assert got == _reference_substring_spans(corpus)
