"""Phrase (positional) search vs a from-scratch Python reference."""

from __future__ import annotations

import re

from sparksearch.phrase import phrase_counts, phrase_topk


def _tok(text: str) -> list[str]:
    return re.findall(r"[a-z0-9_]+", text.lower())


def _py_phrase_count(text: str, phrase: str) -> int:
    t, p = _tok(text), _tok(phrase)
    if not p or len(t) < len(p):
        return 0
    return sum(1 for i in range(len(t) - len(p) + 1) if t[i : i + len(p)] == p)


def test_phrase_counts_edge_cases(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b c a b c x"),   # overlapping-window phrase twice
            (2, "a a b b c"),       # "a b" once, "b c" once
            (3, "c b a"),           # reversed — no match
            (4, "a"),               # shorter than the phrase
        ],
        "doc_id long, text string",
    )
    assert {r.doc_id: r.n_occurrences for r in phrase_counts(docs, "a b c").collect()} == {1: 2}
    assert {r.doc_id: r.n_occurrences for r in phrase_counts(docs, "b c").collect()} == {1: 2, 2: 1}
    # single-term phrase == tf; duplicate-term phrase probes one array twice
    assert {r.doc_id: r.n_occurrences for r in phrase_counts(docs, "a").collect()} == {1: 2, 2: 2, 3: 1, 4: 1}
    assert phrase_counts(docs, "a b a").count() == 0
    assert phrase_counts(docs, "").count() == 0
    assert phrase_counts(docs, "zzz qqq").count() == 0


def test_phrase_counts_match_reference_on_fixture(spark, docs_sf0001, docs_pandas_sf001):
    pdf = docs_sf0001.toPandas()
    for phrase in ("hash join", "sort merge join", "dup"):
        exp = {
            int(r.doc_id): n
            for r in pdf.itertuples()
            if (n := _py_phrase_count(r.text, phrase)) > 0
        }
        got = {r.doc_id: r.n_occurrences for r in phrase_counts(docs_sf0001, phrase).collect()}
        assert got == exp, phrase


def test_phrase_topk_order_and_rank(spark, docs_sf0001):
    rows = phrase_topk(docs_sf0001, [(1, "hash join"), (2, "join")], k=5).collect()
    by_q: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r.query_id, r.rank)):
        by_q.setdefault(r.query_id, []).append(r)
    for qid, rs in by_q.items():
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= 5
        for a, b in zip(rs, rs[1:]):
            assert (-a.n_occurrences, a.doc_id) <= (-b.n_occurrences, b.doc_id)


def test_indexed_phrase_equals_logical(spark, docs_sf0001, tmp_path):
    from sparksearch.build import build_index
    from sparksearch.phrase import phrase_topk_indexed

    path = str(tmp_path / "posidx")
    build_index(spark, docs_sf0001, path, n_buckets=8, n_ranges=4,
                with_positions=True)
    phrases = [(1, "hash join"), (2, "sort merge join"), (3, "dup"), (4, "join")]
    logical = {
        (r.query_id, r.rank): (r.doc_id, r.n_occurrences)
        for r in phrase_topk(docs_sf0001, phrases, k=10).collect()
    }
    indexed = {
        (r.query_id, r.rank): (r.doc_id, r.n_occurrences)
        for r in phrase_topk_indexed(spark, path, phrases, k=10).collect()
    }
    assert indexed == logical and logical


def test_combined_build_positions_in_one_tokenize_pass(spark, docs_sf0001, tmp_path, monkeypatch):
    """build_index(with_positions=True) must fold positions into the segment
    block rows (the 4th varint stream — round-3 verdict #6) from the SAME
    single tokenize pass as the postings (round-2 verdict #3):
    build.tokenize_tf is invoked exactly once, no positional sidecar is
    written, and the decoded per-posting position rows equal the
    tokenizer's positional postings byte for byte."""
    import json
    import os

    from pyspark.sql import functions as F

    import sparksearch.build as B
    from sparksearch.phrase import _decode_position_rows, phrase_topk_indexed

    calls = []
    real = B.tokenize_tf

    def counted(*a, **kw):
        calls.append((a, kw))
        return real(*a, **kw)

    monkeypatch.setattr(B, "tokenize_tf", counted)
    combined = str(tmp_path / "combined")
    B.build_index(spark, docs_sf0001, combined, n_buckets=8, n_ranges=4,
                  with_positions=True)
    assert len(calls) == 1 and calls[0][1].get("with_positions") is True
    monkeypatch.undo()

    # one artifact: positions live in the segments, no sidecar directory
    with open(os.path.join(combined, "stats.json")) as f:
        assert json.load(f)["positions"] == "blocks"
    assert not os.path.exists(os.path.join(combined, "positions"))

    cols = ["term", "doc_id", "npos", "pos_blob"]
    seg = spark.read.parquet(f"{combined}/segments")
    a = sorted(map(tuple, _decode_position_rows(
        seg.select("term", "first_doc_id", "doc_gaps", "tfs", "poss")
    ).select(cols).collect()))
    tt = B.tokenize_tf(docs_sf0001.select("doc_id", "text"), with_positions=True)
    b = sorted(map(tuple, tt.select(
        "term", F.col("doc_id").cast("long").alias("doc_id"),
        F.col("tf").cast("int").alias("npos"), "pos_blob",
    ).collect()))
    assert a == b and a

    # and the combined index answers phrase queries like the logical path
    phrases = [(1, "hash join"), (2, "join")]
    out = ["query_id", "rank", "doc_id", "n_occurrences"]
    ca = sorted(map(tuple, phrase_topk_indexed(spark, combined, phrases, k=5)
                    .select(out).collect()))
    cb = sorted(map(tuple, phrase_topk(docs_sf0001, phrases, k=5).select(out).collect()))
    assert ca == cb and ca


def test_indexed_phrase_edge_cases(spark, tmp_path):
    from sparksearch.build import build_index
    from sparksearch.phrase import phrase_topk_indexed

    docs = spark.createDataFrame(
        [(1, "a b c a b c x"), (2, "a a b b c"), (3, "c b a")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "posidx2")
    build_index(spark, docs, path, n_buckets=4, n_ranges=2, with_positions=True)
    rows = phrase_topk_indexed(
        spark, path, [(1, "a b c"), (2, "b c"), (3, "a b a"), (4, "zzz")], k=10
    ).collect()
    got = {(r.query_id, r.doc_id): r.n_occurrences for r in rows}
    assert got == {(1, 1): 2, (2, 1): 2, (2, 2): 1}


# ----------------------------------------------------- ordered proximity (slop)
def _brute_slop_count(tokens: list[str], terms: list[str], slop: int) -> int:
    """Reference semantics, O(n^k): #start positions p (1-based) with an
    increasing chain q_0=p < q_1 < … matching terms in order, total span
    q_last − p ≤ len(terms)−1+slop."""
    span = len(terms) - 1 + slop
    pos = {t: [i + 1 for i, x in enumerate(tokens) if x == t] for t in set(terms)}
    n = 0
    for p in pos.get(terms[0], []):
        frontier = [p]
        for t in terms[1:]:
            frontier = [q for q in pos.get(t, []) if any(q > f for f in frontier)]
            if not frontier:
                break
        if frontier and min(frontier) - p <= span:
            n += 1
    return n


def test_slop_hand_cases(spark):
    from sparksearch.phrase import phrase_topk

    docs = spark.createDataFrame(
        [(1, "a b c a b"), (2, "a x b"), (3, "b a")], "doc_id long, text string"
    )

    def counts(phrase, slop):
        rows = phrase_topk(docs, [(1, phrase)], k=10, slop=slop).collect()
        return {r.doc_id: r.n_occurrences for r in rows}

    assert counts("a b", 0) == {1: 2}          # adjacency only
    assert counts("a b", 1) == {1: 2, 2: 1}    # one-gap match in doc 2
    assert counts("a c", 0) == {}              # "a c" never contiguous
    assert counts("a c", 1) == {1: 1}          # a@1 → c@3, span 2 ≤ 1+1
    assert counts("b a", 0) == {3: 1}          # ordered: b before a, adjacent
    assert counts("b a", 1) == {1: 1, 3: 1}    # doc 1: b@2 → a@4, span 2


def test_slop_matches_bruteforce_and_zero_equals_contiguous(spark):
    """Greedy-chain counting (Catalyst array-algebra path) ≡ the exhaustive
    reference semantics on a deterministic mixed corpus, for k=1..3-term
    phrases and slop 0..2; slop=0 ≡ the contiguous phrase path."""
    import itertools

    from sparksearch.phrase import phrase_topk
    from sparksearch.tokenize import py_tokenize

    vocab = ["a", "b", "c", "d"]
    texts = [
        " ".join(vocab[(i * 7 + j * 3) % 4] for j in range(5 + (i % 9)))
        for i in range(30)
    ]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    phrases = [(1, "a b"), (2, "b a c"), (3, "d"), (4, "c c")]
    for slop in (0, 1, 2):
        got = {
            (r.query_id, r.doc_id): r.n_occurrences
            for r in phrase_topk(docs, phrases, k=1000, slop=slop).collect()
        }
        want = {}
        for qid, phrase in phrases:
            terms = py_tokenize(phrase)
            for did, text in enumerate(texts):
                n = _brute_slop_count(py_tokenize(text), terms, slop)
                if n:
                    want[(qid, did)] = n
        assert got == want, f"slop={slop}"
    # slop=0 path (array_contains probe) ≡ greedy chain by construction:
    contiguous = phrase_topk(docs, phrases, k=1000).collect()
    assert {
        (r.query_id, r.doc_id): r.n_occurrences for r in contiguous
    } == {
        (r.query_id, r.doc_id): r.n_occurrences
        for r in phrase_topk(docs, phrases, k=1000, slop=0).collect()
    }


def test_indexed_slop_equals_logical(spark, docs_sf0001, tmp_path):
    from sparksearch.catalog_pipeline import PHRASES
    from sparksearch.build import build_index
    from sparksearch.phrase import phrase_topk, phrase_topk_indexed

    idx = str(tmp_path / "posidx")
    build_index(spark, docs_sf0001, idx, with_positions=True)
    for slop in (0, 2):
        logical = phrase_topk(docs_sf0001, PHRASES, k=10, slop=slop).collect()
        indexed = phrase_topk_indexed(spark, idx, PHRASES, k=10, slop=slop).collect()
        assert sorted(map(tuple, logical)) == sorted(map(tuple, indexed)), f"slop={slop}"


# ----------------------------------------------------- unordered span-near


def _brute_min_span(toks: list[str], terms: list[str]):
    import itertools

    plists = [[i + 1 for i, t in enumerate(toks) if t == q] for q in terms]
    if any(not p for p in plists):
        return None
    return min(
        max(c) - min(c) for c in itertools.product(*plists)
    )


def test_span_near_hand_math(spark):
    from sparksearch.phrase import span_near_topk

    docs = spark.createDataFrame(
        [
            (0, "hash x x join"),        # span 3
            (1, "join hash"),            # span 1 (unordered!)
            (2, "hash x x x x join"),    # span 5 — over slop 3 budget (max 4)
            (3, "hash only here"),       # missing 'join'
        ],
        "doc_id long, text string",
    )
    out = {
        (r.query_id, r.doc_id): (r.rank, r.min_span)
        for r in span_near_topk(docs, [(1, "hash join", 3)]).collect()
    }
    assert out == {(1, 1): (1, 1), (1, 0): (2, 3)}


def test_span_near_matches_brute_force(spark, docs_sf0001):
    from sparksearch.phrase import span_near_topk
    from sparksearch.tokenize import py_tokenize

    queries = [(1, "hash join", 2), (2, "scan filter query", 5)]
    got = {
        (r.query_id, r.doc_id): r.min_span
        for r in span_near_topk(docs_sf0001, queries, k=10**9).collect()
    }
    texts = {r.doc_id: py_tokenize(r.text) for r in docs_sf0001.collect()}
    exp = {}
    for qid, text, slop in queries:
        terms = sorted(set(py_tokenize(text)))
        bound = len(terms) - 1 + slop
        for did, toks in texts.items():
            ms = _brute_min_span(toks, terms)
            if ms is not None and ms <= bound:
                exp[(qid, did)] = ms
    assert got == exp


def test_span_near_ordered_match_implies_unordered(spark, docs_sf0001):
    """Every doc the ORDERED sloppy phrase matches must also match the
    unordered span-near with the same terms and slop (ordered chains are a
    subset of unordered selections)."""
    from sparksearch.phrase import phrase_topk, span_near_topk

    slop = 2
    ordered = {
        r.doc_id
        for r in phrase_topk(
            docs_sf0001, [(1, "hash join")], k=10**9, slop=slop
        ).collect()
    }
    unordered = {
        r.doc_id
        for r in span_near_topk(
            docs_sf0001, [(1, "hash join", slop)], k=10**9
        ).collect()
    }
    assert ordered <= unordered


def test_span_near_huge_slop_is_conjunctive_containment(spark, docs_sf0001):
    from sparksearch.phrase import span_near_topk
    from sparksearch.tokenize import py_tokenize

    got = {
        r.doc_id
        for r in span_near_topk(
            docs_sf0001, [(1, "sort merge", 10**6)], k=10**9
        ).collect()
    }
    exp = {
        r.doc_id
        for r in docs_sf0001.collect()
        if {"sort", "merge"} <= set(py_tokenize(r.text))
    }
    assert got == exp


def test_indexed_span_near_equals_logical(spark, docs_sf0001, tmp_path):
    from sparksearch.build import build_index
    from sparksearch.phrase import span_near_topk, span_near_topk_indexed

    path = str(tmp_path / "posidx_sn")
    build_index(spark, docs_sf0001, path, n_buckets=8, n_ranges=4,
                with_positions=True)
    queries = [
        (1, "hash join", 3),
        (2, "scan filter query", 5),
        (3, "sort merge", 0),
        (4, "zzz join", 2),          # zzz absent -> no matches
    ]
    logical = {
        (r.query_id, r.rank): (r.doc_id, r.min_span)
        for r in span_near_topk(docs_sf0001, queries, k=10**9).collect()
    }
    indexed = {
        (r.query_id, r.rank): (r.doc_id, r.min_span)
        for r in span_near_topk_indexed(spark, path, queries, k=10**9).collect()
    }
    assert indexed == logical and logical


def _brute_min_ordered_span(toks: list[str], terms: list[str]):
    import itertools

    plists = [[i + 1 for i, t in enumerate(toks) if t == q] for q in terms]
    if any(not p for p in plists):
        return None
    spans = [
        c[-1] - c[0]
        for c in itertools.product(*plists)
        if all(a < b for a, b in zip(c, c[1:]))
    ]
    return min(spans) if spans else None


def test_span_near_ordered_hand_math(spark):
    from sparksearch.phrase import span_near_ordered_topk

    docs = spark.createDataFrame(
        [
            (0, "hash x x join"),          # ordered span 3
            (1, "join hash"),              # wrong order -> no ordered match
            (2, "join hash x join"),       # hash@2 -> join@4: span 2 (greedy
                                           # must skip the leading join)
            (3, "hash x x x x join"),      # span 5 — over slop-3 budget
            (4, "hash only here"),         # missing 'join'
        ],
        "doc_id long, text string",
    )
    out = {
        (r.query_id, r.doc_id): (r.rank, r.min_span)
        for r in span_near_ordered_topk(docs, [(1, "hash join", 3)]).collect()
    }
    assert out == {(1, 2): (1, 2), (1, 0): (2, 3)}


def test_span_near_ordered_matches_brute_force(spark, docs_sf0001):
    from sparksearch.phrase import span_near_ordered_topk
    from sparksearch.tokenize import py_tokenize

    queries = [(1, "hash join", 2), (2, "join hash", 2),
               (3, "scan filter query", 5)]
    got = {
        (r.query_id, r.doc_id): r.min_span
        for r in span_near_ordered_topk(docs_sf0001, queries, k=10**9).collect()
    }
    texts = {r.doc_id: py_tokenize(r.text) for r in docs_sf0001.collect()}
    exp = {}
    for qid, text, slop in queries:
        terms = list(dict.fromkeys(py_tokenize(text)))
        bound = len(terms) - 1 + slop
        for did, toks in texts.items():
            ms = _brute_min_ordered_span(toks, terms)
            if ms is not None and ms <= bound:
                exp[(qid, did)] = ms
    assert got == exp


def test_span_near_ordered_dominated_by_unordered(spark, docs_sf0001):
    """Ordered chains are a subset of unordered selections: every ordered
    match is an unordered match, with ordered min_span >= unordered."""
    from sparksearch.phrase import span_near_ordered_topk, span_near_topk

    q = [(1, "hash join", 4), (2, "scan filter query", 6)]
    unordered = {
        (r.query_id, r.doc_id): r.min_span
        for r in span_near_topk(docs_sf0001, q, k=10**9).collect()
    }
    ordered = {
        (r.query_id, r.doc_id): r.min_span
        for r in span_near_ordered_topk(docs_sf0001, q, k=10**9).collect()
    }
    assert ordered, "fixture should produce ordered matches"
    for key, ms in ordered.items():
        assert key in unordered and ms >= unordered[key]


def test_indexed_ordered_span_near_equals_logical(spark, docs_sf0001, tmp_path):
    from sparksearch.build import build_index
    from sparksearch.phrase import (
        span_near_ordered_topk,
        span_near_ordered_topk_indexed,
    )

    path = str(tmp_path / "posidx_osn")
    build_index(spark, docs_sf0001, path, n_buckets=8, n_ranges=4,
                with_positions=True)
    queries = [
        (1, "hash join", 3),
        (2, "join hash", 3),             # reversal — distinct ordered result
        (3, "scan filter query", 5),
        (4, "zzz join", 2),              # zzz absent -> no matches
    ]
    logical = {
        (r.query_id, r.rank): (r.doc_id, r.min_span)
        for r in span_near_ordered_topk(docs_sf0001, queries, k=10**9).collect()
    }
    indexed = {
        (r.query_id, r.rank): (r.doc_id, r.min_span)
        for r in span_near_ordered_topk_indexed(
            spark, path, queries, k=10**9
        ).collect()
    }
    assert indexed == logical and logical


def test_span_first_hand_math(spark):
    from sparksearch.phrase import span_first_topk

    docs = spark.createDataFrame(
        [
            (0, "hash join x y"),        # chain ends at pos 2
            (1, "x hash y join"),        # ends at pos 4 — over limit 3
            (2, "x hash join"),          # ends at pos 3
            (3, "join hash join x"),     # hash@2 -> join@3
            (4, "hash x y z"),           # no join
        ],
        "doc_id long, text string",
    )
    out = {
        (r.query_id, r.doc_id): (r.rank, r.first_end)
        for r in span_first_topk(docs, [(1, "hash join", 3)]).collect()
    }
    assert out == {(1, 0): (1, 2), (1, 2): (2, 3), (1, 3): (3, 3)}


def test_span_first_single_term_is_position_filter(spark, docs_sf0001):
    from sparksearch.phrase import span_first_topk
    from sparksearch.tokenize import py_tokenize

    limit = 3
    got = {
        (r.doc_id): r.first_end
        for r in span_first_topk(docs_sf0001, [(1, "hash", limit)], k=10**9).collect()
    }
    exp = {}
    for r in docs_sf0001.collect():
        toks = py_tokenize(r.text)
        pos = [i + 1 for i, t in enumerate(toks) if t == "hash"]
        if pos and min(pos) <= limit:
            exp[r.doc_id] = min(pos)
    assert got == exp
