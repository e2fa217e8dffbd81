"""M2+M3 gates: physical index ≡ logical postings; DAAT+WAND ≡ Q5 ≡ oracle;
deterministic rebuild (SURVEY.md §5.2 golden/invariants layers)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from sparksearch.build import build_index, decoded_postings, load_index
from sparksearch.daat import daat_topk
from sparksearch.stats import corpus_stats

K = 10
TOL = 1e-9


@pytest.fixture(scope="module")
def index_sf001(spark, docs_sf001, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("index_sf001"))
    stats = build_index(spark, docs_sf001, path, n_buckets=16, n_ranges=8)
    return path, stats


def test_stats_match_logical(spark, docs_sf001, index_sf001):
    _, stats = index_sf001
    _, _, _, gstats = corpus_stats(docs_sf001)
    row = gstats.collect()[0]
    assert stats["n_docs"] == row["n_docs"]
    assert abs(stats["avgdl"] - row["avgdl"]) < 1e-12


def test_decoded_postings_equal_logical(spark, docs_sf001, index_sf001):
    path, _ = index_sf001
    seg, _, _ = load_index(spark, path)
    dec = decoded_postings(seg)
    tf_df, _, _, _ = corpus_stats(docs_sf001)
    diff = dec.join(
        tf_df.select("term", "doc_id", F.col("tf").cast("long").alias("tf2")),
        ["term", "doc_id"],
        "full_outer",
    ).filter(
        F.col("tf").isNull() | F.col("tf2").isNull() | (F.col("tf") != F.col("tf2"))
    )
    assert diff.count() == 0


def test_dictionary_matches_logical(spark, docs_sf001, index_sf001):
    path, _ = index_sf001
    _, dic, _ = load_index(spark, path)
    _, _, ts, _ = corpus_stats(docs_sf001)
    j = dic.select("term", "df", "cf", "idf").join(
        ts.select("term", F.col("df").alias("df2"), F.col("cf").alias("cf2"),
                  F.col("idf").alias("idf2")),
        "term", "full_outer",
    )
    bad = j.filter(
        (F.col("df") != F.col("df2")) | (F.col("cf") != F.col("cf2"))
        | (F.abs(F.col("idf") - F.col("idf2")) > 1e-12)
    )
    assert bad.count() == 0


def _rankings(df):
    out = {}
    for r in df.collect():
        out.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], r["score"])
        )
    for q in out:
        out[q].sort()
    return out


def test_daat_rank_identical_to_oracle(
    spark, index_sf001, queries, oracle_sf001, daat_paths
):
    path, _ = index_sf001
    for how in daat_paths():
        got = _rankings(daat_topk(spark, path, queries, k=K, wand=True))
        n_nonempty = 0
        for qid, text in queries:
            expected = oracle_sf001.topk(text, K)
            actual = got.get(qid, [])
            assert len(actual) == len(expected), (how, qid, text)
            for (rank, doc_id, score), (e_doc, e_score) in zip(actual, expected):
                assert doc_id == e_doc, (how, qid, text, rank, doc_id, e_doc)
                assert abs(score - e_score) <= TOL, (how, qid, text, rank)
            n_nonempty += bool(expected)
        assert n_nonempty >= 15  # the query set is mostly non-degenerate


def test_wand_on_off_identical(spark, index_sf001, queries, daat_paths):
    """WAND on equals WAND off, and the local path equals the distributed
    one, bit for bit."""
    path, _ = index_sf001
    runs = {}
    for how in daat_paths():
        for wand in (True, False):
            runs[how, wand] = _rankings(daat_topk(spark, path, queries, k=K, wand=wand))
    a = runs["distributed", True]
    for key, b in runs.items():
        assert set(a) == set(b), key
        for q in a:
            assert [(r, d) for r, d, _ in a[q]] == [(r, d) for r, d, _ in b[q]], key
            for (_, _, sa), (_, _, sb) in zip(a[q], b[q]):
                assert sa == sb, key  # pruning and placement never change arithmetic


def test_deterministic_rebuild(spark, docs_sf001, index_sf001, tmp_path):
    path1, _ = index_sf001
    path2 = str(tmp_path / "rebuild")
    build_index(spark, docs_sf001, path2, n_buckets=16, n_ranges=8)
    seg1, _, s1 = load_index(spark, path1)
    seg2, _, s2 = load_index(spark, path2)
    assert s1 == s2
    cols = ["term", "range_id", "first_doc_id", "last_doc_id", "n",
            "doc_gaps", "tfs", "dls", "max_tf", "min_dl", "bucket"]
    d1 = sorted(map(tuple, seg1.select(cols).collect()))
    d2 = sorted(map(tuple, seg2.select(cols).collect()))
    assert d1 == d2  # byte-identical segments across rebuilds


def test_empty_and_unknown_queries(spark, index_sf001, daat_paths):
    path, _ = index_sf001
    for how in daat_paths():
        for qs in ([(1, "")], [(1, ""), (2, "zzz")]):
            res = daat_topk(spark, path, qs, k=K)
            assert res.count() == 0, (how, qs)
            assert res.schema.simpleString() == (
                "struct<query_id:bigint,rank:int,doc_id:bigint,score:double>"
            )


def test_tokenize_tf_equals_declarative_twin(spark, docs_sf0001):
    """The one-pass Arrow kernel (build.tokenize_tf) must equal the
    declarative tokenize → explode → term_freq pipeline joined with
    doc_len, row for row."""
    from pyspark.sql import functions as F

    from sparksearch.build import tokenize_tf
    from sparksearch.stats import doc_len, term_freq
    from sparksearch.tokenize import explode_postings, tokenize_sql

    got = tokenize_tf(docs_sf0001.select("doc_id", "text"))
    tok = tokenize_sql(docs_sf0001.select("doc_id", "text"), "text")
    exp = term_freq(explode_postings(tok)).join(doc_len(tok), "doc_id")
    diff = (
        got.select("doc_id", "term", F.col("tf").cast("long").alias("tf"),
                   F.col("dl").cast("long").alias("dl"))
        .exceptAll(
            exp.select("doc_id", "term", F.col("tf").cast("long").alias("tf"),
                       F.col("dl").cast("long").alias("dl"))
        )
    )
    assert got.count() == exp.count()
    assert diff.count() == 0


def test_code_aware_build_matches_code_tokenizer(spark, tmp_path):
    """A code_aware index's decoded postings equal the code-aware tokenizer's
    term frequencies (identifiers split), and differ from the plain build."""
    from collections import Counter

    from sparksearch.build import build_index, decoded_postings, load_index
    from sparksearch.tokenize import py_tokenize_code
    from tests.gen_corpus import gen_corpus

    pdf = gen_corpus(60)
    pdf = pdf.assign(doc_id=range(len(pdf)), text=pdf.content)
    docs = spark.createDataFrame(pdf[["doc_id", "text"]])
    path = str(tmp_path / "code_idx")
    build_index(spark, docs, path, n_buckets=4, n_ranges=2, code_aware=True)
    seg, _, _ = load_index(spark, path)
    got = {}
    for r in decoded_postings(seg).collect():
        got.setdefault(int(r.doc_id), {})[r.term] = int(r.tf)
    for row in pdf.itertuples():
        assert got.get(int(row.doc_id), {}) == dict(Counter(py_tokenize_code(row.text)))


def test_tokenize_tf_positions_mode_matches_fast_path(spark, docs_sf0001):
    """with_positions=True changes only the extra pos_blob column: the
    (doc_id, term, tf, dl) values and the one-lead-per-doc invariant are
    identical to the fast path (the segments built from a positional pass
    must be byte-identical to a plain build)."""
    from sparksearch.build import tokenize_tf

    base = docs_sf0001.select("doc_id", "text")
    fast = tokenize_tf(base).select("doc_id", "term", "tf", "dl")
    slow = tokenize_tf(base, with_positions=True).select("doc_id", "term", "tf", "dl")
    assert fast.exceptAll(slow).count() == 0
    assert slow.exceptAll(fast).count() == 0
    per_doc = (
        tokenize_tf(base, with_positions=True)
        .groupBy("doc_id")
        .agg(F.sum(F.col("lead").cast("int")).alias("n_lead"))
    )
    assert per_doc.filter("n_lead != 1").count() == 0


def test_tokenize_tf_handles_null_and_empty_text(spark):
    """NULL/empty/whitespace-only docs contribute no postings — same as the
    declarative twin and the oracle's WHERE term <> '' (regression: the
    kernel used to crash flattening a None token list)."""
    from sparksearch.build import tokenize_tf

    docs = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   ... !!"), (4, "real words here")],
        "doc_id long, text string",
    )
    rows = tokenize_tf(docs).collect()
    assert {r.doc_id for r in rows} == {4}
    assert sorted(r.term for r in rows) == ["here", "real", "words"]
    assert all(r.dl == 3 for r in rows)


def test_expand_suffix_queries_dictionary_semantics(spark):
    from sparksearch.querying import expand_suffix_queries

    ts = spark.createDataFrame(
        [("join",), ("rejoin",), ("joint",), ("scan",)], "term string"
    )
    got = {
        (r.query_id, r.term)
        for r in expand_suffix_queries(spark, [(1, "oin"), (2, "an")], ts).collect()
    }
    assert got == {(1, "join"), (1, "rejoin"), (2, "scan")}
