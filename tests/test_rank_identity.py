"""Golden gate: the logical BM25 path (Q5/Q6) is rank-identical to the NumPy
textbook oracle on the reference query set (BASELINE.json:14 — SURVEY.md §0:
the oracle IS the reference, the tree being empty)."""

from __future__ import annotations

import pytest

from sparksearch.querying import bm25_topk_from_docs

K = 10
TOL = 1e-9


def _spark_rankings(spark, docs, queries):
    rows = bm25_topk_from_docs(spark, docs, queries, k=K).collect()
    out = {}
    for r in rows:
        out.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    for qid in out:
        out[qid].sort()
    return out


def test_logical_path_rank_identical_sf001(spark, docs_sf001, queries, oracle_sf001):
    got = _spark_rankings(spark, docs_sf001, queries)
    for qid, text in queries:
        expected = oracle_sf001.topk(text, K)
        actual = got.get(qid, [])
        assert len(actual) == len(expected), (qid, text, len(actual), len(expected))
        for (rank, doc_id, score), (e_doc, e_score) in zip(actual, expected):
            assert doc_id == e_doc, (qid, text, rank, doc_id, e_doc)
            assert abs(score - e_score) <= TOL, (qid, text, rank, score, e_score)


def test_empty_and_unknown_queries_return_nothing(spark, docs_sf001):
    got = _spark_rankings(spark, docs_sf001, [(1, ""), (2, "zzz qqq")])
    assert got == {}


@pytest.mark.parametrize("qtext", ["dup", "join join", "dup join"])
def test_scores_strictly_ordered(spark, docs_sf001, oracle_sf001, qtext):
    got = _spark_rankings(spark, docs_sf001, [(1, qtext)])[1]
    scores = [s for _, _, s in got]
    assert scores == sorted(scores, reverse=True)


def test_daat_conjunctive_equals_logical(
    spark, docs_sf001, queries, tmp_path_factory, daat_paths
):
    from sparksearch.build import build_index
    from sparksearch.daat import daat_topk
    from sparksearch.querying import parse_queries, score_logical_conjunctive
    from sparksearch.stats import corpus_stats

    path = str(tmp_path_factory.mktemp("conj_idx"))
    build_index(spark, docs_sf001, path, n_buckets=8, n_ranges=8)
    tf_df, dl_df, ts, _ = corpus_stats(docs_sf001)
    logical = {
        (r.query_id, r.rank): (r.doc_id, r.score)
        for r in score_logical_conjunctive(
            parse_queries(spark, queries), tf_df, dl_df, ts, k=10
        ).collect()
    }
    for how in daat_paths():
        for wand in (True, False):
            physical = {
                (r.query_id, r.rank): (r.doc_id, r.score)
                for r in daat_topk(spark, path, queries, k=10, wand=wand,
                                   conjunctive=True).collect()
            }
            assert set(physical) == set(logical), (how, wand)
            for key, (doc, score) in logical.items():
                pdoc, pscore = physical[key]
                assert pdoc == doc and abs(pscore - score) < 1e-9, (how, key, wand)


def test_conjunctive_region_prune_is_lossless_and_tighter(
    spark, docs_sf001, queries, tmp_path_factory
):
    """Partial-region pruning (a region missing any required term's blocks is
    skipped outright) must be bit-identical to the unpruned traversal while
    decoding strictly fewer regions. The group UDF is driven as plain Python
    over the real pruned block fetch so visits can be counted."""
    from collections import Counter

    import pandas as pd
    from pyspark.sql import functions as F

    from sparksearch.build import build_index, load_index
    from sparksearch.daat import _daat_group_fn
    from sparksearch.querying import parse_queries

    path = str(tmp_path_factory.mktemp("prune_idx"))
    build_index(spark, docs_sf001, path, n_buckets=8, n_ranges=8)
    segments, dictionary, stats = load_index(spark, path)
    qterms = parse_queries(spark, queries)
    rows = dictionary.join(F.broadcast(qterms), "term").select(
        "term", "bucket", "query_id", "qtf", "idf"
    ).collect()
    terms = sorted({r["term"] for r in rows})
    buckets = sorted({int(r["bucket"]) for r in rows})
    qmeta = spark.createDataFrame(
        [(r["term"], int(r["query_id"]), int(r["qtf"]), float(r["idf"])) for r in rows],
        "term string, query_id int, qtf int, idf double",
    )
    from sparksearch.daat import attach_block_bound

    qblocks = attach_block_bound(
        segments.filter(F.col("bucket").isin(buckets) & F.col("term").isin(terms))
        .join(F.broadcast(qmeta), "term"),
        float(stats["avgdl"]),
    ).toPandas()
    nreq = dict(Counter(int(r["query_id"]) for r in rows))

    out, visits = {}, {}
    for flag in (True, False):
        log: list[int] = []
        fn = _daat_group_fn(
            10, float(stats["avgdl"]), True, nreq,
            prune_partial_regions=flag, visit_log=log,
        )
        parts = [fn(g) for _, g in qblocks.groupby("range_id")]
        pdf = pd.concat(parts, ignore_index=True)
        out[flag] = sorted(map(tuple, pdf.itertuples(index=False)))
        visits[flag] = sum(log)
    assert out[True] == out[False]
    assert visits[True] < visits[False], visits


#: Adversarial round6 inputs: exact 6-dp halves (where plain ROUND(double, 6)
#: was measured to disagree between engines), ULP neighbors of halves,
#: negatives and assorted rationals.
def _round6_cases():
    import math

    vals = []
    for k in (1, 3, 7, 607001, 1214001, 1276719):
        half = (2 * k + 1) / 2e6          # exact x.xxxxxx5 half
        vals += [half, -half, math.nextafter(half, 0.0),
                 math.nextafter(half, 2.0)]
    vals += [i / 3.0 for i in range(1, 8)]
    vals += [0.0, 1.0, -0.5563345 / 51 * 100]
    return vals


def test_kernel_round6_equals_spark_round6(spark):
    """The DAAT kernel's NumPy round6 is bit-equal to stats.round6 — the
    shard and the merge must apply the same total order."""
    import numpy as np

    from sparksearch.stats import round6_np
    from sparksearch.stats import round6

    rng = np.random.default_rng(3)
    vals = _round6_cases() + [v - 4e-10 for v in _round6_cases()]
    vals += list(rng.random(500) * 40)
    df = spark.createDataFrame([(float(v),) for v in vals], "x double")
    got = [r.y for r in df.select(round6("x").alias("y")).collect()]
    assert list(round6_np(np.array(vals))) == got


def test_daat_kernel_breaks_round6_ties_by_doc_id():
    """The shard kernel ranks by the engine's total order
    (round6(score) DESC, doc_id ASC), not by the raw double. Two docs whose
    raw scores differ (doc 9: 2.1011460046, doc 5: 2.1011458839) but round6
    to the same 2.101146: with k=1 the lower doc_id must win, with and
    without WAND."""
    import numpy as np
    import pandas as pd

    from sparksearch.codec import varint_encode
    from sparksearch.daat import _daat_group_fn

    # tf=1 and dl=avgdl make the BM25 factor exactly 1.0: score == idf.
    one, dl = varint_encode(np.array([1])), varint_encode(np.array([10]))
    frame = pd.DataFrame({
        "query_id": [1, 1], "range_id": [0, 0], "term": ["a", "b"],
        "first_doc_id": [5, 9], "last_doc_id": [5, 9],
        "doc_gaps": [b"", b""], "tfs": [one, one], "dls": [dl, dl],
        "qtf": [1, 1], "idf": [2.1011458839, 2.1011460046],
        "max_score": [2.1011458839, 2.1011460046],
    })
    for wand in (True, False):
        out = _daat_group_fn(1, 10.0, wand)(frame)
        assert out["doc_id"].tolist() == [5], (wand, out)
