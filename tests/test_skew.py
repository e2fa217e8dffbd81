"""Zipf-skew hardening (SURVEY.md §7.1 M7): the fixture vocabulary is
near-uniform, so the salted build's skew defense is exercised here on the
synthetic Zipf(1.3) corpus — a hot term owns a large fraction of all
postings, exactly the 10^12-scale failure mode.

Checks: (a) rank identity vs the NumPy oracle still holds on skewed data,
(b) no single (term, range) encode group ever contains a hot term's full
posting list — the salt actually fans hot terms out."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sparksearch.ids import assign_doc_ids_dense
from tests.gen_corpus import gen_corpus
from tests.oracle_bm25 import Bm25Oracle


@pytest.fixture(scope="module")
def skewed_docs(spark):
    pdf = gen_corpus(400, seed=42)
    docs = assign_doc_ids_dense(spark.createDataFrame(pdf.drop(columns=["sha256"])))
    return docs.select("doc_id", F.col("content").alias("text")).persist()


def test_hot_terms_fan_out_over_ranges(spark, skewed_docs, tmp_path_factory):
    from sparksearch.build import build_index, load_index

    path = str(tmp_path_factory.mktemp("skewidx"))
    build_index(spark, skewed_docs, path, n_buckets=8, n_ranges=8)
    seg, dic, stats = load_index(spark, path)

    hot = (
        dic.orderBy(F.desc("cf")).limit(3).select("term").toPandas()["term"].tolist()
    )
    spread = {
        r["term"]: r["nr"]
        for r in seg.filter(F.col("term").isin(hot))
        .groupBy("term")
        .agg(F.countDistinct("range_id").alias("nr"))
        .collect()
    }
    # A hot term (df ≈ every doc) must be split across (nearly) all ranges —
    # one reducer never owns its full list.
    for term in hot:
        assert spread[term] >= 6, (term, spread)


def test_rank_identity_on_skewed_corpus(spark, skewed_docs, tmp_path_factory, daat_paths):
    from sparksearch.build import build_index
    from sparksearch.daat import daat_topk
    from sparksearch.querying import bm25_topk_from_docs

    pdf = skewed_docs.toPandas()
    oracle = Bm25Oracle(list(zip(pdf.doc_id, pdf.text)))
    queries = [
        (1, "get set run"),           # hottest terms (huge df)
        (2, "hash_table scan_index"), # mid-frequency
        (3, "fold_ctx9 var_err7"),    # deep tail (tiny df, maybe absent)
        (4, "for if else while return"),
    ]
    path = str(tmp_path_factory.mktemp("skewidx2"))
    build_index(spark, skewed_docs, path, n_buckets=8, n_ranges=8)

    runs = [bm25_topk_from_docs(spark, skewed_docs, queries, k=10).collect()]
    for _ in daat_paths():
        for wand in (True, False):
            runs.append(daat_topk(spark, path, queries, k=10, wand=wand).collect())

    for rows in runs:
        got = {}
        for r in rows:
            got.setdefault(r.query_id, []).append((r.rank, r.doc_id, r.score))
        for qid, text in queries:
            expected = oracle.topk(text, k=10)
            mine = sorted(got.get(qid, []))
            assert len(mine) == len(expected), (qid, len(mine), len(expected))
            for (rank, doc_id, score), (edoc, escore) in zip(mine, expected):
                assert doc_id == edoc, (qid, rank)
                assert abs(score - escore) < 1e-9, (qid, rank)


def test_asof_join_monster_key_linear(spark):
    """One user owning 20k events (the skewed-attribution case): the
    union-merge as-of stays a single linear window pass per key — verify
    exact lags across the whole span and that the result is complete."""
    import datetime as dt

    from pyspark.sql import functions as F

    from sparksearch.relational import events_asof_join

    n = 20000
    base = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(n):
        ts = base + dt.timedelta(seconds=10 * i)
        rows.append((i, ts, 7, "view" if i % 2 == 0 else "purchase"))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    ).repartition(8)
    out = events_asof_join(df)
    assert out.count() == n // 2
    bad = out.filter(
        (F.col("lag_seconds") != 10)
        | (F.col("view_event_id") != F.col("purchase_event_id") - 1)
    ).count()
    assert bad == 0


def test_funnel_monster_key_deep_noise(spark):
    """Funnel steps buried in 10k noise events on one user: the greedy
    fold still finds the ordered chain; a second user whose chain is in
    the WRONG order contributes only to step 1."""
    import datetime as dt

    from sparksearch.relational import events_funnel

    base = dt.datetime(2024, 1, 1)
    T = lambda i: base + dt.timedelta(seconds=i)  # noqa: E731
    rows = [(i, T(i), 1, "error") for i in range(10_000)]
    # the real chain, spread across the noise
    for eid, off, step in (
        (20001, 100, "signup"), (20002, 4000, "view"),
        (20003, 7000, "click"), (20004, 9999, "purchase"),
    ):
        rows.append((eid, T(off), 1, step))
    # user 2: everything present but reversed -> depth 1 only
    for eid, off, step in (
        (30001, 1, "purchase"), (30002, 2, "click"),
        (30003, 3, "view"), (30004, 4, "signup"),
    ):
        rows.append((eid, T(off), 2, step))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    ).repartition(8)
    got = {r.step: r.n_users for r in events_funnel(df).collect()}
    assert got == {1: 2, 2: 1, 3: 1, 4: 1}
