"""``daat_topk`` serving: the commit-point index cache stays exact across
every index lifecycle step, and both execution paths break round6 ties at
the rank-k boundary by doc_id, like the logical path."""

from __future__ import annotations

import pytest

from sparksearch import daat
from sparksearch.daat import daat_topk

QS = [(1, "hash join"), (2, "merge sort"), (3, "index scan"), (4, "zzz")]


def _answers(spark, path, qs=QS, k=5):
    return sorted(map(tuple, daat_topk(spark, path, qs, k=k).collect()))


def _cold(spark, path, qs=QS):
    """The answer with an empty index cache; the warm cache is put back."""
    warm = daat._VIEWS.copy()
    daat._VIEWS.clear()
    try:
        return _answers(spark, path, qs)
    finally:
        daat._VIEWS.clear()
        daat._VIEWS.update(warm)


def test_same_path_rebuild_refreshes_cache(spark, docs_sf0001, tmp_path):
    """A rebuild at the same path replaces every part file. With an
    identical corpus stats.json's content is unchanged too, so the cache
    must key on the file's identity, not only on its content."""
    from pyspark.sql import functions as F

    from sparksearch.build import build_index

    path = str(tmp_path / "idx")
    build_index(spark, docs_sf0001, path, n_buckets=8, n_ranges=4)
    first = _answers(spark, path)
    assert first and daat._index_view(spark, path) is daat._index_view(spark, path)

    build_index(spark, docs_sf0001, path, n_buckets=8, n_ranges=4)
    assert _answers(spark, path) == first == _cold(spark, path)

    half = docs_sf0001.filter(F.col("doc_id") % 2 == 0)
    build_index(spark, half, path, n_buckets=8, n_ranges=4)
    got = _answers(spark, path)
    assert got == _cold(spark, path)
    assert got != first and {r[2] % 2 for r in got} == {0}


def test_lifecycle_with_warm_cache(spark, docs_sf0001, tmp_path, daat_paths):
    """units → finalize → unit → finalize → compact → unit → finalize, with
    queries on both paths between the steps while the cache is warm: every
    answer equals a cold call."""
    from sparksearch.checkpoint import (
        build_geometry,
        build_unit,
        compact_index,
        finalize_incremental,
    )

    path = str(tmp_path / "inc")
    meta = build_geometry(spark, docs_sf0001, path, 4, 4, 8, 128)

    def unit(u):
        build_unit(spark, docs_sf0001, path, u, meta["unit_span"])

    steps = [
        lambda: (unit(0), unit(1), finalize_incremental(spark, path)),
        lambda: unit(2),  # committed but not finalized: answers must not move
        lambda: finalize_incremental(spark, path),
        lambda: compact_index(spark, path),
        lambda: unit(3),
        lambda: finalize_incremental(spark, path),
    ]
    seen = []
    for i, step in enumerate(steps):
        step()
        cold = _cold(spark, path)
        for how in daat_paths():
            assert _answers(spark, path) == cold, (i, how)
        seen.append(cold)
    assert seen[1] == seen[0] and seen[3] == seen[2] and seen[4] == seen[3]
    assert seen[2] != seen[1] and seen[5] != seen[4]


#: Duplicate documents score exactly alike: 2, 5 and 7 ("alpha beta") and
#: 6 and 9 ("gamma delta") tie, and 3 ("beta gamma") ties 2, 5, 7 on "beta".
#: With n_ranges=2, docs 0–5 and 6–11 form the two shards, so a tie meets
#: both inside a shard's bounded candidate set and in the merge.
TIE_DOCS = [
    (7, "alpha beta"), (0, "alpha gamma gamma"), (1, "alpha"),
    (2, "alpha beta"), (3, "beta gamma"), (4, "delta"), (5, "alpha beta"),
    (6, "gamma delta"), (8, "beta"), (9, "gamma delta"),
    (10, "alpha beta gamma delta"), (11, "delta delta"),
]
#: (query, k): each k cuts through a tie.
TIE_QUERIES = [((1, "alpha"), 2), ((2, "beta"), 3), ((3, "gamma delta"), 1)]


@pytest.fixture(scope="module")
def tie_index(spark, tmp_path_factory):
    from sparksearch.build import build_index

    docs = spark.createDataFrame(TIE_DOCS, "doc_id long, text string")
    path = str(tmp_path_factory.mktemp("tie_idx"))
    build_index(spark, docs, path, n_buckets=2, n_ranges=2)
    return docs, path


def test_round6_ties_at_rank_k_take_the_lower_doc_id(spark, tie_index, daat_paths):
    from sparksearch.querying import parse_queries, score_logical
    from sparksearch.stats import corpus_stats, round6_np

    docs, path = tie_index
    tf_df, dl_df, ts, _ = corpus_stats(docs)
    for (qid, text), k in TIE_QUERIES:
        qterms = parse_queries(spark, [(qid, text)])
        wider = [(r.doc_id, r.score) for r in sorted(
            score_logical(qterms, tf_df, dl_df, ts, k=k + 1).collect(),
            key=lambda r: r.rank)]
        # the tie is real: rank k and rank k+1 share one round6 score
        assert len(wider) == k + 1, text
        assert round6_np(wider[k - 1][1]) == round6_np(wider[k][1]), (text, wider)
        assert wider[k - 1][0] < wider[k][0], (text, wider)
        logical = [(r.rank, r.doc_id, round6_np(r.score)) for r in sorted(
            score_logical(qterms, tf_df, dl_df, ts, k=k).collect(),
            key=lambda r: r.rank)]
        for how in daat_paths():
            for wand in (True, False):
                got = [(r.rank, r.doc_id, round6_np(r.score)) for r in sorted(
                    daat_topk(spark, path, [(qid, text)], k=k, wand=wand).collect(),
                    key=lambda r: r.rank)]
                assert got == logical, (text, how, wand, got, logical)
                assert got[-1][1] == wider[k - 1][0], (text, how, wand)


def test_concurrent_callers_share_the_cache(spark, tie_index, tmp_path, monkeypatch):
    """More threads than cores query at once. A commit point is loaded once
    (a slowed load widens the window in which an unguarded cache lets every
    thread miss and load), and through a one-entry cache, calls on two
    indexes keep evicting each other's view: every answer equals the
    single-threaded one."""
    import shutil
    import sys
    import time
    from concurrent.futures import ThreadPoolExecutor

    _, path = tie_index
    other = str(tmp_path / "copy")
    shutil.copytree(path, other)
    qs = [q for q, _ in TIE_QUERIES]
    want = _answers(spark, path, qs)

    loads = []
    load_index = daat.load_index

    def slow_load(spark, index_path):
        loads.append(index_path)
        time.sleep(0.2)
        return load_index(spark, index_path)

    def run(paths, n):
        with ThreadPoolExecutor(max_workers=8) as pool:
            futures = [pool.submit(_answers, spark, paths[i % len(paths)], qs)
                       for i in range(n)]
            return [f.result(timeout=300) for f in futures]

    monkeypatch.setattr(daat, "load_index", slow_load)
    daat._VIEWS.clear()
    assert run([path], 8) == [want] * 8
    assert loads == [path]

    monkeypatch.setattr(daat, "_MAX_VIEWS", 1)
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        assert run([path, other], 24) == [want] * 24
    finally:
        sys.setswitchinterval(interval)
