"""M4 gates: crash→resume equals single-shot build; no-op resume; manifest
metrics present; id determinism + sha256 invariant (SURVEY.md §5.2)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from sparksearch.build import load_index
from sparksearch.checkpoint import (
    build_resumable,
    committed_units,
    manifest_df,
    resume_plan,
    resume_plan_df,
)

N_UNITS = 6
SEG_COLS = ["term", "range_id", "first_doc_id", "last_doc_id", "n",
            "doc_gaps", "tfs", "dls", "max_tf", "min_dl", "bucket"]


def _segments_sorted(spark, path):
    seg, _, stats = load_index(spark, path)
    return sorted(map(tuple, seg.select(SEG_COLS).collect())), stats


def test_crash_resume_equals_single_shot(spark, docs_sf0001, tmp_path):
    single = str(tmp_path / "single")
    build_resumable(spark, docs_sf0001, single, n_units=N_UNITS,
                    n_buckets=8, n_ranges=4)

    crashy = str(tmp_path / "crashy")
    with pytest.raises(RuntimeError, match="injected crash"):
        build_resumable(spark, docs_sf0001, crashy, n_units=N_UNITS,
                        n_buckets=8, n_ranges=4, fail_after_units=2)
    assert len(committed_units(crashy)) == 2
    assert sorted(resume_plan(crashy, N_UNITS)) == list(range(2, N_UNITS))

    stats2 = build_resumable(spark, docs_sf0001, crashy, n_units=N_UNITS,
                             n_buckets=8, n_ranges=4)
    assert stats2["built_units"] == N_UNITS - 2

    d1, s1 = _segments_sorted(spark, single)
    d2, s2 = _segments_sorted(spark, crashy)
    s1.pop("built_units", None)
    s2.pop("built_units", None)
    s1.pop("n_units", None)
    s2.pop("n_units", None)
    assert s1 == s2
    assert d1 == d2  # byte-identical segments: resume ≡ single shot


def test_incremental_finalize_encodes_only_new_units(spark, docs_sf0001, tmp_path):
    """The round-3 resume contract (SURVEY.md §3.3): a finalize after new
    units commit pushes ONLY the new units' postings through the exchange +
    encoder (O(new), audited via finalize_input_postings), appends a new
    segment generation, and the resulting index — blocks, stats, dictionary
    — is identical to a single-shot build of the same corpus."""
    from sparksearch.checkpoint import (
        build_geometry,
        build_unit,
        finalize_incremental,
    )

    single = str(tmp_path / "single")
    build_resumable(spark, docs_sf0001, single, n_units=4, n_buckets=8, n_ranges=4)

    inc = str(tmp_path / "inc")
    meta = build_geometry(spark, docs_sf0001, inc, 4, 4, 8, 128)
    for u in (0, 1, 2):
        build_unit(spark, docs_sf0001, inc, u, meta["unit_span"])
    st1 = finalize_incremental(spark, inc)
    man = committed_units(inc)
    assert st1["finalize_input_postings"] == sum(
        man[u]["n_postings"] for u in (0, 1, 2)
    )
    # a late unit arrives; the second finalize must encode ONLY its postings
    rec3 = build_unit(spark, docs_sf0001, inc, 3, meta["unit_span"])
    st2 = finalize_incremental(spark, inc)
    assert st2["finalize_input_postings"] == rec3["n_postings"]
    assert st2["n_gens"] == 2
    assert st2["finalized_units"] == [0, 1, 2, 3]

    # stored blocks + stats + dictionary all equal the single-shot build
    d1, s1 = _segments_sorted(spark, single)
    d2, s2 = _segments_sorted(spark, inc)
    assert d1 == d2
    for key in ("n_docs", "sum_dl", "avgdl", "range_size", "n_buckets",
                "block_size", "finalized_units"):
        assert s1[key] == s2[key], key
    _, dic1, _ = load_index(spark, single)
    _, dic2, _ = load_index(spark, inc)
    cols = ["term", "df", "cf", "idf", "max_tf", "min_dl", "bucket"]
    assert sorted(map(tuple, dic1.select(cols).collect())) == sorted(
        map(tuple, dic2.select(cols).collect())
    )

    # and the 2-generation layout answers queries identically (gen partition
    # column is transparent to the pruned fetch)
    from sparksearch.daat import daat_topk

    qs = [(1, "hash join"), (2, "merge sort")]
    a = sorted(map(tuple, daat_topk(spark, single, qs, k=5).collect()))
    b = sorted(map(tuple, daat_topk(spark, inc, qs, k=5).collect()))
    assert a == b and a

    # compaction: 2 generations → 1, pure rewrite — blocks, stats and query
    # answers unchanged
    from sparksearch.checkpoint import compact_index

    st3 = compact_index(spark, inc)
    assert st3["n_gens"] == 1
    d3, s3 = _segments_sorted(spark, inc)
    assert d3 == d1
    import os

    assert sorted(os.listdir(os.path.join(inc, "segments"))) == ["gen=0"]
    c = sorted(map(tuple, daat_topk(spark, inc, qs, k=5).collect()))
    assert c == a
    assert compact_index(spark, inc)["n_gens"] == 1  # idempotent no-op


def test_positional_resume_and_compaction(spark, docs_sf0001, tmp_path):
    """Positions as the 4th block stream must survive the whole resumable
    lifecycle (round-3 verdict item #6): a 2-generation incremental build
    and its compaction answer phrase AND span queries identically to a
    single-shot positional build — one artifact, one commit story."""
    import os

    from sparksearch.build import build_index
    from sparksearch.checkpoint import (
        build_geometry,
        build_unit,
        compact_index,
        finalize_incremental,
    )
    from sparksearch.phrase import phrase_topk_indexed, span_near_topk_indexed

    single = str(tmp_path / "single")
    build_index(spark, docs_sf0001, single, n_buckets=8, n_ranges=4,
                with_positions=True)

    inc = str(tmp_path / "inc")
    meta = build_geometry(spark, docs_sf0001, inc, 4, 4, 8, 128)
    for u in (0, 1):
        build_unit(spark, docs_sf0001, inc, u, meta["unit_span"],
                   with_positions=True)
    finalize_incremental(spark, inc)
    for u in (2, 3):
        build_unit(spark, docs_sf0001, inc, u, meta["unit_span"],
                   with_positions=True)
    st = finalize_incremental(spark, inc)
    assert st["n_gens"] == 2 and st["positions"] == "blocks"
    assert not os.path.exists(os.path.join(inc, "positions"))  # one artifact

    phrases = [(1, "hash join"), (2, "sort merge join"), (3, "join")]
    spans = [(1, "hash probe", 3), (2, "sort join", 5)]

    def answers(path):
        a = sorted(map(tuple, phrase_topk_indexed(spark, path, phrases, k=5).collect()))
        b = sorted(map(tuple, span_near_topk_indexed(spark, path, spans, k=5).collect()))
        return a, b

    base = answers(single)
    assert answers(inc) == base and base[0]

    # compaction is a pure rewrite — positions ride the block rows unchanged
    assert compact_index(spark, inc)["n_gens"] == 1
    assert answers(inc) == base

    # decoded per-posting position rows: 2-gen+compacted ≡ single-shot
    from sparksearch.phrase import _decode_position_rows

    def posrows(path):
        seg = spark.read.parquet(os.path.join(path, "segments")).select(
            "term", "first_doc_id", "doc_gaps", "tfs", "poss"
        )
        return sorted(map(tuple, _decode_position_rows(seg).collect()))

    assert posrows(inc) == posrows(single)


@pytest.mark.parametrize("stats_without_next_gen", [False, True])
def test_finalize_after_compaction_matches_single_shot(
    spark, docs_sf0001, queries, tmp_path, stats_without_next_gen
):
    """Generation ids never repeat: a finalize after compact_index must not
    take the live dictionary's generation id for its own (and delete
    dictionary_gen_<n> as a crash leftover). The lifecycle
    units → finalize → unit → finalize → compact → unit → finalize ends in
    the same decoded postings, dictionary and top-k answers as a
    single-shot build with the same geometry — also when the compacted
    index's stats.json predates the ``next_gen`` counter."""
    from sparksearch.build import decoded_postings
    from sparksearch.checkpoint import (
        build_geometry,
        build_unit,
        compact_index,
        finalize_incremental,
    )
    from sparksearch.daat import daat_topk

    single = str(tmp_path / "single")
    build_resumable(spark, docs_sf0001, single, n_units=4, n_buckets=8, n_ranges=4)

    inc = str(tmp_path / "inc")
    meta = build_geometry(spark, docs_sf0001, inc, 4, 4, 8, 128)
    for u in (0, 1):
        build_unit(spark, docs_sf0001, inc, u, meta["unit_span"])
    finalize_incremental(spark, inc)
    build_unit(spark, docs_sf0001, inc, 2, meta["unit_span"])
    finalize_incremental(spark, inc)
    assert compact_index(spark, inc)["n_gens"] == 1
    if stats_without_next_gen:
        stats_path = os.path.join(inc, "stats.json")
        with open(stats_path) as f:
            st = json.load(f)
        del st["next_gen"]
        with open(stats_path, "w") as f:
            json.dump(st, f)
    build_unit(spark, docs_sf0001, inc, 3, meta["unit_span"])
    st = finalize_incremental(spark, inc)
    assert st["n_gens"] == 2
    assert st["finalized_units"] == [0, 1, 2, 3]

    def decoded(path):
        seg, _, _ = load_index(spark, path)
        return sorted(map(tuple, decoded_postings(seg).collect()))

    assert decoded(inc) == decoded(single)
    _, dic1, s1 = load_index(spark, single)
    _, dic2, s2 = load_index(spark, inc)
    for key in ("n_docs", "sum_dl", "avgdl"):
        assert s1[key] == s2[key], key
    cols = ["term", "df", "cf", "idf", "max_tf", "min_dl", "bucket"]
    assert sorted(map(tuple, dic1.select(cols).collect())) == sorted(
        map(tuple, dic2.select(cols).collect())
    )
    a = sorted(map(tuple, daat_topk(spark, single, queries, k=10).collect()))
    b = sorted(map(tuple, daat_topk(spark, inc, queries, k=10).collect()))
    assert a == b and a


DIC_COLS = ["term", "df", "cf", "idf", "max_tf", "min_dl", "bucket"]


def _dictionary_sorted(spark, path):
    _, dic, _ = load_index(spark, path)
    return sorted(map(tuple, dic.select(DIC_COLS).collect()))


def test_single_shot_build_is_generation_zero(spark, docs_sf0001, tmp_path):
    """One index layout: a single-shot build commits generation 0 through
    the incremental finalize's code, so it equals a one-unit resumable
    build — segments, dictionary and stats — and compaction has nothing
    to do."""
    from sparksearch.build import build_index
    from sparksearch.checkpoint import compact_index

    single = str(tmp_path / "single")
    build_index(spark, docs_sf0001, single, n_buckets=8, n_ranges=4)
    res = str(tmp_path / "res")
    build_resumable(spark, docs_sf0001, res, n_units=1, n_buckets=8, n_ranges=4)

    d1, s1 = _segments_sorted(spark, single)
    d2, s2 = _segments_sorted(spark, res)
    assert d1 == d2 and d1
    assert _dictionary_sorted(spark, single) == _dictionary_sorted(spark, res)
    for key in ("n_docs", "sum_dl", "avgdl", "range_size", "n_buckets",
                "block_size"):
        assert s1[key] == s2[key], key
    seg_root = os.path.join(single, "segments")
    assert os.listdir(seg_root) == ["gen=0"]
    assert (s1["n_gens"], s1["next_gen"], s1["dictionary_dir"]) == (
        1, 1, "dictionary_gen_0")

    stats_path = os.path.join(single, "stats.json")
    before = os.stat(stats_path)
    assert compact_index(spark, single) == s1
    after = os.stat(stats_path)
    assert (after.st_ino, after.st_mtime_ns) == (before.st_ino, before.st_mtime_ns)
    assert os.listdir(seg_root) == ["gen=0"]
    assert _segments_sorted(spark, single)[0] == d1


def test_single_shot_rebuild_replaces_a_resumable_index(
    spark, docs_sf0001, queries, tmp_path
):
    """build_index at a path that holds a two-generation resumable index
    replaces it: decoded postings and top-k answers equal a fresh build.
    The old units go with it, so a following finalize_incremental fails on
    the missing geometry instead of appending them onto generation 0."""
    from sparksearch.build import build_index, decoded_postings
    from sparksearch.checkpoint import (
        build_geometry,
        build_unit,
        finalize_incremental,
    )
    from sparksearch.daat import daat_topk

    fresh = str(tmp_path / "fresh")
    build_index(spark, docs_sf0001, fresh, n_buckets=8, n_ranges=4)

    path = str(tmp_path / "idx")
    meta = build_geometry(spark, docs_sf0001, path, 4, 4, 8, 128)
    for u in (0, 1):
        build_unit(spark, docs_sf0001, path, u, meta["unit_span"])
    finalize_incremental(spark, path)
    for u in (2, 3):
        build_unit(spark, docs_sf0001, path, u, meta["unit_span"])
    assert finalize_incremental(spark, path)["n_gens"] == 2

    st = build_index(spark, docs_sf0001, path, n_buckets=8, n_ranges=4)
    assert (st["n_gens"], st["next_gen"]) == (1, 1)
    assert os.listdir(os.path.join(path, "segments")) == ["gen=0"]

    def decoded(p):
        seg, _, _ = load_index(spark, p)
        return sorted(map(tuple, decoded_postings(seg).collect()))

    assert decoded(path) == decoded(fresh)
    assert _dictionary_sorted(spark, path) == _dictionary_sorted(spark, fresh)
    a = sorted(map(tuple, daat_topk(spark, fresh, queries, k=10).collect()))
    b = sorted(map(tuple, daat_topk(spark, path, queries, k=10).collect()))
    assert a == b and a

    with pytest.raises(FileNotFoundError, match="build_meta.json"):
        finalize_incremental(spark, path)
    with pytest.raises(ValueError, match="single-shot"):
        build_geometry(spark, docs_sf0001, path, 4, 4, 8, 128)


def test_noop_resume(spark, docs_sf0001, tmp_path):
    path = str(tmp_path / "idx")
    build_resumable(spark, docs_sf0001, path, n_units=4, n_buckets=8, n_ranges=4)
    again = build_resumable(spark, docs_sf0001, path, n_units=4,
                            n_buckets=8, n_ranges=4)
    assert again["built_units"] == 0  # R1: nothing to do
    assert resume_plan(path, 4) == []
    assert resume_plan_df(spark, path, 4).count() == 0


def test_manifest_metrics(spark, docs_sf0001, tmp_path):
    path = str(tmp_path / "idx")
    build_resumable(spark, docs_sf0001, path, n_units=4, n_buckets=8,
                    n_ranges=4, finalize=False)
    m = manifest_df(spark, path)
    rows = m.collect()
    assert len(rows) == 4
    assert {r["partition_id"] for r in rows} == set(range(4))
    total_docs = sum(r["n_docs"] for r in rows)
    assert total_docs == docs_sf0001.count()  # lineage covers every doc exactly once
    for r in rows:
        assert r["n_postings"] > 0
        assert r["postings_per_sec"] > 0
        assert r["docs_per_sec"] > 0
        assert r["committed_at"]
    # Pin the lineage shape: resume_manifest is rows-only at the driver
    # (timings aren't SQL-comparable), so this schema assertion is what
    # keeps the check from silently degrading.
    assert dict(m.dtypes) == {
        "partition_id": "int", "n_docs": "bigint", "n_postings": "bigint",
        "n_terms": "bigint", "build_secs": "double",
        "postings_per_sec": "double", "docs_per_sec": "double",
        "committed_at": "string",
    }
    # The catalog entry projects these four columns — they must keep existing.
    proj = m.select("partition_id", "n_docs", "n_postings", "postings_per_sec")
    assert proj.columns == ["partition_id", "n_docs", "n_postings", "postings_per_sec"]


def test_ids_and_sha256_invariant(spark):
    from gen_corpus import gen_corpus
    from sparksearch.ids import (
        assign_doc_ids_dense,
        assign_doc_ids_hashed,
        audit_id_collisions,
        sha256_mismatches,
    )

    pdf = gen_corpus(200, seed=42)
    corpus = spark.createDataFrame(pdf)
    with_ids = assign_doc_ids_dense(corpus)
    ids = [r["doc_id"] for r in with_ids.select("doc_id").collect()]
    assert sorted(ids) == list(range(200))  # dense, stable

    hashed = assign_doc_ids_hashed(corpus)
    assert audit_id_collisions(hashed).count() == 0

    # S3 invariant: generation-time hashes match row-wise
    assert sha256_mismatches(with_ids, with_ids.select("doc_id", "sha256")).count() == 0

    # and a corrupted row is caught
    corrupted = with_ids.withColumn(
        "content",
        F.when(F.col("doc_id") == 0, F.lit("tampered")).otherwise(F.col("content")),
    )
    assert sha256_mismatches(corrupted, with_ids.select("doc_id", "sha256")).count() == 1
