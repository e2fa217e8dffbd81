"""Phrase (positional) search: exact contiguous-phrase matching over the
corpus, ranked by occurrence count then BM25-style tie-break.

The reference engine family (full-text BM25 indexes) typically carries term
positions next to (term, docID, tf) so quoted queries — ``"sort merge
join"`` — match only contiguous occurrences. This module adds that
capability Spark-first:

* ``positional_postings`` — DF[doc_id, term, ps:array<int>] (1-based
  positions per (doc, term)). Logical form here; at segment scale positions
  ride the block layout as one more varint stream next to doc_gaps/tfs/dls
  (codec.encode_sublist's stream shape is position-ready).
* ``phrase_counts`` — per-doc occurrence counts of one phrase, computed with
  pure Catalyst array algebra: the per-doc (term → positions) map for ONLY
  the phrase's terms, then ``filter(ps[t0], p -> ∀i array_contains(ps[ti],
  p+i))``. The corpus-wide work is one semi-filtered shuffle of the phrase
  terms' postings — never the full posting table, never a UDF.
* ``phrase_topk`` — multi-phrase batch form with the engine-wide
  (score DESC, doc_id ASC) total order.

Scale: the groupBy moves only postings of the phrase's terms (dictionary-
pruned), i.e. Σ df(term) rows — the same data a DAAT intersection touches.
Position arrays per (doc, term) are bounded by tf. A phrase with a hot term
fans over doc_id-hashed reducers (uniform), not term-hashed — no skew.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .tokenize import py_tokenize, tokens_col


def positional_postings(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """DF[doc_id, term, ps:array<int>] — sorted 1-based occurrence positions
    of every term in every doc. Positions are computed map-side from the
    bound token array (posexplode), aggregated per (doc, term)."""
    toks = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        tokens_col(F.col(text_col)).alias("toks"),
    )
    return (
        toks.select("doc_id", F.posexplode("toks").alias("p0", "term"))
        .groupBy("doc_id", "term")
        .agg(F.sort_array(F.collect_list(F.col("p0") + 1)).alias("ps"))
    )


def _phrase_start_positions(terms: list[str]) -> Column:
    """Positions p where terms[0]=p, terms[1]=p+1, … all occur — an
    expression over a bound map column ``m: map<string, array<int>>``."""
    def contains_at(t: str, i: int):
        # closure factory, NOT default-arg lambdas: PySpark derives the
        # higher-order-function arity from the lambda's signature.
        return lambda p: F.array_contains(
            F.coalesce(F.element_at(F.col("m"), t), F.array().cast("array<int>")),
            p + i,
        )

    starts = F.element_at(F.col("m"), terms[0])
    for i, t in enumerate(terms[1:], start=1):
        starts = F.filter(starts, contains_at(t, i))
    return starts


def _phrase_slop_start_positions(terms: list[str], slop: int) -> Column:
    """Start positions p admitting an ORDERED proximity match within slop:
    ∃ q_0=p < q_1 < … < q_{k-1}, q_i ∈ positions(terms[i]), with total span
    q_{k-1} − p ≤ (k−1) + slop. Checked with the GREEDY chain (each q_i =
    smallest position of terms[i] after q_{i-1}), which minimizes q_{k-1}
    by the classic exchange argument — so greedy-succeeds ⟺ a valid chain
    exists, and slop=0 degenerates to exact contiguity. Expression over the
    bound map column ``m`` (same contract as _phrase_start_positions)."""
    span = len(terms) - 1 + slop

    def next_after(t: str, cur: Column) -> Column:
        return F.array_min(
            F.filter(
                F.coalesce(F.element_at(F.col("m"), t), F.array().cast("array<int>")),
                lambda q: q > cur,
            )
        )

    def pred(p: Column) -> Column:
        cur = p
        for t in terms[1:]:
            cur = next_after(t, cur)
        # NULL (chain broke: some term has no position after cur) → huge
        # sentinel → fails the span check. One use of `cur`, no re-eval.
        return (F.coalesce(cur, F.lit(2147483647)) - p) <= F.lit(span)

    return F.filter(F.element_at(F.col("m"), terms[0]), pred)


def _start_positions(terms: list[str], slop: int) -> Column:
    # slop=0 keeps the cheaper array_contains adjacency probe (O(k·tf) per
    # start with no nested min-scan); the greedy chain is provably identical
    # there (tested), so the fast path is an optimization, not a semantic.
    return (_phrase_start_positions(terms) if slop == 0
            else _phrase_slop_start_positions(terms, slop))


def phrase_counts(docs: DataFrame, phrase: str, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """DF[doc_id, n_occurrences] — docs containing the contiguous phrase,
    with its exact occurrence count. Duplicate phrase terms ("a b a") are
    handled naturally (the same position array is probed at two offsets)."""
    terms = py_tokenize(phrase)
    if not terms:
        spark = docs.sparkSession
        return spark.createDataFrame([], "doc_id long, n_occurrences long")
    pp = positional_postings(docs, text_col, id_col)
    needed = pp.filter(F.col("term").isin(sorted(set(terms))))
    per_doc = needed.groupBy("doc_id").agg(
        F.map_from_entries(F.collect_list(F.struct("term", "ps"))).alias("m"),
        F.count(F.lit(1)).alias("n_terms_present"),
    ).filter(F.col("n_terms_present") == len(set(terms)))
    return (
        per_doc.select(
            "doc_id", F.size(_phrase_start_positions(terms)).cast("long").alias("n_occurrences")
        )
        .filter(F.col("n_occurrences") > 0)
    )


def _decode_position_rows(blocks: DataFrame) -> DataFrame:
    """Segment block rows (positional layout) → per-posting position rows
    [term, doc_id, npos, pos_blob] — the shape every index-backed positional
    matcher consumes. Vectorized per Arrow batch: doc_ids from the gap
    stream, per-posting blob boundaries from one ``split_positions`` byte
    pass per block (codec.py); npos ≡ tf by construction."""

    def decode(it):
        import numpy as np
        import pandas as pd

        from .codec import split_positions, varint_decode

        for pdf in it:
            terms, ids, npos, blobs = [], [], [], []
            for term, first, gaps, tfb, poss in zip(
                pdf["term"].values, pdf["first_doc_id"].values,
                pdf["doc_gaps"].values, pdf["tfs"].values, pdf["poss"].values,
            ):
                g = varint_decode(gaps).astype(np.int64)
                d = np.empty(g.size + 1, dtype=np.int64)
                d[0] = first
                if g.size:
                    d[1:] = first + np.cumsum(g)
                tf = varint_decode(tfb).astype(np.int64)
                terms.append(np.repeat(term, d.size))
                ids.append(d)
                npos.append(tf)
                blobs.extend(split_positions(tf, poss))
            if not terms:
                yield pd.DataFrame(
                    {"term": [], "doc_id": [], "npos": [], "pos_blob": []}
                )
                continue
            yield pd.DataFrame(
                {
                    "term": np.concatenate(terms),
                    "doc_id": np.concatenate(ids),
                    "npos": np.concatenate(npos).astype(np.int32),
                    "pos_blob": blobs,
                }
            )

    return blocks.mapInPandas(
        decode, "term string, doc_id long, npos int, pos_blob binary"
    )


def _pruned_position_fetch(
    spark, index_path: str, qterm_pairs: set[tuple[int, str]]
) -> DataFrame:
    """Shared positional fetch for every index-backed positional query: read
    ONLY the requested terms' rows (partition pruning on bucket + predicate
    pushdown on term, like Q2) and attach query_ids via a broadcast join →
    DF[term, doc_id, npos, pos_blob, query_id].

    Positions are the 4th varint stream of the segment block rows
    (stats.json ``positions: "blocks"``), so the fetch prunes the SAME
    artifact DAAT does, across every generation of the index. The bucket
    per term comes from the driver-side xxhash64 replica (bit-identical to
    the writer's pmod(xxhash64(term), n); tests/test_hashing.py), so the
    pruning literals cost no Spark job."""
    import json
    import os

    from .hashing import term_bucket

    all_terms = sorted({t for _, t in qterm_pairs})
    with open(os.path.join(index_path, "stats.json")) as f:
        st = json.load(f)
    if st.get("positions") != "blocks":
        raise ValueError(
            f"{index_path} holds no positions; build it with_positions=True"
        )
    n_buckets = int(st["n_buckets"])
    seg = spark.read.parquet(os.path.join(index_path, "segments"))
    buckets = sorted({term_bucket(t, n_buckets) for t in all_terms})
    pruned = _decode_position_rows(
        seg.filter(F.col("bucket").isin(buckets) & F.col("term").isin(all_terms))
        .select("term", "first_doc_id", "doc_gaps", "tfs", "poss")
    )
    qterms = spark.createDataFrame(
        sorted(qterm_pairs), "query_id long, term string"
    )
    return pruned.join(F.broadcast(qterms), "term")


def _group_term_keys(qg, uniq_terms):
    """Vectorized bulk decode of one query group's position rows into flat
    (doc, pos) KEY SPACE: key = local_doc_index << 32 | position.

    Returns (udocs, {term: sorted int64 keys}) or None if some required
    term is absent from the whole group. LEB128 streams are self-delimiting,
    so ALL of a term's pos_blobs decode in ONE vectorized varint_decode of
    the concatenated bytes; per-row absolute positions come from a global
    cumsum minus repeated segment bases (positions are stored first-raw-
    then-gaps). Keys are doc-major sorted, so every per-doc check becomes
    one searchsorted over the whole group — no per-(query, doc) Python
    loop (that loop was ~17k iterations/shard = seconds at sf0.1; this is
    ~len(terms) numpy passes). Local doc indexes (np.unique) keep the
    packing safe for 64-bit hashed doc_ids."""
    import numpy as np

    from .codec import varint_decode

    udocs, dinv = np.unique(qg["doc_id"].values, return_inverse=True)
    tvals = qg["term"].values
    keys = {}
    for t in uniq_terms:
        sel = tvals == t
        if not sel.any():
            return None
        lens = qg["npos"].values[sel].astype(np.int64)
        vals = varint_decode(b"".join(qg["pos_blob"].values[sel])).astype(np.int64)
        ends = np.cumsum(lens)
        c = np.cumsum(vals)
        seg_base = np.concatenate(([np.int64(0)], c[ends[:-1] - 1]))
        pos = c - np.repeat(seg_base, lens)
        key = (dinv[sel].astype(np.int64).repeat(lens) << np.int64(32)) | pos
        key.sort()
        keys[t] = key
    return udocs, keys


def phrase_topk_indexed(
    spark, index_path: str, phrases: list[tuple[int, str]], k: int = 10,
    slop: int = 0,
) -> DataFrame:
    """Index-backed batch phrase search → DF[query_id, rank, doc_id,
    n_occurrences] — identical output to the logical ``phrase_topk``
    (tested), but reads ONLY the phrase terms' position rows from the
    segment blocks (partition pruning on bucket + predicate pushdown on
    term, like Q2), then checks adjacency with NumPy set intersections in
    one grouped Arrow pass per doc shard."""
    import numpy as np
    import pandas as pd

    qdefs = {int(qid): py_tokenize(p) for qid, p in phrases}
    qdefs = {q: t for q, t in qdefs.items() if t}
    if not qdefs:
        return spark.createDataFrame(
            [], "query_id long, rank long, doc_id long, n_occurrences long"
        )
    joined = _pruned_position_fetch(
        spark, index_path, {(q, t) for q, ts in qdefs.items() for t in ts}
    )

    def match(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "query_id": pd.Series([], dtype="int64"),
                "doc_id": pd.Series([], dtype="int64"),
                "n_occurrences": pd.Series([], dtype="int64"),
            }
        )
        out = []
        # ONE group per query (|queries| iterations), all docs vectorized in
        # flat key space — not one group per (query, doc).
        for qid, qg in pdf.groupby("query_id", sort=False):
            terms = qdefs[int(qid)]
            got = _group_term_keys(qg, list(dict.fromkeys(terms)))
            if got is None:
                continue  # a required term is absent from this whole shard
            udocs, keys = got
            starts = keys[terms[0]]
            if slop == 0:
                # contiguity: key(start)+i must exist exactly in term i's
                # keys — same doc by construction (pos+i stays in the low
                # 32 bits for any real document length).
                surv = starts
                for i, t in enumerate(terms[1:], start=1):
                    arr = keys[t]
                    tgt = surv + i
                    idx = np.searchsorted(arr, tgt)
                    hit = idx < arr.size
                    hit[hit] = arr[idx[hit]] == tgt[hit]
                    surv = surv[hit]
                    if not surv.size:
                        break
            else:
                # greedy ordered-proximity chain over flat keys: the next
                # key after cur (searchsorted 'right') is the next
                # occurrence IN THE SAME DOC iff its high bits match.
                span = len(terms) - 1 + slop
                cur = starts
                alive = starts
                for t in terms[1:]:
                    arr = keys[t]
                    idx = np.searchsorted(arr, cur, side="right")
                    nxt = arr[np.minimum(idx, arr.size - 1)]
                    ok = (idx < arr.size) & ((nxt >> 32) == (cur >> 32))
                    cur, alive = nxt[ok], alive[ok]
                    if not cur.size:
                        break
                surv = (
                    alive[(cur - alive) <= span] if cur.size
                    else np.empty(0, dtype=np.int64)
                )
            if surv.size:
                d_idx, counts = np.unique(surv >> 32, return_counts=True)
                out.append(
                    pd.DataFrame(
                        {
                            "query_id": np.full(d_idx.size, int(qid), dtype=np.int64),
                            "doc_id": udocs[d_idx].astype(np.int64),
                            "n_occurrences": counts.astype(np.int64),
                        }
                    )
                )
        return pd.concat(out, ignore_index=True) if out else empty

    # Shard-level grouping: grouping by raw doc_id would make one Arrow
    # group (and its ~ms of per-group overhead) PER DOCUMENT; 64 hash
    # shards keep groups fat while `match` still separates docs inside the
    # batch (measured 16s → ~1s on the bench at 5k docs).
    counts = (
        joined.withColumn("shard", F.pmod(F.xxhash64("doc_id"), F.lit(64)).cast("int"))
        .groupBy("shard")
        .applyInPandas(match, "query_id long, doc_id long, n_occurrences long")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("n_occurrences"), F.asc("doc_id"))
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "n_occurrences")
    )


def phrase_topk(docs: DataFrame, phrases: list[tuple[int, str]], k: int = 10,
                text_col: str = "text", id_col: str = "doc_id",
                slop: int = 0) -> DataFrame:
    """Batch phrase search → DF[query_id, rank, doc_id, n_occurrences]:
    top-k docs per phrase by (occurrences DESC, doc_id ASC) — the engine's
    pinned total order.

    ONE corpus pass for the whole batch: positional postings are computed
    once, restricted to the union of all phrases' terms, aggregated into one
    per-doc (term → positions) map, and every phrase's occurrence count is a
    column expression over that single map (a per-phrase union of
    phrase_counts calls would re-tokenize and re-shuffle the corpus once per
    phrase)."""
    spark = docs.sparkSession
    qdefs = {int(qid): py_tokenize(p) for qid, p in phrases}
    qdefs = {q: t for q, t in qdefs.items() if t}
    if not qdefs:
        return spark.createDataFrame(
            [], "query_id long, rank long, doc_id long, n_occurrences long"
        )
    all_terms = sorted({t for ts in qdefs.values() for t in ts})
    pp = positional_postings(docs, text_col, id_col).filter(
        F.col("term").isin(all_terms)
    )
    per_doc = pp.groupBy("doc_id").agg(
        F.map_from_entries(F.collect_list(F.struct("term", "ps"))).alias("m")
    )
    # size(NULL array) is NULL (a doc missing the phrase's first term), and
    # a doc missing a later term filters down to an empty array (size 0) —
    # both dropped by the > 0 filter below.
    entries = F.array(
        *[
            F.struct(
                F.lit(qid).cast("long").alias("query_id"),
                F.size(_start_positions(terms, slop)).cast("long").alias("n"),
            )
            for qid, terms in sorted(qdefs.items())
        ]
    )
    counts = (
        per_doc.select("doc_id", F.explode(entries).alias("e"))
        .select("doc_id", F.col("e.query_id").alias("query_id"),
                F.col("e.n").alias("n_occurrences"))
        .filter(F.col("n_occurrences") > 0)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("n_occurrences"), F.asc("doc_id")
    )
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "n_occurrences")
    )


def _min_cover_span(terms: list[str]) -> Column:
    """Minimal cover span over a bound map column ``m: map<string,
    array<int>>``: the smallest (max−min) over choices of ONE occurrence
    position per term — the k-sorted-lists minimum-range problem. NULL when
    some term is absent.

    Right-endpoint formulation (linear in total occurrences instead of the
    oracle's brute-force cross product): the optimal window's right edge is
    an occurrence e of some term, and for each candidate e the tightest
    window ending there picks every term's LAST position ≤ e — so

        span = min over e ∈ ∪positions of [ e − min_t max{p ∈ P_t : p ≤ e} ]

    (e is itself the max of those picks since e ∈ P_{t_e}). Candidates where
    any term has no position ≤ e yield NULL and drop out of array_min."""

    def pos(t: str) -> Column:
        return F.coalesce(F.element_at(F.col("m"), t), F.array().cast("array<int>"))

    all_pos = F.flatten(F.array(*[pos(t) for t in terms]))

    def width(e: Column) -> Column:
        lasts = F.array(
            *[F.array_max(F.filter(pos(t), lambda q: q <= e)) for t in terms]
        )
        return F.when(
            F.exists(lasts, lambda x: x.isNull()), F.lit(None).cast("int")
        ).otherwise(e - F.array_min(lasts))

    return F.array_min(F.transform(all_pos, width))


def span_near_topk(docs: DataFrame, queries: list[tuple[int, str, int]],
                   k: int = 10, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Unordered proximity retrieval (Lucene SpanNearQuery, inOrder=false)
    → DF[query_id, rank, doc_id, min_span]: docs where one occurrence of
    EACH query term fits in a window of span ≤ (k_terms−1) + slop, in any
    order, ranked by tightest window (min_span ASC, doc_id ASC).

    Same single-corpus-pass batch shape as phrase_topk: positional postings
    restricted to the union of all queries' terms, ONE per-doc term→positions
    map, every query's minimal cover span a column expression over that map.
    The pruned positional fetch (phrase_topk_indexed) is the upgrade path
    at index-backed scale; semantics are pinned here."""
    spark = docs.sparkSession
    qdefs = {}
    for qid, text, slop in queries:
        terms = sorted(set(py_tokenize(text)))
        if terms:
            qdefs[int(qid)] = (terms, int(slop))
    if not qdefs:
        return spark.createDataFrame(
            [], "query_id long, rank long, doc_id long, min_span long"
        )
    all_terms = sorted({t for ts, _ in qdefs.values() for t in ts})
    pp = positional_postings(docs, text_col, id_col).filter(
        F.col("term").isin(all_terms)
    )
    per_doc = pp.groupBy("doc_id").agg(
        F.map_from_entries(F.collect_list(F.struct("term", "ps"))).alias("m")
    )
    entries = F.array(
        *[
            F.struct(
                F.lit(qid).cast("long").alias("query_id"),
                F.lit(len(terms) - 1 + slop).cast("long").alias("max_span"),
                _min_cover_span(terms).cast("long").alias("min_span"),
            )
            for qid, (terms, slop) in sorted(qdefs.items())
        ]
    )
    spans = (
        per_doc.select("doc_id", F.explode(entries).alias("e"))
        .select("doc_id", F.col("e.query_id").alias("query_id"),
                F.col("e.min_span").alias("min_span"),
                F.col("e.max_span").alias("max_span"))
        .filter(F.col("min_span") <= F.col("max_span"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("min_span"), F.asc("doc_id")
    )
    return (
        spans.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "min_span")
    )


def span_near_topk_indexed(
    spark, index_path: str, queries: list[tuple[int, str, int]], k: int = 10
) -> DataFrame:
    """Index-backed unordered span-near → DF[query_id, rank, doc_id,
    min_span] — identical output to the logical ``span_near_topk`` (tested),
    served from the positional sidecar: pruned (bucket, term) fetch, then
    the minimal cover span per (query, doc) via the same right-endpoint
    formulation vectorized in NumPy (k searchsorteds over the union of
    occurrence positions) in one grouped Arrow pass per doc shard."""
    import numpy as np
    import pandas as pd

    qdefs = {}
    for qid, text, slop in queries:
        terms = sorted(set(py_tokenize(text)))
        if terms:
            qdefs[int(qid)] = (terms, len(terms) - 1 + int(slop))
    if not qdefs:
        return spark.createDataFrame(
            [], "query_id long, rank long, doc_id long, min_span long"
        )
    joined = _pruned_position_fetch(
        spark, index_path, {(q, t) for q, (ts, _) in qdefs.items() for t in ts}
    )

    def match(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "query_id": pd.Series([], dtype="int64"),
                "doc_id": pd.Series([], dtype="int64"),
                "min_span": pd.Series([], dtype="int64"),
            }
        )
        out = []
        # ONE group per query, every doc's minimal cover span computed in
        # flat key space (see _group_term_keys): each union key is a
        # candidate RIGHT endpoint; per term, its last occurrence ≤ the
        # endpoint must exist in the SAME doc (high bits match).
        for qid, qg in pdf.groupby("query_id", sort=False):
            terms, bound = qdefs[int(qid)]
            got = _group_term_keys(qg, terms)
            if got is None:
                continue
            udocs, keys = got
            all_keys = np.sort(np.concatenate([keys[t] for t in terms]))
            valid = np.ones(all_keys.size, dtype=bool)
            min_last = np.full(all_keys.size, np.iinfo(np.int64).max)
            for t in terms:
                arr = keys[t]
                idx = np.searchsorted(arr, all_keys, side="right")
                last = arr[np.maximum(idx, 1) - 1]
                valid &= (idx > 0) & ((last >> 32) == (all_keys >> 32))
                min_last = np.minimum(min_last, last)
            if not valid.any():
                continue
            widths = all_keys[valid] - min_last[valid]
            docs = all_keys[valid] >> 32
            # per-doc minimum width: keys are sorted, so docs is sorted —
            # reduceat over the doc-boundary segments.
            bnd = np.concatenate(([0], np.flatnonzero(np.diff(docs)) + 1))
            mins = np.minimum.reduceat(widths, bnd)
            d_idx = docs[bnd]
            keep = mins <= bound
            if keep.any():
                out.append(
                    pd.DataFrame(
                        {
                            "query_id": np.full(int(keep.sum()), int(qid), dtype=np.int64),
                            "doc_id": udocs[d_idx[keep]].astype(np.int64),
                            "min_span": mins[keep].astype(np.int64),
                        }
                    )
                )
        return pd.concat(out, ignore_index=True) if out else empty

    spans = (
        joined.withColumn("shard", F.pmod(F.xxhash64("doc_id"), F.lit(64)).cast("int"))
        .groupBy("shard")
        .applyInPandas(match, "query_id long, doc_id long, min_span long")
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("min_span"), F.asc("doc_id"))
    return (
        spans.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "min_span")
    )


def _min_ordered_span(terms: list[str]) -> Column:
    """Minimal ORDERED span (Lucene SpanNearQuery inOrder=true) over a bound
    per-doc map column ``m: map<string, array<int>>``: the smallest
    ``p_m − p_1`` with one occurrence per term at strictly increasing
    positions in query order.

    Vectorized greedy chase, all Catalyst array algebra: ``v1 = P_1``; then
    level by level ``v_{i+1} = transform(v_i, p → min{q ∈ P_{i+1} : q > p})``
    (greedy next-occurrence is optimal: any later choice only pushes the
    chain right). A missing successor yields NULL, which the next level's
    filter predicate propagates (q > NULL keeps nothing) and array_min
    drops at the end. Each transform's input array is evaluated once per
    row — the chain is linear in #terms, not nested-quadratic."""

    def pos(t: str) -> Column:
        return F.coalesce(F.element_at(F.col("m"), t), F.array().cast("array<int>"))

    def chase(t: str):
        # closure factory, NOT default-arg lambdas: PySpark derives the
        # higher-order-function arity from the lambda's full signature, so a
        # `lambda p, _t=t:` would be called as the 2-arg (element, index)
        # form and _t would silently receive the index column.
        return lambda p: F.array_min(F.filter(pos(t), lambda q: q > p))

    chain = pos(terms[0])
    for t in terms[1:]:
        chain = F.transform(chain, chase(t))
    return F.array_min(F.zip_with(pos(terms[0]), chain, lambda a, b: b - a))


def span_near_ordered_topk(docs: DataFrame, queries: list[tuple[int, str, int]],
                           k: int = 10, text_col: str = "text",
                           id_col: str = "doc_id") -> DataFrame:
    """Ordered proximity retrieval (Lucene SpanNearQuery, inOrder=true)
    → DF[query_id, rank, doc_id, min_span]: docs where one occurrence of
    each query term appears in QUERY ORDER (strictly increasing positions)
    within a window of span ≤ (k_terms−1) + slop, ranked tightest-first.

    Terms keep their first-appearance order in the query text (duplicates
    collapse to the first occurrence). Same single-corpus-pass batch shape
    as ``span_near_topk``: one per-doc term→positions map, every query's
    minimal ordered span a column expression over it."""
    spark = docs.sparkSession
    qdefs = {}
    for qid, text, slop in queries:
        terms = list(dict.fromkeys(py_tokenize(text)))
        if terms:
            qdefs[int(qid)] = (terms, int(slop))
    if not qdefs:
        return spark.createDataFrame(
            [], "query_id long, rank long, doc_id long, min_span long"
        )
    all_terms = sorted({t for ts, _ in qdefs.values() for t in ts})
    pp = positional_postings(docs, text_col, id_col).filter(
        F.col("term").isin(all_terms)
    )
    per_doc = pp.groupBy("doc_id").agg(
        F.map_from_entries(F.collect_list(F.struct("term", "ps"))).alias("m")
    )
    entries = F.array(
        *[
            F.struct(
                F.lit(qid).cast("long").alias("query_id"),
                F.lit(len(terms) - 1 + slop).cast("long").alias("max_span"),
                _min_ordered_span(terms).cast("long").alias("min_span"),
            )
            for qid, (terms, slop) in sorted(qdefs.items())
        ]
    )
    spans = (
        per_doc.select("doc_id", F.explode(entries).alias("e"))
        .select("doc_id", F.col("e.query_id").alias("query_id"),
                F.col("e.min_span").alias("min_span"),
                F.col("e.max_span").alias("max_span"))
        .filter(F.col("min_span") <= F.col("max_span"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("min_span"), F.asc("doc_id")
    )
    return (
        spans.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "min_span")
    )


def span_near_ordered_topk_indexed(
    spark, index_path: str, queries: list[tuple[int, str, int]], k: int = 10
) -> DataFrame:
    """Index-backed ORDERED span-near → DF[query_id, rank, doc_id,
    min_span] — identical output to the logical ``span_near_ordered_topk``
    (tested), served from the positional sidecar: pruned (bucket, term)
    fetch, then the greedy next-occurrence chase vectorized in NumPy (one
    searchsorted per query term over ALL start positions at once) in one
    grouped Arrow pass per doc shard."""
    import numpy as np
    import pandas as pd

    qdefs = {}
    for qid, text, slop in queries:
        terms = list(dict.fromkeys(py_tokenize(text)))
        if terms:
            qdefs[int(qid)] = (terms, len(terms) - 1 + int(slop))
    if not qdefs:
        return spark.createDataFrame(
            [], "query_id long, rank long, doc_id long, min_span long"
        )
    joined = _pruned_position_fetch(
        spark, index_path, {(q, t) for q, (ts, _) in qdefs.items() for t in ts}
    )
    def match(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "query_id": pd.Series([], dtype="int64"),
                "doc_id": pd.Series([], dtype="int64"),
                "min_span": pd.Series([], dtype="int64"),
            }
        )
        out = []
        # ONE group per query; the greedy next-occurrence chase runs over
        # flat keys (see _group_term_keys) for ALL docs' start positions at
        # once — the successor must be in the SAME doc (high bits match).
        for qid, qg in pdf.groupby("query_id", sort=False):
            terms, bound = qdefs[int(qid)]
            got = _group_term_keys(qg, terms)
            if got is None:
                continue
            udocs, keys = got
            cur = keys[terms[0]]
            alive = cur
            for t in terms[1:]:
                arr = keys[t]
                idx = np.searchsorted(arr, cur, side="right")
                nxt = arr[np.minimum(idx, arr.size - 1)]
                ok = (idx < arr.size) & ((nxt >> 32) == (cur >> 32))
                cur, alive = nxt[ok], alive[ok]
                if not cur.size:
                    break
            if not cur.size:
                continue
            spans = cur - alive
            docs = alive >> 32
            # alive stayed ascending through the masked chase → doc-major
            # sorted; per-doc min span via reduceat on doc boundaries.
            bnd = np.concatenate(([0], np.flatnonzero(np.diff(docs)) + 1))
            mins = np.minimum.reduceat(spans, bnd)
            d_idx = docs[bnd]
            keep = mins <= bound
            if keep.any():
                out.append(
                    pd.DataFrame(
                        {
                            "query_id": np.full(int(keep.sum()), int(qid), dtype=np.int64),
                            "doc_id": udocs[d_idx[keep]].astype(np.int64),
                            "min_span": mins[keep].astype(np.int64),
                        }
                    )
                )
        return pd.concat(out, ignore_index=True) if out else empty

    spans = (
        joined.withColumn("shard", F.pmod(F.xxhash64("doc_id"), F.lit(64)).cast("int"))
        .groupBy("shard")
        .applyInPandas(match, "query_id long, doc_id long, min_span long")
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("min_span"), F.asc("doc_id"))
    return (
        spans.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "min_span")
    )


def _min_ordered_end(terms: list[str]) -> Column:
    """Minimal END position of an ordered chain (one occurrence per term at
    strictly increasing positions in query order) over the bound per-doc map
    column ``m`` — the same greedy chase as _min_ordered_span, but the
    answer is min over starts of the chain's LAST position (greedy minimizes
    the end for each start, so the min over starts is the global min end)."""

    def pos(t: str) -> Column:
        return F.coalesce(F.element_at(F.col("m"), t), F.array().cast("array<int>"))

    def chase(t: str):
        return lambda p: F.array_min(F.filter(pos(t), lambda q: q > p))

    chain = pos(terms[0])
    for t in terms[1:]:
        chain = F.transform(chain, chase(t))
    return F.array_min(chain)


def span_first_topk(docs: DataFrame, queries: list[tuple[int, str, int]],
                    k: int = 10, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Position-limited retrieval (Lucene SpanFirstQuery) →
    DF[query_id, rank, doc_id, first_end]: docs where an ordered occurrence
    of the query terms COMPLETES within the first ``limit`` positions
    (1-based end position ≤ limit), ranked earliest-completion-first.
    Single-term queries degenerate to "term within the first N tokens" —
    the classic lead-paragraph / headline restriction.

    Same single-corpus-pass batch shape as the span-near family: one
    per-doc term→positions map, every query's minimal chain end a column
    expression over it."""
    spark = docs.sparkSession
    qdefs = {}
    for qid, text, limit in queries:
        terms = list(dict.fromkeys(py_tokenize(text)))
        if terms:
            qdefs[int(qid)] = (terms, int(limit))
    if not qdefs:
        return spark.createDataFrame(
            [], "query_id long, rank long, doc_id long, first_end long"
        )
    all_terms = sorted({t for ts, _ in qdefs.values() for t in ts})
    pp = positional_postings(docs, text_col, id_col).filter(
        F.col("term").isin(all_terms)
    )
    per_doc = pp.groupBy("doc_id").agg(
        F.map_from_entries(F.collect_list(F.struct("term", "ps"))).alias("m")
    )
    entries = F.array(
        *[
            F.struct(
                F.lit(qid).cast("long").alias("query_id"),
                F.lit(limit).cast("long").alias("limit"),
                _min_ordered_end(terms).cast("long").alias("first_end"),
            )
            for qid, (terms, limit) in sorted(qdefs.items())
        ]
    )
    spans = (
        per_doc.select("doc_id", F.explode(entries).alias("e"))
        .select("doc_id", F.col("e.query_id").alias("query_id"),
                F.col("e.first_end").alias("first_end"),
                F.col("e.limit").alias("limit"))
        .filter(F.col("first_end") <= F.col("limit"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("first_end"), F.asc("doc_id")
    )
    return (
        spans.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "first_end")
    )


def _prefix_positions(prefix: str) -> Column:
    """Union of the positions of every map key starting with ``prefix`` —
    an expression over the bound map column ``m``. Duplicate-free by
    construction: two distinct terms can never share a position, so the
    flatten needs no array_distinct. Inner lambdas only touch ``m`` (O(1)
    map probes), so the Catalyst lambda-re-evaluation edge does not bite."""
    return F.flatten(
        F.transform(
            F.filter(F.map_keys(F.col("m")), lambda t: t.startswith(prefix)),
            lambda t: F.element_at(F.col("m"), t),
        )
    )


def match_phrase_prefix_topk(docs: DataFrame, queries: list[tuple[int, str]],
                             k: int = 10, text_col: str = "text",
                             id_col: str = "doc_id") -> DataFrame:
    """ES ``match_phrase_prefix`` (Lucene MultiPhraseQuery with a
    prefix-expanded last slot) → DF[query_id, rank, doc_id, n_occurrences]:
    the query's last token is a PREFIX; a match is a contiguous occurrence
    of the leading terms immediately followed by ANY vocabulary term
    starting with that prefix. A single-token query degenerates to a pure
    prefix-occurrence count (ES's edge case).

    Same one-corpus-pass batch shape as phrase_topk: positional postings
    restricted to (leading terms) ∪ (prefix-matching terms) via a pushed
    disjunctive predicate, ONE per-doc term→positions map, every query an
    expression over it. The per-doc expansion is the map-keys filter — the
    occurrence count is size(array_intersect(shifted_starts, prefix_
    positions)), both arguments evaluated once per row (never inside a
    lambda — the re-evaluation sharp edge). ES's max_expansions=50 is an
    efficiency knob, not a semantic: this form computes the uncapped
    semantics; at a 10^9-term vocabulary the expansion would come from the
    range-pruned sorted dictionary (the bm25_topk_prefix path) instead of
    a per-doc key filter.

    Total order: (n_occurrences DESC, doc_id ASC), the engine's pinned
    rank identity (exact integer counts — no float discipline needed)."""
    spark = docs.sparkSession
    qdefs: dict[int, tuple[list[str], str]] = {}
    for qid, text in queries:
        toks = py_tokenize(text)
        if toks:
            qdefs[int(qid)] = (toks[:-1], toks[-1])
    if not qdefs:
        return spark.createDataFrame(
            [], "query_id long, rank long, doc_id long, n_occurrences long"
        )
    fixed_terms = sorted({t for ts, _ in qdefs.values() for t in ts})
    prefixes = sorted({p for _, p in qdefs.values()})
    keep = F.col("term").isin(fixed_terms) if fixed_terms else F.lit(False)
    for p in prefixes:
        keep = keep | F.col("term").startswith(p)
    pp = positional_postings(docs, text_col, id_col).filter(keep)
    per_doc = pp.groupBy("doc_id").agg(
        F.map_from_entries(F.collect_list(F.struct("term", "ps"))).alias("m")
    )

    def count_expr(fixed: list[str], prefix: str) -> Column:
        last_ps = _prefix_positions(prefix)
        if not fixed:
            return F.size(last_ps)
        shifted = F.transform(
            _phrase_start_positions(fixed), lambda s: s + len(fixed)
        )
        return F.size(F.array_intersect(shifted, last_ps))

    entries = F.array(
        *[
            F.struct(
                F.lit(qid).cast("long").alias("query_id"),
                count_expr(fixed, prefix).cast("long").alias("n"),
            )
            for qid, (fixed, prefix) in sorted(qdefs.items())
        ]
    )
    counts = (
        per_doc.select("doc_id", F.explode(entries).alias("e"))
        .select("doc_id", F.col("e.query_id").alias("query_id"),
                F.col("e.n").alias("n_occurrences"))
        .filter(F.col("n_occurrences") > 0)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("n_occurrences"), F.asc("doc_id")
    )
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "n_occurrences")
    )


def span_not_topk(docs: DataFrame, queries: list[tuple[int, str, str]],
                  k: int = 10, text_col: str = "text",
                  id_col: str = "doc_id", pre: int = 1,
                  post: int = 1) -> DataFrame:
    """Lucene SpanNotQuery (with pre/post margins) → DF[query_id, rank,
    doc_id, n_occurrences]: occurrences of the include phrase with NO
    exclude-term occurrence inside the widened window [p−pre,
    p+len−1+post] — (query_id, "include phrase", "exclude_term") triples.
    The margins are the semantic heart here: a CONTIGUOUS include span's
    own positions hold exactly the phrase's tokens, so plain overlap
    (pre=post=0) only triggers when the exclude term IS a phrase term;
    Lucene's pre/post (SpanNotQuery(include, exclude, pre, post)) is the
    "phrase not immediately preceded/followed by X" form that makes
    exclusion non-degenerate. Docs rank by surviving-occurrence count
    (the phrase family's total order; exact integers).

    Same one-pass batch shape as phrase_topk: ONE per-doc term→positions
    map, every query an expression over it. The exclusion probe is
    array_intersect(window_sequence, exclude_positions) == empty per
    start — the exclude positions are an O(1) map probe and the window a
    small sequence, so the re-evaluation edge does not bite."""
    spark = docs.sparkSession
    qdefs: dict[int, tuple[list[str], str]] = {}
    for qid, inc, exc in queries:
        terms = py_tokenize(inc)
        et = py_tokenize(exc)
        if terms and len(et) == 1:
            qdefs[int(qid)] = (terms, et[0])
    if not qdefs:
        return spark.createDataFrame(
            [], "query_id long, rank long, doc_id long, n_occurrences long"
        )
    all_terms = sorted(
        {t for ts, e in qdefs.values() for t in ts} | {e for _, e in qdefs.values()}
    )
    pp = positional_postings(docs, text_col, id_col).filter(
        F.col("term").isin(all_terms)
    )
    per_doc = pp.groupBy("doc_id").agg(
        F.map_from_entries(F.collect_list(F.struct("term", "ps"))).alias("m")
    )

    def count_expr(terms: list[str], exc: str) -> Column:
        exc_ps = F.coalesce(
            F.element_at(F.col("m"), exc), F.array().cast("array<int>")
        )
        span = len(terms)

        def survives(p: Column) -> Column:
            # positions are 1-based; sequence may start at <= 0 near the
            # doc head — those indices match no real position, which is
            # exactly the boundary semantics (nothing before the doc)
            window = F.sequence(p - F.lit(pre), p + F.lit(span - 1 + post))
            return F.size(F.array_intersect(window, exc_ps)) == 0

        return F.size(F.filter(_phrase_start_positions(terms), survives))

    entries = F.array(
        *[
            F.struct(
                F.lit(qid).cast("long").alias("query_id"),
                count_expr(terms, exc).cast("long").alias("n"),
            )
            for qid, (terms, exc) in sorted(qdefs.items())
        ]
    )
    counts = (
        per_doc.select("doc_id", F.explode(entries).alias("e"))
        .select("doc_id", F.col("e.query_id").alias("query_id"),
                F.col("e.n").alias("n_occurrences"))
        .filter(F.col("n_occurrences") > 0)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("n_occurrences"), F.asc("doc_id")
    )
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "n_occurrences")
    )


def span_containing_topk(docs: DataFrame,
                         queries: list[tuple[int, str, int, str]],
                         k: int = 10, text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """Lucene SpanContainingQuery(big, little) → DF[query_id, rank, doc_id,
    n_spans]: big spans that CONTAIN an occurrence of the little query —
    the dual of span_not/not_containing (keep-when-inside instead of
    drop-when-inside), closing the span family. Queries are
    (query_id, "a b", slop, "little_term") tuples: big = the ordered pair
    (a, b) with interior gap ≤ slop, enumerated MINIMALLY (for each a
    position, the FIRST b after it within reach — the same
    IntervalIterator anchoring intervals_topk pins, so nested candidates
    never double-count); a big span [pa, pb] survives when some little
    position q satisfies pa ≤ q ≤ pb. Docs rank by surviving-span count
    (exact integers, the phrase family's total order).

    Same one-pass batch shape as span_not: ONE per-doc term→positions
    map, every query an expression over it. Per a-position work is two
    O(positions) array probes (first-b, little-inside); the (pa, pb)
    pair materializes ONCE per element through transform-to-struct — the
    documented remedy for the lambda re-evaluation edge."""
    spark = docs.sparkSession
    qdefs: dict[int, tuple[str, str, int, str]] = {}
    for qid, big, slop, little in queries:
        terms = py_tokenize(big)
        lt = py_tokenize(little)
        if len(terms) == 2 and len(lt) == 1:
            qdefs[int(qid)] = (terms[0], terms[1], int(slop), lt[0])
    if not qdefs:
        return spark.createDataFrame(
            [], "query_id long, rank long, doc_id long, n_spans long"
        )
    all_terms = sorted(
        {t for a, b, _, c in qdefs.values() for t in (a, b, c)}
    )
    pp = positional_postings(docs, text_col, id_col).filter(
        F.col("term").isin(all_terms)
    )
    per_doc = pp.groupBy("doc_id").agg(
        F.map_from_entries(F.collect_list(F.struct("term", "ps"))).alias("m")
    )

    def probe(t: str) -> Column:
        return F.coalesce(
            F.element_at(F.col("m"), t), F.array().cast("array<int>")
        )

    def count_expr(a: str, b: str, slop: int, c: str) -> Column:
        ps_b, ps_c = probe(b), probe(c)
        spans = F.transform(
            probe(a),
            lambda pa: F.struct(
                pa.alias("pa"),
                F.array_min(
                    F.filter(
                        ps_b,
                        lambda q: (q > pa) & (q <= pa + F.lit(slop + 1)),
                    )
                ).alias("pb"),
            ),
        )
        return F.size(
            F.filter(
                spans,
                lambda s: s["pb"].isNotNull()
                & (
                    F.size(
                        F.filter(
                            ps_c,
                            lambda q: (q >= s["pa"]) & (q <= s["pb"]),
                        )
                    )
                    > 0
                ),
            )
        )

    entries = F.array(
        *[
            F.struct(
                F.lit(qid).cast("long").alias("query_id"),
                count_expr(a, b, slop, c).cast("long").alias("n"),
            )
            for qid, (a, b, slop, c) in sorted(qdefs.items())
        ]
    )
    counts = (
        per_doc.select("doc_id", F.explode(entries).alias("e"))
        .select("doc_id", F.col("e.query_id").alias("query_id"),
                F.col("e.n").alias("n_spans"))
        .filter(F.col("n_spans") > 0)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("n_spans"), F.asc("doc_id"))
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "n_spans")
    )


def span_within_topk(docs: DataFrame,
                     queries: list[tuple[int, str, int, str]],
                     k: int = 10, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Lucene SpanWithinQuery(big, little) → DF[query_id, rank, doc_id,
    n_within]: the exact DUAL of span_containing_topk — the matching
    spans are the LITTLE query's occurrences that sit inside some big
    span, so the count is over little POSITIONS (each counted once, even
    when covered by several big spans — Lucene returns each little span
    once), not over big spans. Queries share span_containing's
    (query_id, "a b", slop, "little_term") shape; big spans are the same
    minimal ordered (a, first-b-within-reach) windows.

    Plan: same one-pass batch shape — ONE per-doc term→positions map,
    every query an expression over it. The big-span structs materialize
    once per query through the exploded entry struct (the
    transform-to-struct remedy), so the per-little-position containment
    probe filters a BOUND array, not a re-evaluated expression."""
    spark = docs.sparkSession
    qdefs: dict[int, tuple[str, str, int, str]] = {}
    for qid, big, slop, little in queries:
        terms = py_tokenize(big)
        lt = py_tokenize(little)
        if len(terms) == 2 and len(lt) == 1:
            qdefs[int(qid)] = (terms[0], terms[1], int(slop), lt[0])
    if not qdefs:
        return spark.createDataFrame(
            [], "query_id long, rank long, doc_id long, n_within long"
        )
    all_terms = sorted(
        {t for a, b, _, c in qdefs.values() for t in (a, b, c)}
    )
    pp = positional_postings(docs, text_col, id_col).filter(
        F.col("term").isin(all_terms)
    )
    per_doc = pp.groupBy("doc_id").agg(
        F.map_from_entries(F.collect_list(F.struct("term", "ps"))).alias("m")
    )

    def probe(t: str) -> Column:
        return F.coalesce(
            F.element_at(F.col("m"), t), F.array().cast("array<int>")
        )

    def spans_expr(a: str, b: str, slop: int) -> Column:
        ps_b = probe(b)
        return F.filter(
            F.transform(
                probe(a),
                lambda pa: F.struct(
                    pa.alias("pa"),
                    F.array_min(
                        F.filter(
                            ps_b,
                            lambda q: (q > pa) & (q <= pa + F.lit(slop + 1)),
                        )
                    ).alias("pb"),
                ),
            ),
            lambda s: s["pb"].isNotNull(),
        )

    entries = F.array(
        *[
            F.struct(
                F.lit(qid).cast("long").alias("query_id"),
                spans_expr(a, b, slop).alias("spans"),
                probe(c).alias("lc"),
            )
            for qid, (a, b, slop, c) in sorted(qdefs.items())
        ]
    )
    # the explode materializes each query's spans array ONCE; the nested
    # containment filter then reads the bound struct fields.
    exploded = per_doc.select("doc_id", F.explode(entries).alias("e"))
    counts = exploded.select(
        "doc_id",
        F.col("e.query_id").alias("query_id"),
        F.size(
            F.filter(
                F.col("e.lc"),
                lambda q: F.exists(
                    F.col("e.spans"),
                    lambda s: (q >= s["pa"]) & (q <= s["pb"]),
                ),
            )
        )
        .cast("long")
        .alias("n_within"),
    ).filter(F.col("n_within") > 0)
    w = Window.partitionBy("query_id").orderBy(F.desc("n_within"), F.asc("doc_id"))
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "n_within")
    )


# ------------------------------------------------- round-4 session-7


def intervals_topk(docs: DataFrame, queries: list[tuple[int, str, int, str]],
                   k: int = 10, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """ES ``intervals`` query → DF[query_id, rank, doc_id, n_intervals]:
    MINIMAL ordered intervals of a two-term ``match`` with ``max_gaps``,
    under a ``not_containing`` filter — (query_id, "a b", max_gaps,
    "not_term") tuples. The intervals surface differs from the span
    family on two axes this entry pins down:

    * **Minimality** (the Lucene IntervalIterator contract): an interval
      survives only if it contains no smaller qualifying interval — for
      the pair (a, b): b's interval anchors at the LAST a before it, and
      survives only if b is the FIRST b after that anchor (both checks
      are O(positions) array probes; nested [a1, a2, b] yields one
      interval [a2, b], never [a1, b]).
    * **not_containing**: the filtered term may appear nowhere INSIDE
      [start, end] — contrast SpanNot's pre/post margins, which probe
      OUTSIDE a contiguous span.

    max_gaps counts interior slack (b − a − 1 ≤ gaps; 0 = adjacent).
    Docs rank by qualifying-interval count (exact integers, the phrase
    family's total order). Same one-pass shape as span_not: ONE per-doc
    term→positions map, every query an expression over it."""
    spark = docs.sparkSession
    qdefs: dict[int, tuple[str, str, int, str]] = {}
    for qid, pair, gaps, notc in queries:
        ts = py_tokenize(pair)
        nt = py_tokenize(notc)
        if len(ts) == 2 and len(nt) == 1:
            qdefs[int(qid)] = (ts[0], ts[1], int(gaps), nt[0])
    if not qdefs:
        return spark.createDataFrame(
            [], "query_id long, rank long, doc_id long, n_intervals long"
        )
    all_terms = sorted(
        {x for a, b, _, c in qdefs.values() for x in (a, b, c)}
    )
    pp = positional_postings(docs, text_col, id_col).filter(
        F.col("term").isin(all_terms)
    )
    per_doc = pp.groupBy("doc_id").agg(
        F.map_from_entries(F.collect_list(F.struct("term", "ps"))).alias("m")
    )

    def count_expr(ta: str, tb: str, gaps: int, tc: str) -> Column:
        empty = F.array().cast("array<int>")
        pa = F.coalesce(F.element_at(F.col("m"), ta), empty)
        pb = F.coalesce(F.element_at(F.col("m"), tb), empty)
        pc = F.coalesce(F.element_at(F.col("m"), tc), empty)

        # Materialize each candidate's anchor ONCE via transform-to-struct:
        # referencing `a` four times inside one filter lambda re-evaluates
        # the array_max(filter(...)) per use site (the Catalyst lambda
        # re-evaluation edge — measured 8x here), while a struct field is
        # a cheap access on the already-computed element.
        cand = F.transform(
            pb,
            lambda b: F.struct(
                b.alias("b"),
                F.array_max(F.filter(pa, lambda x: x < b)).alias("a"),
            ),
        )

        def qualifies(s: Column) -> Column:
            a, b = s["a"], s["b"]
            return (
                a.isNotNull()
                & (F.array_min(F.filter(pb, lambda x: x > a)) == b)
                & (b - a - 1 <= F.lit(gaps))
                & (F.size(F.filter(pc, lambda x: (x >= a) & (x <= b))) == 0)
            )

        return F.size(F.filter(cand, qualifies))

    entries = F.array(
        *[
            F.struct(
                F.lit(qid).cast("long").alias("query_id"),
                count_expr(*args).cast("long").alias("n"),
            )
            for qid, args in sorted(qdefs.items())
        ]
    )
    counts = (
        per_doc.select("doc_id", F.explode(entries).alias("e"))
        .select("doc_id", F.col("e.query_id").alias("query_id"),
                F.col("e.n").alias("n_intervals"))
        .filter(F.col("n_intervals") > 0)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("n_intervals"), F.asc("doc_id")
    )
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "n_intervals")
    )
