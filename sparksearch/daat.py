"""Q1–Q4: document-at-a-time top-k over the compressed index (SURVEY.md §2.5).

Physical query path (BASELINE.json:6: "document-at-a-time posting-list
intersection with block-max WAND pruning and a bounded min-heap per
partition"):

  dictionary ⋈ broadcast(query terms)      — Q1: term resolution (BHJ)
  segments.filter(bucket ∈ …, term ∈ …)    — Q2: partition-pruned, predicate-
                                             pushed scan of exactly the query
                                             terms' block rows
  groupBy(range_id).applyInPandas(daat)    — Q3: per doc-range shard: decode,
                                             score, block-max prune, bounded
                                             top-k candidate set (≤ k + ties)
  topk_per_query window                     — Q4: global merge of ≤ shards·k rows

Exactness of the pruning (rank-identity-critical, SURVEY.md §7.4.2): ranges
partition docID space and a document's postings for *every* term live in its
range (build.py layout), so per-shard scores are complete. Within a shard the
traversal is region-ordered block-max WAND: the block grid of the query's
terms is overlaid into docID regions; each region's score upper bound is
Σ_t qtf_t·blockmax_t(region); regions are visited in UB-descending order.

The shard ranks by the engine's total order (round6(score) DESC, doc_id
ASC), the same order the ``topk_per_query`` merge uses. round6 is monotone
and moves a score by at most 5e-7 (+ ≤ 5e-10 from its 9-dp pre-quantize), so
a document can tie or beat the kth candidate after rounding only if its raw
score is ≥ θ − _TIE (θ = current kth RAW score). Hence the bounded
candidate set keeps every score ≥ θ − _TIE, traversal stops once
UB < θ − _TIE, and round6 is applied once, to the few survivors, for the
final (round6 DESC, doc_id ASC) cut. (Cutting on the raw double would drop
the lower doc_id of two scores that round6 to the same value.) WAND on/off
is tested bit-identical.

All per-posting work is NumPy over Arrow batches; the only Python-level loop
is over *regions* (≥128 postings each), never rows (BASELINE.json:15).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import BM25_B, BM25_K1
from .build import load_index
from .querying import topk_per_query
from .stats import round6_np

#: Raw-score margin within which two scores may tie or swap under round6:
#: twice its largest move (half a 6th-decimal unit + the 9-dp pre-quantize),
#: plus float noise in the UB sums.
_TIE = 2 * (5e-7 + 5e-10) + 1e-12


def attach_block_bound(qblocks: DataFrame, avgdl: float) -> DataFrame:
    """Derive each block's BM25 upper bound ``max_score`` from its stats-free
    impact pair (max_tf, min_dl) — codec.py.

    The pair is stored; the bound is computed HERE with the CURRENT
    dictionary idf and stats avgdl: BM25's term contribution is monotone
    ↑tf and ↓dl, so idf·score(max_tf, min_dl) ≥ every posting's contribution
    in the block — a valid WAND bound even for blocks encoded before the
    corpus grew (incremental resume). One constant-folded Catalyst
    projection; the group UDF sees the same ``max_score`` column shape the
    exact-max design had."""
    return qblocks.withColumn(
        "max_score",
        F.col("idf")
        * (F.col("max_tf") * F.lit(BM25_K1 + 1.0))
        / (
            F.col("max_tf")
            + F.lit(BM25_K1)
            * (F.lit(1.0 - BM25_B) + F.lit(BM25_B) * F.col("min_dl") / F.lit(avgdl))
        ),
    )


#: Minimum per-range posting volume (Σ df of the query's terms ÷ n_ranges)
#: before query-sharding pays: below this, extra Arrow groups cost more in
#: per-group overhead than they recover in balance (measured: 4-way sharding
#: at sf0.1 regressed 2.5s → 3.4s; at 800k docs it saved ~17% on 8 cores).
QSHARD_MIN_POSTINGS = 100_000


def _daat_group_fn(
    k: int,
    avgdl: float,
    wand: bool,
    nreq: dict | None = None,
    prune_partial_regions: bool = True,
    visit_log: list | None = None,
):
    """Group UDF over one doc-range shard: all query-term block rows in it.

    ``nreq`` switches on conjunctive (posting-list intersection) mode: map
    query_id → number of globally-resolved query terms; only documents
    matching ALL of them qualify. Regions partition docID space and every
    term's posting for a doc surfaces in the doc's one region, so the
    per-region distinct-term count is exact. The WAND region bound stays
    valid (it upper-bounds any doc's score, conjunctive or not); θ is fed
    only by fully-intersecting candidates.

    ``prune_partial_regions`` (conjunctive only): a region overlapped by
    blocks of FEWER than the query's required terms cannot contain a fully-
    intersecting document (a term with no block over the region has no
    posting there), so it is skipped outright — never decoded. Output is
    bit-identical with the flag off (the per-doc multiplicity filter already
    rejects those docs); the flag only removes wasted decode work. Exactness:
    a term's blocks are disjoint docID intervals and regions subdivide block
    edges, so a region lies inside ≤ 1 block per term — the per-region block
    count IS the distinct-term count.

    ``visit_log`` (tests only — plain-Python invocation, never on executors):
    appends the number of regions actually decoded per query."""

    def daat(pdf: pd.DataFrame) -> pd.DataFrame:
        from .codec import varint_decode

        out_q, out_d, out_s = [], [], []
        for qid, qpdf in pdf.groupby("query_id", sort=True):
            # --- assemble the per-term block grid (sorted for determinism)
            qpdf = qpdf.sort_values(["term", "first_doc_id"], kind="stable")
            firsts = qpdf["first_doc_id"].values.astype(np.int64)
            lasts = qpdf["last_doc_id"].values.astype(np.int64)
            weights = (qpdf["qtf"].values * qpdf["idf"].values).astype(np.float64)
            bmax = qpdf["max_score"].values * qpdf["qtf"].values

            # --- region overlay: breakpoints at block edges
            bp = np.unique(np.concatenate([firsts, lasts + 1]))
            lo, hi = bp[:-1], bp[1:]
            n_regions = lo.size
            # per region UB: each term's blocks are disjoint → at most one
            # block per (term, region); accumulate via interval membership.
            ub = np.zeros(n_regions, np.float64)
            term_cnt = np.zeros(n_regions, np.int64)
            block_of_region = []  # per block: slice of region indices it covers
            r_starts = np.searchsorted(lo, firsts, side="left")
            r_ends = np.searchsorted(lo, lasts, side="right")
            for i in range(len(firsts)):
                sl = slice(r_starts[i], r_ends[i])
                ub[sl] += bmax[i]
                term_cnt[sl] += 1  # ≤1 block per (term, region) ⇒ distinct terms
                block_of_region.append(sl)

            eligible = None
            if nreq is not None and prune_partial_regions:
                eligible = term_cnt >= nreq.get(int(qid), 0)

            order = np.argsort(-ub, kind="stable") if wand else np.arange(n_regions)

            # --- per-block decode cache (lazy)
            dec: dict[int, tuple] = {}

            def decode(i: int):
                got = dec.get(i)
                if got is None:
                    gaps = varint_decode(qpdf["doc_gaps"].values[i]).astype(np.int64)
                    ids = np.empty(gaps.size + 1, np.int64)
                    ids[0] = firsts[i]
                    if gaps.size:
                        ids[1:] = firsts[i] + np.cumsum(gaps)
                    tfs = varint_decode(qpdf["tfs"].values[i]).astype(np.float64)
                    dls = varint_decode(qpdf["dls"].values[i]).astype(np.float64)
                    # exact BM25 contribution, weighted by qtf (vectorized)
                    sc = weights[i] * (tfs * (BM25_K1 + 1.0)) / (
                        tfs + BM25_K1 * (1.0 - BM25_B + BM25_B * dls / avgdl)
                    )
                    got = dec[i] = (ids, sc)
                return got

            # region → overlapping block ids (inverse of block_of_region)
            regions_blocks: list[list[int]] = [[] for _ in range(n_regions)]
            for i, sl in enumerate(block_of_region):
                for r in range(sl.start, sl.stop):
                    regions_blocks[r].append(i)

            # --- bounded candidate set (the per-partition "min-heap")
            cand_ids = np.empty(0, np.int64)
            cand_sc = np.empty(0, np.float64)
            theta = -np.inf  # kth raw score among the candidates
            visited = 0
            for r in order:
                if wand and ub[r] < theta - _TIE:
                    break  # UB-descending order ⇒ nothing later can qualify
                if eligible is not None and not eligible[r]:
                    continue  # a required term has no block here — no full match
                visited += 1
                ids_parts, sc_parts = [], []
                for i in regions_blocks[r]:
                    ids, sc = decode(i)
                    a = np.searchsorted(ids, lo[r], side="left")
                    b = np.searchsorted(ids, hi[r], side="left")
                    if a < b:
                        ids_parts.append(ids[a:b])
                        sc_parts.append(sc[a:b])
                if not ids_parts:
                    continue
                rid = np.concatenate(ids_parts)
                rsc = np.concatenate(sc_parts)
                uids, inv = np.unique(rid, return_inverse=True)
                usc = np.bincount(inv, weights=rsc)
                if nreq is not None:
                    # ≤1 posting per (term, doc) per region ⇒ multiplicity
                    # of a doc in rid == number of matching query terms.
                    full = np.bincount(inv) == nreq.get(int(qid), 0)
                    uids, usc = uids[full], usc[full]
                    if not uids.size:
                        continue
                cand_ids = np.concatenate([cand_ids, uids])
                cand_sc = np.concatenate([cand_sc, usc])
                if cand_ids.size > k:
                    theta = np.partition(cand_sc, cand_ids.size - k)[cand_ids.size - k]
                    keep = cand_sc >= theta - _TIE  # keep round6 ties for doc_id break
                    cand_ids, cand_sc = cand_ids[keep], cand_sc[keep]
                elif cand_ids.size == k:
                    theta = cand_sc.min()

            if visit_log is not None:
                visit_log.append(visited)
            if cand_ids.size:
                top = np.lexsort((cand_ids, -round6_np(cand_sc)))[:k]
                out_q.append(np.repeat(np.int64(qid), top.size))
                out_d.append(cand_ids[top])
                out_s.append(cand_sc[top])
        if not out_q:
            return pd.DataFrame({"query_id": pd.Series([], dtype="int64"),
                                 "doc_id": pd.Series([], dtype="int64"),
                                 "score": pd.Series([], dtype="float64")})
        return pd.DataFrame(
            {
                "query_id": np.concatenate(out_q),
                "doc_id": np.concatenate(out_d),
                "score": np.concatenate(out_s),
            }
        )

    return daat


def daat_topk(
    spark: SparkSession,
    index_path: str,
    queries: list[tuple[int, str]],
    k: int = 10,
    wand: bool = True,
    conjunctive: bool = False,
) -> DataFrame:
    """Top-k over a built index → DF[query_id, rank, doc_id, score].

    ``conjunctive=True`` = posting-list intersection semantics: only docs
    containing every resolved query term rank (tested identical to the
    logical path querying.score_logical_conjunctive)."""
    from collections import Counter

    from .tokenize import py_tokenize

    segments, dictionary, stats = load_index(spark, index_path)
    # Q1 resolution: queries tokenize on the driver (they are a driver-side
    # list already), and the dictionary lookup is ONE pushdown-filtered scan
    # of the needed terms — no broadcast-join job for a |queries|·|terms|-
    # sized result (the join ran a broadcast exchange + join stage only to
    # produce rows we immediately collect; at vocab scale the isin predicate
    # prunes the dictionary scan by row-group stats just as well).
    qtf_map: dict[tuple[int, str], int] = {}
    for qid, text in queries:
        for t, c in sorted(Counter(py_tokenize(text)).items()):
            qtf_map[(int(qid), t)] = int(c)
    needed = sorted({t for _, t in qtf_map})
    dinfo = {
        r["term"]: r
        for r in dictionary.filter(F.col("term").isin(needed))
        .select("term", "bucket", "idf", "df")
        .collect()
    } if needed else {}
    rows = [
        {
            "term": t, "bucket": dinfo[t]["bucket"], "query_id": qid,
            "qtf": qtf, "idf": dinfo[t]["idf"], "df": dinfo[t]["df"],
        }
        for (qid, t), qtf in sorted(qtf_map.items(), key=lambda kv: (kv[0][0], kv[0][1]))
        if t in dinfo
    ]
    if not rows:
        return spark.createDataFrame(
            [], "query_id int, rank int, doc_id long, score double"
        )
    terms = sorted({r["term"] for r in rows})
    buckets = sorted({int(r["bucket"]) for r in rows})

    # Q2: pruned fetch — bucket prunes parquet partitions, term pushes down.
    # Explicit projection: a positional index carries the poss stream in the
    # same rows (build.SEGMENT_COLS_POS); DAAT scores from tf/dl only, and
    # the select keeps those bytes out of the scan AND the Arrow transfer
    # into the group kernel (mapInPandas ships every input column).
    blocks = segments.filter(
        F.col("bucket").isin(buckets) & F.col("term").isin(terms)
    ).select(
        "term", "range_id", "first_doc_id", "last_doc_id",
        "doc_gaps", "tfs", "dls", "max_tf", "min_dl",
    )
    qmeta = spark.createDataFrame(
        [(r["term"], int(r["query_id"]), int(r["qtf"]), float(r["idf"])) for r in rows],
        "term string, query_id int, qtf int, idf double",
    )
    avgdl = float(stats["avgdl"])
    qblocks = attach_block_bound(blocks.join(F.broadcast(qmeta), "term"), avgdl)

    nreq = None
    if conjunctive:
        nreq = {}
        for r in rows:
            nreq[int(r["query_id"])] = nreq.get(int(r["query_id"]), 0) + 1

    # Shard per (doc-range, query-shard): the group fn already handles any
    # number of queries per group (per-query θ/candidate set), so a finer key
    # changes no semantics — it balances shards (a hot range carrying every
    # query's blocks was the 8-core straggler at 800k docs, ~17%). The shard
    # count is ADAPTIVE, derived from the dictionary's df stats already on
    # the driver: sharding only pays when per-range work is fat enough to
    # amortize the extra Arrow groups' per-group overhead — at small corpora
    # a static 4-way split quadrupled group count on tiny groups and
    # regressed latency 34% (round-2 bench). Σ df over the resolved
    # (query, term) rows IS the posting count the shards will decode.
    work = sum(int(r["df"]) for r in rows)
    per_range = work / max(int(stats.get("n_ranges", 1)), 1)
    n_qshards = max(1, min(4, int(per_range // QSHARD_MIN_POSTINGS)))
    if n_qshards > 1:
        grouped = qblocks.withColumn(
            "qshard", F.pmod(F.col("query_id"), F.lit(n_qshards))
        ).groupBy("range_id", "qshard")
    else:
        grouped = qblocks.groupBy("range_id")
    partial = grouped.applyInPandas(
        _daat_group_fn(k, avgdl, wand, nreq),
        "query_id long, doc_id long, score double",
    )
    return topk_per_query(partial, k)
