"""B1–B5 + S4: physical inverted-index build (SURVEY.md §2.4).

One index layout (flat block rows — parquet-native so term/bucket
predicates push down to the scan, no nested decode needed for pruning),
grown one generation at a time. A single-shot build is generation 0; an
incremental finalize (checkpoint.py) appends generation ``next_gen``. Both
commit through ``_commit_generation``:

    segments/gen=<g>/bucket=<b>/*.parquet
      term, range_id, first_doc_id, last_doc_id, n, doc_gaps, tfs, dls,
      max_tf, min_dl (+ poss — the positional 4th varint stream — when the
      index is built with_positions; stats.json: positions="blocks")
    dictionary_gen_<g>/*.parquet      cumulative dictionary snapshot
      term, df, cf, idf, max_tf, min_dl, bucket
    dict_sorted_gen_<g>/, dict_rsorted_gen_<g>/   expansion sidecars
    stats.json   {n_docs, sum_dl, avgdl, range_size, n_ranges, n_buckets,
                  block_size, n_gens, next_gen, dictionary_dir,
                  dict_sorted_dir, dict_rsorted_dir, finalized_units,
                  finalize_input_postings} — the commit point

Scale design (BASELINE.json:6,14 — "salted repartitioning on term to defuse
Zipfian term skew"):

* ``range_id = doc_id // range_size`` is the deterministic doc-space salt:
  repartitioning on (term, range_id) fans a hot term's postings over
  ``n_ranges`` independent reducers — no single task ever owns a hot term's
  full list. Deterministic (derived from doc_id, never rand()) so retries,
  resume and rebuilds produce byte-identical segments.
* Ranges are *contiguous* docID intervals, so (a) delta gaps stay small
  (good compression), (b) a document's postings for every term live in the
  same range — which is exactly what lets query-time DAAT shard by range_id
  and keep a bounded min-heap per shard (sparksearch.daat).
* The "global segment layout" merge (B4) is the (term, range_id) → bucket
  repartition + partitionBy(bucket) write: ranges are disjoint and ordered,
  so the global docID-sorted list per term is the range-ordered concatenation
  of sub-lists — the k-way merge is positional, paid zero compute.
* Block-max WAND metadata is the stats-FREE impact pair (max_tf, min_dl) —
  see codec.py. Consequences: (a) the encoder needs NO term-stats join at
  all (the old per-posting BM25-score column and its broadcast join are
  gone — the salted exchange moves 4 columns), and (b) a block's bytes
  depend only on its own postings, so committed segments stay valid when
  the corpus grows — the foundation of the incremental resume merge
  (checkpoint.py). The Python side is pure NumPy over Arrow batches
  (BASELINE.json:15 — no per-row Python).
"""

from __future__ import annotations

import json
import math
import os
import shutil

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .codec import BLOCK_SIZE, encode_sublist
from .stats import doc_freq, with_idf

SEGMENT_COLS = (
    "term string, range_id int, first_doc_id long, last_doc_id long, n int, "
    "doc_gaps binary, tfs binary, dls binary, max_tf long, min_dl long"
)

#: Positional layout: SEGMENT_COLS + the 4th varint stream (codec.py
#: ``poss`` — per-posting position blobs concatenated per block, split key =
#: the tfs stream). One artifact carries postings AND positions, so resume
#: generations and compaction govern a single physical layout (round-3
#: verdict item #6); phrase/span queries prune it by (bucket, term) exactly
#: like Q2 and never touch a second directory.
SEGMENT_COLS_POS = SEGMENT_COLS + ", poss binary"

_SEGMENT_COL_NAMES = [c.split(" ")[0] for c in SEGMENT_COLS.split(", ")]
_SEGMENT_COL_NAMES_POS = _SEGMENT_COL_NAMES + ["poss"]

#: Encoder-output twin of SEGMENT_COLS: blocks leave the encode group keyed by
#: the int64 term id (the string never rides the salted exchange) and the
#: string is restored by the vocab join in ``build_segments``.
_TID_SEGMENT_COLS = "tid long, " + SEGMENT_COLS.split(", ", 1)[1]
_TID_SEGMENT_COLS_POS = "tid long, " + SEGMENT_COLS_POS.split(", ", 1)[1]


def _write_json_atomic(path: str, obj: dict) -> None:
    """Write ``obj`` to a temp file, then rename it over ``path``: a reader
    sees the old file or the new one, never a partial write. stats.json is
    an index's commit point, and each commit gives it a new file identity
    (daat.py keys its index cache on that)."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)  # atomic commit


def _tok_tf_kernel(text_col: str, id_col: str, code_aware: bool = False,
                   with_positions: bool = False):
    """mapInPandas kernel: raw docs → exploded (doc_id, term, tf, dl) postings
    in ONE vectorized Arrow pass — tokenize, per-doc term counting and doc
    length all happen map-side, so the postings frame needs NO occurrence
    shuffle (the old explode → groupBy(term, doc_id) moved every token
    occurrence — ~2.3× the posting count — through an exchange) and NO
    doc-length join later (dl rides along as a column). Token-empty docs
    contribute no rows — identical to the explode/groupBy semantics and the
    DuckDB oracle's ``WHERE term <> ''``. Per-batch work is pandas/NumPy
    C kernels (str.findall, hash groupby, repeat/concat) — no per-row Python
    beyond the token-list flatten.

    ``with_positions=True`` additionally emits ``pos_blob`` — the 1-based
    occurrence positions of term in doc, delta+varint encoded (first raw,
    then gaps; same LEB128 as the posting blocks) — from the SAME tokenize
    pass: tokenization is the dominant map cost at corpus scale, and
    positions must never pay it twice (round-2 verdict item #3).
    The (doc_id, term, tf, dl, lead) values are identical in both modes
    (tf ≡ number of positions; lead ≡ first emitted row per doc)."""

    def fn(it):
        from itertools import chain

        from .codec import varint_encode
        from .tokenize import _CAMEL_RE, TOKEN_RE

        for pdf in it:
            if not len(pdf):
                continue
            # NULL text ⇒ no tokens ⇒ no postings — same as the declarative
            # twin (tokens_col of NULL is NULL, explode drops it) and the
            # DuckDB oracle's WHERE term <> ''. Without the fillna,
            # str.findall yields None rows and the flatten crashes.
            texts = pdf[text_col].fillna("")
            if code_aware:
                # identifier splitting (snake_case/camelCase) — same
                # semantics as tokenize._tokenize_code_udf / py_tokenize_code
                texts = texts.str.replace(_CAMEL_RE, " ", regex=True).str.replace("_", " ")
            toks = texts.str.lower().str.findall(TOKEN_RE)
            lens = toks.str.len().to_numpy(dtype=np.int64)
            if int(lens.sum()) == 0:
                continue
            if not with_positions:
                flat = np.asarray(list(chain.from_iterable(toks)), dtype=object)
                didx = np.repeat(np.arange(len(pdf), dtype=np.int64), lens)
                g = (
                    pd.DataFrame({"d": didx, "term": flat})
                    .groupby(["d", "term"], sort=False)
                    .size()
                    .reset_index(name="tf")
                )
                d = g["d"].to_numpy()
                # lead: exactly one True row per document (its first posting)
                # — lets per-DOC stats (n_docs, Σdl) ride the
                # posting frame as map-only filters/Observations, no doc_id
                # shuffle.
                lead = np.empty(len(d), dtype=bool)
                if len(d):
                    lead[0] = True
                    lead[1:] = d[1:] != d[:-1]
                yield pd.DataFrame(
                    {
                        "doc_id": pdf[id_col].to_numpy()[d],
                        "term": g["term"].to_numpy(),
                        "tf": g["tf"].to_numpy().astype(np.int32),
                        "dl": lens[d].astype(np.int32),
                        "lead": lead,
                    }
                )
                continue
            # Positional mode: per doc, stable-sort tokens so each term's
            # occurrence positions stay ascending, then delta+varint-encode
            # each (doc, term) run. tf/dl/lead come from the same runs —
            # value-identical to the fast path above.
            ids_in = pdf[id_col].to_numpy()
            ids_out, terms_out, tf_out, dl_out, lead_out, blobs = [], [], [], [], [], []
            for i, tl in enumerate(toks):
                if not tl:
                    continue
                arr = np.asarray(tl, dtype=object)
                order = np.argsort(arr, kind="stable")
                st = arr[order]
                pos = (np.arange(arr.size, dtype=np.int64) + 1)[order]
                starts = np.flatnonzero(
                    np.concatenate(([True], st[1:] != st[:-1]))
                )
                ends = np.concatenate((starts[1:], [st.size]))
                first = True
                for s, e in zip(starts, ends):
                    p = pos[s:e]
                    gaps = np.concatenate(([p[0]], np.diff(p))).astype(np.uint64)
                    ids_out.append(ids_in[i])
                    terms_out.append(st[s])
                    tf_out.append(e - s)
                    dl_out.append(arr.size)
                    lead_out.append(first)
                    blobs.append(varint_encode(gaps))
                    first = False
            if ids_out:
                yield pd.DataFrame(
                    {
                        "doc_id": np.asarray(ids_out, dtype=np.int64),
                        "term": np.asarray(terms_out, dtype=object),
                        "tf": np.asarray(tf_out, dtype=np.int32),
                        "dl": np.asarray(dl_out, dtype=np.int32),
                        "lead": np.asarray(lead_out, dtype=bool),
                        "pos_blob": blobs,
                    }
                )

    return fn


def tokenize_tf(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                code_aware: bool = False, with_positions: bool = False) -> DataFrame:
    """The build hot path's first stage: DF[doc_id, term, tf, dl, lead
    (, pos_blob)] via the one-pass Arrow kernel. Tested equal to the
    declarative twin term_freq(explode_postings(tokenize(docs))) ⋈ doc_len
    (test_index.py).

    ``code_aware=True`` (opt-in, off by default — golden tests and oracles
    pin the plain tokenizer) splits snake_case/camelCase identifiers before
    tokenizing, for source-code corpora (BASELINE.json input_hint).
    ``with_positions=True`` adds the delta+varint positional blob per
    (doc, term) from the same pass (kernel docstring)."""
    schema = "doc_id long, term string, tf int, dl int, lead boolean"
    if with_positions:
        schema += ", pos_blob binary"
    return docs.mapInPandas(
        _tok_tf_kernel(text_col, id_col, code_aware, with_positions), schema
    )


def _encode_group_fn(block_size: int, key_col: str = "tid",
                     with_positions: bool = False):
    def encode(pdf: pd.DataFrame) -> pd.DataFrame:
        # One group = one (tid, range_id) sub-list. Arrow batch in, NumPy only.
        order = np.argsort(pdf["doc_id"].values, kind="stable")
        ids = pdf["doc_id"].values[order]
        tfs = pdf["tf"].values[order]
        dls = pdf["dl"].values[order]
        pos_blobs = pdf["pos_blob"].values[order] if with_positions else None
        enc = encode_sublist(ids, tfs, block_size, dls=dls, pos_blobs=pos_blobs)
        nb = len(enc["n"])
        out = {
            key_col: np.repeat(pdf[key_col].iloc[0], nb),
            "range_id": np.repeat(np.int32(pdf["range_id"].iloc[0]), nb),
            "first_doc_id": enc["first_doc_id"],
            "last_doc_id": enc["last_doc_id"],
            "n": enc["n"],
            "doc_gaps": enc["doc_gaps"],
            "tfs": enc["tfs"],
            "dls": enc["dls"],
            "max_tf": enc["max_tf"],
            "min_dl": enc["min_dl"],
        }
        if with_positions:
            out["poss"] = enc["poss"]
        return pd.DataFrame(out)

    return encode


def build_segments(
    tf_df: DataFrame,
    dl_df: DataFrame | None,
    range_size: int,
    n_buckets: int = 64,
    block_size: int = BLOCK_SIZE,
) -> DataFrame:
    """B1–B4: postings → flat block rows with bucket column.

    tf_df: [term, doc_id, tf, dl(, pos_blob)] — tokenize_tf output, which
    carries dl; ``dl_df`` is unused (callers pass None). The encoder is
    STATS-FREE (impact-pair block metadata, codec.py), so no term-stats
    join touches the postings: the salted (tid, range_id) repartition
    below is the ONLY full-data exchange this function adds, moving exactly
    FOUR FIXED-WIDTH columns per posting: tid int64, doc_id int64, tf int32,
    dl int32 (+ the int32 range key). The term STRING never rides it —
    measured at mean-term-length+offset bytes per posting, the exchange's
    dominant payload before this change and the memory-bandwidth wall the
    round-3 scaling attempts hit. The string is restored AFTER the encode
    group by joining the block-sized frame (≈ postings/BLOCK_SIZE rows)
    against a vocab map built with one vocab-sized exchange (map-side
    partial collect_set dedup); AQE broadcasts the vocab when small, SMJ
    otherwise.

    tid = xxhash64(term) — deterministic, map-side, no assignment pass. A
    64-bit collision would silently merge two terms' lists, so the vocab
    carries a lazy ``raise_error`` branch: any tid owning ≥2 distinct terms
    aborts the build the moment the restore join evaluates it (no extra
    audit job; expected collisions at a 10^9-term vocabulary ≈ 3% for ONE
    pair somewhere — and the abort names it for a salt bump).

    When tf_df carries ``pos_blob`` (tokenize_tf with_positions=True), the
    per-posting positional blob rides the SAME exchange and lands in the
    block rows as the 4th varint stream (SEGMENT_COLS_POS / codec ``poss``)
    — positions are delta+varint (≈1–2 bytes per occurrence), so the
    positional build's exchange grows by ~avg_tf·2 bytes per posting while
    buying a single physical artifact for postings AND positions (one
    resume/compaction story, one pruned fetch at query time)."""
    with_positions = "pos_blob" in tf_df.columns
    cols = [
        F.xxhash64("term").alias("tid"),
        F.col("doc_id").alias("doc_id"),
        # Narrow types through the B1 exchange + Arrow boundary: tf/dl
        # fit int32 by construction (dl is a per-doc token count).
        F.col("tf").cast("int").alias("tf"),
        F.col("dl").cast("int").alias("dl"),
        (F.col("doc_id") / F.lit(int(range_size))).cast("int").alias("range_id"),
    ]
    if with_positions:
        cols.append(F.col("pos_blob"))
    scored = tf_df.select(*cols)
    # tid → term restore map, O(vocab): ONE exchange whose payload is the
    # distinct vocabulary (collect_set partial-aggregates map-side, so each
    # task ships its local vocab once, not its postings).
    vocab = (
        tf_df.groupBy(F.xxhash64("term").alias("tid"))
        .agg(F.collect_set("term").alias("_terms"))
        .select(
            "tid",
            F.when(F.size("_terms") == 1, F.element_at("_terms", 1))
            .otherwise(F.raise_error(F.concat(
                F.lit("xxhash64 term-id collision — bump the tid salt: "),
                F.to_json("_terms"),
            )))
            .alias("term"),
        )
    )
    # B1: deterministic salted repartition — hot terms fan out over ranges.
    parts = tf_df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    salted = scored.repartition(int(parts), "tid", "range_id")
    # B2+B3: per-(tid, range) sort + block encode (NumPy inside Arrow batches).
    blocks = salted.groupBy("tid", "range_id").applyInPandas(
        _encode_group_fn(block_size, with_positions=with_positions),
        _TID_SEGMENT_COLS_POS if with_positions else _TID_SEGMENT_COLS,
    )
    # Restore the term string on the block-sized frame, then B4: assign the
    # global layout bucket (deterministic hash of term).
    names = _SEGMENT_COL_NAMES_POS if with_positions else _SEGMENT_COL_NAMES
    return (
        blocks.join(vocab, "tid")
        .select(*names)
        .withColumn(
            "bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int")
        )
    )


def build_index(
    spark: SparkSession,
    docs: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
    n_ranges: int | None = None,
    block_size: int = BLOCK_SIZE,
    code_aware: bool = False,
    with_positions: bool = False,
) -> dict:
    """Full single-shot build: documents → generation 0 of the index at
    ``index_path`` (``finalize_index``).

    For the resumable per-unit path see ``checkpoint.build_resumable`` — it
    stages postings per unit and commits each finalize as the next
    generation through the same ``_commit_generation``. ``code_aware`` opts
    into identifier splitting for source-code corpora (queries must then be
    tokenized with tokenize.py_tokenize_code to match).
    ``with_positions=True`` folds occurrence positions into the segment
    block rows as the 4th varint stream (codec ``poss``; stats.json
    ``positions: blocks``) — from the SAME single tokenize pass, through the
    SAME salted exchange: one corpus read, one physical artifact for
    postings and positions.
    """
    # ONE Arrow pass: tokenize + per-doc tf + dl (+ positions), all map-side.
    tf_df = tokenize_tf(
        docs.select(F.col(id_col).alias("doc_id"), text_col), text_col,
        code_aware=code_aware, with_positions=with_positions,
    )
    return finalize_index(
        spark, tf_df, index_path,
        n_buckets=n_buckets, n_ranges=n_ranges, block_size=block_size,
    )


def _persist_observed(tf_df: DataFrame, *extra) -> tuple[DataFrame, dict]:
    """Persist tokenize_tf postings and materialize them in ONE job that
    also observes their totals: n_postings, n_docs and sum_dl (``lead``
    marks one posting per doc, so per-doc sums are exact over posting rows
    — no doc-aggregate job, no doc_id exchange), plus ``extra`` aggregates."""
    from pyspark.sql import Observation

    obs = Observation()
    tf_df = tf_df.observe(
        obs,
        F.count(F.lit(1)).alias("n_postings"),
        F.sum(F.when(F.col("lead"), 1).otherwise(0)).alias("n_docs"),
        F.sum(F.when(F.col("lead"), F.col("dl")).otherwise(0)).alias("sum_dl"),
        *extra,
    ).persist()
    tf_df.count()
    return tf_df, {k: int(v or 0) for k, v in obs.get.items()}


#: Names a single-shot build replaces at its path: the layout's artifacts
#: and a resumable build's geometry, manifest and unit postings. Anything
#: else at the path is left alone.
_INDEX_NAMES = ("segments", "build_meta.json", "manifest", "postings")
_DICT_DIRS = ("dictionary", "dict_sorted", "dict_rsorted")


def _clear_index(index_path: str) -> None:
    """Remove this engine's artifacts from ``index_path``. stats.json stays
    until the commit replaces it, so the new one is a new file (daat.py
    keys its index cache on that identity)."""
    if not os.path.isdir(index_path):
        return
    for name in os.listdir(index_path):
        if name in _INDEX_NAMES or name.startswith(_DICT_DIRS):
            p = os.path.join(index_path, name)
            if os.path.isdir(p):
                shutil.rmtree(p)
            else:
                os.remove(p)


def finalize_index(
    spark: SparkSession,
    tf_df: DataFrame,
    index_path: str,
    n_buckets: int = 64,
    n_ranges: int | None = None,
    block_size: int = BLOCK_SIZE,
) -> dict:
    """Stage II, single shot: tokenize_tf postings [doc_id, term, tf, dl,
    lead(, pos_blob)] → generation 0 of a new index at ``index_path``,
    replacing the index there. max(doc_id) rides the job that materializes
    the postings and fixes ``range_size``; the rest is
    ``_commit_generation``, the code every incremental finalize runs."""
    if n_ranges is None:
        n_ranges = int(spark.conf.get("spark.sql.shuffle.partitions"))
    tf_df, new = _persist_observed(tf_df, F.max("doc_id").alias("max_id"))
    try:
        if not new["n_docs"]:  # no rows, or only token-free docs
            raise ValueError(
                "cannot build an index from an empty corpus "
                "(0 documents with at least one token)"
            )
        geometry = {
            "range_size": max(1, math.ceil((new["max_id"] + 1) / n_ranges)),
            "n_ranges": int(n_ranges),
            "n_buckets": int(n_buckets),
            "block_size": int(block_size),
        }
        _clear_index(index_path)
        return _commit_generation(spark, index_path, tf_df, new, geometry,
                                  0, None, [])
    finally:
        tf_df.unpersist()


def _commit_generation(
    spark: SparkSession,
    index_path: str,
    tf_df: DataFrame,
    new: dict,
    geometry: dict,
    gen: int,
    prev: dict | None,
    units: list[int],
) -> dict:
    """Write generation ``gen`` (segments, dictionary snapshot, sorted
    sidecars) and commit it in stats.json — the one writer of the layout:
    ``finalize_index`` commits gen 0 with ``prev=None``,
    ``checkpoint.finalize_incremental`` commits ``next_gen`` on top of the
    committed ``prev`` stats. ``tf_df`` is the generation's persisted
    postings and ``new`` their observed totals (``_persist_observed``);
    ``geometry`` pins range_size, n_ranges, n_buckets and block_size;
    ``units`` becomes ``finalized_units``.

    The blocks are encoded once (the only full-data exchange, build_segments)
    and cached; the three sinks run on CONCURRENT driver threads, and the
    dictionary's impact pair aggregates the cached blocks, not the written
    files. Crash safety: artifacts of ``gen`` that no stats.json recorded
    are a crashed finalize's leftovers and are rebuilt; segments are written
    under an underscore prefix (invisible to partition discovery) and
    renamed into place; stats.json (atomic replace) is THE commit point,
    after which superseded dictionary snapshots are removed."""
    from concurrent.futures import ThreadPoolExecutor

    seg_root = os.path.join(index_path, "segments")
    tmp_seg = os.path.join(seg_root, f"_tmp_gen_{gen}")
    seg_gen = os.path.join(seg_root, f"gen={gen}")
    for leftover in (tmp_seg, seg_gen) + tuple(
        os.path.join(index_path, f"{d}_gen_{gen}") for d in _DICT_DIRS
    ):
        shutil.rmtree(leftover, ignore_errors=True)

    n_docs = new["n_docs"] + (int(prev["n_docs"]) if prev else 0)
    sum_dl = new["sum_dl"] + (int(prev["sum_dl"]) if prev else 0)
    avgdl = sum_dl / n_docs

    seg = build_segments(
        tf_df, None, geometry["range_size"], geometry["n_buckets"],
        geometry["block_size"],
    ).persist()
    seg.count()  # run the one big exchange + encode; sinks below read cache
    # Dictionary: the generation's term stats and per-term impact pair
    # (stats-free, like the per-block pair: the query-time bound for a term
    # anywhere in the index), merged with the committed snapshot — df/cf
    # sum, impact pair max/min (both decompose over the disjoint doc sets of
    # the generations); idf recomputed for every term from the new N.
    # O(vocab), the only non-append artifact.
    gmax_aggs = (F.max("max_tf").alias("max_tf"), F.min("min_dl").alias("min_dl"),
                 F.first("bucket").alias("bucket"))
    dic = doc_freq(tf_df).join(seg.groupBy("term").agg(*gmax_aggs), "term")
    if prev is not None:
        old = spark.read.parquet(os.path.join(index_path, prev["dictionary_dir"]))
        dic = (
            old.select(*dic.columns).unionByName(dic)
            .groupBy("term")
            .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"), *gmax_aggs)
        )
    stats_df = spark.createDataFrame(
        [(n_docs, float(avgdl))], "n_docs long, avgdl double"
    )
    # Consumed by THREE sinks (dictionary, sorted sidecar, reversed sidecar)
    # — persist so the vocab-sized stats join runs once (self-join invariant).
    dic = with_idf(dic, stats_df).select(
        "term", "df", "cf", "idf", "max_tf", "min_dl", "bucket"
    ).persist()

    def _w_segments():
        seg.write.mode("overwrite").partitionBy("bucket").parquet(tmp_seg)
        os.rename(tmp_seg, seg_gen)

    def _w_dictionary():
        dic.write.mode("overwrite").parquet(
            os.path.join(index_path, f"dictionary_gen_{gen}")
        )

    def _w_dict_sidecars():
        write_dictionary_sidecars(dic, index_path, gen)

    writers = [_w_segments, _w_dictionary, _w_dict_sidecars]
    try:
        with ThreadPoolExecutor(max_workers=len(writers)) as pool:
            for f in [pool.submit(w) for w in writers]:
                f.result()
    finally:
        seg.unpersist()
        dic.unpersist()

    stats = {
        "n_docs": int(n_docs),
        "sum_dl": int(sum_dl),  # avgdl's numerator — lets finalizes update avgdl O(1)
        "avgdl": float(avgdl),
        "range_size": int(geometry["range_size"]),
        "n_ranges": int(geometry["n_ranges"]),
        "n_buckets": int(geometry["n_buckets"]),
        "block_size": int(geometry["block_size"]),
        "n_gens": (int(prev["n_gens"]) if prev else 0) + 1,
        "next_gen": gen + 1,
        "dictionary_dir": f"dictionary_gen_{gen}",
        "dict_sorted_dir": f"dict_sorted_gen_{gen}",
        "dict_rsorted_dir": f"dict_rsorted_gen_{gen}",
        "finalized_units": sorted(units),
        # posting rows THIS commit pushed through the salted exchange +
        # encoder (the resume-cost audit the tests pin)
        "finalize_input_postings": new["n_postings"],
    }
    if "pos_blob" in tf_df.columns:
        # Positions live IN the segment block rows (codec ``poss`` stream) —
        # phrase.py's pruned fetch keys off this marker.
        stats["positions"] = "blocks"
    _write_json_atomic(os.path.join(index_path, "stats.json"), stats)  # commit
    # Best-effort cleanup of superseded dictionary snapshots (post-commit).
    for g in range(gen):
        for d in _DICT_DIRS:
            shutil.rmtree(os.path.join(index_path, f"{d}_gen_{g}"),
                          ignore_errors=True)
    return stats


def write_dictionary_sidecars(
    dictionary: DataFrame, index_path: str, gen: int
) -> None:
    """Term-sorted + reversed-term-sorted dictionary sidecars of generation
    ``gen`` — the range-scan path for expansion queries (prefix/suffix/
    wildcard/fuzzy/regexp, SURVEY.md §2; round-3 verdict item #5).

    ``dict_sorted_gen_<g>``  [term, p2, df, cf, idf]  sorted by term per file;
    ``dict_rsorted_gen_<g>`` [rterm, term]            sorted by rterm per file.

    Each file is written hash-repartitioned on the sort key then
    sortWithinPartitions — every parquet ROW GROUP covers a tight key range,
    so a pushed range/IN predicate (PushedFilters in the plan) skips the
    row groups outside it: an expansion query reads O(matching-range) of a
    10^8–10^9-term vocabulary instead of scanning it linearly. Deliberately
    NOT repartitionByRange: RangePartitioner derives bounds by sampling
    with a per-RDD seed, which breaks the byte-identical-rebuild invariant;
    hash+sort gives the same row-group pruning (each file holds a uniform
    slice of the sorted vocabulary) fully deterministically.

    ``p2`` = the first ≤2 chars of term — the fuzzy band column: candidate
    bands push down as one IN(p2, [...]) filter (querying/search_ext
    ``*_indexed`` expanders). O(vocab) total — trivia next to the postings
    exchange; rides the concurrent sink pool in ``_commit_generation``."""
    n_parts = int(dictionary.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    (
        dictionary.select(
            "term", F.substring("term", 1, 2).alias("p2"), "df", "cf", "idf"
        )
        .repartition(n_parts, "term")
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .parquet(os.path.join(index_path, f"dict_sorted_gen_{gen}"))
    )
    (
        dictionary.select(F.reverse(F.col("term")).alias("rterm"), "term")
        .repartition(n_parts, "rterm")
        .sortWithinPartitions("rterm")
        .write.mode("overwrite")
        .parquet(os.path.join(index_path, f"dict_rsorted_gen_{gen}"))
    )


def load_sorted_dictionary(
    spark: SparkSession, index_path: str, reversed_: bool = False
) -> DataFrame:
    """Read the committed term-sorted (or reversed-term-sorted) dictionary
    sidecar."""
    with open(os.path.join(index_path, "stats.json")) as f:
        stats = json.load(f)
    key = "dict_rsorted_dir" if reversed_ else "dict_sorted_dir"
    return spark.read.parquet(os.path.join(index_path, stats[key]))


def load_index(spark: SparkSession, index_path: str):
    """(segments_df, dictionary_df, stats_dict) from an index directory:
    every live generation under segments/ (partition discovery surfaces the
    ``gen`` column transparently and bucket pruning still applies) and the
    committed dictionary snapshot stats.json names."""
    with open(os.path.join(index_path, "stats.json")) as f:
        stats = json.load(f)
    seg = spark.read.parquet(os.path.join(index_path, "segments"))
    dic = spark.read.parquet(os.path.join(index_path, stats["dictionary_dir"]))
    return seg, dic, stats


def decoded_postings(segments: DataFrame) -> DataFrame:
    """Inverse of the codec as a DataFrame op — decodes every block back to
    (term, doc_id, tf) rows. Test/audit path proving segments ≡ logical
    postings (SURVEY.md §5.2 'decoded-equality')."""

    segments = segments.select("term", "first_doc_id", "doc_gaps", "tfs")

    def decode(it):
        from .codec import decode_block

        for pdf in it:
            terms, ids, tfs = [], [], []
            for term, first, gaps, tfb in zip(
                pdf["term"].values, pdf["first_doc_id"].values,
                pdf["doc_gaps"].values, pdf["tfs"].values,
            ):
                d_ids, d_tfs = decode_block(int(first), gaps, tfb)
                terms.append(np.repeat(term, d_ids.size))
                ids.append(d_ids)
                tfs.append(d_tfs)
            if not terms:
                yield pd.DataFrame({"term": [], "doc_id": [], "tf": []})
                continue
            yield pd.DataFrame(
                {
                    "term": np.concatenate(terms),
                    "doc_id": np.concatenate(ids),
                    "tf": np.concatenate(tfs),
                }
            )

    return segments.mapInPandas(decode, "term string, doc_id long, tf long")
