"""B1–B5 + S4: physical inverted-index build (SURVEY.md §2.4).

Segment layout (flat block rows — parquet-native so term/bucket predicates
push down to the scan, no nested decode needed for pruning):

    segments/bucket=<b>/*.parquet
      term, range_id, first_doc_id, last_doc_id, n, doc_gaps, tfs, dls,
      max_tf, min_dl (+ poss — the positional 4th varint stream — when the
      index is built with_positions; stats.json: positions="blocks")
    dictionary/*.parquet
      term, bucket, df, cf, idf, max_tf, min_dl
    stats.json   {n_docs, sum_dl, avgdl, range_size, n_ranges, n_buckets,
                  block_size}

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
    pass: tokenization is the dominant map cost at corpus scale, and the
    positional sidecar must never pay it twice (round-2 verdict item #3).
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
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """B1–B4: postings → flat block rows with bucket column.

    tf_df: [term, doc_id, tf(, dl)]; dl_df: [doc_id, dl] (legacy only). The
    encoder is STATS-FREE (impact-pair block metadata, codec.py), so no
    term-stats join touches the postings — when tf_df already carries dl
    (the one-pass tokenize_tf path) the salted (tid, range_id) repartition
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
    base = tf_df
    if "dl" not in tf_df.columns:
        base = base.join(dl_df, "doc_id")
    with_positions = "pos_blob" in base.columns
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
    scored = base.select(*cols)
    # tid → term restore map, O(vocab): ONE exchange whose payload is the
    # distinct vocabulary (collect_set partial-aggregates map-side, so each
    # task ships its local vocab once, not its postings).
    vocab = (
        base.groupBy(F.xxhash64("term").alias("tid"))
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
    parts = shuffle_partitions or tf_df.sparkSession.conf.get("spark.sql.shuffle.partitions")
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
    mode: str = "overwrite",
    code_aware: bool = False,
    with_positions: bool = False,
) -> dict:
    """Full single-shot build: documents → segments + dictionary + stats.json.

    For the resumable per-unit path see ``checkpoint.build_resumable`` — it
    stages postings per source partition and then calls ``finalize_index``
    over the committed units' postings. ``code_aware`` opts into identifier
    splitting for source-code corpora (queries must then be tokenized with
    tokenize.py_tokenize_code to match). ``with_positions=True`` folds
    occurrence positions into the segment block rows as the 4th varint
    stream (codec ``poss``; stats.json ``positions: blocks``) — from the
    SAME single tokenize pass, through the SAME salted exchange: one corpus
    read, one physical artifact for postings and positions.
    """
    # ONE Arrow pass: tokenize + per-doc tf + dl (+ positions), all map-side.
    tf_df = tokenize_tf(
        docs.select(F.col(id_col).alias("doc_id"), text_col), text_col,
        code_aware=code_aware, with_positions=with_positions,
    )
    return finalize_index(
        spark, tf_df, index_path,
        n_buckets=n_buckets, n_ranges=n_ranges, block_size=block_size, mode=mode,
    )


def finalize_index(
    spark: SparkSession,
    tf_df: DataFrame,
    index_path: str,
    n_buckets: int = 64,
    n_ranges: int | None = None,
    block_size: int = BLOCK_SIZE,
    mode: str = "overwrite",
) -> dict:
    """Stage II: (term, doc_id, tf[, dl, lead]) postings → segments +
    dictionary + stats.

    At cluster scale tf_df is the committed per-unit postings table on disk
    (checkpoint.build_resumable) — every downstream branch re-reads cheap
    columnar postings instead of re-tokenizing raw text.

    Scaling-efficiency design (the serial/fixed costs here directly cap the
    N→4N rule — every job barrier and every exchange was audited):

    * global stats (n_docs, Σdl, max doc_id) ride an ``Observation`` on the
      job that materializes the postings cache — no separate doc-aggregate
      job, no doc_id exchange, one driver round-trip total. The ``lead``
      flag (one True per doc) makes the per-doc sums exact over posting rows.
    * the encoded block frame is cached once and the sinks (segments,
      dictionary, its sorted sidecars) are written by CONCURRENT driver
      threads — writes overlap instead of serializing commit barriers; the
      dictionary's global block-max aggregates the cached blocks, not a
      re-read of the just-written files.
    * the only full-data exchange left in the whole build is the salted
      (term, range_id) repartition feeding the encoder (build_segments).
    """
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import Observation

    if n_ranges is None:
        n_ranges = int(spark.conf.get("spark.sql.shuffle.partitions"))

    has_lead = "lead" in tf_df.columns
    if has_lead:
        obs = Observation()
        tf_df = tf_df.observe(
            obs,
            F.sum(F.when(F.col("lead"), 1).otherwise(0)).alias("n_docs"),
            F.sum(F.when(F.col("lead"), F.col("dl")).otherwise(0)).alias("sum_dl"),
            F.max("doc_id").alias("max_id"),
        )
        tf_df = tf_df.persist()
        tf_df.count()  # materialize cache; stats ride this one job
        m = obs.get
        if not m["n_docs"]:  # None (no rows) or 0 — nothing to index
            tf_df.unpersist()
            raise ValueError(
                "cannot build an index from an empty corpus "
                "(0 documents with at least one token)"
            )
        n_docs, avgdl, max_id = int(m["n_docs"]), m["sum_dl"] / m["n_docs"], int(m["max_id"])
        sum_dl = int(m["sum_dl"])
        dl_df = tf_df.filter("lead").select("doc_id", "dl")
    else:
        # Legacy path: bare (term, doc_id, tf) postings (no dl column).
        tf_df = tf_df.persist()
        dl_df = tf_df.groupBy("doc_id").agg(F.sum("tf").cast("int").alias("dl"))
        srow = dl_df.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.avg("dl").alias("avgdl"),
            F.max("doc_id").alias("max_id"),
            F.sum("dl").alias("sum_dl"),
        ).collect()[0]
        if not srow["n_docs"]:
            tf_df.unpersist()
            raise ValueError(
                "cannot build an index from an empty corpus "
                "(0 documents with at least one token)"
            )
        n_docs, avgdl, max_id = int(srow["n_docs"]), float(srow["avgdl"]), int(srow["max_id"])
        sum_dl = int(srow["sum_dl"])

    range_size = max(1, math.ceil((max_id + 1) / n_ranges))
    # Literal 1-row stats frame (already collected) — keeps every downstream
    # plan free of an embedded re-aggregation of dl_df.
    stats_df = spark.createDataFrame([(n_docs, float(avgdl))], "n_docs long, avgdl double")
    term_stats = with_idf(doc_freq(tf_df), stats_df)

    seg = build_segments(
        tf_df, dl_df, range_size, n_buckets, block_size
    ).persist()
    seg.count()  # run the one big exchange + encode; sinks below read cache
    # Per-term global impact pair (stats-free, like the per-block pair): the
    # query-time bound for a term anywhere in the index.
    gmax = seg.groupBy("term").agg(
        F.max("max_tf").alias("max_tf"), F.min("min_dl").alias("min_dl"),
        F.first("bucket").alias("bucket"),
    )
    # Consumed by THREE sinks (dictionary, sorted sidecar, reversed sidecar)
    # — persist so the vocab-sized stats join runs once (self-join invariant).
    dictionary = (
        term_stats.select("term", "df", "cf", "idf").join(gmax, "term").persist()
    )

    def _w_segments():
        seg.write.mode(mode).partitionBy("bucket").parquet(
            os.path.join(index_path, "segments")
        )

    def _w_dictionary():
        dictionary.write.mode(mode).parquet(os.path.join(index_path, "dictionary"))

    def _w_dict_sidecars():
        write_dictionary_sidecars(dictionary, index_path, mode=mode)

    writers = [_w_segments, _w_dictionary, _w_dict_sidecars]

    with ThreadPoolExecutor(max_workers=len(writers)) as pool:
        futures = [pool.submit(w) for w in writers]
        for f in futures:
            f.result()

    stats = {
        "n_docs": n_docs,
        "sum_dl": sum_dl,  # avgdl's numerator — lets resumes update avgdl O(1)
        "avgdl": float(avgdl),
        "range_size": int(range_size),
        "n_ranges": int(n_ranges),
        "n_buckets": int(n_buckets),
        "block_size": int(block_size),
        "dict_sorted_dir": "dict_sorted",
        "dict_rsorted_dir": "dict_rsorted",
    }
    if "pos_blob" in tf_df.columns:
        # Positions live IN the segment block rows (codec ``poss`` stream) —
        # phrase.py's pruned fetch keys off this marker.
        stats["positions"] = "blocks"
    seg.unpersist()
    dictionary.unpersist()
    tf_df.unpersist()
    _write_json_atomic(os.path.join(index_path, "stats.json"), stats)  # commit
    return stats


def write_dictionary_sidecars(
    dictionary: DataFrame,
    index_path: str,
    mode: str = "overwrite",
    n_parts: int | None = None,
    sorted_dir: str = "dict_sorted",
    rsorted_dir: str = "dict_rsorted",
) -> None:
    """Term-sorted + reversed-term-sorted dictionary sidecars — the range-
    scan path for expansion queries (prefix/suffix/wildcard/fuzzy/regexp,
    SURVEY.md §2; round-3 verdict item #5).

    ``dict_sorted``  [term, p2, df, cf, idf]  sorted by term per file;
    ``dict_rsorted`` [rterm, term]            sorted by rterm per file.

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
    exchange; rides the concurrent sink pool in ``finalize_index``."""
    if n_parts is None:
        n_parts = int(
            dictionary.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
    (
        dictionary.select(
            "term", F.substring("term", 1, 2).alias("p2"), "df", "cf", "idf"
        )
        .repartition(n_parts, "term")
        .sortWithinPartitions("term")
        .write.mode(mode)
        .parquet(os.path.join(index_path, sorted_dir))
    )
    (
        dictionary.select(F.reverse(F.col("term")).alias("rterm"), "term")
        .repartition(n_parts, "rterm")
        .sortWithinPartitions("rterm")
        .write.mode(mode)
        .parquet(os.path.join(index_path, rsorted_dir))
    )


def load_sorted_dictionary(
    spark: SparkSession, index_path: str, reversed_: bool = False
) -> DataFrame:
    """Read the term-sorted (or reversed-term-sorted) dictionary sidecar."""
    with open(os.path.join(index_path, "stats.json")) as f:
        stats = json.load(f)
    key = "dict_rsorted_dir" if reversed_ else "dict_sorted_dir"
    default = "dict_rsorted" if reversed_ else "dict_sorted"
    return spark.read.parquet(os.path.join(index_path, stats.get(key, default)))


def load_index(spark: SparkSession, index_path: str):
    """(segments_df, dictionary_df, stats_dict) from an index directory.

    Works for both layouts: the single-shot flat layout (segments/bucket=*,
    dictionary/) and the resumable generational layout (segments/gen=*/
    bucket=*, dictionary_gen_<g> recorded in stats.json) — partition
    discovery surfaces the extra ``gen`` column transparently and bucket
    pruning still applies (checkpoint.py module docstring)."""
    with open(os.path.join(index_path, "stats.json")) as f:
        stats = json.load(f)
    seg = spark.read.parquet(os.path.join(index_path, "segments"))
    dic = spark.read.parquet(
        os.path.join(index_path, stats.get("dictionary_dir", "dictionary"))
    )
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
