"""Pure-NumPy posting-list block codec — no Spark imports (SURVEY.md §2.4 B3).

Layout per (term, range_id) sub-list: docID-sorted postings packed into blocks
of ≤ ``block_size`` postings. Per block:

  first_doc_id     int64   — first docID, stored raw
  last_doc_id      int64   — last docID (query-time pruning without decode)
  n                int32   — postings in the block
  doc_gaps         binary  — varint(LEB128) of diff(doc_ids)  (n-1 values, all ≥ 1)
  tfs              binary  — varint of the n term frequencies
  dls              binary  — varint of the n document lengths (self-contained
                             scoring: query never joins a doc-length table —
                             the pruned term blocks alone answer the query)
  poss             binary  — OPTIONAL 4th stream (positional indexes only):
                             the block's n per-posting position blobs
                             (1-based occurrence positions of term in doc,
                             first raw then gaps, LEB128) concatenated in
                             doc order. SELF-DELIMITING without a length
                             stream: posting i holds exactly tfs[i] varint
                             values, so the tfs stream is the split key —
                             ``split_positions`` recovers the per-posting
                             blobs in one vectorized pass. Folding positions
                             into the block row (round-3 verdict item #6)
                             makes segments the ONE physical artifact that
                             resume generations and compaction govern —
                             no separate positional sidecar with its own
                             crash/commit story.
  max_tf, min_dl   int64   — the block's score-dominating IMPACT PAIR: BM25's
                             term contribution is monotone ↑tf and ↓dl, so
                             idf·score(max_tf, min_dl) upper-bounds every
                             posting in the block for ANY (idf, avgdl). This
                             is the block-max WAND metadata (BASELINE.json:6)
                             stored stats-FREE (Lucene-impact style): a block,
                             once written, stays valid when the corpus grows
                             and idf/avgdl shift — which is exactly what lets
                             incremental/resumed builds append new segments
                             without touching committed ones. The concrete
                             BM25 bound is derived at query time from the
                             current dictionary idf + stats avgdl (daat.py).

Everything is vectorized: varint encode loops over byte *positions* (≤ 10),
decode is one pass of NumPy segment ops — never per-value Python.
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array (vectorized over values)."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    lens = np.ones(v.size, dtype=np.int64)
    tmp = v >> np.uint64(7)
    while tmp.any():
        lens += tmp > 0
        tmp >>= np.uint64(7)
    offsets = np.concatenate(([0], np.cumsum(lens)))
    out = np.zeros(offsets[-1], dtype=np.uint8)
    starts = offsets[:-1]
    for j in range(int(lens.max())):
        mask = lens > j
        byte = ((v[mask] >> np.uint64(7 * j)) & np.uint64(0x7F)).astype(np.uint8)
        cont = (lens[mask] - 1 > j).astype(np.uint8) << 7
        out[starts[mask] + j] = byte | cont
    return out.tobytes()


def varint_decode(buf: bytes | memoryview) -> np.ndarray:
    """Decode a LEB128 byte stream to uint64 (vectorized segment sum)."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_last = (b & 0x80) == 0
    ends = np.flatnonzero(is_last)
    if ends.size == 0 or ends[-1] != b.size - 1:
        raise ValueError("truncated varint stream")
    starts = np.concatenate(([0], ends[:-1] + 1))
    group = np.cumsum(is_last) - is_last  # exclusive prefix: group id per byte
    pos = (np.arange(b.size) - starts[group]).astype(np.uint64)
    contrib = (b & np.uint8(0x7F)).astype(np.uint64) << (np.uint64(7) * pos)
    return np.add.reduceat(contrib, starts)


def encode_sublist(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    block_size: int = BLOCK_SIZE,
    dls: np.ndarray | None = None,
    pos_blobs=None,
):
    """Pack one docID-sorted (term, range) sub-list into block rows.

    Returns a dict of parallel arrays/lists:
      first_doc_id, last_doc_id, n, max_tf, min_dl (np arrays) and
      doc_gaps, tfs, dls (lists of bytes), one entry per block —
      plus ``poss`` when ``pos_blobs`` (one per posting, already
      first-raw-then-gaps LEB128 per the tokenize kernel) is given:
      the 4th stream, per-block concatenation in doc order (module
      docstring; split key = the tfs stream).

    ``max_tf``/``min_dl`` are the stats-free block-max impact pair (module
    docstring): the bytes of a block depend ONLY on its own postings, never
    on global corpus statistics — deterministic and append-stable.
    """
    doc_ids = np.ascontiguousarray(doc_ids, dtype=np.int64)
    tfs = np.ascontiguousarray(tfs, dtype=np.uint64)
    if dls is None:
        dls = np.zeros_like(tfs)
    dls = np.ascontiguousarray(dls, dtype=np.uint64)
    n = doc_ids.size
    if n == 0:
        out = {
            "first_doc_id": np.empty(0, np.int64),
            "last_doc_id": np.empty(0, np.int64),
            "n": np.empty(0, np.int32),
            "doc_gaps": [],
            "tfs": [],
            "dls": [],
            "max_tf": np.empty(0, np.int64),
            "min_dl": np.empty(0, np.int64),
        }
        if pos_blobs is not None:
            out["poss"] = []
        return out
    if n > 1 and not (np.diff(doc_ids) > 0).all():
        raise ValueError("doc_ids must be strictly increasing")
    bounds = np.arange(0, n, block_size)
    ends = np.minimum(bounds + block_size, n)
    gaps_all = np.diff(doc_ids).astype(np.uint64)  # all ≥ 1
    out_first, out_last, out_n, out_mtf, out_mdl = [], [], [], [], []
    out_gaps, out_tfs, out_dls, out_poss = [], [], [], []
    for s, e in zip(bounds, ends):
        out_first.append(doc_ids[s])
        out_last.append(doc_ids[e - 1])
        out_n.append(e - s)
        # gaps within the block only: positions s..e-2 of gaps_all
        out_gaps.append(varint_encode(gaps_all[s : e - 1]))
        out_tfs.append(varint_encode(tfs[s:e]))
        out_dls.append(varint_encode(dls[s:e]))
        out_mtf.append(int(tfs[s:e].max()))
        out_mdl.append(int(dls[s:e].min()))
        if pos_blobs is not None:
            out_poss.append(b"".join(pos_blobs[s:e]))
    out = {
        "first_doc_id": np.array(out_first, np.int64),
        "last_doc_id": np.array(out_last, np.int64),
        "n": np.array(out_n, np.int32),
        "doc_gaps": out_gaps,
        "tfs": out_tfs,
        "dls": out_dls,
        "max_tf": np.array(out_mtf, np.int64),
        "min_dl": np.array(out_mdl, np.int64),
    }
    if pos_blobs is not None:
        out["poss"] = out_poss
    return out


def split_positions(tf_counts: np.ndarray, poss: bytes) -> list[bytes]:
    """Split a block's concatenated position stream back into per-posting
    blobs — one vectorized boundary pass, no varint re-encode.

    ``tf_counts``: the block's decoded tfs (posting i holds tf_counts[i]
    varint values in ``poss``). LEB128 terminator bytes (high bit clear)
    mark value ends, so byte boundaries fall out of one flatnonzero +
    cumsum — O(bytes), not O(values) Python."""
    tf_counts = np.ascontiguousarray(tf_counts, dtype=np.int64)
    if tf_counts.size == 0:
        return []
    b = np.frombuffer(poss, dtype=np.uint8)
    val_ends = np.flatnonzero((b & 0x80) == 0)  # last byte of each value
    n_vals = int(tf_counts.sum())
    if val_ends.size != n_vals:
        raise ValueError(
            f"position stream holds {val_ends.size} values, tfs say {n_vals}"
        )
    cum = np.cumsum(tf_counts)
    byte_ends = val_ends[cum - 1] + 1
    byte_starts = np.concatenate(([0], byte_ends[:-1]))
    return [poss[s:e] for s, e in zip(byte_starts, byte_ends)]


def decode_block(first_doc_id: int, doc_gaps: bytes, tfs: bytes):
    """One block → (doc_ids int64, tfs int64)."""
    gaps = varint_decode(doc_gaps).astype(np.int64)
    ids = np.empty(gaps.size + 1, dtype=np.int64)
    ids[0] = first_doc_id
    if gaps.size:
        ids[1:] = first_doc_id + np.cumsum(gaps)
    return ids, varint_decode(tfs).astype(np.int64)


def decode_blocks(first_doc_ids, doc_gaps_list, tfs_list):
    """Decode many blocks → concatenated (doc_ids, tfs)."""
    ids_parts, tf_parts = [], []
    for f, g, t in zip(first_doc_ids, doc_gaps_list, tfs_list):
        ids, tf = decode_block(int(f), g, t)
        ids_parts.append(ids)
        tf_parts.append(tf)
    if not ids_parts:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    return np.concatenate(ids_parts), np.concatenate(tf_parts)
