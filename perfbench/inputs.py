"""Seeded benchmark inputs: corpus, canaries and query log.

Everything derives from ``--seed`` through ``numpy.random.default_rng``; the
same seed gives byte-identical inputs (``Inputs.digest``). The program under
test sees only these generated documents and query strings.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass

import numpy as np

from gen_corpus import gen_corpus, vocab

#: Corpus shape. tests/gen_corpus draws Zipf(1.3) term ranks; the vocabulary is
#: cut from 5,000 to 500 terms so a cold full build fits in a run (beyond its
#: fixed Spark overhead, a build's cost grows with its (term, doc range) encode
#: groups, about vocabulary x ranges).
N_DOCS = 1000
VOCAB_SIZE = 500
ZIPF_A = 1.3
#: ingest_search cuts the corpus into this many contiguous doc-id units; each
#: unit's first document carries the unit's unique canary token.
N_UNITS = 8

#: Query log: terms are Zipf ranks over the vocabulary (long head lists and
#: short tail lists), 1-4 terms per query, a few unknown terms.
QUERY_ZIPF_A = 1.2
UNKNOWN_TERM_P = 0.05
#: The single-query stream repeats popular queries of a fixed pool.
POOL_SIZE = 24
STREAM_LEN = 64
STREAM_ZIPF_A = 1.5
#: Batch calls get fresh distinct queries, never in the pool.
N_BATCHES = 3
BATCH_SIZE = 60


@dataclass(frozen=True)
class Inputs:
    seed: int
    texts: list[str]            # doc_id == list index
    unit_span: int              # docs per ingest unit
    canaries: list[tuple[int, str]]   # (doc_id, unique token), one per unit
    pool: list[str]             # the query log's distinct queries
    stream: list[str]           # single-query log drawn from the pool
    batches: list[list[str]]    # fresh distinct queries per batch call

    @property
    def repeat_share(self) -> float:
        """Share of stream entries that repeat an earlier entry."""
        return 1.0 - len(set(self.stream)) / len(self.stream)

    def digest(self) -> str:
        blob = json.dumps(
            [self.texts, self.unit_span, self.canaries, self.pool, self.stream,
             self.batches]
        ).encode()
        return hashlib.sha256(blob).hexdigest()


def _query(rng: np.random.Generator, terms: np.ndarray, tag: str) -> str:
    n = int(rng.integers(1, 5))
    ranks = np.minimum(rng.zipf(QUERY_ZIPF_A, size=n), terms.size) - 1
    words = [str(terms[r]) for r in ranks]
    if rng.random() < UNKNOWN_TERM_P:
        words.append(f"zzunknown{tag}")
    return " ".join(words)


def _distinct_queries(rng, terms, n: int, avoid: set[str], tag: str) -> list[str]:
    out: list[str] = []
    seen = set(avoid)
    while len(out) < n:
        q = _query(rng, terms, f"{tag}{len(out)}")
        if q not in seen:
            seen.add(q)
            out.append(q)
    return out


def make_inputs(seed: int) -> Inputs:
    texts = list(gen_corpus(N_DOCS, seed=seed, zipf_a=ZIPF_A,
                            vocab_size=VOCAB_SIZE)["content"])
    unit_span = -(-N_DOCS // N_UNITS)
    canaries = []
    for u in range(N_UNITS):
        doc_id, token = u * unit_span, f"zzcanary{seed}u{u}"
        texts[doc_id] = f"{texts[doc_id]} {token}"
        canaries.append((doc_id, token))

    rng = np.random.default_rng([seed, 1])
    terms = np.array(vocab(VOCAB_SIZE))
    pool = _distinct_queries(rng, terms, POOL_SIZE, set(), "p")
    picks = np.minimum(rng.zipf(STREAM_ZIPF_A, size=STREAM_LEN), POOL_SIZE) - 1
    stream = [pool[i] for i in picks]
    fresh = _distinct_queries(rng, terms, N_BATCHES * BATCH_SIZE, set(pool), "b")
    batches = [fresh[i * BATCH_SIZE:(i + 1) * BATCH_SIZE] for i in range(N_BATCHES)]
    return Inputs(seed, texts, unit_span, canaries, pool, stream, batches)
