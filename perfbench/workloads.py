"""The benchmark's workloads. Each is a closed loop with one client thread:
the next call starts only after the previous one returned its rows.

* ``search``: read-only serving on an index built in set-up. Single
  ``daat_topk`` calls from a query log whose popular queries repeat, mixed
  with batch calls of fresh distinct queries. Bypasses ``checkpoint`` and
  (outside set-up) ``build``.
* ``ingest_search``: writes beside reads. Each cycle hands one unit of new
  documents to ``checkpoint.build_unit`` + ``finalize_incremental``, queries
  the unit's canary document, then serves single queries on the grown
  index. After the window, ``compact_index`` merges the generations and the
  query log is checked in batch calls.

Every answer is checked against ``tests/oracle_bm25.Bm25Oracle`` outside
the timed calls; crashes and wrong answers count as failed operations.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq
from oracle_bm25 import Bm25Oracle

from inputs import N_UNITS, Inputs
from tracing import Tracer

K = 10
SCORE_TOL = 1e-6
#: Index layout. Build cost grows with (term, doc range) encode groups.
N_BUCKETS = 4
N_RANGES = 2
#: search: the timed loop repeats SINGLES_PER_BATCH single calls, then one
#: batch call, until the window closes and both minimums are met.
SINGLES_PER_BATCH = 4
MIN_SINGLES = 8
MIN_BATCHES = 2
#: ingest_search: set-up finalizes the first INITIAL_UNITS units; each timed
#: cycle ingests one more unit and runs QUERIES_PER_CYCLE single queries.
INITIAL_UNITS = 2
QUERIES_PER_CYCLE = 1
MIN_CYCLES = 2


@dataclass
class Run:
    """Shared state of one benchmark run."""

    spark: object
    inputs: Inputs
    work_dir: str
    tracer: Tracer
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    oracle_s: float = 0.0
    #: right answers whose doc order differs from the oracle's inside a tie
    tie_reorders: int = 0
    _oracles: dict = field(default_factory=dict)

    def path(self, name: str) -> str:
        return os.path.join(self.work_dir, name)

    def docs_df(self):
        """The corpus as DF[doc_id, text], cached and materialised."""
        import pandas as pd

        pdf = pd.DataFrame({"doc_id": np.arange(len(self.inputs.texts), dtype=np.int64),
                            "text": self.inputs.texts})
        df = self.spark.createDataFrame(pdf).cache()
        df.count()
        return df

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)

    def oracle(self, n_docs: int) -> Bm25Oracle:
        """The oracle over documents [0, n_docs), built once; untimed."""
        if n_docs not in self._oracles:
            t0 = time.perf_counter()
            self._oracles[n_docs] = Bm25Oracle(list(enumerate(self.inputs.texts[:n_docs])))
            self.oracle_s += time.perf_counter() - t0
        return self._oracles[n_docs]

    def check(self, n_docs: int, query: str, got, what: str) -> None:
        """Count one answer, wrong unless rank-identical to the oracle's."""
        o = self.oracle(n_docs)
        t0 = time.perf_counter()
        want = o.topk(query, K)
        ok = got is not None and rank_identical(got, want, lambda d: o.score(query, d))
        self.tie_reorders += ok and [d for d, _ in got] != [d for d, _ in want]
        self.oracle_s += time.perf_counter() - t0
        self.record(ok, f"{what} {query!r}")


def rank_identical(got: list[tuple[int, float]], want: list[tuple[int, float]],
                   score_of) -> bool:
    """Rank identity within SCORE_TOL: the same number of answers, each
    rank's score within SCORE_TOL of the oracle's score at that rank, and
    each rank holding the oracle's document or another one whose oracle
    score ``score_of(doc_id)`` lies within SCORE_TOL of it (a tie at this
    tolerance, which the engine breaks by doc_id after rounding scores to 6
    decimals, and the oracle by the raw score)."""
    if len(got) != len(want) or len({d for d, _ in got}) != len(got):
        return False
    for (gd, gs), (wd, ws) in zip(got, want):
        if abs(gs - ws) > SCORE_TOL:
            return False
        if gd != wd and abs(score_of(gd) - ws) > SCORE_TOL:
            return False
    return True


def answers(rows, qids) -> dict[int, list[tuple[int, float]]]:
    out: dict[int, list] = {q: [] for q in qids}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        out[r["query_id"]].append((r["doc_id"], r["score"]))
    return out


def query(run: Run, index: str, texts: list[str], request: str):
    """One ``daat_topk`` call, timed from call start until ``.collect()``
    returns. Returns (seconds, answers by position) or (seconds, None) if the
    call raised."""
    from sparksearch.daat import daat_topk

    tr = run.tracer
    t0 = time.perf_counter()
    try:
        with tr.span("daat.query", request, spark=True):
            with tr.span("daat.plan", request):
                df = daat_topk(run.spark, index, list(enumerate(texts)), k=K)
            with tr.span("daat.exec", request):
                rows = df.collect()
    except Exception as e:  # a failed call is a counted error, not a crash
        run.errors.append(f"{request}: {type(e).__name__}: {e}")
        return time.perf_counter() - t0, None
    return time.perf_counter() - t0, answers(rows, range(len(texts)))


def check_answers(run: Run, n_docs: int, texts: list[str], got, what: str) -> None:
    for i, q in enumerate(texts):
        run.check(n_docs, q, None if got is None else got[i], f"{what}[{i}]")


def check_canary(run: Run, index: str, unit: int, request: str) -> float:
    """Query a unit's canary token; its document must rank first. Returns
    the call's latency."""
    doc_id, token = run.inputs.canaries[unit]
    dt, got = query(run, index, [token], request)
    ok = got is not None and bool(got[0]) and got[0][0][0] == doc_id
    run.record(ok, f"canary unit {unit}")
    return dt


def _parquet_files(d: str) -> list[str]:
    return [os.path.join(r, f) for r, _, fs in os.walk(d)
            for f in fs if f.endswith(".parquet")]


def index_size(index: str) -> dict[str, int]:
    """Bytes on disk of the live segments and dictionary, postings held,
    segment files and dictionary terms."""
    with open(os.path.join(index, "stats.json")) as f:
        stats = json.load(f)
    seg = os.path.join(index, "segments")
    files = _parquet_files(seg)
    dic = _parquet_files(os.path.join(index, stats.get("dictionary_dir", "dictionary")))
    postings = sum(int(pq.read_table(p, columns=["n"])["n"].to_numpy().sum())
                   for p in files)
    return {
        "segment_bytes": sum(os.path.getsize(p) for p in files),
        "dictionary_bytes": sum(os.path.getsize(p) for p in dic),
        "postings": postings,
        "segment_files": len(files),
        "dictionary_terms": sum(pq.read_metadata(p).num_rows for p in dic),
    }


def p50_ms(samples: list[float]) -> float:
    return 1000.0 * statistics.median(samples)


# --------------------------------------------------------------------------
# search


def search(run: Run, seconds: float) -> dict:
    from sparksearch.build import build_index

    tr, inp = run.tracer, run.inputs
    n_docs = len(inp.texts)
    docs = run.docs_df()
    # Set-up: a warm-up build of the first unit and a canary query on it pay
    # the one-off costs (plan compilation, Python worker start); then the
    # timed build of the whole corpus and a canary query on it (docs handed
    # over -> docs searchable).
    warm = run.path("warmup")
    with tr.span("build.build_index", "warmup", spark=True):
        build_index(run.spark, docs.filter(docs.doc_id < inp.unit_span), warm,
                    n_buckets=N_BUCKETS, n_ranges=N_RANGES)
    check_canary(run, warm, 0, "canary-warmup")
    index = run.path("index")
    t0 = time.perf_counter()
    with tr.span("build.build_index", "setup", spark=True):
        build_index(run.spark, docs, index, n_buckets=N_BUCKETS, n_ranges=N_RANGES)
    check_canary(run, index, 1, "canary")
    fresh = time.perf_counter() - t0
    docs.unpersist()

    singles, batch_s, batch_q = [], 0.0, 0
    stream, batches = inp.stream, inp.batches
    window_start = time.perf_counter()
    t_end = window_start + seconds
    i = 0
    while (time.perf_counter() < t_end or len(singles) < MIN_SINGLES
           or batch_q < MIN_BATCHES * len(batches[0])):
        for _ in range(SINGLES_PER_BATCH):
            q = stream[len(singles) % len(stream)]
            dt, got = query(run, index, [q], f"single{len(singles)}")
            singles.append(dt)
            check_answers(run, n_docs, [q], got, "single")
        qs = batches[i % len(batches)]
        dt, got = query(run, index, qs, f"batch{i}")
        batch_s += dt
        batch_q += len(qs)
        check_answers(run, n_docs, qs, got, f"batch{i}")
        i += 1

    return {
        "index": index,
        "window_start": window_start,
        "query_p50_ms": p50_ms(singles),
        "batch_qps": batch_q / batch_s,
        "freshness_s": fresh,
        "n_singles": len(singles),
        "n_batch_calls": i,
    }


# --------------------------------------------------------------------------
# ingest_search


def ingest_search(run: Run, seconds: float) -> dict:
    from sparksearch import checkpoint

    tr, inp = run.tracer, run.inputs
    index = run.path("index")
    docs = run.docs_df()
    meta = checkpoint.build_geometry(
        run.spark, docs, index, N_UNITS, N_UNITS, N_BUCKETS, 128)
    if meta["unit_span"] != inp.unit_span:
        raise RuntimeError(f"unit geometry {meta} does not match the inputs")
    # Set-up: commit and finalize the first INITIAL_UNITS units.
    for u in range(INITIAL_UNITS):
        with tr.span("checkpoint.build_unit", f"setup{u}", spark=True):
            checkpoint.build_unit(run.spark, docs, index, u, meta["unit_span"])
    with tr.span("checkpoint.finalize_incremental", "setup", spark=True):
        stats = checkpoint.finalize_incremental(run.spark, index)
    check_canary(run, index, INITIAL_UNITS - 1, "canary-setup")

    # Each cycle: one unit in, its canary out (a single query on the grown
    # index), then QUERIES_PER_CYCLE single queries from the log.
    fresh, singles, unit, n_q = [], [], INITIAL_UNITS, 0
    window_start = time.perf_counter()
    t_end = window_start + seconds
    while unit < N_UNITS and (time.perf_counter() < t_end or len(fresh) < MIN_CYCLES):
        req = f"single-cycle{unit}"
        t0 = time.perf_counter()
        try:
            with tr.span("checkpoint.build_unit", req, spark=True):
                checkpoint.build_unit(run.spark, docs, index, unit, meta["unit_span"])
            with tr.span("checkpoint.finalize_incremental", req, spark=True) as sp:
                stats = checkpoint.finalize_incremental(run.spark, index)
        except Exception as e:  # a failed ingest is a counted error
            run.record(False, f"ingest unit {unit}: {type(e).__name__}: {e}")
            break
        sp["input_postings"] = stats["finalize_input_postings"]
        singles.append(check_canary(run, index, unit, req))
        fresh.append(time.perf_counter() - t0)
        for _ in range(QUERIES_PER_CYCLE):
            q = inp.stream[n_q % len(inp.stream)]
            dt, got = query(run, index, [q], f"single{n_q}")
            run.record(got is not None, f"single{n_q} {q!r}")
            singles.append(dt)
            n_q += 1
        unit += 1
    docs.unpersist()

    # After the window: merge the generations, then every query of the log's
    # pool, in two batch calls, must equal the oracle over the documents
    # finalized so far. (Compaction cannot run inside the cycles: a
    # finalize_incremental after compact_index reuses the live dictionary's
    # generation number, deletes that dictionary and fails.)
    before = index_size(index)
    with tr.span("checkpoint.compact_index", "final", spark=True):
        checkpoint.compact_index(run.spark, index)
    n_docs = min(unit * meta["unit_span"], len(inp.texts))
    log = inp.pool
    batch_s = 0.0
    for i, part in enumerate((log[::2], log[1::2])):
        dt, got = query(run, index, part, f"final-log{i}")
        batch_s += dt
        check_answers(run, n_docs, part, got, f"final-log{i}")

    return {
        "index": index,
        "window_start": window_start,
        "query_p50_ms": p50_ms(singles),
        "batch_qps": len(log) / batch_s,
        "freshness_s": statistics.median(fresh),
        "n_singles": len(singles),
        "n_cycles": len(fresh),
        "generations": stats["n_gens"],
        "segment_files": before["segment_files"],
    }


WORKLOADS = {"search": search, "ingest_search": ingest_search}


# --------------------------------------------------------------------------
# traced-run layer probes (run after the timed window, never inside it)


def probe_build(run: Run) -> dict:
    """tokenize -> build_segments -> finalize_index on the whole corpus, each
    materialised on its own so their costs separate."""
    import math

    from sparksearch.build import build_segments, finalize_index, tokenize_tf

    tr = run.tracer
    docs = run.docs_df()
    tf = tokenize_tf(docs).persist()
    with tr.span("tokenize.tokenize_tf", "probe", spark=True):
        postings = tf.count()
    range_size = max(1, math.ceil(len(run.inputs.texts) / N_RANGES))
    with tr.span("build.build_segments", "probe", spark=True):
        blocks = build_segments(tf, None, range_size, N_BUCKETS).count()
    index = run.path("probe_index")
    with tr.span("build.finalize_index", "probe", spark=True) as fin:
        finalize_index(run.spark, tf, index, n_buckets=N_BUCKETS, n_ranges=N_RANGES)
    tf.unpersist()
    docs.unpersist()
    seg = pq.read_table(os.path.join(index, "segments"), columns=["term", "range_id"])
    groups = len(set(zip(seg["term"].to_pylist(), seg["range_id"].to_pylist())))
    tok_s = tr.durations("tokenize.tokenize_tf")[-1]
    seg_s = tr.durations("build.build_segments")[-1]
    fin_s = tr.durations("build.finalize_index")[-1]
    return {
        "tokenize.busy_s": tok_s,
        "tokenize.postings": postings,
        "build.segments_busy_s": seg_s,
        "build.encode_groups": groups,
        "build.blocks": blocks,
        "build.finalize_busy_s": fin_s,
        "build.sinks_s": fin_s - seg_s,
        "build.spark_jobs": fin["jobs"],
        "build.spark_stages": fin["stages"],
    }


def probe_checkpoint(run: Run) -> dict:
    """Unit-at-a-time ingest on a fresh index: INITIAL_UNITS units in one
    finalize, then one single-unit generation and a compaction."""
    from sparksearch import checkpoint

    tr = run.tracer
    index = run.path("probe_ckpt")
    docs = run.docs_df()
    meta = checkpoint.build_geometry(
        run.spark, docs, index, N_UNITS, N_UNITS, N_BUCKETS, 128)
    for u in range(INITIAL_UNITS):
        checkpoint.build_unit(run.spark, docs, index, u, meta["unit_span"])
    checkpoint.finalize_incremental(run.spark, index)
    u = INITIAL_UNITS
    with tr.span("checkpoint.build_unit", f"probe{u}", spark=True):
        checkpoint.build_unit(run.spark, docs, index, u, meta["unit_span"])
    with tr.span("checkpoint.finalize_incremental", f"probe{u}", spark=True) as sp:
        stats = checkpoint.finalize_incremental(run.spark, index)
    sp["input_postings"] = stats["finalize_input_postings"]
    before = index_size(index)
    with tr.span("checkpoint.compact_index", "probe", spark=True):
        checkpoint.compact_index(run.spark, index)
    docs.unpersist()
    return {"index": index, "generations": stats["n_gens"],
            "segment_files": before["segment_files"]}


def checkpoint_metrics(run: Run, ingested: dict) -> dict:
    """``ingested``: the index, its generation count and segment files
    before compaction, from ingest_search's window or probe_checkpoint."""
    tr = run.tracer
    fin = [s for s in tr.records("checkpoint.finalize_incremental")
           if "input_postings" in s]
    return {
        "checkpoint.build_unit_s": statistics.median(tr.durations("checkpoint.build_unit")),
        "checkpoint.finalize_s": statistics.median(s["end"] - s["start"] for s in fin),
        "checkpoint.finalize_input_postings": statistics.median(
            s["input_postings"] for s in fin),
        "checkpoint.dictionary_terms": index_size(ingested["index"])["dictionary_terms"],
        "checkpoint.compact_s": statistics.median(
            tr.durations("checkpoint.compact_index")),
        "checkpoint.generations": ingested["generations"],
        "checkpoint.segment_files": ingested["segment_files"],
    }


def probe_codec(run: Run, index: str, queries: list[str]) -> dict:
    """Driver-side codec cost: encode every posting list of the corpus, and
    decode the blocks the given queries fetch."""
    from collections import Counter

    from sparksearch.codec import decode_blocks, encode_sublist
    from sparksearch.tokenize import py_tokenize

    lists: dict[str, list] = {}
    for doc_id, text in enumerate(run.inputs.texts):
        toks = py_tokenize(text)
        for t, c in Counter(toks).items():
            lists.setdefault(t, []).append((doc_id, c, len(toks)))
    arrays = [np.array(v, dtype=np.int64).T for v in lists.values()]
    n_post = sum(a.shape[1] for a in arrays)
    enc = []
    for _ in range(3):
        t0 = time.perf_counter_ns()
        for ids, tfs, dls in arrays:
            encode_sublist(ids, tfs, dls=dls)
        enc.append((time.perf_counter_ns() - t0) / n_post)

    seg = pq.read_table(os.path.join(index, "segments"),
                        columns=["term", "first_doc_id", "doc_gaps", "tfs", "n"])
    by_term: dict[str, list[int]] = {}
    for i, t in enumerate(seg["term"].to_pylist()):
        by_term.setdefault(t, []).append(i)
    firsts = seg["first_doc_id"].to_numpy()
    gaps, tfs = seg["doc_gaps"].to_pylist(), seg["tfs"].to_pylist()
    ns = seg["n"].to_numpy()
    fetched = [sorted({i for t in set(py_tokenize(q)) for i in by_term.get(t, [])})
               for q in queries]
    blocks = sorted({i for f in fetched for i in f})
    dec_post = int(ns[blocks].sum())
    dec = []
    for _ in range(3):
        t0 = time.perf_counter_ns()
        decode_blocks(firsts[blocks], [gaps[i] for i in blocks], [tfs[i] for i in blocks])
        dec.append((time.perf_counter_ns() - t0) / dec_post)
    return {
        "codec.encode_ns_per_posting": statistics.median(enc),
        "codec.decode_ns_per_posting": statistics.median(dec),
        "daat.blocks_fetched": statistics.mean(len(f) for f in fetched),
        "daat.postings_fetched": statistics.mean(int(ns[f].sum()) for f in fetched),
    }


def daat_metrics(run: Run) -> dict:
    tr = run.tracer
    singles = [s for s in tr.records("daat.query")
               if s["request"].startswith("single")]
    ids = {s["request"] for s in singles}
    plan = [s for s in tr.records("daat.plan") if s["request"] in ids]
    exe = [s for s in tr.records("daat.exec") if s["request"] in ids]
    return {
        "daat.plan_s": statistics.median(s["end"] - s["start"] for s in plan),
        "daat.exec_s": statistics.median(s["end"] - s["start"] for s in exe),
        "daat.spark_jobs": statistics.median(s["jobs"] for s in singles),
        "daat.spark_stages": statistics.median(s["stages"] for s in singles),
        "daat.spark_tasks": statistics.median(s["tasks"] for s in singles),
    }
