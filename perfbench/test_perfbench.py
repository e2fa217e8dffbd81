"""The benchmark's own tests (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent), str(HERE.parent / "tests")]

import run  # noqa: E402
import workloads  # noqa: E402
from inputs import make_inputs  # noqa: E402
from tracing import Tracer  # noqa: E402


def test_same_seed_gives_identical_inputs():
    a, b = make_inputs(7), make_inputs(7)
    assert a.digest() == b.digest()
    assert (a.texts, a.canaries, a.stream, a.batches) == (
        b.texts, b.canaries, b.stream, b.batches)


def test_other_seed_gives_other_inputs():
    a, b = make_inputs(7), make_inputs(8)
    assert a.digest() != b.digest()
    assert a.texts != b.texts
    assert a.canaries != b.canaries
    assert a.stream != b.stream
    assert a.batches != b.batches


def test_canaries_are_unique_and_batches_fresh():
    inp = make_inputs(3)
    for doc_id, token in inp.canaries:
        holders = [i for i, t in enumerate(inp.texts) if token in t.split()]
        assert holders == [doc_id]
    fresh = [q for b in inp.batches for q in b]
    assert len(set(fresh)) == len(fresh)
    assert not set(fresh) & set(inp.pool)
    assert set(inp.stream) <= set(inp.pool)
    assert 0.0 < inp.repeat_share < 1.0


def test_metric_names_equal_benchmark_json():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)


def test_result_line_refuses_other_metric_names():
    metrics = {k: 1.0 for k in run.END_TO_END}
    out = json.loads(run.result_line(metrics, run.END_TO_END, 3, 0))
    assert out["correct"] is True and set(out["metrics"]) == set(run.END_TO_END)
    del metrics["setup_s"]
    with pytest.raises(ValueError):
        run.result_line(metrics, run.END_TO_END, 3, 0)


@pytest.fixture()
def small_run():
    inp = make_inputs(5)
    return workloads.Run(spark=None, inputs=inp, work_dir="", tracer=Tracer())


QUERY = "get set_value"


def test_right_answer_is_counted_correct(small_run):
    got = small_run.oracle(200).topk(QUERY, workloads.K)
    small_run.check(200, QUERY, got, "q")
    assert (small_run.attempted, small_run.failed) == (1, 0)


@pytest.mark.parametrize("corrupt", [
    lambda a: [a[-1]] + a[1:-1] + [a[0]],        # first and last swapped
    lambda a: a[:-1],                            # an answer missing
    lambda a: [(a[0][0], a[0][1] + 1e-3)] + a[1:],   # a score off
    lambda a: [(a[0][0] + 1, a[0][1])] + a[1:],      # a wrong document
    lambda a: [a[0], a[0]] + a[2:],              # a document twice
    lambda a: None,                              # the call raised
])
def test_corrupted_answer_is_counted_as_error(small_run, corrupt):
    good = small_run.oracle(200).topk(QUERY, workloads.K)
    assert len(good) == workloads.K and good[0][1] - good[-1][1] > 1e-3
    small_run.check(200, QUERY, corrupt(good), "q")
    assert (small_run.attempted, small_run.failed) == (1, 1)


def test_docs_tied_within_tolerance_may_swap():
    score_of = {10: 1.0, 11: 1.0 + 5e-7, 12: 1.0 + 5e-6}.get
    want = [(11, 1.0 + 5e-7), (10, 1.0)]
    assert workloads.rank_identical([(10, 1.0), (11, 1.0 + 5e-7)], want, score_of)
    assert not workloads.rank_identical([(12, 1.0 + 5e-6), (10, 1.0)], want, score_of)
