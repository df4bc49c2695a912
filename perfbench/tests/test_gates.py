"""The correctness gates reject planted wrong answers."""

import numpy as np
import pytest

from perfbench import harness, inputs, serving
from perfbench.harness import GateFailure, Run
from perfbench.tracing import NullTracer
from perfbench.wl_dedup_curate import false_positives, same_funnel
from perfbench.wl_index_lifecycle import K, _same_as_exact


class _Ctx:
    def __init__(self):
        self.run = Run(1.0, NullTracer())


def _exact_case(seed=0):
    rng = np.random.default_rng(seed)
    X = rng.standard_normal((300, 8))
    Q = rng.standard_normal((5, 8))
    ids = np.arange(1000, 1300)
    exact = inputs.exact_topk(X, Q, K, ids=ids)
    return X, Q, ids, exact


def test_exact_topk_matches_brute_force():
    X, Q, ids, exact = _exact_case()
    d = ((Q[:, None, :] - X[None, :, :]) ** 2).sum(-1)
    want = ids[np.argsort(d, axis=1, kind="stable")[:, :K]]
    assert (exact == want).all()


def test_full_probe_gate_accepts_exact_and_rejects_a_swap():
    X, Q, ids, exact = _exact_case()
    got = {q: exact[q].tolist() for q in range(len(Q))}
    assert _same_as_exact(got, exact, X, Q, ids)
    wrong = dict(got)
    far = next(i for i in ids.tolist() if i not in set(exact[2].tolist()))
    wrong[2] = exact[2].tolist()[:-1] + [far]
    assert not _same_as_exact(wrong, exact, X, Q, ids)
    missing = dict(got)
    missing[4] = exact[4].tolist()[:-1]
    assert not _same_as_exact(missing, exact, X, Q, ids)


def test_full_probe_gate_allows_an_exact_tie():
    X, Q, ids, exact = _exact_case()
    X = np.vstack([X, X[ids.tolist().index(exact[0][-1])]])  # duplicate the k-th
    ids = np.append(ids, 5000)
    got = {q: inputs.exact_topk(X, Q, K, ids=ids)[q].tolist() for q in range(len(Q))}
    got[0] = got[0][:-1] + [5000]
    assert _same_as_exact(got, inputs.exact_topk(X, Q, K, ids=ids), X, Q, ids)


def test_served_answers_must_match_the_batch():
    ctx = _Ctx()
    res = {"answers": {1: [5, 6], 2: [7, 8]}, "done": {1: 10.0, 2: 11.0}}
    serving.check_against_batch(ctx, res, {1: [5, 6], 2: [8, 7]})
    assert ctx.run.failed == 1 and ctx.run.gates["served_equals_batch"] is False
    assert 2 not in res["done"]  # its latency is dropped
    ok = _Ctx()
    serving.check_against_batch(ok, {"answers": {1: [5]}, "done": {1: 1.0}}, {1: [5]})
    assert ok.run.failed == 0 and ok.run.gates["served_equals_batch"] is True


def test_dedup_gate_finds_a_false_positive():
    texts = [
        "alpha beta gamma delta epsilon zeta eta theta",
        "alpha beta gamma delta epsilon zeta eta theta iota",
        "one two three four five six seven eight",
    ]
    assert false_positives(texts, [(0, 1)], {}) == []
    assert false_positives(texts, [(0, 1), (0, 2)], {}) == [(0, 2)]


def test_planted_near_duplicates_clear_the_threshold():
    docs = inputs.synth_docs(400, seed=3)
    assert docs["planted"] and all(d == b + 1 for b, d in docs["planted"])
    assert false_positives(docs["text"], docs["planted"], {}) == []


def test_funnel_gate_needs_identical_counts():
    rows = [("raw", 10, 100), ("lang", 9, 90)]
    same_funnel(None, rows)
    same_funnel([list(r) for r in rows], rows)
    with pytest.raises(GateFailure):
        same_funnel(rows, [("raw", 10, 100), ("lang", 8, 90)])


def test_failed_and_wrong_operations_are_counted_and_not_timed():
    run = Run(1.0, NullTracer())
    assert run.op("ok", lambda: 1) == 1

    def wrong(_):
        raise GateFailure("planted")

    assert run.op("bad", lambda: 2, check=wrong) is None
    assert run.op("boom", lambda: 1 / 0) is None
    assert (run.attempted, run.failed) == (3, 2)
    assert "bad" not in run.samples and "boom" not in run.samples
    assert len(run.samples["ok"]) == 1


def test_inputs_are_a_function_of_the_seed():
    a, b = inputs.Mixture(5), inputs.Mixture(5)
    assert np.array_equal(a.draw(50, 0), b.draw(50, 0))
    assert not np.array_equal(a.draw(50, 0), inputs.Mixture(6).draw(50, 0))
    assert inputs.synth_docs(200, 4)["text"] == inputs.synth_docs(200, 4)["text"]
    assert harness.nproc() >= 1
