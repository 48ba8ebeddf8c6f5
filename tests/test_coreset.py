"""Greedy k-center and MMR selection against an independent numpy
replay: one pick per step, every score recomputed from scratch over the
whole selected set. The corpora have integer coordinates, so every dot
product and squared norm is exact in any summation order and the
replay's cosines are bit-identical to the engine's left folds."""

import numpy as np
import pytest

from graphdbetl_spark.operators import coreset
from graphdbetl_spark.operators.coreset import kcenter_select, mmr_select


def _signed_corpus(n=40, d=4):
    # Deterministic coordinates in [-5, 5], so many cosines are
    # negative; no zero vector.
    rows = {}
    for i in range(n):
        v = [float((i * 7 + j * 5 + i * j * 3) % 11 - 5) for j in range(d)]
        rows[i] = v if any(v) else [1.0] + v[1:]
    return rows


def _frame(spark, vecs):
    return spark.createDataFrame(sorted(vecs.items()), ["vec_id", "embedding"])


def _cos(a, b):
    a, b = np.array(a), np.array(b)
    return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))


def _kcenter_replay(vecs, k):
    """Seed = min id; then the argmin of max-cosine to the selected
    set, ties to the lower id; radius = 1 − that max-cosine."""
    sel = [min(vecs)]
    out = [(1, sel[0], None)]
    while len(out) < k and len(sel) < len(vecs):
        mc = {i: max(_cos(vecs[i], vecs[c]) for c in sel) for i in vecs if i not in sel}
        i = min(mc, key=lambda i: (mc[i], i))
        sel.append(i)
        out.append((len(out) + 1, i, 1.0 - mc[i]))
    return out


def _mmr_replay(vecs, k):
    """Query = min id, never a candidate; then the argmax of
    0.5·rel − 0.5·max-cosine to the selected set (0.5·rel over the
    empty set), ties to the lower id."""
    q = min(vecs)
    rel = {i: _cos(v, vecs[q]) for i, v in vecs.items() if i != q}
    sel, out = [], []
    while len(out) < k and len(sel) < len(rel):
        score = {
            i: 0.5 * rel[i] - 0.5 * max(_cos(vecs[i], vecs[s]) for s in sel)
            if sel
            else 0.5 * rel[i]
            for i in rel
            if i not in sel
        }
        i = min(score, key=lambda i: (-score[i], i))
        sel.append(i)
        out.append((len(out) + 1, i, score[i]))
    return out


def _assert_trajectory(got, want):
    assert [(r[0], r[1]) for r in got] == [(step, i) for step, i, _ in want]
    for r, (_, _, x) in zip(got, want):
        assert (r[2] is None) == (x is None)
        if x is not None:
            assert abs(r[2] - x) <= 5e-5 + 1e-12  # 4-decimal JVM rounding


@pytest.mark.parametrize("k", [1, 2, 5, 12, 60])
def test_kcenter_matches_numpy_replay(spark, k):
    """Batch admission reproduces the one-pick-per-step trajectory,
    including k larger than the 40-row corpus (every row, once)."""
    vecs = _signed_corpus()
    got = kcenter_select(_frame(spark, vecs), k=k).collect()
    assert len(got) == min(k, len(vecs))
    _assert_trajectory(got, _kcenter_replay(vecs, k))


@pytest.mark.parametrize("k", [1, 2, 5, 12, 60])
def test_mmr_matches_numpy_replay(spark, k):
    vecs = _signed_corpus()
    got = mmr_select(_frame(spark, vecs), k=k).collect()
    assert len(got) == min(k, len(vecs) - 1)
    _assert_trajectory(got, _mmr_replay(vecs, k))


def test_mmr_negative_cosine_outscores_the_relevance_bound(spark):
    """Over the empty set 0.5·rel does not bound later scores: a row
    whose cosine to the first pick is negative GAINS score when that
    pick joins the set. Query 0 is +x; 1 and 2 tie on relevance (1
    wins on id); 3 and 4 lie near 1; 5 has low relevance but cosine
    −0.55 to 1, so it is the true second pick (0.375 against 2's
    0.354). A first pass that bounded later picks by its 4th-best
    0.5·rel (0.305) admitted 2 instead."""
    vecs = {
        0: [1.0, 0.0], 1: [1.0, 1.0], 2: [1.0, -1.0],
        3: [5.0, 6.0], 4: [10.0, 13.0], 5: [1.0, -5.0],
    }
    got = mmr_select(_frame(spark, vecs), k=5).collect()
    assert [r["selected_id"] for r in got[:2]] == [1, 5]
    _assert_trajectory(got, _mmr_replay(vecs, 5))


def test_short_list_finishes_driver_side(spark, monkeypatch):
    """With fewer unpicked rows than picks left, one pass returns the
    whole remaining corpus and the rest of the trajectory is admitted
    driver-side with no bound and no further pass."""
    rounds = []
    monkeypatch.setattr(coreset, "PLAN_PROBE", lambda label, df: rounds.append(label))
    vecs = _signed_corpus(n=5)
    emb = _frame(spark, vecs)
    _assert_trajectory(kcenter_select(emb, k=9).collect(), _kcenter_replay(vecs, 9))
    _assert_trajectory(mmr_select(emb, k=9).collect(), _mmr_replay(vecs, 9))
    assert rounds == ["kcenter_round", "mmr_round"]
