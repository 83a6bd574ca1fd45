"""Tests of the benchmark's own references and scoring (no Spark).

Run: python3 -m pytest perfbench -q
"""

from itertools import combinations

import numpy as np

from inputs import make_docs
from reference import (
    docs_reference,
    jaccard_matrix,
    labels_for,
    pair_scores,
    shared_substring_pairs,
    shingle_set,
)


def _naive_pairs(labels):
    return {(i, j) for i, j in combinations(range(len(labels)), 2) if labels[i] == labels[j]}


def test_jaccard_matrix_matches_set_jaccard():
    texts = make_docs(25, seed=3)["text"].tolist() + ["ab", "", "Spark spark"]
    j = jaccard_matrix(texts)
    for a, b in combinations(range(len(texts)), 2):
        sa, sb = shingle_set(texts[a]), shingle_set(texts[b])
        want = len(sa & sb) / len(sa | sb) if sa | sb else 0.0
        assert abs(j[a, b] - want) < 1e-12


def _shares_substring(a: str, b: str, n: int) -> bool:
    return any(a[i : i + n] in b for i in range(len(a) - n + 1))


def test_shared_substring_pairs_match_naive():
    texts = make_docs(30, seed=2)["text"].tolist()
    tail24 = "0123456789abcdefghijklmn"  # shared only as both texts' last gram
    texts += ["short", "short", "x " + texts[0][5:35] + " y", "P" + tail24, "Q" + tail24]
    want = {(a, b) for a, b in combinations(range(len(texts)), 2)
            if _shares_substring(texts[a], texts[b], 24)}
    assert {tuple(p) for p in shared_substring_pairs(texts, 24).tolist()} == want
    assert want  # the fixture does exercise the substring criterion


def test_docs_reference_is_closure_of_edge_graph():
    texts = make_docs(40, seed=5)["text"].tolist()
    j = jaccard_matrix(texts)
    ref = docs_reference(texts, threshold=0.5, min_len=24)
    # naive closure: repeat min-label propagation until fixed point
    lab = list(range(len(texts)))
    changed = True
    while changed:
        changed = False
        for a, b in combinations(range(len(texts)), 2):
            edge = j[a, b] >= 0.5 or _shares_substring(texts[a], texts[b], 24)
            if edge and lab[a] != lab[b]:
                lab[a] = lab[b] = min(lab[a], lab[b])
                changed = True
    assert _naive_pairs(ref) == _naive_pairs(lab)


def test_pair_scores_match_pair_enumeration():
    rng = np.random.default_rng(0)
    for _ in range(20):
        n = int(rng.integers(1, 40))
        pred = rng.integers(0, 6, size=n)
        ref = rng.integers(0, 6, size=n) * 7 + 100  # labels need not align
        got = pair_scores(pred, ref)
        p, r = _naive_pairs(pred), _naive_pairs(ref)
        assert got["pairs_both"] == len(p & r)
        assert got["pairs_output"] == len(p)
        assert got["pairs_reference"] == len(r)
        assert got["recall"] == (len(p & r) / len(r) if r else 1.0)
        assert got["precision"] == (len(p & r) / len(p) if p else 1.0)


def test_labels_for_treats_missing_ids_as_singletons():
    ids = np.array([10, 11, 12, 13, 14])
    lab = labels_for(ids, np.array([11, 13, 14]), np.array([11, 11, 14]))
    assert _naive_pairs(lab) == {(1, 3)}
    s = pair_scores(lab, np.array([0, 1, 2, 1, 4]))
    assert s["recall"] == 1.0 and s["precision"] == 1.0


def test_tail_keeps_ten_samples_beyond():
    from run import tail

    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    v, p, n = tail([float(i) for i in range(40)])
    assert (v, n) == (29.0, 40) and sum(x > v for x in range(40)) == 10 and p == 75.0
