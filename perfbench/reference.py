"""Reference answers and pair-counting scores, independent of the program.

The docs reference joins two documents when the exact Jaccard of their
sets of lowercase char 3- and 4-grams (the pipeline's MinHash tokenizer)
reaches the threshold, computed by brute force as a dense
shingle-incidence matrix product, or when they share a substring of at
least SUBSTRING_MIN_LEN characters (the pipeline's substring layer, on in
this workload); the edges are then closed under union-find. It never
touches the program's hashing, banding or verification.

Scores count pairs through the contingency table of (output component,
reference component) sizes, so a giant component costs one row of the
table, not its O(n^2) pairs.
"""

from __future__ import annotations

import numpy as np

THRESHOLD = 0.5  # PipelineConfig's default MinHash jaccard threshold
SUBSTRING_MIN_LEN = 24  # PipelineConfig.substring_min_len
SHINGLES = (3, 4)


def shingle_set(text: str) -> set[str]:
    t = text.lower()
    return {t[i : i + n] for n in SHINGLES for i in range(len(t) - n + 1)}


def jaccard_matrix(texts: list[str]) -> np.ndarray:
    """Exact pairwise Jaccard of the shingle sets, as an (n, n) float64."""
    sets = [shingle_set(t) for t in texts]
    vocab = {g: j for j, g in enumerate(sorted(set().union(*sets)))}
    x = np.zeros((len(texts), len(vocab)), dtype=np.float32)
    for i, s in enumerate(sets):
        x[i, [vocab[g] for g in s]] = 1.0
    inter = (x @ x.T).astype(np.float64)  # exact: counts < 2^24
    size = np.diag(inter)
    union = size[:, None] + size[None, :] - inter
    with np.errstate(invalid="ignore", divide="ignore"):
        return np.where(union > 0, inter / union, 0.0)


def union_find(n: int, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Component label (smallest member index) for each of n nodes."""
    parent = np.arange(n)

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for u, v in zip(a.tolist(), b.tolist()):
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return np.array([find(i) for i in range(n)])


def shared_substring_pairs(texts: list[str], min_len: int) -> np.ndarray:
    """(k, 2) index pairs i < j of texts sharing a substring of at least
    min_len characters, i.e. sharing at least one min_len-gram."""
    docs_of: dict[str, set[int]] = {}
    for i, t in enumerate(texts):
        for k in range(len(t) - min_len + 1):
            docs_of.setdefault(t[k : k + min_len], set()).add(i)
    pairs = {(a, b) for ds in docs_of.values() if len(ds) > 1
             for a in ds for b in ds if a < b}
    return np.array(sorted(pairs), dtype=np.int64).reshape(-1, 2)


def docs_reference(texts: list[str], threshold: float = THRESHOLD,
                   min_len: int = SUBSTRING_MIN_LEN) -> np.ndarray:
    """Reference component per document: connected components of the
    graph with an edge wherever exact Jaccard >= threshold or a shared
    substring >= min_len characters."""
    j = jaccard_matrix(texts)
    a, b = np.nonzero(np.triu(j >= threshold, k=1))
    sub = shared_substring_pairs(texts, min_len)
    return union_find(len(texts), np.concatenate([a, sub[:, 0]]),
                      np.concatenate([b, sub[:, 1]]))


def _pairs(sizes: np.ndarray) -> int:
    s = sizes.astype(np.int64)
    return int((s * (s - 1) // 2).sum())


def pair_scores(pred: np.ndarray, ref: np.ndarray) -> dict:
    """Pair-counting recall and precision of the partition ``pred`` against
    ``ref`` (both: one label per item, same item order; labels compared
    only for equality). Returns the counts the ratios are taken over."""
    pred = np.unique(np.asarray(pred), return_inverse=True)[1]
    ref = np.unique(np.asarray(ref), return_inverse=True)[1]
    cells = np.unique(pred.astype(np.int64) * (ref.max() + 1) + ref, return_counts=True)[1]
    both = _pairs(cells)
    pred_pairs = _pairs(np.bincount(pred))
    ref_pairs = _pairs(np.bincount(ref))
    return {
        "recall": both / ref_pairs if ref_pairs else 1.0,
        "precision": both / pred_pairs if pred_pairs else 1.0,
        "pairs_both": both,
        "pairs_output": pred_pairs,
        "pairs_reference": ref_pairs,
    }


def labels_for(ids: np.ndarray, out_ids: np.ndarray, out_comp: np.ndarray) -> np.ndarray:
    """Output component per input id, in ``ids`` order. Ids absent from the
    output are singletons, each labelled by its own position."""
    comp = dict(zip(out_ids.tolist(), out_comp.tolist()))
    labels, codes = [], {}
    for i, x in enumerate(ids.tolist()):
        c = comp.get(x)
        key = ("c", c) if c is not None else ("s", i)
        labels.append(codes.setdefault(key, len(codes)))
    return np.array(labels)
