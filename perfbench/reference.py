"""Independent references for the output checks (numpy only).

The engine is never its own reference: each function here recomputes an
expected output from the generated graph with a different implementation,
under the engine's documented conventions.
"""

from __future__ import annotations

import numpy as np


def undirect(src, dst, weight, n):
    """Canonical undirected edges (src < dst), weights summed."""
    lo, hi = np.minimum(src, dst), np.maximum(src, dst)
    keep = lo != hi
    key, inv = np.unique(lo[keep] * n + hi[keep], return_inverse=True)
    w = np.bincount(inv, weights=weight[keep])
    return key // n, key % n, w


def degrees(usrc, udst, n):
    """Undirected degree per vertex (0 for vertices absent from the edges)."""
    return np.bincount(usrc, minlength=n) + np.bincount(udst, minlength=n)


def pagerank(src, dst, n, damping=0.85, tol=1e-6, max_iter=100):
    """Power iteration under the engine's convention: vertices are the edge
    endpoints, share = 1/out-degree (distinct edges), dangling mass spread
    uniformly, stop once max |r' - r| < tol. Returns (ids, ranks, steps)."""
    ids = np.unique(np.concatenate([src, dst]))
    pos = np.full(n, -1, dtype=np.int64)
    pos[ids] = np.arange(ids.size)
    s, d = pos[src], pos[dst]
    m = ids.size
    outdeg = np.bincount(s, minlength=m).astype(np.float64)
    dangling = outdeg == 0
    r = np.full(m, 1.0 / m)
    for step in range(1, max_iter + 1):
        contrib = np.bincount(d, weights=r[s] / outdeg[s], minlength=m)
        new = (1.0 - damping) / m + damping * (contrib + r[dangling].sum() / m)
        delta = np.abs(new - r).max()
        r = new
        if delta < tol:
            break
    return ids, r, step


def components(usrc, udst, n):
    """Minimum vertex id of each vertex's component, by min-label
    propagation with pointer jumping. Returns (ids, component)."""
    ids = np.unique(np.concatenate([usrc, udst]))
    label = np.arange(n, dtype=np.int64)
    while True:
        old = label.copy()
        np.minimum.at(label, usrc, label[udst])
        np.minimum.at(label, udst, label[usrc])
        while True:
            jumped = label[label]
            if np.array_equal(jumped, label):
                break
            label = jumped
        if np.array_equal(old, label):
            return ids, label[ids]


def triangles(usrc, udst, n) -> int:
    """Global triangle count: rank vertices by (degree, id), orient each
    edge from the lower to the higher rank, and close every wedge at its
    lowest vertex by a sorted-key lookup."""
    deg = np.bincount(usrc, minlength=n) + np.bincount(udst, minlength=n)
    rank = np.empty(n, dtype=np.int64)
    rank[np.lexsort((np.arange(n), deg))] = np.arange(n)
    a, b = rank[usrc], rank[udst]
    lo, hi = np.minimum(a, b), np.maximum(a, b)
    order = np.lexsort((hi, lo))
    lo, hi = lo[order], hi[order]
    key = lo * n + hi
    start = np.searchsorted(lo, np.arange(n + 1))
    out = np.diff(start)
    total = 0
    for k in np.unique(out[out >= 2]):
        v = np.nonzero(out == k)[0]
        i, j = np.triu_indices(k, 1)
        q = (hi[start[v][:, None] + i] * n + hi[start[v][:, None] + j]).ravel()
        pos = np.minimum(np.searchsorted(key, q), key.size - 1)
        total += int((key[pos] == q).sum())
    return total


def label_propagation(usrc, udst, uw, n, max_iter):
    """Synchronous weighted LPA: every vertex takes the neighbour label with
    the largest summed weight, ties to the smallest label; initial label is
    the vertex id; stops when nothing changes. Returns (ids, labels, steps)."""
    ids = np.unique(np.concatenate([usrc, udst]))
    s = np.concatenate([usrc, udst])
    d = np.concatenate([udst, usrc])
    w = np.concatenate([uw, uw])
    label = np.arange(n, dtype=np.int64)
    for step in range(1, max_iter + 1):
        key, inv = np.unique(s * n + label[d], return_inverse=True)
        votes = np.bincount(inv, weights=w)
        v, lab = key // n, key % n
        # per vertex: max votes, then smallest label
        order = np.lexsort((lab, -votes, v))
        first = np.ones(order.size, dtype=bool)
        first[1:] = v[order][1:] != v[order][:-1]
        pick = order[first]
        new = label.copy()
        new[v[pick]] = lab[pick]
        changed = int((new != label).sum())
        label = new
        if changed == 0:
            break
    return ids, label[ids], step


def cut_and_waste(usrc, udst, ids, part, k):
    """Cut ratio over the edge table and the reference ``waste`` score
    (sum over partitions of max balance minus balance, balance = size / n)."""
    p = np.full(int(max(ids.max(), usrc.max(), udst.max())) + 1, -1, dtype=np.int64)
    p[ids] = part
    cut = float((p[usrc] != p[udst]).sum()) / usrc.size
    bal = np.bincount(part, minlength=k)[:k] / ids.size
    return cut, float((bal.max() - bal).sum())
