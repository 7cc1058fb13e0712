"""Pure-NumPy oracles for the graph algorithms (SURVEY.md §5 test plan).

These re-implement the exact semantics the Spark operators claim, with no
Spark involved, so tests compare two independent code paths.
"""

from __future__ import annotations

import numpy as np


def _relabel(src, dst):
    ids = np.unique(np.concatenate([src, dst]))
    idx = {v: i for i, v in enumerate(ids)}
    s = np.array([idx[v] for v in src])
    d = np.array([idx[v] for v in dst])
    return ids, s, d


def pagerank_oracle(src, dst, damping=0.85, tol=1e-6, max_iter=100, weights=None):
    """Power iteration with uniform dangling redistribution; with ``weights``
    a vertex splits its rank over its out-edges in proportion to them.
    Returns dict vertex_id -> rank."""
    ids, s, d = _relabel(src, dst)
    n = len(ids)
    w = np.ones(len(s)) if weights is None else np.asarray(weights, dtype=float)
    outdeg = np.bincount(s, minlength=n).astype(float)
    r = np.full(n, 1.0 / n)
    share = w / np.bincount(s, weights=w, minlength=n)[s]
    for _ in range(max_iter):
        contrib = np.bincount(d, weights=r[s] * share, minlength=n)
        dangling = r[outdeg == 0].sum()
        r_new = (1 - damping) / n + damping * (contrib + dangling / n)
        if np.max(np.abs(r_new - r)) < tol:
            r = r_new
            break
        r = r_new
    return dict(zip(ids.tolist(), r.tolist()))


def components_oracle(src, dst):
    """Union-find; component id = min vertex id. dict id -> comp."""
    ids, s, d = _relabel(src, dst)
    parent = np.arange(len(ids))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(s, d):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    roots = np.array([find(i) for i in range(len(ids))])
    # canonical min-id per component
    comp_min = {}
    for i, r in enumerate(roots):
        comp_min[r] = min(comp_min.get(r, ids[i]), ids[i])
    return {ids[i]: comp_min[roots[i]] for i in range(len(ids))}


def lpa_oracle(src, dst, w, max_iter=20, weighted=True):
    """Synchronous LPA: adopt the max-weight neighbor label, ties → smallest
    label; no-neighbor vertices keep their label. dict id -> label."""
    ids, s, d = _relabel(src, dst)
    n = len(ids)
    if not weighted:
        w = np.ones(len(s))
    # symmetric adjacency as lists
    nbrs = [[] for _ in range(n)]
    for a, b, wt in zip(s, d, w):
        nbrs[a].append((b, wt))
        nbrs[b].append((a, wt))
    labels = ids.copy().astype(np.int64)
    for _ in range(max_iter):
        new = labels.copy()
        changed = False
        for v in range(n):
            if not nbrs[v]:
                continue
            votes = {}
            for u, wt in nbrs[v]:
                lab = labels[u]
                votes[lab] = votes.get(lab, 0.0) + wt
            best = min(votes.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            if best != labels[v]:
                changed = True
            new[v] = best
        labels = new
        if not changed:
            break
    return dict(zip(ids.tolist(), labels.tolist()))


def triangles_oracle(src, dst):
    """Exact triangle count + per-vertex counts over the simple undirected
    graph induced by the edge list. Returns (total, dict id -> count)."""
    pairs = set()
    for a, b in zip(src.tolist(), dst.tolist()):
        if a != b:
            pairs.add((min(a, b), max(a, b)))
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    total = 0
    per = {v: 0 for v in adj}
    for a, b in pairs:
        common = adj[a] & adj[b]
        for c in common:
            if c > b:  # a < b < c counts each triangle once (needs a<b here)
                if a < b:
                    total += 1
                    per[a] += 1
                    per[b] += 1
                    per[c] += 1
    return total, {v: c for v, c in per.items() if c > 0}


# ---------------------------------------------------------------------------
# Partition-metric oracles (re-implementing /root/reference/graph_partitioning/
# utils.py line-for-line on plain adjacency dicts)
# ---------------------------------------------------------------------------

def _adj(src, dst, w):
    """Undirected simple-graph adjacency {u: {v: weight}} (parallel edges
    combine by sum, matching graph.edges.undirect)."""
    adj = {}
    for a, b, wt in zip(src.tolist(), dst.tolist(), w.tolist()):
        if a == b:
            continue
        adj.setdefault(a, {})[b] = adj.get(a, {}).get(b, 0.0) + wt
        adj.setdefault(b, {})[a] = adj.get(b, {}).get(a, 0.0) + wt
    return adj


def waste_oracle(assign, weights, num_partitions, n_nodes):
    """utils.py:158-177: balance = weighted bincount / n; waste = sum(max-b)."""
    import numpy as np
    parts = [0.0] * num_partitions
    for node, p in assign.items():
        if p >= 0:
            parts[p] += weights.get(node, 1.0)
    balance = np.array(parts) / n_nodes
    return float((balance.max() - balance).sum())


def cut_oracle(src, dst, w, assign):
    """utils.py:179-232: mismatch count, cut ratio, TCV (per-node distinct
    foreign neighbor partitions)."""
    adj = _adj(src, dst, w)
    edges = set()
    for a in adj:
        for b in adj[a]:
            edges.add((min(a, b), max(a, b)))
    mismatch = sum(1 for a, b in edges if assign[a] != assign[b])
    tcv = 0
    for v in adj:
        foreign = {assign[u] for u in adj[v] if assign[u] != assign[v]}
        tcv += len(foreign)
    return mismatch, mismatch / len(edges) if edges else 0.0, tcv


def rbse_oracle(src, dst, w, assign, num_partitions):
    """utils.py:1101-1153."""
    adj = _adj(src, dst, w)
    total = rbse_n = 0
    for v, p in assign.items():
        if p < 0:
            continue
        total += 1
        scores = [0.0] * num_partitions
        for u, wt in adj.get(v, {}).items():
            pu = assign.get(u, -1)
            if pu >= 0:
                scores[pu] += wt if wt > 0 else 1.0
        own = scores[p]
        if any(scores[q] > own for q in range(num_partitions) if q != p):
            rbse_n += 1
    return rbse_n / total if total else 0.0


def loneliness_oracle(src, dst, w, assign, num_partitions, param):
    """utils.py:565-600: per-partition mean of 1-1/(intra_deg+1)^param,
    population-weighted across partitions."""
    import numpy as np
    adj = _adj(src, dst, w)
    nodes = list(assign.keys())
    scores, pops = [], []
    for p in range(num_partitions):
        members = [v for v in nodes if assign[v] == p]
        mset = set(members)
        if not members:
            scores.append(0.0)
            pops.append(0)
            continue
        tot = 0.0
        for v in members:
            deg = sum(1 for u in adj.get(v, {}) if u in mset)
            tot += 1 - 1.0 / (deg + 1) ** param
        scores.append(tot / len(members))
        pops.append(len(members))
    if sum(pops) == 0:
        return 0.0
    return float(np.average(scores, weights=pops))


def modularity_oracle(src, dst, w, assign):
    """Newman Q over the weighted undirected simple graph."""
    adj = _adj(src, dst, w)
    edges = {}
    for a in adj:
        for b, wt in adj[a].items():
            if a < b:
                edges[(a, b)] = wt
    m = sum(edges.values())
    if m == 0:
        return 0.0
    deg = {}
    intra = {}
    for (a, b), wt in edges.items():
        deg[assign[a]] = deg.get(assign[a], 0.0) + wt
        deg[assign[b]] = deg.get(assign[b], 0.0) + wt
        if assign[a] == assign[b]:
            intra[assign[a]] = intra.get(assign[a], 0.0) + wt
    q = 0.0
    for p, d in deg.items():
        q += intra.get(p, 0.0) / m - (d / (2 * m)) ** 2
    return q


def fennel_step_oracle(adj, node, assign, num_partitions, alpha, weights=None):
    """fennel.pyx:19-112 for one node against a frozen snapshot: votes,
    weighted sizes, score = votes - alpha*size (+alpha for prev), first-max."""
    votes = [0.0] * num_partitions
    for u, wt in adj.get(node, {}).items():
        pu = assign.get(u, -1)
        if pu >= 0:
            votes[pu] += wt if wt > 0 else 1.0
    sizes = [0.0] * num_partitions
    for v, p in assign.items():
        if p >= 0:
            sizes[p] += (weights or {}).get(v, 1.0)
    prev = assign.get(node, -1)
    best_p, best_val = 0, None
    for p in range(num_partitions):
        val = votes[p] - alpha * sizes[p]
        if p == prev:
            val += alpha
        if best_val is None or val > best_val:
            best_p, best_val = p, val
    return best_p
