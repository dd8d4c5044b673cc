"""NumPy reference results the benchmark checks the engine against.

Each oracle works on plain arrays collected from the tables the engine
read or wrote, never on the engine's own code paths, so a wrong answer
from Spark cannot be reproduced here by accident.
"""

from __future__ import annotations

import re

import numpy as np


def pagerank(src, dst, weight, iterations, damping=0.85):
    """``iterations`` power-iteration steps with the engine's documented
    semantics: arcs as given, trans prob w / out-weight, dangling mass
    spread uniformly. Returns (ids, ranks, L1 change of every step)."""
    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    n = len(ids)
    s, d = inv[: len(src)], inv[len(src):]
    w = np.asarray(weight, dtype=float)
    outw = np.bincount(s, weights=w, minlength=n)
    tp = w / outw[s]
    dangling = outw == 0
    p = np.full(n, 1.0 / n)
    deltas = []
    for _ in range(iterations):
        msg = np.bincount(d, weights=tp * p[s], minlength=n)
        q = (1 - damping) / n + damping * p[dangling].sum() / n + damping * msg
        deltas.append(np.abs(q - p).sum())
        p = q
    return ids, p, deltas


def components(src, dst):
    """Weakly connected components, labelled by their smallest id:
    min-label hooking with pointer jumping until no label changes.
    Returns (ids, comp)."""
    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    s, d = inv[: len(src)], inv[len(src):]
    lab = np.arange(len(ids))
    while True:
        old = lab.copy()
        m = np.minimum(lab[s], lab[d])
        np.minimum.at(lab, lab[s], m)
        np.minimum.at(lab, lab[d], m)
        lab = lab[lab]
        while not np.array_equal(lab, lab[lab]):
            lab = lab[lab]
        if np.array_equal(lab, old):
            return ids, ids[lab]


def _simple_undirected(src, dst):
    a, b = np.minimum(src, dst), np.maximum(src, dst)
    keep = a != b
    pairs = np.unique(np.stack([a[keep], b[keep]], axis=1), axis=0)
    return pairs[:, 0], pairs[:, 1]


def vertex_triangles(src, dst):
    """Per-vertex triangle counts of the simple undirected graph the
    arcs span (self loops dropped, directions and duplicates folded).
    Each triangle u<v<w is found once, from its lowest edge (u, v), as
    a common higher neighbour. Returns (ids, counts)."""
    ids = np.unique(np.concatenate([src, dst]))
    a, b = _simple_undirected(src, dst)
    order = np.lexsort((b, a))
    a, b = a[order], b[order]
    starts = np.searchsorted(a, ids)
    ends = np.searchsorted(a, ids, side="right")
    pos = {int(v): i for i, v in enumerate(ids)}
    counts = np.zeros(len(ids), dtype=np.int64)
    for u, v in zip(a.tolist(), b.tolist()):
        iu, iv = pos[u], pos[v]
        common = np.intersect1d(b[starts[iu]:ends[iu]], b[starts[iv]:ends[iv]],
                                assume_unique=True)
        if len(common):
            counts[iu] += len(common)
            counts[iv] += len(common)
            np.add.at(counts, np.searchsorted(ids, common), 1)
    return ids, counts


def modularity(src, dst, weight, ids, comm):
    """Undirected modularity of a membership over the edge rows as
    given: sum over communities of e_c/2m - (a_c/2m)^2."""
    lookup = dict(zip(np.asarray(ids).tolist(), np.asarray(comm).tolist()))
    cs = np.array([lookup[int(x)] for x in src])
    cd = np.array([lookup[int(x)] for x in dst])
    w = np.asarray(weight, dtype=float)
    m = w.sum()
    labels, inv = np.unique(np.concatenate([cs, cd]), return_inverse=True)
    a = np.bincount(inv, weights=np.concatenate([w, w]), minlength=len(labels))
    same = cs == cd
    e = np.bincount(inv[: len(cs)][same], weights=2 * w[same], minlength=len(labels))
    return float(np.sum(e / (2 * m) - (a / (2 * m)) ** 2))


def web_links(urls, texts, href_pattern):
    """Distinct (src, dst) url-index pairs the page texts link to,
    within the corpus, self links dropped — the link graph the
    extraction chain must produce from these pages."""
    index = {u: i for i, u in enumerate(urls)}
    href = re.compile(href_pattern, re.ASCII)
    pairs = set()
    for i, text in enumerate(texts):
        for target in href.findall(text or ""):
            j = index.get(target)
            if j is not None and j != i:
                pairs.add((i, j))
    arr = np.array(sorted(pairs), dtype=np.int64).reshape(-1, 2)
    return arr[:, 0], arr[:, 1]
