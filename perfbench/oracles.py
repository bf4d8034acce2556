"""Reference results computed without Spark, used to check every job.

Each function takes plain numpy arrays (or Python objects) that were
collected from the generated inputs, so a wrong answer from the engine
cannot leak into its own reference.  All of them run outside the timed
region.
"""

from __future__ import annotations

import itertools
import re

import duckdb
import numpy as np
import pandas as pd

_REPO_TOKEN = re.compile(r"\brepo_\d+\b")


def repo_edges(rows) -> set[tuple[str, str]]:
    """Distinct (src_repo, dst_repo) pairs of a code table: every
    ``repo_N`` token in a file's content is an import of repo N, and a
    repo never depends on itself."""
    out = set()
    for repo, content in rows:
        for dst in _REPO_TOKEN.findall(content):
            if dst != repo:
                out.add((repo, dst))
    return out


def pagerank(src: np.ndarray, dst: np.ndarray, iters: int, damping: float = 0.85):
    """Fixed-iteration damped power iteration with uniform teleport and
    dangling-mass redistribution over the vertices of a directed edge
    list.  Returns (ids, ranks)."""
    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    s, d = inv[: len(src)], inv[len(src):]
    n = len(ids)
    outdeg = np.bincount(s, minlength=n).astype(np.float64)
    dangling = outdeg == 0
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        recv = np.bincount(d, weights=r[s] / outdeg[s], minlength=n)
        r = (1.0 - damping) / n + damping * recv + damping * r[dangling].sum() / n
    return ids, r


def _symmetric(src: np.ndarray, dst: np.ndarray):
    """Both directions of every non-loop edge, deduplicated, as dense
    indices into the sorted vertex ids that have at least one such edge."""
    keep = src != dst
    a = np.concatenate([src[keep], dst[keep]])
    b = np.concatenate([dst[keep], src[keep]])
    pairs = np.unique(np.stack([a, b], axis=1), axis=0)
    ids, inv = np.unique(pairs.ravel(), return_inverse=True)
    inv = inv.reshape(-1, 2)
    return ids, inv[:, 0], inv[:, 1]


def components(src: np.ndarray, dst: np.ndarray):
    """Undirected connected components, labelled by their smallest
    vertex id.  Min-label propagation with pointer jumping.  Returns
    (ids, component)."""
    ids, s, d = _symmetric(src, dst)
    lab = np.arange(len(ids))
    while True:
        new = lab.copy()
        np.minimum.at(new, s, lab[d])
        new = new[new]
        if np.array_equal(new, lab):
            return ids, ids[lab]
        lab = new


def label_propagation(src: np.ndarray, dst: np.ndarray, iters: int):
    """Synchronous label propagation: every vertex adopts the label most
    frequent among its neighbours, ties going to the smallest label.
    Labels start as the vertex ids.  Returns (ids, label)."""
    ids, s, d = _symmetric(src, dst)
    lab = ids.copy()
    for _ in range(iters):
        nl = lab[d]
        order = np.lexsort((nl, s))
        s_o, l_o = s[order], nl[order]
        start = np.ones(len(s_o), dtype=bool)
        start[1:] = (s_o[1:] != s_o[:-1]) | (l_o[1:] != l_o[:-1])
        g_s, g_l = s_o[start], l_o[start]
        cnt = np.diff(np.append(np.flatnonzero(start), len(s_o)))
        best = np.lexsort((g_l, -cnt, g_s))
        first = np.ones(len(best), dtype=bool)
        first[1:] = g_s[best][1:] != g_s[best][:-1]
        new = lab.copy()
        new[g_s[best][first]] = g_l[best][first]
        lab = new
    return ids, lab


def triangles(src: np.ndarray, dst: np.ndarray) -> int:
    """Distinct undirected triangles, counted by DuckDB."""
    a, b = np.minimum(src, dst), np.maximum(src, dst)
    keep = a != b
    und = np.unique(np.stack([a[keep], b[keep]], axis=1), axis=0)
    con = duckdb.connect()
    try:
        con.execute("SET threads = 1")
        con.register("e", pd.DataFrame({"a": und[:, 0], "b": und[:, 1]}))
        return int(
            con.execute(
                "SELECT count(*) FROM e x JOIN e y ON x.b = y.a "
                "JOIN e z ON z.a = x.a AND z.b = y.b"
            ).fetchone()[0]
        )
    finally:
        con.close()


def isomorphic(edges_a, edges_b, k: int) -> bool:
    """Whether two undirected k-vertex edge lists describe the same graph
    up to relabelling (brute force; k is a motif size, at most ~7)."""
    norm = lambda es: {(min(u, v), max(u, v)) for u, v in es}  # noqa: E731
    a, b = norm(edges_a), norm(edges_b)
    if len(a) != len(b):
        return False
    for perm in itertools.permutations(range(k)):
        if norm((perm[u], perm[v]) for u, v in a) == b:
            return True
    return False
