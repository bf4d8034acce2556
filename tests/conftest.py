import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")  # keep test JVM small

SF_TINY = os.environ.get("SPARK_GRAFT_SF_TINY", "/root/testdata/sf0.001")
SF_SMALL = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    from motive_spark.session import get_spark

    # local[$SPARK_GRAFT_CPUS] with as many shuffle partitions
    s = get_spark("motive_spark_tests")
    yield s


@pytest.fixture(scope="session")
def sf_tiny():
    return SF_TINY


@pytest.fixture(scope="session")
def sf_small():
    return SF_SMALL


def edges_df(spark, pairs):
    """Small edge DataFrame fixture helper."""
    return spark.createDataFrame(
        [(int(a), int(b)) for a, b in pairs], "src long, dst long"
    )


# ---- pure-python oracles (reference power iteration etc.) ----------------


def py_pagerank(pairs, damping=0.85, max_iter=100, tol=1e-10):
    """Reference power iteration with dangling redistribution (matches
    networkx.pagerank semantics)."""
    nodes = sorted({x for p in pairs for x in p})
    out = {v: [] for v in nodes}
    for a, b in pairs:
        out[a].append(b)
    n = len(nodes)
    r = {v: 1.0 / n for v in nodes}
    for _ in range(max_iter):
        dangling = sum(r[v] for v in nodes if not out[v])
        new = {v: (1.0 - damping) / n + damping * dangling / n for v in nodes}
        for u in nodes:
            if out[u]:
                share = damping * r[u] / len(out[u])
                for v in out[u]:
                    new[v] += share
        delta = sum(abs(new[v] - r[v]) for v in nodes)
        r = new
        if delta < tol:
            break
    return r


def py_components(pairs):
    """Union-find connected components; label = min id in component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def py_triangles(pairs):
    """Exact triangle count + per-vertex counts on an undirected graph."""
    adj = {}
    edges = set()
    for a, b in pairs:
        if a == b:
            continue
        lo, hi = min(a, b), max(a, b)
        if (lo, hi) in edges:
            continue
        edges.add((lo, hi))
        adj.setdefault(lo, set()).add(hi)
        adj.setdefault(hi, set()).add(lo)
    per = {v: 0 for v in adj}
    total = 0
    for (a, b) in edges:
        common = adj[a] & adj[b]
        for c in common:
            if c > b:  # a<b<c id-ordered, counted once
                total += 1
                per[a] += 1
                per[b] += 1
                per[c] += 1
    return total, per
