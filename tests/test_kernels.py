"""Kernel correctness vs pure-python oracles (SURVEY §5 test plan (a)).

PageRank allclose(1e-6) against reference power iteration; components /
labels / triangles exact — the north_rule correctness gates.
"""

import math
import random

import pytest
from pyspark.sql import functions as F

from tests.conftest import (
    edges_df,
    py_components,
    py_pagerank,
    py_triangles,
)

FIXTURE_TRI_HUB = [
    # 13-node "4 triangles + hub" graph, shape borrowed from the reference's
    # structural fixture (motive UPlainMotifExtractorTest.java:23-82).
    (0, 1), (1, 2), (2, 0),
    (3, 4), (4, 5), (5, 3),
    (6, 7), (7, 8), (8, 6),
    (9, 10), (10, 11), (11, 9),
    (12, 0), (12, 3), (12, 6), (12, 9),
]

TWO_COMPONENTS = [(0, 1), (1, 2), (3, 4), (5, 6), (6, 3)]

# every regime of pagerank / components / label propagation; the oracle
# tests loop over them (small fixtures make ``auto`` resolve to local)
STRATEGIES = ("local", "broadcast", "csr")


def random_pairs(n, m, seed, directed=True):
    rng = random.Random(seed)
    pairs = set()
    while len(pairs) < m:
        a, b = rng.randrange(n), rng.randrange(n)
        if a == b:
            continue
        if not directed:
            a, b = min(a, b), max(a, b)
        pairs.add((a, b))
    return sorted(pairs)


@pytest.mark.parametrize("seed", [1, 7])
def test_pagerank_matches_power_iteration(spark, seed):
    pairs = random_pairs(40, 160, seed)
    from motive_spark.kernels import pagerank

    want = py_pagerank(pairs, max_iter=200, tol=1e-12)
    for strategy in STRATEGIES:
        got = {
            r["id"]: r["rank"]
            for r in pagerank(
                edges_df(spark, pairs), max_iter=60, tol=1e-10, strategy=strategy
            ).collect()
        }
        assert set(got) == set(want), strategy
        for v in want:
            assert math.isclose(got[v], want[v], abs_tol=1e-6), (strategy, v, got[v], want[v])
        assert math.isclose(sum(got.values()), 1.0, abs_tol=1e-6), strategy


def test_pagerank_dangling_nodes(spark):
    # chain with a sink: 0->1->2, plus 3->2 ; 2 is dangling
    pairs = [(0, 1), (1, 2), (3, 2)]
    from motive_spark.kernels import pagerank

    want = py_pagerank(pairs, max_iter=500, tol=1e-14)
    for strategy in STRATEGIES:
        got = {
            r["id"]: r["rank"]
            for r in pagerank(
                edges_df(spark, pairs), max_iter=80, tol=1e-12, strategy=strategy
            ).collect()
        }
        for v in want:
            assert math.isclose(got[v], want[v], abs_tol=1e-6), (strategy, v)


@pytest.mark.parametrize("pairs", [TWO_COMPONENTS, FIXTURE_TRI_HUB])
def test_components_exact(spark, pairs):
    from motive_spark.kernels import connected_components

    for strategy in STRATEGIES:
        got = {
            r["id"]: r["component"]
            for r in connected_components(
                edges_df(spark, pairs), strategy=strategy
            ).collect()
        }
        assert got == py_components(pairs), strategy


def test_components_long_chain(spark):
    # path graph: worst case for plain min-propagation; big_star must
    # converge in far fewer rounds than the diameter (63)
    pairs = [(i, i + 1) for i in range(63)]
    from motive_spark.kernels import connected_components

    for strategy in STRATEGIES:
        got = {
            r["id"]: r["component"]
            for r in connected_components(
                edges_df(spark, pairs), max_iter=12, strategy=strategy
            ).collect()
        }
        assert got == {i: 0 for i in range(64)}, strategy


@pytest.mark.parametrize("pairs,expected_total", [(FIXTURE_TRI_HUB, 4)])
def test_triangles_fixture(spark, pairs, expected_total):
    from motive_spark.kernels import triangle_count, triangles_per_vertex

    assert triangle_count(edges_df(spark, pairs)).collect()[0][0] == expected_total
    per = {
        r["id"]: r["n_triangles"]
        for r in triangles_per_vertex(edges_df(spark, pairs)).collect()
    }
    want_total, want_per = py_triangles(pairs)
    for v in per:
        assert per[v] == want_per.get(v, 0)


@pytest.mark.parametrize("seed", [3, 11])
def test_triangles_random(spark, seed):
    pairs = random_pairs(30, 120, seed, directed=False)
    from motive_spark.kernels import triangle_count, triangles_per_vertex

    want_total, want_per = py_triangles(pairs)
    assert triangle_count(edges_df(spark, pairs)).collect()[0][0] == want_total
    per = {
        r["id"]: r["n_triangles"]
        for r in triangles_per_vertex(edges_df(spark, pairs)).collect()
    }
    assert per == {v: want_per.get(v, 0) for v in per}
    # orientation invariance: id-order vs degree-order identical
    assert (
        triangle_count(edges_df(spark, pairs), by_degree=False).collect()[0][0]
        == want_total
    )


def test_cc_lp_strategies_match(spark):
    # every regime — local (numpy on the driver), broadcast (small |V|)
    # and csr (the >BROADCAST_MAX_VERTICES plan: single-exchange
    # superstep over salted CSR blocks) — produces identical labels
    from motive_spark.kernels import connected_components, label_propagation

    pairs = random_pairs(60, 150, seed=5, directed=False)
    e = edges_df(spark, pairs)
    cc = {
        s: {
            r["id"]: r["component"]
            for r in connected_components(e, strategy=s).collect()
        }
        for s in STRATEGIES
    }
    assert cc["local"] == cc["broadcast"] == cc["csr"] == py_components(pairs)
    lp = {
        s: {
            r["id"]: r["label"]
            for r in label_propagation(e, iters=3, strategy=s).collect()
        }
        for s in STRATEGIES
    }
    assert lp["local"] == lp["broadcast"] == lp["csr"]


def test_label_propagation_deterministic(spark):
    from motive_spark.kernels import label_propagation

    def labels(pairs, iters, strategy):
        return {
            r["id"]: r["label"]
            for r in label_propagation(
                edges_df(spark, pairs), iters=iters, strategy=strategy
            ).collect()
        }

    for strategy in STRATEGIES:
        a = labels(FIXTURE_TRI_HUB, 4, strategy)
        assert a == labels(FIXTURE_TRI_HUB, 4, strategy), strategy
        # triangle {0,1,2}: after round 1 every member holds the min label 0
        clique = [(0, 1), (0, 2), (1, 2)]
        assert labels(clique, 2, strategy) == {0: 0, 1: 0, 2: 0}, strategy


def test_auto_strategy_selects_csr_above_threshold(spark, monkeypatch):
    """The size switch, pinned on both sides: at the real
    BROADCAST_MAX_VERTICES, auto takes the broadcast plan (no CSR
    build); with the threshold lowered below |V| it takes the csr plan
    (one CSR build per kernel) and produces identical results.  The
    local threshold is lowered below the edge rows so that ``auto``
    reaches the vertex switch at all."""
    import importlib

    from motive_spark.graph import csr as csr_mod
    from motive_spark.graph import local as local_mod

    builds = []
    real_build = csr_mod.build_csr

    def spy(*args, **kwargs):
        builds.append(1)
        return real_build(*args, **kwargs)

    monkeypatch.setattr(csr_mod, "build_csr", spy)
    pairs = random_pairs(40, 100, seed=9, directed=False)
    e = edges_df(spark, pairs)
    monkeypatch.setattr(local_mod, "LOCAL_SCORE_THRESHOLD", len(pairs) - 1)
    from motive_spark.kernels import (
        connected_components,
        label_propagation,
        pagerank,
    )

    def run_all():
        return (
            {r["id"]: r["component"] for r in connected_components(e).collect()},
            {r["id"]: r["label"] for r in label_propagation(e, iters=2).collect()},
            {r["id"]: r["rank"] for r in pagerank(e, max_iter=10, tol=None).collect()},
        )

    cc_b, lp_b, pr_b = run_all()
    assert builds == []
    # the kernels package re-exports same-named FUNCTIONS; resolve the
    # modules explicitly
    for name in (
        "motive_spark.kernels.components",
        "motive_spark.kernels.labelprop",
        "motive_spark.kernels.pagerank",
    ):
        monkeypatch.setattr(
            importlib.import_module(name), "BROADCAST_MAX_VERTICES", 5
        )
    cc_c, lp_c, pr_c = run_all()
    assert builds == [1, 1, 1]
    assert cc_c == cc_b == py_components(pairs)
    assert lp_c == lp_b
    assert pr_c.keys() == pr_b.keys()
    assert all(abs(pr_c[k] - pr_b[k]) < 1e-12 for k in pr_b)


@pytest.mark.parametrize(
    "strategy", ["copartition", "csr2d", "shuffle_hash", "BROADCAST"]
)
def test_unknown_strategy_raises(spark, strategy):
    """pagerank, components and label propagation have exactly the three
    regimes auto chooses between; any other strategy is an error, raised
    before any Spark work."""
    from motive_spark.kernels import (
        connected_components,
        label_propagation,
        pagerank,
    )

    e = edges_df(spark, TWO_COMPONENTS)
    for fn in (pagerank, connected_components, label_propagation):
        with pytest.raises(ValueError, match="strategy"):
            fn(e, strategy=strategy)


def _by_id(df, col):
    return {r["id"]: r[col] for r in df.collect()}


def test_local_regime_equals_distributed(spark):
    """The local regime returns what the broadcast plan returns — the
    same ids, the same schema (int ids stay int), PageRank within 1e-12
    and labels exactly — on duplicate edges, self-loops, a dangling
    vertex, a self-loop-only vertex, an empty table, a ``tol`` run and
    every ``fixed_iters`` partial state of components with and without
    the pointer jump.  The result is a local relation, and the counters
    keep the distributed records' keys."""
    from motive_spark.kernels import (
        connected_components,
        label_propagation,
        pagerank,
    )

    rng = random.Random(3)
    pairs = [(rng.randrange(40), rng.randrange(40)) for _ in range(150)]
    # duplicates, self-loops, a dangling vertex (50), a self-loop-only
    # vertex (60) and a second component
    pairs += pairs[:20] + [(5, 5), (9, 50), (60, 60), (70, 71), (71, 72)]
    e = spark.createDataFrame(pairs, "src int, dst int")
    runs = [
        (pagerank, dict(max_iter=4, tol=None), "rank"),
        (pagerank, dict(max_iter=100, tol=1e-6), "rank"),
        (label_propagation, dict(iters=3), "label"),
        (connected_components, {}, "component"),
    ] + [
        (connected_components, dict(fixed_iters=k, big_star=b), "component")
        for k in (1, 2, 3)
        for b in (True, False)
    ]
    for fn, kw, col in runs:
        c_loc, c_bc = [], []
        loc = fn(e, strategy="local", counters_out=c_loc, **kw)
        bc = fn(e, strategy="broadcast", counters_out=c_bc, **kw)
        what = (fn.__name__, kw)
        assert loc.dtypes == bc.dtypes == [("id", "int"), (col, "double" if col == "rank" else "int")], what
        assert "LocalTableScan" in loc._jdf.queryExecution().executedPlan().toString()
        got, want = _by_id(loc, col), _by_id(bc, col)
        assert got.keys() == want.keys(), what
        # PageRank keeps every endpoint; the symmetric kernels drop
        # self-loops, so the self-loop-only vertex is absent
        assert (50 in got, 60 in got) == ((True, True) if col == "rank" else (True, False)), what
        if col == "rank":
            assert all(abs(got[v] - want[v]) < 1e-12 for v in want), what
        else:
            assert got == want, what
        assert len(c_loc) == len(c_bc) > 0, what
        if kw.get("tol"):
            assert len(c_loc) < kw["max_iter"]  # stopped on the L1 probe
        for r_loc, r_bc in zip(c_loc, c_bc):
            assert (r_loc["strategy"], r_bc["strategy"]) == ("local", "broadcast")
            assert {"iteration", "rows", "superstep_sec"} <= set(r_loc) & set(r_bc)
            assert r_loc["superstep_sec"] > 0 and r_loc["iteration"] == r_bc["iteration"]
            assert ("delta" in r_loc) == ("delta" in r_bc), what
            if "delta" in r_loc:
                assert math.isclose(r_loc["delta"], r_bc["delta"], rel_tol=1e-6), what

    # a warm start: ids missing from it take the uniform prior
    init = pagerank(e, max_iter=2, tol=None, strategy="broadcast").where("id % 3 != 0")
    got, want = (
        _by_id(pagerank(e, max_iter=3, tol=None, init_ranks=init, strategy=s), "rank")
        for s in ("local", "broadcast")
    )
    assert got.keys() == want.keys() and all(abs(got[v] - want[v]) < 1e-12 for v in want)

    # int and long ids widen to long, as the distributed union does
    mixed = spark.createDataFrame(pairs, "src int, dst long")
    for fn in (pagerank, connected_components, label_propagation):
        assert fn(mixed, strategy="local").dtypes == fn(mixed, strategy="broadcast").dtypes
    empty = spark.createDataFrame([], "src int, dst int")
    for fn in (pagerank, connected_components, label_propagation):
        loc = fn(empty, strategy="local")
        assert loc.dtypes == fn(empty, strategy="broadcast").dtypes
        assert loc.count() == 0


def test_local_switch_both_sides(spark, monkeypatch, tmp_path):
    """``auto`` takes the local regime iff the edge table has at most
    ``LOCAL_SCORE_THRESHOLD`` rows (m - 1 vs m, spies on the numpy
    kernels), with the forced result on each side.  An explicit
    ``broadcast``/``csr`` never probes; an explicit ``local`` call is one
    Spark job.  Null or non-integral ids route ``auto`` distributed and
    make ``local`` raise; a checkpoint dir or a resume routes ``auto``
    distributed and makes ``local`` raise."""
    import importlib

    from motive_spark.graph import local as local_mod

    # the kernels package re-exports same-named FUNCTIONS; resolve the
    # modules explicitly
    cc_mod, lp_mod, pr_mod = (
        importlib.import_module(f"motive_spark.kernels.{name}")
        for name in ("components", "labelprop", "pagerank")
    )
    took, probes = [], []
    for mod, name in (
        (pr_mod, "_local_pagerank"),
        (cc_mod, "_local_components"),
        (lp_mod, "_local_label_propagation"),
    ):
        real = getattr(mod, name)
        monkeypatch.setattr(
            mod, name, lambda *a, _r=real, _n=name, **k: took.append(_n) or _r(*a, **k)
        )
    real_probe = local_mod.local_edges
    monkeypatch.setattr(
        local_mod, "local_edges", lambda *a, **k: probes.append(1) or real_probe(*a, **k)
    )

    pairs = random_pairs(30, 80, seed=2) + [(3, 3), (4, 5)]
    m = len(pairs)
    e = edges_df(spark, pairs)

    def run(edges, **kw):
        return (
            _by_id(pr_mod.pagerank(edges, max_iter=3, tol=None, **kw), "rank"),
            _by_id(cc_mod.connected_components(edges, **kw), "component"),
            _by_id(lp_mod.label_propagation(edges, iters=2, **kw), "label"),
        )

    def same(a, b):
        assert a[0].keys() == b[0].keys()
        assert all(abs(a[0][v] - b[0][v]) < 1e-12 for v in b[0])
        assert a[1:] == b[1:]

    forced = {s: run(e, strategy=s) for s in ("local", "broadcast")}
    same(forced["local"], forced["broadcast"])
    for threshold, side in ((m - 1, "broadcast"), (m, "local")):
        monkeypatch.setattr(local_mod, "LOCAL_SCORE_THRESHOLD", threshold)
        took.clear(), probes.clear()
        got = run(e)
        assert len(probes) == 3, threshold
        assert took == ([] if side == "broadcast" else [
            "_local_pagerank", "_local_components", "_local_label_propagation"
        ]), threshold
        same(got, forced[side])

    took.clear(), probes.clear()
    run(e, strategy="broadcast")
    pr_mod.pagerank(e, max_iter=2, tol=None, strategy="csr").collect()
    cc_mod.connected_components(e, strategy="csr").collect()
    assert probes == [] and took == []

    sc = spark.sparkContext
    try:
        sc.setJobGroup("local_call", "local_call")
        pr_mod.pagerank(e, max_iter=3, tol=None, strategy="local")
        assert len(sc.statusTracker().getJobIdsForGroup("local_call")) == 1
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)

    nulls = spark.createDataFrame([(0, 1), (1, None), (2, 0)], "src long, dst long")
    strings = spark.createDataFrame([("a", "b"), ("b", "c")], "src string, dst string")
    took.clear()
    run(nulls)
    assert _by_id(cc_mod.connected_components(strings), "component") == {
        "a": "a", "b": "a", "c": "a"
    }
    assert took == []
    for bad in (nulls, strings):
        with pytest.raises(ValueError, match="integral"):
            pr_mod.pagerank(bad, strategy="local")

    ckpt = str(tmp_path / "pr")
    counters = []
    pr_mod.pagerank(e, max_iter=2, tol=None, checkpoint_dir=ckpt, counters_out=counters)
    pr_mod.pagerank(e, max_iter=3, tol=None, checkpoint_dir=ckpt, resume=True,
                    counters_out=counters)
    cc_mod.connected_components(e, checkpoint_dir=str(tmp_path / "cc"))
    lp_mod.label_propagation(e, iters=1, checkpoint_dir=str(tmp_path / "lp"))
    assert took == [] and [c["strategy"] for c in counters] == ["broadcast"] * 3
    for fn in (pr_mod.pagerank, cc_mod.connected_components, lp_mod.label_propagation):
        with pytest.raises(ValueError, match="local"):
            fn(e, strategy="local", checkpoint_dir=str(tmp_path / "x"))
    with pytest.raises(ValueError, match="local"):
        pr_mod.pagerank(e, strategy="local", resume=True)


# Spark jobs per public call (plus one trailing count) on
# random_pairs(200, 800, seed=7).  The distributed ceilings were measured
# before these kernels moved onto the shared superstep loop; the loop
# must not add jobs.  ``auto`` takes the local regime on this 800-row
# table: one probe job, plus the two jobs (AQE stages) of the trailing
# count over the returned local relation — measured 3 at local[2], [4]
# and [8].
JOB_CEILINGS = {
    "pagerank_broadcast_3_fixed": 33,
    "pagerank_tol": 3,
    "pagerank_broadcast_tol": 47,
    "pagerank_csr_checkpoint": 45,
    "components_csr": 50,
    "components_auto": 3,
    "components_broadcast": 49,
    "label_propagation_2": 3,
    "label_propagation_broadcast_2": 21,
}


def test_kernel_job_counts_do_not_grow(spark, tmp_path):
    from motive_spark.kernels import (
        connected_components,
        label_propagation,
        pagerank,
    )

    sc = spark.sparkContext
    e = edges_df(spark, random_pairs(200, 800, seed=7))
    calls = {
        "pagerank_broadcast_3_fixed": lambda: pagerank(
            e, max_iter=3, tol=None, strategy="broadcast"
        ),
        "pagerank_tol": lambda: pagerank(e, max_iter=3, tol=1e-2),
        "pagerank_broadcast_tol": lambda: pagerank(
            e, max_iter=3, tol=1e-2, strategy="broadcast"
        ),
        "pagerank_csr_checkpoint": lambda: pagerank(
            e, max_iter=3, tol=None, strategy="csr",
            checkpoint_dir=str(tmp_path / "pr"),
        ),
        "components_csr": lambda: connected_components(e, strategy="csr"),
        "components_auto": lambda: connected_components(e),
        "components_broadcast": lambda: connected_components(e, strategy="broadcast"),
        "label_propagation_2": lambda: label_propagation(e, iters=2),
        "label_propagation_broadcast_2": lambda: label_propagation(
            e, iters=2, strategy="broadcast"
        ),
    }
    got = {}
    try:
        for name, call in calls.items():
            group = f"job_ceiling_{name}"
            sc.setJobGroup(group, name)
            call().count()
            got[name] = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    over = {k: (v, JOB_CEILINGS[k]) for k, v in got.items() if v > JOB_CEILINGS[k]}
    assert not over, over


def test_iterative_kernels_leave_at_most_their_state_cached(spark, tmp_path):
    """After each ported kernel returns, the session holds at most one
    more persisted RDD than before — the returned localCheckpoint state —
    and none when the state lives in a checkpoint dir."""
    from motive_spark.kernels import (
        connected_components,
        grouped_pagerank,
        label_propagation,
        pagerank,
        personalized_pagerank,
        seeded_label_propagation,
        weighted_pagerank,
    )

    jsc = spark.sparkContext._jsc
    e = edges_df(spark, random_pairs(60, 200, seed=4))
    seeds = spark.createDataFrame([(0, 1), (1, 2)], "id long, label long")
    calls = {
        "pagerank_broadcast": lambda d: pagerank(
            e, max_iter=3, tol=1e-9, strategy="broadcast", checkpoint_dir=d
        ),
        "pagerank_csr": lambda d: pagerank(
            e, max_iter=3, tol=None, strategy="csr", checkpoint_dir=d
        ),
        "components_broadcast": lambda d: connected_components(
            e, strategy="broadcast", checkpoint_dir=d
        ),
        "components_csr": lambda d: connected_components(
            e, strategy="csr", checkpoint_dir=d
        ),
        "label_propagation_broadcast": lambda d: label_propagation(
            e, iters=3, strategy="broadcast", checkpoint_dir=d
        ),
        "label_propagation_csr": lambda d: label_propagation(
            e, iters=3, strategy="csr", checkpoint_dir=d
        ),
    }
    no_dir_only = {
        "weighted_pagerank": lambda: weighted_pagerank(
            e.withColumn("mult", F.col("src") % 3 + 1), max_iter=3, tol=1e-9
        ),
        "personalized_pagerank": lambda: personalized_pagerank(
            e, [0, 1], max_iter=3, tol=1e-9
        ),
        "grouped_pagerank": lambda: grouped_pagerank(
            e.withColumn("g", F.col("src") % 2), max_iter=3
        ),
        "seeded_label_propagation": lambda: seeded_label_propagation(
            e, seeds, iters=3
        ),
    }
    growth = {}
    for name, call in calls.items():
        for d, allowed in ((None, 1), (str(tmp_path / name), 0)):
            before = len(jsc.getPersistentRDDs())
            call(d)
            growth[(name, d is not None)] = (
                len(jsc.getPersistentRDDs()) - before, allowed
            )
    for name, call in no_dir_only.items():
        before = len(jsc.getPersistentRDDs())
        call()
        growth[(name, False)] = (len(jsc.getPersistentRDDs()) - before, 1)
    leaks = {k: v for k, v in growth.items() if v[0] > v[1]}
    assert not leaks, leaks


def test_personalized_pagerank_matches_numpy(spark):
    """PPR vs a dense numpy power iteration of the same update rule."""
    import numpy as np

    from motive_spark.kernels import personalized_pagerank

    pairs = sorted(set(random_pairs(40, 160, seed=9)))
    edges = edges_df(spark, pairs)
    seeds = [0, 1, 2]
    d = 0.85
    got = {
        r.id: r.rank
        for r in personalized_pagerank(
            edges, seeds, damping=d, max_iter=12, tol=None
        ).collect()
    }

    verts = sorted({v for p in pairs for v in p})
    ix = {v: i for i, v in enumerate(verts)}
    n = len(verts)
    out = np.zeros(n)
    A = np.zeros((n, n))
    for a, b in pairs:
        A[ix[a], ix[b]] += 1.0
        out[ix[a]] += 1.0
    s = np.zeros(n)
    for v in seeds:
        s[ix[v]] = 1.0 / len(seeds)
    r = s.copy()
    for _ in range(12):
        recv = np.zeros(n)
        senders = out > 0
        recv = (r[senders] / out[senders]) @ A[senders]
        dang = r[~senders].sum()
        r = (1 - d) * s + d * recv + d * dang * s
    assert abs(sum(got.values()) - 1.0) < 1e-9
    for v in verts:
        assert abs(got[v] - r[ix[v]]) < 1e-9, (v, got[v], r[ix[v]])


def test_hits_matches_numpy(spark):
    """HITS vs a dense numpy iteration of the same L1-normalized rule."""
    import numpy as np

    from motive_spark.kernels import hits

    pairs = sorted(set(random_pairs(40, 160, seed=23)))
    edges = edges_df(spark, pairs)
    res = {r.id: (r.hub, r.auth) for r in hits(edges, max_iter=6).collect()}

    verts = sorted({v for p in pairs for v in p})
    ix = {v: i for i, v in enumerate(verts)}
    n = len(verts)
    A = np.zeros((n, n))
    for a, b in pairs:
        A[ix[a], ix[b]] = 1.0
    hub = np.full(n, 1.0 / n)
    auth = np.full(n, 1.0 / n)
    for _ in range(6):
        auth = hub @ A
        auth = auth / (auth.sum() or 1.0)
        hub = A @ auth
        hub = hub / (hub.sum() or 1.0)
    for v in verts:
        assert abs(res[v][0] - hub[ix[v]]) < 1e-9, ("hub", v)
        assert abs(res[v][1] - auth[ix[v]]) < 1e-9, ("auth", v)
    assert abs(sum(h for h, _ in res.values()) - 1.0) < 1e-9


def test_k_core_matches_python_peel(spark):
    """k-core fixpoint vs a plain-python peeling oracle."""
    from motive_spark.kernels import k_core

    pairs = sorted(set(random_pairs(60, 220, seed=31)))
    # plant a 5-clique so a dense core exists
    for a in range(60, 65):
        for b in range(a + 1, 65):
            pairs.append((a, b))
    edges = edges_df(spark, sorted(set(pairs)))

    def py_core(k):
        adj = {}
        es = {(min(a, b), max(a, b)) for a, b in pairs if a != b}
        for a, b in es:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        changed = True
        while changed:
            changed = False
            for v in list(adj):
                if len(adj[v]) < k:
                    for u in adj[v]:
                        adj[u].discard(v)
                    del adj[v]
                    changed = True
        return {v for v in adj if len(adj[v]) >= k}

    for k in (2, 3, 4):
        got = {r.id for r in k_core(edges, k).collect()}
        assert got == py_core(k), (k, got ^ py_core(k))
    # the planted 5-clique IS the 4-core (unless the random part adds)
    assert set(range(60, 65)) <= {r.id for r in k_core(edges, 4).collect()}
    # empty result when k exceeds every degree
    assert k_core(edges, 50).count() == 0


def test_scc_matches_tarjan(spark):
    """Distributed coloring SCC vs an iterative Tarjan oracle, min-id
    canonical labels, on random digraphs with planted cycles."""
    from motive_spark.kernels import strongly_connected_components

    def tarjan_sccs(pairs):
        adj = {}
        vs = set()
        for a, b in pairs:
            if a == b:
                continue
            adj.setdefault(a, []).append(b)
            vs.add(a)
            vs.add(b)
        index = {}
        low = {}
        on = set()
        stack = []
        out = {}
        counter = [0]
        for s in sorted(vs):
            if s in index:
                continue
            work = [(s, 0)]
            while work:
                v, pi = work[-1]
                if pi == 0:
                    index[v] = low[v] = counter[0]
                    counter[0] += 1
                    stack.append(v)
                    on.add(v)
                recurse = False
                for w in adj.get(v, [])[pi:]:
                    work[-1] = (v, pi + 1)
                    pi += 1
                    if w not in index:
                        work.append((w, 0))
                        recurse = True
                        break
                    if w in on:
                        low[v] = min(low[v], index[w])
                if recurse:
                    continue
                if low[v] == index[v]:
                    comp = []
                    while True:
                        w = stack.pop()
                        on.discard(w)
                        comp.append(w)
                        if w == v:
                            break
                    m = min(comp)
                    for w in comp:
                        out[w] = m
                work.pop()
                if work:
                    u, _ = work[-1]
                    low[u] = min(low[u], low[v])
        return out

    import random

    for seed, n, m in ((3, 30, 60), (7, 40, 120)):
        rng = random.Random(seed)
        pairs = sorted(
            {(rng.randrange(n), rng.randrange(n)) for _ in range(m)}
        )
        # plant two directed cycles so nontrivial SCCs exist
        pairs += [(50, 51), (51, 52), (52, 50)]
        pairs += [(60, 61), (61, 60)]
        pairs = sorted(set(pairs))
        edges = edges_df(spark, pairs)
        got = {
            r.id: r.scc
            for r in strongly_connected_components(edges).collect()
        }
        want = tarjan_sccs(pairs)
        assert got == want, {
            k: (got.get(k), want.get(k))
            for k in set(got) | set(want)
            if got.get(k) != want.get(k)
        }


def test_scc_empty_and_deep_chain_and_partial(spark):
    """SCC edge cases: empty input returns an empty frame (not
    IndexError); a chain of singleton SCCs deeper than max_outer is
    fully solved by the trim pre-pass; with trim disabled and too few
    peel rounds the function warns and NULL-labels the remainder
    instead of raising."""
    import warnings as _w

    from motive_spark.kernels import strongly_connected_components

    # empty / edgeless
    empty = spark.createDataFrame([], "src long, dst long")
    out = strongly_connected_components(empty)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["id", "scc"]

    # directed path of 61 singleton SCCs: SCC-DAG depth 61 > max_outer=3,
    # but the trim pre-pass peels the whole thing without any coloring
    chain = edges_df(spark, [(i, i + 1) for i in range(60)])
    got = {
        r.id: r.scc
        for r in strongly_connected_components(chain, max_outer=3).collect()
    }
    assert got == {i: i for i in range(61)}

    # two cycle-SCCs in a chain, trim disabled, one peel round: the
    # upstream cycle resolves, the downstream one is NULL + a warning
    two = edges_df(
        spark,
        [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 5), (5, 3)],
    )
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        part = {
            r.id: r.scc
            for r in strongly_connected_components(
                two, max_outer=1, max_trim_rounds=0
            ).collect()
        }
    assert any("partial labeling" in str(w.message) for w in rec)
    assert part[0] == part[1] == part[2] == 0
    assert part[3] is None and part[4] is None and part[5] is None

    # same graph, defaults: exact
    full = {
        r.id: r.scc for r in strongly_connected_components(two).collect()
    }
    assert full == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 3}


def test_personalized_pagerank_seed_validation(spark):
    """ADVICE fixes: empty seed list raises; seeds absent from the graph
    are dropped with the restart vector renormalized over the present
    ones, so ranks still sum to 1."""
    import pytest as _pytest

    from motive_spark.kernels import personalized_pagerank

    edges = edges_df(spark, [(0, 1), (1, 2), (2, 0), (1, 3)])
    with _pytest.raises(ValueError):
        personalized_pagerank(edges, [])
    with _pytest.raises(ValueError):
        personalized_pagerank(edges, [99, 123])
    # seed 0 present, seed 99 absent -> behaves exactly like seeds=[0]
    mixed = {
        r.id: r.rank
        for r in personalized_pagerank(edges, [0, 99], max_iter=6).collect()
    }
    only = {
        r.id: r.rank
        for r in personalized_pagerank(edges, [0], max_iter=6).collect()
    }
    assert mixed == only
    assert abs(sum(mixed.values()) - 1.0) < 1e-9


def test_graph_metrics_known_values(spark):
    """LCC and assortativity on hand-computable graphs."""
    from motive_spark.graph import (
        degree_assortativity,
        local_clustering_coefficients,
    )

    # triangle + pendant: lcc(triangle vertices with pendant) drops
    tri_pend = edges_df(spark, [(0, 1), (1, 2), (2, 0), (0, 3)])
    lcc = {r.id: r.lcc for r in local_clustering_coefficients(tri_pend).collect()}
    assert lcc[1] == 1.0 and lcc[2] == 1.0
    assert abs(lcc[0] - (2 * 1) / (3 * 2)) < 1e-9  # deg 3, 1 triangle
    assert lcc[3] == 0.0  # pendant, deg 1

    # star graph: strongly disassortative (hub-leaf edges only)
    star = edges_df(spark, [(0, i) for i in range(1, 8)])
    r = degree_assortativity(star).collect()[0][0]
    assert r < -0.99

    # clique: all degrees equal -> corr undefined (NULL) is acceptable;
    # near-regular ring is assortative-neutral
    ring = edges_df(spark, [(i, (i + 1) % 8) for i in range(8)])
    rr = degree_assortativity(ring).collect()[0][0]
    assert rr is None or abs(rr) < 1e-9  # all degrees 2


def test_k_hop_matches_bfs(spark):
    from motive_spark.graph import k_hop_neighborhood

    pairs = sorted(set(random_pairs(50, 140, seed=41)))
    edges = edges_df(spark, pairs)
    got = {
        (r.source, r.id): r.dist
        for r in k_hop_neighborhood(edges, [0, 1], 3).collect()
    }
    adj = {}
    for a, b in pairs:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    from collections import deque

    for s in (0, 1):
        dist = {s: 0}
        dq = deque([s])
        while dq:
            v = dq.popleft()
            if dist[v] >= 3:
                continue
            for u in adj.get(v, ()):
                if u not in dist:
                    dist[u] = dist[v] + 1
                    dq.append(u)
        want = {(s, v): d for v, d in dist.items()}
        got_s = {kk: d for kk, d in got.items() if kk[0] == s}
        assert got_s == want, (s, set(got_s) ^ set(want))


def test_weighted_pagerank_reduces_to_plain_and_responds_to_weights(spark):
    from pyspark.sql import functions as F

    from motive_spark.kernels import pagerank, weighted_pagerank

    pairs = sorted(set(random_pairs(40, 150, seed=13)))
    edges = edges_df(spark, pairs)
    # unit weights == plain pagerank (same update rule)
    w1 = edges.withColumn("mult", F.lit(1))
    a = {r.id: r.rank for r in weighted_pagerank(w1, max_iter=8).collect()}
    b = {r.id: r.rank for r in pagerank(edges, max_iter=8, tol=None).collect()}
    assert set(a) == set(b)
    for v in a:
        assert abs(a[v] - b[v]) < 1e-12, (v, a[v], b[v])
    # boosting all edges into vertex 0 raises its rank
    wup = edges.withColumn(
        "mult", F.when(F.col("dst") == 0, F.lit(10)).otherwise(F.lit(1))
    )
    c = {r.id: r.rank for r in weighted_pagerank(wup, max_iter=8).collect()}
    assert c[0] > a[0]
    assert abs(sum(c.values()) - 1.0) < 1e-9


def test_iterative_kernels_copartition_equals_broadcast(spark):
    """PPR / weighted PR / HITS give identical results under the
    copartition strategy (the >2M-vertex path) as under broadcast —
    and the copartition superstep's join is a ShuffledHashJoin, never a
    |V|-row broadcast."""
    from pyspark.sql import functions as F

    from motive_spark.kernels import (
        hits,
        personalized_pagerank,
        weighted_pagerank,
    )

    pairs = sorted(set(random_pairs(50, 200, seed=19)))
    edges = edges_df(spark, pairs)
    w = edges.withColumn("mult", (F.col("src") % 3 + 1))

    for fn in (
        lambda s: personalized_pagerank(edges, [0, 1], max_iter=6, strategy=s),
        lambda s: weighted_pagerank(w, max_iter=6, strategy=s),
    ):
        a = sorted(map(tuple, fn("broadcast").collect()))
        b = sorted(map(tuple, fn("copartition").collect()))
        assert len(a) == len(b)
        for ra, rb in zip(a, b):
            assert ra[0] == rb[0] and abs(ra[1] - rb[1]) < 1e-12
    ha = sorted(map(tuple, hits(edges, max_iter=4, strategy="broadcast").collect()))
    hb = sorted(map(tuple, hits(edges, max_iter=4, strategy="copartition").collect()))
    for ra, rb in zip(ha, hb):
        assert ra[0] == rb[0]
        assert abs(ra[1] - rb[1]) < 1e-12 and abs(ra[2] - rb[2]) < 1e-12


def test_random_walks_python_replay_and_dead_ends(spark):
    import hashlib

    from motive_spark.graph import random_walks

    pairs = sorted(set(random_pairs(30, 90, seed=3)))
    edges = edges_df(spark, pairs)
    got = {
        (r.start, r.widx): r.path
        for r in random_walks(edges, walk_length=5, walks_per_vertex=2,
                              seed=11).collect()
    }
    adj = {}
    for a, b in pairs:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    nbrs = {v: sorted(us) for v, us in adj.items()}
    for (s, w), path in got.items():
        cur, want = s, [s]
        for t in range(1, 5):
            key = f"{s}|{w}|{t}|11".encode()
            h = int(hashlib.md5(key).hexdigest()[:8], 16)
            cur = nbrs[cur][h % len(nbrs[cur])]
            want.append(cur)
        assert path == "|".join(map(str, want)), (s, w, path, want)
    assert len(got) == len(nbrs) * 2

    # directed chain: walk stops at the sink instead of erroring
    chain = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    dw = {
        (r.start, r.widx): r.path
        for r in random_walks(chain, walk_length=4, walks_per_vertex=1,
                              seed=1, directed=True).collect()
    }
    assert dw[(0, 0)] == "0|1|2" and dw[(1, 0)] == "1|2"


def test_link_prediction_scores_known_graph(spark):
    import math

    from motive_spark.graph import link_prediction_scores

    # square 0-1-2-3-0 plus chord 0-2: known common-neighbor structure
    pairs = [(0, 1), (1, 2), (2, 3), (3, 0), (0, 2)]
    edges = edges_df(spark, pairs)
    rows = {(r.u, r.v): r for r in link_prediction_scores(edges).collect()}
    # non-edge (1, 3): common neighbors {0, 2}, deg1=2 deg3=2 -> J=2/2=1
    r13 = rows[(1, 3)]
    assert r13.common_neighbors == 2 and not r13.is_edge
    assert abs(r13.jaccard - 2 / (2 + 2 - 2)) < 1e-9
    assert abs(r13.adamic_adar - 2 / math.log(3)) < 1e-9  # deg(0)=deg(2)=3
    # existing edge (0, 2): common {1, 3}, flagged as edge
    r02 = rows[(0, 2)]
    assert r02.common_neighbors == 2 and r02.is_edge
    # hub cap: middles above the threshold contribute nothing
    capped = {
        (r.u, r.v): r
        for r in link_prediction_scores(edges, max_middle_degree=2).collect()
    }
    assert (1, 3) not in capped  # both middles have degree 3


def test_random_walks_salted_csr_bounds_hub_rows(spark):
    """The walk adjacency is the salted CSR layout: a hub's neighbor
    chunks never exceed salt_chunk, and the walk sequence is identical
    to the unsalted (single-chunk) run — prefix-indexed chunks preserve
    the global sorted neighbor order."""
    from motive_spark.graph import random_walks
    from motive_spark.graph.csr import build_csr

    # star hub 0 with 40 leaves + a cycle among high ids
    pairs = [(0, i) for i in range(1, 41)] + [(50, 51), (51, 52), (52, 50)]
    edges = edges_df(spark, pairs)

    # row-width bound on the layout the walk uses (symmetrized graph)
    sym = edges.unionAll(edges.selectExpr("dst as src", "src as dst"))
    widths = [
        r.w
        for r in build_csr(sym, salt_chunk=8, partition_by="src")
        .selectExpr("size(dst_list) as w")
        .collect()
    ]
    assert max(widths) <= 8 and len(widths) > 44  # hub split into chunks

    salted = {
        (r.start, r.widx): r.path
        for r in random_walks(
            edges, walk_length=5, walks_per_vertex=2, seed=11, salt_chunk=8
        ).collect()
    }
    single = {
        (r.start, r.widx): r.path
        for r in random_walks(
            edges, walk_length=5, walks_per_vertex=2, seed=11,
            salt_chunk=1_000_000,
        ).collect()
    }
    assert salted == single
    # hub walks actually leave the hub (index resolution across chunks)
    assert any(p.split("|")[1] != "0" for (s, _), p in salted.items() if s == 0)


def test_link_prediction_default_hub_cap(spark):
    """Default max_middle_degree='auto' excludes ~0.1%-tail hub middles
    on graphs >= 1000 vertices; None opts out; small graphs uncapped."""
    from motive_spark.graph import link_prediction_scores

    # hub 0 -> 1200 leaves, plus two triangles among high ids
    pairs = [(0, i) for i in range(1, 1201)] + [
        (2000, 2001), (2001, 2002), (2002, 2000),
        (2000, 2003), (2003, 2001),
    ]
    edges = edges_df(spark, pairs)
    # default: the hub (the only vertex with >0.1%-tail degree) is not a
    # middle, so no leaf-leaf pair survives; triangle wedges remain
    capped = link_prediction_scores(edges).cache()
    leaf_pairs = capped.where((F.col("u") >= 1) & (F.col("v") <= 1200)).count()
    assert leaf_pairs == 0
    assert capped.where(F.col("u") >= 2000).count() > 0
    capped.unpersist()
    # opt-out: hub wedges reappear (C(1200,2) leaf pairs)
    uncapped = link_prediction_scores(edges, max_middle_degree=None)
    assert uncapped.where(
        (F.col("u") >= 1) & (F.col("v") <= 1200)
    ).count() == 1200 * 1199 // 2


def test_seeded_label_propagation_clusters_and_clamping(spark):
    from motive_spark.kernels import seeded_label_propagation

    # two triangles joined by one bridge edge; one seed per cluster
    pairs = [(0, 1), (1, 2), (2, 0), (10, 11), (11, 12), (12, 10), (2, 10)]
    edges = edges_df(spark, pairs)
    seeds = spark.createDataFrame([(0, 7), (12, 9)], "id long, label long")
    out = {
        r.id: r.label
        for r in seeded_label_propagation(edges, seeds, iters=4).collect()
    }
    assert out[0] == 7 and out[12] == 9  # clamped
    assert out[1] == 7  # spreads within the left triangle
    assert out[11] == 9  # and the right one
    # isolated pair never reached by any seed stays NULL
    pairs2 = pairs + [(50, 51)]
    out2 = {
        r.id: r.label
        for r in seeded_label_propagation(
            edges_df(spark, pairs2), seeds, iters=3
        ).collect()
    }
    assert out2[50] is None and out2[51] is None


def test_shortest_paths_matches_dijkstra(spark):
    """Frontier Bellman-Ford vs a heap Dijkstra oracle on random
    weighted graphs (undirected and directed), plus BFS defaults,
    fixed-round == converged when rounds suffice, and the
    non-convergence warning."""
    import heapq
    import warnings as _w

    from motive_spark.kernels import shortest_paths

    def dijkstra(pairs, weights, sources, directed):
        adj = {}
        for (a, b), w in zip(pairs, weights):
            adj.setdefault(a, []).append((b, w))
            if not directed:
                adj.setdefault(b, []).append((a, w))
        out = {}
        for s in sources:
            dist = {s: 0}
            pq = [(0, s)]
            while pq:
                d, u = heapq.heappop(pq)
                if d > dist.get(u, float("inf")):
                    continue
                for v, w in adj.get(u, []):
                    nd = d + w
                    if nd < dist.get(v, float("inf")):
                        dist[v] = nd
                        heapq.heappush(pq, (nd, v))
            for v, d in dist.items():
                out[(s, v)] = d
        return out

    rng = random.Random(9)
    pairs = sorted({(rng.randrange(40), rng.randrange(40)) for _ in range(140)})
    pairs = [(a, b) for a, b in pairs if a != b]
    weights = [rng.randrange(1, 9) for _ in pairs]
    for directed in (False, True):
        edges = spark.createDataFrame(
            [(a, b, w) for (a, b), w in zip(pairs, weights)],
            "src long, dst long, mult long",
        )
        got = {
            (r.source, r.id): r.dist
            for r in shortest_paths(
                edges, [0, 1, 2], weight_col="mult", directed=directed
            ).collect()
        }
        want = dijkstra(pairs, weights, [0, 1, 2], directed)
        assert got == want, directed

    # unweighted default = hop distance (BFS)
    chain = edges_df(spark, [(0, 1), (1, 2), (2, 3)])
    hops = {
        (r.source, r.id): r.dist
        for r in shortest_paths(chain, [0]).collect()
    }
    assert hops == {(0, 0): 0, (0, 1): 1, (0, 2): 2, (0, 3): 3}
    # fixed rounds: 2 rounds reach only 2 hops
    two = {
        (r.source, r.id): r.dist
        for r in shortest_paths(chain, [0], rounds=2).collect()
    }
    assert two == {(0, 0): 0, (0, 1): 1, (0, 2): 2}
    # convergence mode warns when max_rounds is too small
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        shortest_paths(chain, [0], max_rounds=2).collect()
    assert any("not converged" in str(x.message) for x in rec)


def test_shortest_paths_dense_multi_source_matches_single(spark):
    """r6: multi-source runs pack one distance column per source and
    relax at vertex granularity — under TRUNCATED fixed rounds the
    unpivoted output must still equal the union of independent
    single-source runs (the converged Dijkstra oracle cannot see a
    truncation divergence)."""
    from motive_spark.kernels import shortest_paths

    rng = random.Random(31)
    pairs = sorted({(rng.randrange(30), rng.randrange(30)) for _ in range(80)})
    pairs = [(a, b) for a, b in pairs if a != b]
    edges = spark.createDataFrame(
        [(a, b, (a + b) % 4 + 1) for a, b in pairs],
        "src long, dst long, mult long",
    )
    for r, wcol in [(1, None), (2, None), (3, "mult"), (2, "mult")]:
        multi = sorted(
            tuple(x)
            for x in shortest_paths(
                edges, [0, 1, 2, 3], weight_col=wcol, rounds=r
            ).collect()
        )
        single = sorted(
            tuple(x)
            for s in [0, 1, 2, 3]
            for x in shortest_paths(
                edges, [s], weight_col=wcol, rounds=r
            ).collect()
        )
        assert multi == single, (r, wcol)


def test_shortest_paths_dense_lane_autoswitch(spark):
    """r6: the dense-lane layout is gated on expected frontier
    saturation (n_sources * avg_deg^rounds / |V|): a dense small
    graph saturates (dense lanes), a sparse wide one does not (long
    format).  Both paths return identical results (tests above); this
    pins the DECISION."""
    from pyspark.sql import functions as SF

    from motive_spark.kernels.sssp import _dense_lanes_pay

    # 40 vertices, ~320 directed edges -> avg_deg ~8; 4 sources,
    # 3 rounds: 4 * 8^3 / 40 = 51 >> 0.5 -> dense
    dense_e = spark.createDataFrame(
        [(s, (s + k) % 40, 1) for s in range(40) for k in range(1, 9)],
        "src long, dst long, w long",
    ).dropDuplicates(["src", "dst"])
    assert _dense_lanes_pay(dense_e, 4, 3) is True

    # 5000 vertices in a ring -> avg_deg 1 is excluded outright; use
    # avg_deg 2 with 2 sources, 2 rounds: 2 * 2^2 / 5000 << 0.5 -> long
    sparse_e = spark.range(5000).select(
        SF.col("id").alias("src"),
        ((SF.col("id") + 1) % 5000).alias("dst"),
        SF.lit(1).alias("w"),
    ).unionByName(
        spark.range(5000).select(
            SF.col("id").alias("src"),
            ((SF.col("id") + 2) % 5000).alias("dst"),
            SF.lit(1).alias("w"),
        )
    )
    assert _dense_lanes_pay(sparse_e, 2, 2) is False


def test_harmonic_centrality_known_graph(spark):
    """Star graph: the hub is one hop from every source, leaves are two
    hops from other leaves; exact integer-quantized contributions."""
    from motive_spark.kernels import harmonic_centrality

    star = edges_df(spark, [(0, i) for i in range(1, 6)])
    got = {
        r.id: (r.harmonic_x1e6, r.n_reached)
        for r in harmonic_centrality(star, [1, 2, 3], rounds=4).collect()
    }
    # hub 0: dist 1 from all 3 sources -> 3 * 1e6
    assert got[0] == (3_000_000, 3)
    # leaf 4: dist 2 from each source -> 3 * 500000
    assert got[4] == (1_500_000, 3)
    # source 1: dist 0 from itself (excluded), dist 2 from sources 2, 3
    assert got[1] == (1_000_000, 2)


def test_link_prediction_topk_matches_full_composition(spark):
    """The fused top-k path (packed-key agg, broadcast lookups,
    driver-side rank stamp) returns exactly the rows the full
    score-table composition would rank first."""
    from pyspark.sql import functions as F

    from motive_spark.graph import link_prediction_scores, link_prediction_topk
    from motive_spark.graph.generate import random_edges

    edges = random_edges(spark, n=60, m=400, seed=11, directed=False)
    want = (
        link_prediction_scores(edges)
        .select(
            "u",
            "v",
            "common_neighbors",
            F.round("jaccard", 6).alias("jaccard"),
            F.round("adamic_adar", 6).alias("adamic_adar"),
            "is_edge",
        )
        .orderBy(F.desc("jaccard"), F.asc("u"), F.asc("v"))
        .limit(10)
        .collect()
    )
    got = link_prediction_topk(edges, k=10).orderBy("rank").collect()
    assert [g["rank"] for g in got] == list(range(1, 11))
    assert [tuple(g)[:6] for g in got] == [tuple(w) for w in want]


def test_link_prediction_topk_unpackable_ids(spark):
    """Vertex ids at/above 2^31 force the two-column aggregation
    fallback; results still come back ranked."""
    from motive_spark.graph import link_prediction_topk

    base = 1 << 31
    pairs = [(base, base + 1), (base + 1, base + 2), (base + 2, base),
             (base, base + 3), (base + 3, base + 2)]
    edges = edges_df(spark, pairs)
    got = link_prediction_topk(edges, k=3).collect()
    assert len(got) == 3 and got[0]["rank"] == 1
    assert all(r["u"] >= base for r in got)


def _py_node2vec(pairs, walk_length, walks_per_vertex, seed, wr, wn, wf):
    """Driver-side reference replay of node2vec_walks' exact arithmetic."""
    import hashlib

    adj: dict = {}
    for a, b in pairs:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    nbrs = {v: sorted(s) for v, s in adj.items()}

    def h(start, widx, t):
        key = f"{start}|{widx}|{t}|{seed}".encode()
        return int(hashlib.md5(key).hexdigest()[:8], 16)

    out = {}
    for start in nbrs:
        for widx in range(walks_per_vertex):
            path = [start]
            prev, cur = None, start
            for t in range(1, walk_length):
                ns = nbrs.get(cur, [])
                if not ns:
                    continue
                if t == 1 or prev is None:
                    nxt = ns[h(start, widx, t) % len(ns)]
                else:
                    wts = [
                        wr if x == prev else (wn if x in adj[prev] else wf)
                        for x in ns
                    ]
                    r = h(start, widx, t) % sum(wts)
                    acc = 0
                    for x, w in zip(ns, wts):
                        acc += w
                        if r < acc:
                            nxt = x
                            break
                prev, cur = cur, nxt
                path.append(nxt)
            out[(start, widx)] = "|".join(str(v) for v in path)
    return out


def test_node2vec_walks_match_reference_replay(spark):
    """Spark's distributed biased pick (chunked explode + window cumsum)
    reproduces the per-walk sequential weighted choice exactly."""
    from motive_spark.graph import node2vec_walks

    pairs = random_pairs(40, 120, seed=3, directed=False)
    edges = edges_df(spark, pairs)
    got = {
        (r.start, r.widx): r.path
        for r in node2vec_walks(
            edges, walk_length=4, walks_per_vertex=2, seed=9,
            w_return=1, w_near=2, w_far=4,
        ).collect()
    }
    want = _py_node2vec(pairs, 4, 2, 9, 1, 2, 4)
    assert got == want


def test_node2vec_bias_direction(spark):
    """Sanity on the bias itself: a huge return weight makes walks
    bounce back to prev far more often than a huge outward weight."""
    from motive_spark.graph import node2vec_walks

    pairs = random_pairs(30, 90, seed=4, directed=False)
    edges = edges_df(spark, pairs)

    def return_rate(wr, wf):
        rows = node2vec_walks(
            edges, walk_length=4, walks_per_vertex=4, seed=2,
            w_return=wr, w_near=1, w_far=wf,
        ).collect()
        bounce = tot = 0
        for r in rows:
            p = r.path.split("|")
            for i in range(2, len(p)):
                tot += 1
                bounce += p[i] == p[i - 2]
        return bounce / max(tot, 1)

    assert return_rate(50, 1) > 3 * return_rate(1, 50)


def test_node2vec_salted_chunks_consistent(spark):
    """salt_chunk small enough to split every adjacency list must not
    change any walk (global-position cumsum spans chunks)."""
    from motive_spark.graph import node2vec_walks

    pairs = random_pairs(25, 80, seed=6, directed=False)
    edges = edges_df(spark, pairs)
    big = {
        (r.start, r.widx): r.path
        for r in node2vec_walks(edges, seed=5, salt_chunk=4096).collect()
    }
    small = {
        (r.start, r.widx): r.path
        for r in node2vec_walks(edges, seed=5, salt_chunk=2).collect()
    }
    assert big == small


def test_pre_partitioned_guard(spark):
    """pre_partitioned=True misuse fails loudly under the validation
    flag: unsymmetrized input raises; a properly prepared table passes."""
    from motive_spark.kernels import connected_components

    spark.conf.set("motive_spark.validate.prePartitioned", "true")
    try:
        npart = int(spark.conf.get("spark.sql.shuffle.partitions"))
        one_way = edges_df(spark, [(0, 1), (1, 2), (2, 3)]).repartition(
            npart, "dst"
        )
        with pytest.raises(ValueError, match="not symmetrized"):
            connected_components(one_way, pre_partitioned=True).collect()
        sym = (
            one_way.union(
                one_way.select(
                    F.col("dst").alias("src"), F.col("src").alias("dst")
                )
            )
            .repartition(npart, "dst")
        )
        got = {
            r.id: r.component
            for r in connected_components(sym, pre_partitioned=True).collect()
        }
        assert got == {0: 0, 1: 0, 2: 0, 3: 0}
    finally:
        spark.conf.set("motive_spark.validate.prePartitioned", "false")


def test_pre_partitioned_partition_mismatch_warns(spark):
    import warnings as _warnings

    from motive_spark.kernels import connected_components

    e = edges_df(spark, [(0, 1), (1, 0)]).repartition(3, "dst")
    with _warnings.catch_warnings(record=True) as w:
        _warnings.simplefilter("always")
        connected_components(e, pre_partitioned=True).collect()
    assert any("re-shuffle" in str(x.message) for x in w)


def test_scc_strict_raises_on_overflow(spark):
    from motive_spark.kernels import strongly_connected_components

    # chain of 2-cycles: many peel rounds; max_outer=1 cannot finish
    pairs = []
    for i in range(6):
        a, b = 2 * i, 2 * i + 1
        pairs += [(a, b), (b, a)]
        if i:
            pairs.append((2 * (i - 1), a))
    e = edges_df(spark, pairs)
    with pytest.raises(RuntimeError, match="strict"):
        strongly_connected_components(e, max_outer=1, strict=True).collect()


def test_asof_join_reserved_name_collision_raises(spark):
    from motive_spark.datapipe import asof_join

    left = spark.createDataFrame(
        [(1, "2024-01-01 00:00:01", 5)], "k long, ts string, _tag long"
    ).select("k", F.to_timestamp("ts").alias("ts"), "_tag")
    right = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 7.0)], "k long, ts string, px double"
    ).select("k", F.to_timestamp("ts").alias("ts"), "px")
    with pytest.raises(ValueError, match="_tag"):
        asof_join(left, right, key="k")


def test_greedy_coloring_proper_and_deterministic(spark):
    """On a sparse graph enough rounds color EVERY vertex; the result
    is a proper coloring (no edge joins equal colors), deterministic,
    and colored vertices in the dense/partial regime are conflict-free
    too."""
    from motive_spark.kernels import greedy_coloring

    pairs = random_pairs(40, 70, seed=13, directed=False)
    e = edges_df(spark, pairs)
    got = {r.id: r.color for r in greedy_coloring(e, rounds=30).collect()}
    assert all(c is not None for c in got.values())
    for a, b in pairs:
        assert got[a] != got[b], (a, b, got[a])
    again = {r.id: r.color for r in greedy_coloring(e, rounds=30).collect()}
    assert got == again
    # partial fixed-round run: colored subset already conflict-free
    part = {r.id: r.color for r in greedy_coloring(e, rounds=2).collect()}
    for a, b in pairs:
        if part[a] is not None and part[b] is not None:
            assert part[a] != part[b]


def test_community_modularity_known_partition(spark):
    """Two triangles joined by one bridge edge: the natural partition
    scores the textbook modularity; a merged single community scores
    lower."""
    from motive_spark.graph import community_modularity

    pairs = [(0, 1), (1, 2), (2, 0), (3, 4), (4, 5), (5, 3), (0, 3)]
    e = edges_df(spark, pairs)
    labels = spark.createDataFrame(
        [(i, 0 if i < 3 else 1) for i in range(6)], "id long, label long"
    )
    rows = {r.community: r for r in community_modularity(e, labels).collect()}
    m = 7
    for c, nodes, dsum, ein in ((0, 3, 7, 3), (1, 3, 7, 3)):
        r = rows[c]
        assert (r.n_nodes, r.deg_sum, r.e_in) == (nodes, dsum, ein)
        expect = ein / m - (dsum / (2 * m)) ** 2
        assert abs(r.q_contrib - round(expect, 6)) < 1e-9
    one = spark.createDataFrame(
        [(i, 0) for i in range(6)], "id long, label long"
    )
    q_split = sum(r.q_contrib for r in rows.values())
    q_one = community_modularity(e, one).collect()[0].q_contrib
    assert q_one < q_split


def _py_betweenness(pairs, sources, depth, scale):
    """Pure-python replay of the bounded-horizon quantized Brandes rule."""
    from collections import defaultdict

    adj = defaultdict(set)
    for a, b in pairs:
        adj[a].add(b)
        adj[b].add(a)
    bc = defaultdict(int)
    for s in sources:
        dist = {s: 0}
        sigma = {s: 1}
        frontier = [s]
        for lvl in range(1, depth + 1):
            cand = {}
            for v in frontier:
                for w in adj[v]:
                    if w not in dist:
                        cand[w] = cand.get(w, 0) + sigma[v]
            for w, sg in cand.items():
                dist[w] = lvl
                sigma[w] = sg
            frontier = list(cand)
        delta = defaultdict(int)
        for lvl in range(depth - 1, 0, -1):
            for v in [x for x in dist if dist[x] == lvl]:
                acc = 0
                for w in adj[v]:
                    if dist.get(w) == lvl + 1:
                        acc += sigma[v] * (scale + delta[w]) // sigma[w]
                if acc:
                    delta[v] = acc
        for v, d in delta.items():
            if dist[v] > 0:
                bc[v] += d
    return bc


def test_betweenness_path_graph(spark):
    """Path 0-1-2-3-4, source 0: textbook deltas 3S, 2S, S, 0."""
    from motive_spark.kernels import betweenness_sampled

    pairs = [(0, 1), (1, 2), (2, 3), (3, 4)]
    got = {
        r.id: r.bc_q
        for r in betweenness_sampled(
            edges_df(spark, pairs), sources=[0], depth=4, scale=1000
        ).collect()
    }
    assert got == {0: 0, 1: 3000, 2: 2000, 3: 1000, 4: 0}


def test_betweenness_matches_python_replay(spark):
    from motive_spark.kernels import betweenness_sampled

    pairs = random_pairs(30, 60, seed=5, directed=False)
    sources = [0, 1, 2]
    want = _py_betweenness(pairs, sources, depth=4, scale=100_000)
    got = {
        r.id: r.bc_q
        for r in betweenness_sampled(
            edges_df(spark, pairs), sources, depth=4, scale=100_000
        ).collect()
    }
    verts = {v for p in pairs for v in p}
    assert set(got) == verts
    for v in verts:
        assert got[v] == want.get(v, 0), (v, got[v], want.get(v, 0))


def test_betweenness_dense_matches_sum_of_singles(spark):
    """r6: the dense per-source lane layout must equal the sum of
    independent single-source runs (bc is additive over sources) at a
    truncated depth, where a lane-gating bug would surface as sigma
    leakage between sources."""
    from motive_spark.kernels import betweenness_sampled

    pairs = random_pairs(25, 50, seed=13, directed=False)
    edges = edges_df(spark, pairs)
    srcs = [0, 1, 2, 3]
    multi = {
        r.id: r.bc_q
        for r in betweenness_sampled(edges, srcs, depth=3).collect()
    }
    summed: dict[int, int] = {}
    for s in srcs:
        for r in betweenness_sampled(edges, [s], depth=3).collect():
            summed[r.id] = summed.get(r.id, 0) + r.bc_q
    assert multi == summed


def _py_hyperball(pairs, rounds, seed, rmax):
    """Pure-python register replay of the md5-derived HLL union rounds."""
    import hashlib
    from collections import defaultdict

    adj = defaultdict(set)
    verts = set()
    for a, b in pairs:
        adj[a].add(b)
        adj[b].add(a)
        verts.update((a, b))
    regs = {}
    for v in verts:
        h = hashlib.md5(f"{v}|{seed}".encode()).hexdigest()
        j = int(h[:8], 16) % 32
        w = int(h[8:16], 16)
        r = rmax if w == 0 else min(33 - w.bit_length(), rmax)
        regs[v] = {j: r}
    for _ in range(rounds):
        new = {v: dict(rv) for v, rv in regs.items()}
        for v in verts:
            for u in adj[v]:
                for j, r in regs[u].items():
                    if new[v].get(j, -1) < r:
                        new[v][j] = r
        regs = new
    out = {}
    for v, rv in regs.items():
        s = sum(1 << (rmax - r) for r in rv.values())
        s += (32 - len(rv)) * (1 << rmax)
        out[v] = s
    return out


def test_hyperball_matches_python_replay(spark):
    from motive_spark.kernels import hyperball

    pairs = random_pairs(40, 80, seed=3, directed=False)
    want = _py_hyperball(pairs, rounds=3, seed=7, rmax=40)
    rows = hyperball(
        edges_df(spark, pairs), rounds=3, seed=7, rmax=40
    ).collect()
    got = {r.id: r.s_int for r in rows}
    assert got == want
    # estimate sanity: a 3-hop ball on this graph reaches most of the
    # 40 vertices; the raw HLL estimate must land within 3x either way
    for r in rows:
        assert 5 <= r.ball_est <= 160, (r.id, r.ball_est)


def test_hyperball_converged_equals_component_size_scale(spark):
    """On a connected graph, after >= diameter rounds every vertex
    holds the SAME sketch (the whole component's), so s_int is equal
    everywhere and the estimate is the component-cardinality HLL
    value."""
    from motive_spark.kernels import hyperball

    pairs = [(i, i + 1) for i in range(6)]
    rows = hyperball(edges_df(spark, pairs), rounds=6).collect()
    assert len({r.s_int for r in rows}) == 1


def py_ktruss(pairs, k):
    """Pure-python k-truss fixpoint oracle: peel edges with support
    < k-2 until stable; returns {(a, b): final support} (a < b)."""
    edges = {tuple(sorted(p)) for p in pairs if p[0] != p[1]}

    def supports(es):
        adj = {}
        for a, b in es:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        return {
            (a, b): len(adj[a] & adj[b]) for a, b in es
        }

    while edges:
        s = supports(edges)
        keep = {e for e in edges if s[e] >= k - 2}
        if keep == edges:
            break
        edges = keep
    return supports(edges) if edges else {}


@pytest.mark.parametrize("k", [3, 4])
def test_ktruss_vs_python_oracle(spark, k):
    from motive_spark.kernels import k_truss

    pairs = random_pairs(40, 220, seed=k * 11, directed=False)
    got = {
        (r.src, r.dst): r.supp
        for r in k_truss(edges_df(spark, pairs), k).collect()
    }
    assert got == py_ktruss(pairs, k)


def test_ktruss_pre_core_invariant(spark):
    """pre_core is pure pruning: same fixpoint with it off."""
    from motive_spark.kernels import k_truss

    pairs = random_pairs(30, 120, seed=9, directed=False)
    a = sorted(
        tuple(r) for r in k_truss(edges_df(spark, pairs), 4).collect()
    )
    b = sorted(
        tuple(r)
        for r in k_truss(edges_df(spark, pairs), 4, pre_core=False).collect()
    )
    assert a == b


def test_ktruss_clique_and_triangle_free(spark):
    from motive_spark.kernels import k_truss

    # K5: every edge has support 3 → survives k=5, dies at k=6
    k5 = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    out = k_truss(edges_df(spark, k5), 5).collect()
    assert len(out) == 10 and all(r.supp == 3 for r in out)
    assert k_truss(edges_df(spark, k5), 6).count() == 0
    # a path has no triangles: empty for any k >= 3
    path = [(i, i + 1) for i in range(6)]
    assert k_truss(edges_df(spark, path), 3).count() == 0


def py_msf(weighted, n_verts=None):
    """Kruskal under the (w, src, dst) total order — the unique MSF
    Boruvka must reproduce edge-for-edge."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    best = {}
    for a, b, w in weighted:
        a, b = min(a, b), max(a, b)
        if a != b and ((a, b) not in best or w < best[(a, b)]):
            best[(a, b)] = w
    out = []
    for (a, b), w in sorted(best.items(), key=lambda kv: (kv[1], kv[0])):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
            out.append((a, b, w))
    return sorted(out)


@pytest.mark.parametrize("seed", [1, 2])
def test_boruvka_msf_vs_kruskal(spark, seed):
    from motive_spark.kernels import boruvka_msf

    rng = random.Random(seed)
    pairs = random_pairs(60, 300, seed=seed, directed=False)
    weighted = [(a, b, rng.randrange(1, 40)) for a, b in pairs]
    df = spark.createDataFrame(weighted, "src long, dst long, w long")
    got = sorted(tuple(r) for r in boruvka_msf(df).collect())
    assert got == py_msf(weighted)


def test_boruvka_msf_edge_cases(spark):
    from motive_spark.kernels import boruvka_msf

    # two components: forest has one tree per component
    pairs = [(0, 1, 5), (1, 2, 3), (0, 2, 9), (10, 11, 1)]
    df = spark.createDataFrame(pairs, "src long, dst long, w long")
    got = sorted(tuple(r) for r in boruvka_msf(df).collect())
    assert got == [(0, 1, 5), (1, 2, 3), (10, 11, 1)]
    empty = spark.createDataFrame([], "src long, dst long, w long")
    assert boruvka_msf(empty).count() == 0
    # parallel edges + self loops collapse
    noisy = [(3, 4, 7), (4, 3, 2), (3, 3, 1)]
    df2 = spark.createDataFrame(noisy, "src long, dst long, w long")
    assert sorted(tuple(r) for r in boruvka_msf(df2).collect()) == [(3, 4, 2)]


def test_delta_stepping_matches_dijkstra(spark):
    """Delta-stepping vs a heap Dijkstra oracle on random weighted
    graphs, across delta values spanning all-light (delta >= max w,
    degenerates to BF rounds) to all-heavy (delta = 1 with w >= 2):
    the schedule changes, the distances must not."""
    import heapq
    import random

    from motive_spark.kernels import delta_stepping

    def dijkstra(pairs, weights, sources, directed):
        adj = {}
        for (a, b), w in zip(pairs, weights):
            adj.setdefault(a, []).append((b, w))
            if not directed:
                adj.setdefault(b, []).append((a, w))
        out = {}
        for s in sources:
            dist = {s: 0}
            pq = [(0, s)]
            while pq:
                d, u = heapq.heappop(pq)
                if d > dist.get(u, float("inf")):
                    continue
                for v, w in adj.get(u, []):
                    nd = d + w
                    if nd < dist.get(v, float("inf")):
                        dist[v] = nd
                        heapq.heappush(pq, (nd, v))
            for v, d in dist.items():
                out[(s, v)] = d
        return out

    rng = random.Random(17)
    pairs = sorted({(rng.randrange(30), rng.randrange(30)) for _ in range(90)})
    pairs = [(a, b) for a, b in pairs if a != b]
    weights = [rng.randrange(2, 9) for _ in pairs]
    edges = spark.createDataFrame(
        [(a, b, w) for (a, b), w in zip(pairs, weights)],
        "src long, dst long, mult long",
    )
    for directed in (False, True):
        want = dijkstra(pairs, weights, [0, 1], directed)
        for delta in (1, 3, 10):
            got = {
                (r.source, r.id): r.dist
                for r in delta_stepping(
                    edges, [0, 1], delta, weight_col="mult",
                    directed=directed,
                ).collect()
            }
            assert got == want, (directed, delta)


def test_neighbor_feature_agg(spark):
    """Hand-computed single-layer neighbor aggregation on a path
    graph, plus the integer-type guard."""
    from motive_spark.graph import neighbor_feature_agg

    edges = edges_df(spark, [(1, 2), (2, 3)])
    feat = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "id long, price long"
    )
    out = {
        r["id"]: r
        for r in neighbor_feature_agg(
            edges, feat, feature_cols=["price"]
        ).collect()
    }
    assert out[1]["n_nbrs"] == 1 and out[1]["sum_price"] == 20
    assert out[2]["n_nbrs"] == 2 and out[2]["sum_price"] == 40
    assert out[2]["min_price"] == 10 and out[2]["max_price"] == 30
    assert out[3]["sum_price"] == 20
    # directed: only out-neighbors aggregate
    d = {
        r["id"]: r["sum_price"]
        for r in neighbor_feature_agg(
            edges, feat, feature_cols=["price"], directed=True
        ).collect()
    }
    assert d == {1: 20, 2: 30}
    # float features must be rejected (exactness contract)
    bad = spark.createDataFrame([(1, 1.5)], "id long, price double")
    with pytest.raises(ValueError):
        neighbor_feature_agg(edges, bad, feature_cols=["price"])


def test_negative_samples(spark):
    """Sampled negatives are never existing edges or self-pairs, at
    most k per vertex, and bit-identical across physical layout."""
    from motive_spark.graph import negative_samples

    pairs = [(i, (i + 1) % 12) for i in range(12)] + [(0, 5), (3, 9)]
    edges = edges_df(spark, pairs)
    out = negative_samples(edges, k=3, seed=23).collect()
    assert out, "expected some negatives on a sparse graph"
    existing = set(pairs) | {(b, a) for a, b in pairs}
    per_src = {}
    for r in out:
        assert r["src"] != r["dst"]
        assert (r["src"], r["dst"]) not in existing
        assert 1 <= r["trial"] <= 3
        per_src[r["src"]] = per_src.get(r["src"], 0) + 1
    assert max(per_src.values()) <= 3
    out2 = negative_samples(edges.repartition(5), k=3, seed=23).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_negative_samples_no_single_partition_exchange(spark):
    """r6: the rank->id map uses the two-phase dense_index, so the plan
    must contain NO single-partition exchange (the r5 verdict's flagged
    |V|-row global row_number window)."""
    from motive_spark.graph import negative_samples

    pairs = [(i, (i + 1) % 40) for i in range(40)]
    edges = edges_df(spark, pairs)
    df = negative_samples(edges, k=2, seed=23)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan


def py_louvain_sync(pairs, rounds):
    """Pure-python oracle for the synchronous integer-gain Louvain."""
    sym = set()
    for a, b in pairs:
        if a != b:
            sym.add((a, b))
            sym.add((b, a))
    nodes = sorted({a for a, _ in sym})
    nbrs = {i: [b for a, b in sym if a == i] for i in nodes}
    k = {i: len(nbrs[i]) for i in nodes}
    m2 = len(sym)
    comm = {i: i for i in nodes}
    for _ in range(rounds):
        ktot: dict = {}
        for i in nodes:
            ktot[comm[i]] = ktot.get(comm[i], 0) + k[i]
        new = {}
        for i in nodes:
            kic: dict = {comm[i]: 0}
            for j in nbrs[i]:
                kic[comm[j]] = kic.get(comm[j], 0) + 1
            best = None
            for c, cnt in kic.items():
                gain = m2 * cnt - k[i] * (
                    ktot[c] - (k[i] if comm[i] == c else 0)
                )
                key = (gain, -c)
                if best is None or key > best[0]:
                    best = (key, c)
            new[i] = best[1]
        comm = new
    return comm


def test_louvain_refine_matches_python_oracle(spark):
    from motive_spark.kernels import louvain_refine

    # two 4-cliques bridged by a single edge + a pendant
    cl1 = [(a, b) for a in range(4) for b in range(4) if a < b]
    cl2 = [(a, b) for a in range(10, 14) for b in range(10, 14) if a < b]
    pairs = cl1 + cl2 + [(3, 10), (13, 20)]
    for rounds in (1, 3):
        got = {
            r.id: r.community
            for r in louvain_refine(edges_df(spark, pairs), rounds=rounds).collect()
        }
        want = py_louvain_sync(pairs, rounds)
        assert got == want, (rounds, got, want)
    # after 3 rounds the two cliques are separate non-singleton
    # communities
    got3 = {
        r.id: r.community
        for r in louvain_refine(edges_df(spark, pairs), rounds=3).collect()
    }
    c1 = {got3[i] for i in range(4)}
    c2 = {got3[i] for i in range(10, 14)}
    assert len(c1) == 1 and len(c2) == 1 and c1 != c2


def test_windowed_graph_semantics(spark):
    """Windowed edges dedupe within a window but not across; the
    copair projection respects the item cap."""
    from motive_spark.graph import (
        windowed_copair_count,
        windowed_edges,
        windowed_graph_metrics,
    )

    rows = [
        ("2024-01-01 01:00:00", 1, 10),
        ("2024-01-01 02:00:00", 1, 10),  # same day dup edge
        ("2024-01-01 03:00:00", 2, 10),  # copair (1,2) via item 10
        ("2024-01-01 04:00:00", 3, 99),
        ("2024-01-02 01:00:00", 1, 10),  # new day, new snapshot
    ]
    ev = spark.createDataFrame(rows, "ts string, u long, i long").select(
        F.to_timestamp("ts").alias("ts"), "u", "i"
    )
    we = windowed_edges(ev, "ts", F.col("u"), F.col("i"), "1 day")
    got = {(r.win_start, r.src, r.dst) for r in we.collect()}
    assert got == {
        ("2024-01-01", 1, 10),
        ("2024-01-01", 2, 10),
        ("2024-01-01", 3, 99),
        ("2024-01-02", 1, 10),
    }
    m = {r.win_start: r for r in windowed_graph_metrics(we).collect()}
    assert m["2024-01-01"].n_edges == 3 and m["2024-01-01"].n_src == 3
    assert m["2024-01-02"].n_edges == 1
    cp = {r.win_start: r.n_copairs for r in windowed_copair_count(we).collect()}
    assert cp == {"2024-01-01": 1}
    # cap=1 excludes item 10 (degree 2) -> no copairs anywhere
    cp1 = windowed_copair_count(we, item_cap=1).collect()
    assert cp1 == []


def py_bridges(pairs):
    """Iterative Tarjan bridge finder (pure-python oracle)."""
    adj: dict = {}
    for a, b in pairs:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    disc, low = {}, {}
    out = set()
    timer = [0]
    for s in adj:
        if s in disc:
            continue
        stack = [(s, None, iter(sorted(adj[s])))]
        disc[s] = low[s] = timer[0]
        timer[0] += 1
        while stack:
            v, parent, it = stack[-1]
            advanced = False
            for u in it:
                if u == parent:
                    continue
                if u in disc:
                    low[v] = min(low[v], disc[u])
                else:
                    disc[u] = low[u] = timer[0]
                    timer[0] += 1
                    stack.append((u, v, iter(sorted(adj[u]))))
                    advanced = True
                    break
            if not advanced:
                stack.pop()
                if parent is not None:
                    low[parent] = min(low[parent], low[v])
                    if low[v] > disc[parent]:
                        out.add((min(parent, v), max(parent, v)))
        # multi-edges between the same pair are never bridges
    und = {}
    for a, b in pairs:
        if a != b:
            k = (min(a, b), max(a, b))
            und[k] = und.get(k, 0) + 1
    return {e for e in out if und[e] == 1}


def test_bridges_matches_tarjan(spark):
    from motive_spark.kernels import bridges

    fixtures = [
        # cycle + pendant chain: only the chain edges are bridges
        [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4)],
        # two cliques joined by one bridge
        [(a, b) for a in range(4) for b in range(4) if a < b]
        + [(a, b) for a in range(10, 14) for b in range(10, 14) if a < b]
        + [(3, 10)],
        # pure tree: every edge is a bridge
        [(0, 1), (1, 2), (1, 3), (3, 4), (3, 5)],
        # two disjoint cycles: no bridges at all
        [(0, 1), (1, 2), (2, 0), (7, 8), (8, 9), (9, 7)],
    ]
    for pairs in fixtures:
        got = {
            (r.src, r.dst) for r in bridges(edges_df(spark, pairs)).collect()
        }
        assert got == py_bridges(pairs), pairs


def test_bridges_random_graphs(spark):
    import random as _random

    from motive_spark.kernels import bridges

    rng = _random.Random(7)
    for trial in range(3):
        n = 14
        pairs = sorted(
            {
                (a, b)
                for a, b in (
                    (rng.randrange(n), rng.randrange(n)) for _ in range(18)
                )
                if a < b
            }
        )
        got = {
            (r.src, r.dst) for r in bridges(edges_df(spark, pairs)).collect()
        }
        assert got == py_bridges(pairs), (trial, pairs)


def py_articulation(pairs):
    """Iterative Tarjan articulation-point oracle."""
    adj: dict = {}
    for a, b in pairs:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    disc, low = {}, {}
    art = set()
    timer = [0]
    for s in sorted(adj):
        if s in disc:
            continue
        stack = [(s, None, iter(sorted(adj[s])))]
        disc[s] = low[s] = timer[0]
        timer[0] += 1
        root_children = 0
        while stack:
            v, parent, it = stack[-1]
            advanced = False
            for u in it:
                if u == parent:
                    continue
                if u in disc:
                    low[v] = min(low[v], disc[u])
                else:
                    disc[u] = low[u] = timer[0]
                    timer[0] += 1
                    if v == s:
                        root_children += 1
                    stack.append((u, v, iter(sorted(adj[u]))))
                    advanced = True
                    break
            if not advanced:
                stack.pop()
                if parent is not None:
                    low[parent] = min(low[parent], low[v])
                    if parent != s and low[v] >= disc[parent]:
                        art.add(parent)
        if root_children >= 2:
            art.add(s)
    return art


def test_articulation_points_matches_tarjan(spark):
    from motive_spark.kernels import articulation_points

    fixtures = [
        [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4)],          # cycle+chain
        [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 2)],  # two cycles @2
        [(a, b) for a in range(4) for b in range(4) if a < b]
        + [(a, b) for a in range(10, 14) for b in range(10, 14) if a < b]
        + [(3, 10)],                                       # cliques+bridge
        [(0, 1), (1, 2), (2, 0)],                          # triangle: none
        [(0, 1), (1, 2), (1, 3), (3, 4)],                  # star-ish tree
        # r6: 12-deep chain into a cycle — many BFS levels, so the
        # fused full-graph rooting (first-assignment-wins agg) runs
        # through its multi-level regime, and every chain vertex is a
        # cut vertex while the cycle contributes none
        [(i, i + 1) for i in range(12)]
        + [(12, 13), (13, 14), (14, 12)],
    ]
    for pairs in fixtures:
        got = {
            r.id for r in articulation_points(edges_df(spark, pairs)).collect()
        }
        assert got == py_articulation(pairs), pairs


def test_articulation_points_random(spark):
    import random as _random

    from motive_spark.kernels import articulation_points

    rng = _random.Random(11)
    for trial in range(3):
        n = 12
        pairs = sorted(
            {
                (a, b)
                for a, b in (
                    (rng.randrange(n), rng.randrange(n)) for _ in range(16)
                )
                if a < b
            }
        )
        got = {
            r.id for r in articulation_points(edges_df(spark, pairs)).collect()
        }
        assert got == py_articulation(pairs), (trial, pairs)


def test_contract_graph_semantics(spark):
    from motive_spark.kernels import contract_graph

    edges = edges_df(spark, [(1, 2), (2, 3), (3, 4), (1, 3), (4, 5)])
    comm = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10), (4, 40), (5, 40)],
        "id long, community long",
    )
    got = {(r.src, r.dst): r.w for r in contract_graph(edges, comm).collect()}
    # intra edges (1,2),(2,3),(1,3) -> self loop w=3; (3,4) crosses; (4,5) intra
    assert got == {(10, 10): 3, (10, 40): 1, (40, 40): 1}
    no_loops = {
        (r.src, r.dst): r.w
        for r in contract_graph(edges, comm, keep_self_loops=False).collect()
    }
    assert no_loops == {(10, 40): 1}


def test_windowed_components_isolation(spark):
    """Snapshots are solved jointly but NEVER merge across windows:
    identical edges on two days yield two independent component sets."""
    from motive_spark.graph import windowed_components, windowed_edges

    rows = [
        ("2024-01-01 01:00:00", 1, 10),
        ("2024-01-01 02:00:00", 2, 10),   # day1: {1,2,i10} one comp
        ("2024-01-01 02:30:00", 3, 99),   # day1: {3,i99} second comp
        ("2024-01-02 01:00:00", 1, 10),   # day2: {1,i10} only
    ]
    ev = spark.createDataFrame(rows, "ts string, u long, i long").select(
        F.to_timestamp("ts").alias("ts"), "u", "i"
    )
    we = windowed_edges(ev, "ts", F.col("u"), F.col("i"), "1 day")
    got = {r.win_start: r for r in windowed_components(we).collect()}
    d1 = got["2024-01-01"]
    assert (d1.n_vertices, d1.n_components, d1.max_component) == (5, 2, 3)
    d2 = got["2024-01-02"]
    assert (d2.n_vertices, d2.n_components, d2.max_component) == (2, 1, 2)


def py_louvain_weighted_sync(wedges, rounds):
    """Weighted synchronous Louvain oracle over canonical (src<=dst, w)
    edges with self-loops."""
    base: dict = {}
    for a, b, w in wedges:
        k = (min(a, b), max(a, b))
        base[k] = base.get(k, 0) + w
    nodes = sorted({x for k in base for x in k})
    nbrs: dict = {i: {} for i in nodes}
    k = {i: 0 for i in nodes}
    for (a, b), w in base.items():
        if a == b:
            k[a] += 2 * w
        else:
            nbrs[a][b] = nbrs[a].get(b, 0) + w
            nbrs[b][a] = nbrs[b].get(a, 0) + w
            k[a] += w
            k[b] += w
    m2 = sum(k.values())
    comm = {i: i for i in nodes}
    for _ in range(rounds):
        ktot: dict = {}
        for i in nodes:
            ktot[comm[i]] = ktot.get(comm[i], 0) + k[i]
        new = {}
        for i in nodes:
            kic = {comm[i]: 0}
            for j, w in nbrs[i].items():
                kic[comm[j]] = kic.get(comm[j], 0) + w
            best = None
            for c, cw in kic.items():
                gain = m2 * cw - k[i] * (
                    ktot[c] - (k[i] if comm[i] == c else 0)
                )
                key = (gain, -c)
                if best is None or key > best[0]:
                    best = (key, c)
            new[i] = best[1]
        comm = new
    return comm


def test_louvain_weighted_and_multilevel(spark):
    from motive_spark.kernels import (
        louvain_multilevel,
        louvain_refine,
        louvain_refine_weighted,
    )

    # weighted refine vs python oracle (self-loops included)
    wedges = [
        (1, 1, 6), (2, 2, 6), (1, 2, 1),       # two heavy supernodes
        (3, 4, 5), (4, 5, 5), (3, 5, 5),        # a weighted triangle
        (2, 3, 1),
    ]
    df = spark.createDataFrame(wedges, "src long, dst long, w long")
    for rounds in (1, 3):
        got = {
            r.id: r.community
            for r in louvain_refine_weighted(df, rounds=rounds).collect()
        }
        want = py_louvain_weighted_sync(wedges, rounds)
        assert got == want, (rounds, got, want)
    # multilevel on two cliques + bridge: level 2 must not merge the
    # cliques, and every original vertex gets its supernode's label
    cl1 = [(a, b) for a in range(4) for b in range(4) if a < b]
    cl2 = [(a, b) for a in range(10, 14) for b in range(10, 14) if a < b]
    pairs = cl1 + cl2 + [(3, 10)]
    ml = {
        r.id: r.community
        for r in louvain_multilevel(
            edges_df(spark, pairs), rounds1=3, rounds2=3
        ).collect()
    }
    c1 = {ml[i] for i in range(4)}
    c2 = {ml[i] for i in range(10, 14)}
    assert len(c1) == 1 and len(c2) == 1 and c1 != c2


def test_grouped_pagerank_matches_per_group_kernel(spark):
    """grouped_pagerank == the single-graph reference oracle run
    independently per group (same damped update, per-group dangling)."""
    from motive_spark.kernels import grouped_pagerank

    g1 = [(1, 2), (2, 3), (3, 1), (3, 4)]          # has a dangling vertex
    g2 = [(10, 11), (11, 10), (11, 12), (12, 10)]  # strongly connected
    rows = [("a", s, d) for s, d in g1] + [("b", s, d) for s, d in g2]
    df = spark.createDataFrame(rows, "g string, src long, dst long")
    got = {
        (r.g, r.id): r.rank
        for r in grouped_pagerank(df, "g", max_iter=8).collect()
    }
    for gname, pairs in (("a", g1), ("b", g2)):
        want = py_pagerank(pairs, damping=0.85, max_iter=8, tol=0)
        for vid, rank in want.items():
            assert abs(got[(gname, vid)] - rank) < 1e-9, (gname, vid)
    # per-group ranks each sum to 1
    import collections

    sums = collections.defaultdict(float)
    for (gname, _), r in got.items():
        sums[gname] += r
    assert all(abs(v - 1.0) < 1e-9 for v in sums.values())
