"""Motif extractor invariants — pytest translations of the reference's
test patterns (SURVEY §5):

* canonical forms unify isomorphic subgraphs (shuffled instance
  re-canonizes to the same motif — MotifModelTest.java:383-391);
* selected occurrences are node-disjoint (testOverlaps,
  UPlainMotifExtractorTest.java:102-120);
* no duplicate nodes within an occurrence (:122-134);
* each occurrence's induced subgraph equals the motif (testMotifs,
  :136-150);
* determinism under a fixed seed (Compare.java:184).
"""

import random
from itertools import permutations

import numpy as np
import pytest

from tests.conftest import edges_df
from tests.test_kernels import FIXTURE_TRI_HUB, random_pairs


def test_canonical_form_invariant_under_permutation():
    from motive_spark.motifs.canon import canonical_form, edges_to_mask

    rng = random.Random(7)
    for k in (3, 4, 5):
        for _ in range(20):
            edges = [
                (i, j)
                for i in range(k)
                for j in range(k)
                if i != j and rng.random() < 0.5
            ]
            base = canonical_form(edges_to_mask(edges, k, True), k)
            for p in list(permutations(range(k)))[:10]:
                permuted = [(p[i], p[j]) for i, j in edges]
                assert canonical_form(edges_to_mask(permuted, k, True), k) == base


def test_canonical_form_separates_nonisomorphic():
    from motive_spark.motifs.canon import canonical_form, edges_to_mask

    k = 3
    tri = edges_to_mask([(0, 1), (1, 2), (2, 0)], k, False)  # triangle
    path = edges_to_mask([(0, 1), (1, 2)], k, False)  # path
    assert canonical_form(tri, k) != canonical_form(path, k)


def test_canonical_batch_matches_scalar():
    from motive_spark.motifs.canon import canonical_batch

    rng = np.random.default_rng(3)
    k = 4
    masks = rng.integers(0, 2 ** (k * k), size=50, dtype=np.uint64)
    batch = canonical_batch(masks, k)
    from motive_spark.motifs.canon import canonical_form

    for m, c in zip(masks, batch):
        assert canonical_form(int(m), k) == int(c)


@pytest.fixture(scope="module")
def extractor(spark):
    from motive_spark.motifs import MotifExtractor

    pairs = random_pairs(60, 240, seed=5, directed=False)
    edges = edges_df(spark, pairs)
    return (
        MotifExtractor(
            edges, samples=800, min_size=3, max_size=5, min_freq=2,
            seed=42, directed=False,
        ),
        dict(pairs=pairs),
    )


def test_occurrences_connected_and_induced(extractor):
    from motive_spark.motifs.canon import canonical_form, edges_to_mask

    ex, ctx = extractor
    adj = {}
    for a, b in ctx["pairs"]:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    rows = ex.occurrences().collect()
    assert rows
    for r in rows:
        vs = list(r.vertices)
        assert len(vs) == len(set(vs))  # no dup nodes in an occurrence
        # connected (BFS over induced subgraph)
        seen = {vs[0]}
        stack = [vs[0]]
        vset = set(vs)
        while stack:
            u = stack.pop()
            for w in adj.get(u, ()) & vset:
                if w not in seen:
                    seen.add(w)
                    stack.append(w)
        assert seen == vset
        # induced subgraph canonizes to the motif key
        k = r.k
        local = {v: i for i, v in enumerate(vs)}
        ind = [
            (local[a], local[b])
            for a in vs
            for b in adj.get(a, ())
            if b in vset and local[a] < local[b]
        ]
        assert canonical_form(edges_to_mask(ind, k, False), k) == r.canon


def test_selected_occurrences_node_disjoint_per_motif(extractor):
    ex, _ = extractor
    rows = ex.occurrences().collect()
    by_canon = {}
    for r in rows:
        by_canon.setdefault(r.canon, []).extend(r.vertices)
    for canon, verts in by_canon.items():
        assert len(verts) == len(set(verts)), f"overlap within motif {canon}"


def test_extractor_deterministic(spark):
    from motive_spark.motifs import MotifExtractor

    pairs = random_pairs(40, 150, seed=9, directed=False)
    edges = edges_df(spark, pairs)
    a = MotifExtractor(edges, samples=300, min_size=3, max_size=4, directed=False)
    b = MotifExtractor(edges, samples=300, min_size=3, max_size=4, directed=False)
    fa = {(r.canon, r.freq) for r in a.motifs().collect()}
    fb = {(r.canon, r.freq) for r in b.motifs().collect()}
    assert fa == fb


def test_triangle_motif_found_in_fixture(spark):
    from motive_spark.motifs import MotifExtractor
    from motive_spark.motifs.canon import canonical_form, edges_to_mask

    edges = edges_df(spark, FIXTURE_TRI_HUB)
    ex = MotifExtractor(
        edges, samples=400, min_size=3, max_size=3, min_freq=2, directed=False
    )
    tri_canon = canonical_form(edges_to_mask([(0, 1), (1, 2), (0, 2)], 3, False), 3)
    freqs = {r.canon: r.freq for r in ex.motifs().collect()}
    assert tri_canon in freqs  # the planted triangles surface


def test_directed_extractor_and_injection(spark):
    """Directed pipeline end-to-end: plant a feed-forward-loop motif in a
    directed ER graph; the extractor + scorer must recover it (the
    reference's fast path is directed-only, Run.java:223-224)."""
    from motive_spark.mdl.score import score_motifs
    from motive_spark.motifs import MotifExtractor
    from motive_spark.motifs.canon import canonical_form, edges_to_mask

    ffl = [(0, 1), (1, 2), (0, 2)]  # feed-forward loop
    target = canonical_form(edges_to_mask(ffl, 3, True), 3)
    pairs = set(random_pairs(100, 200, seed=23, directed=True))
    for i in range(15):
        vs = [100 + 3 * i + j for j in range(3)]
        for a, b in ffl:
            pairs.add((vs[a], vs[b]))
        pairs.add((i, vs[0]))
    edges = edges_df(spark, sorted(pairs))
    ex = MotifExtractor(
        edges, samples=2000, min_size=3, max_size=3, min_freq=2, directed=True
    )
    freqs = {r.canon: r.freq for r in ex.motifs().collect()}
    assert target in freqs
    # occurrences of the FFL really induce an FFL
    import itertools

    eset = set(pairs)
    for r in ex.occurrences(target).collect():
        vs = list(r.vertices)
        local = {v: i for i, v in enumerate(vs)}
        ind = [
            (local[a], local[b])
            for a, b in itertools.permutations(vs, 2)
            if (a, b) in eset
        ]
        assert canonical_form(edges_to_mask(ind, 3, True), 3) == target
    scores = {
        r.canon: r for r in score_motifs(edges, ex.occurrences(), directed=True).collect()
    }
    assert target in scores
    best = max(scores.values(), key=lambda r: r.factor_er)
    assert best.canon == target and best.factor_er > 0


def test_canonical_labeled_invariants():
    """Labeled canonization: label-preserving isomorphisms unify, label
    pattern differences split (DPlainMotifExtractor.java:54-63)."""
    from motive_spark.motifs.canon import canonical_labeled, edges_to_mask

    # path 0-1-2 (center 1), undirected
    path = edges_to_mask([(0, 1), (1, 2)], 3, False)
    # same labeled graph under a vertex relabeling: center keeps label B
    a = canonical_labeled(path, ["A", "B", "A"], 3)
    perm_mask = edges_to_mask([(2, 1), (1, 0)], 3, False)  # same structure
    b = canonical_labeled(perm_mask, ["A", "B", "A"], 3)
    assert a == b
    # endpoints swapped with distinct labels: still isomorphic as labeled
    c1 = canonical_labeled(path, ["A", "B", "C"], 3)
    c2 = canonical_labeled(path, ["C", "B", "A"], 3)
    assert c1 == c2
    # center label differs -> different labeled motif, same structure
    d = canonical_labeled(path, ["B", "A", "B"], 3)
    assert d != a and d[0] == a[0]
    # triangle: all rotations unify
    tri = edges_to_mask([(0, 1), (1, 2), (0, 2)], 3, False)
    t1 = canonical_labeled(tri, ["X", "Y", "Z"], 3)
    t2 = canonical_labeled(tri, ["Y", "Z", "X"], 3)
    assert t1 == t2


def test_extractor_label_sensitive(spark):
    """Two structurally-identical triangle populations with different
    label patterns split into separate motifs when labels are given and
    unify when not."""
    from motive_spark.motifs import MotifExtractor

    pairs, labels = [], []
    for i in range(8):
        vs = [3 * i, 3 * i + 1, 3 * i + 2]
        pairs += [(vs[0], vs[1]), (vs[1], vs[2]), (vs[0], vs[2])]
        pat = ["red", "red", "blue"] if i % 2 == 0 else ["green", "green", "green"]
        labels += list(zip(vs, pat))
    # connect the triangles in a ring so sampling can reach all of them
    for i in range(8):
        pairs.append((3 * i, 3 * ((i + 1) % 8)))
    e = spark.createDataFrame(sorted(set(pairs)), "src long, dst long")
    lab = spark.createDataFrame(labels, "id long, label string")

    from motive_spark.motifs.canon import canonical_form, edges_to_mask

    tri_canon = canonical_form(edges_to_mask([(0, 1), (1, 2), (0, 2)], 3, False), 3)
    blind = MotifExtractor(e, samples=500, min_size=3, max_size=3,
                           min_freq=1, directed=False)
    # structure-blind extraction UNIFIES both label populations into one
    # triangle motif class
    tri_blind = [r for r in blind.motifs().collect() if r["canon"] == tri_canon]
    assert len(tri_blind) == 1 and tri_blind[0]["freq"] >= 6
    labeled = MotifExtractor(e, samples=500, min_size=3, max_size=3,
                             min_freq=1, directed=False, vertex_labels=lab)
    sigs = {
        r["canon_key"]
        for r in labeled.motifs().collect()
        if r["canon_key"].count("\x1f") == 2 and r["freq"] >= 2
    }
    # the two triangle label patterns appear as DISTINCT labeled motifs
    tri_sigs = {s for s in sigs if "green" in s or "red" in s}
    assert any("green" in s for s in tri_sigs)
    assert any("red" in s and "blue" in s for s in tri_sigs)
    # occurrences carry labels aligned to vertex order
    occ = labeled.occurrences().limit(5).collect()
    for r in occ:
        assert len(r["labels"]) == r["k"]


def test_sampler_seed_plan_no_single_partition_exchange(spark):
    """The seed-vertex setup must not sort |V| through one task nor force
    a |V|-row broadcast (VERDICT r2 #1): the dense index comes from
    two-phase per-partition offsets and the samples->vertex map is a
    plain equi-join."""
    from motive_spark.motifs.sample import seed_states

    pairs = random_pairs(300, 1500, seed=21)
    edges = edges_df(spark, pairs)
    verts = (
        edges.selectExpr("src as v")
        .union(edges.selectExpr("dst as v"))
        .distinct()
    )
    n = verts.count()
    state = seed_states(verts, n, 200, 3, 5, seed=7)
    plan = state._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan, plan
    # seeds are valid vertices, one row per surviving sample, k in range
    rows = state.collect()
    assert len(rows) == 200
    vs = {r.v for r in verts.collect()}
    for r in rows:
        assert len(r.vertices) == 1 and r.vertices[0] in vs
        assert 3 <= r.k <= 5


def test_extractor_maxsize_10(spark):
    """The README's own envelope (--maxsize 10, README.md:49-51): an
    undirected extraction with k up to 10 samples, canonizes (I-R path
    for k >= 9, UT masks), counts, and selects — and every occurrence's
    induced subgraph recanonizes to its motif key."""
    from motive_spark.motifs import MotifExtractor
    from motive_spark.motifs.canon import canonical_form, edges_to_mask

    pairs = random_pairs(80, 400, seed=9, directed=False)
    edges = edges_df(spark, pairs)
    ex = MotifExtractor(
        edges, samples=400, min_size=8, max_size=10, min_freq=1,
        seed=7, directed=False,
    )
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    rows = ex.occurrences().collect()
    assert rows and any(r.k >= 9 for r in rows)
    for r in rows:
        vs = list(r.vertices)
        vset = set(vs)
        local = {v: i for i, v in enumerate(vs)}
        ind = [
            (local[a], local[b])
            for a in vs
            for b in adj.get(a, ())
            if b in vset and local[a] < local[b]
        ]
        assert canonical_form(edges_to_mask(ind, r.k, False), r.k) == r.canon


def test_extractor_directed_above_8_rejected(spark):
    from motive_spark.motifs import MotifExtractor

    edges = edges_df(spark, [(0, 1), (1, 2)])
    import pytest as _pytest

    with _pytest.raises(ValueError, match="directed"):
        MotifExtractor(edges, samples=10, max_size=9, directed=True)


# --- driver-local regime: bit-identical to the distributed one -------------


def test_numpy_xxhash64_matches_spark(spark):
    """The sampler's numpy XXH64 equals ``F.xxhash64`` on long and int
    columns, on int literals either side of the int32 boundary and on
    the sampler's "k" / "seed_v" / per-round chains."""
    import pandas as pd
    from pyspark.sql import functions as F

    from motive_spark.motifs.sample import xxhash64

    rng = np.random.default_rng(11)
    info = np.iinfo(np.int64)
    edge_vals = np.array(random_pairs(500, 200, seed=3), dtype=np.int64).ravel()
    v = np.concatenate([
        edge_vals,
        rng.integers(info.min, info.max, 300, dtype=np.int64),
        np.array([0, 1, -1, 2**31 - 1, 2**31, -(2**31), -(2**31) - 1,
                  info.max, info.min], dtype=np.int64),
    ])
    i = (v % 100_003).astype(np.int32) - 50_000
    df = spark.createDataFrame(pd.DataFrame({"v": v, "i": i}), "v long, i int")
    lits = [0, 7, -7, 2**31 - 1, 2**31, -(2**31), -(2**31) - 1, 2**40]
    chains = [
        lambda lit: ("v",),
        lambda lit: ("v", lit, "k"),
        lambda lit: ("v", lit, "seed_v"),
        lambda lit: ("v", 3, "v", lit),
        lambda lit: ("v", 3, "i", lit),
    ]
    cols = {"v": v, "i": i}
    exprs, want = [], []
    for a, lit in enumerate(lits):
        for b, chain in enumerate(chains):
            args = chain(lit)
            exprs.append(F.xxhash64(*[
                F.col(x) if x in cols else F.lit(x) for x in args
            ]).alias(f"h{a}_{b}"))
            want.append((f"h{a}_{b}", xxhash64(*[cols.get(x, x) for x in args])))
    got = df.select(*exprs).toPandas()
    for name, mine in want:
        assert np.array_equal(got[name].to_numpy(), mine), name


_POCKET = random_pairs(30, 60, seed=2, directed=False) + [
    (1, 2), (1, 2), (5, 5), (7, 7), (100, 101), (101, 100), (200, 200),
]

_EQUIV_CASES = {
    "undirected_3_4": (
        lambda: random_pairs(60, 240, seed=5, directed=False), "long",
        dict(samples=800, min_size=3, max_size=4, seed=42, directed=False),
    ),
    "directed_ffl": (
        lambda: sorted(
            set(random_pairs(100, 200, seed=23))
            | {(100 + 3 * i + a, 100 + 3 * i + b)
               for i in range(15) for a, b in ((0, 1), (1, 2), (0, 2))}
            | {(i, 100 + 3 * i) for i in range(15)}
        ), "long",
        dict(samples=1500, min_size=3, max_size=3, seed=3, directed=True),
    ),
    "undirected_8_10_int_ids": (
        lambda: random_pairs(80, 400, seed=9, directed=False), "int",
        dict(samples=400, min_size=8, max_size=10, min_freq=1, seed=7,
             directed=False),
    ),
    "dups_loops_pocket": (
        lambda: _POCKET, "long",
        dict(samples=600, min_size=3, max_size=5, min_freq=1, seed=11,
             directed=False),
    ),
}


def _rows(df, cols):
    return sorted(
        tuple(tuple(x) if isinstance(x, list) else x for x in r)
        for r in df.select(*cols).collect()
    )


@pytest.mark.parametrize("case", sorted(_EQUIV_CASES))
def test_local_extractor_matches_distributed(spark, case):
    """``strategy="local"`` equals ``"distributed"`` row for row on the
    motif table and the selected occurrences, and the local sampler draws
    exactly the distributed sampler's samples (stuck samples included:
    the pocket fixture's two-vertex component cannot grow to 3)."""
    from motive_spark.motifs import MotifExtractor
    from motive_spark.motifs.sample import (
        sample_connected_subgraphs,
        sample_local,
        symmetric_csr,
    )

    make, id_type, kw = _EQUIV_CASES[case]
    pairs = make()
    edges = spark.createDataFrame(pairs, f"src {id_type}, dst {id_type}")
    local = MotifExtractor(edges, strategy="local", **kw)
    dist = MotifExtractor(edges, strategy="distributed", **kw)
    assert (local.strategy, dist.strategy) == ("local", "distributed")
    try:
        for a, b in ((local._motifs, dist._motifs),
                     (local._occurrences, dist._occurrences)):
            assert a.schema.simpleString() == b.schema.simpleString()
            assert _rows(a, a.columns) == _rows(b, b.columns)
        assert local._occurrences.count() > 0
    finally:
        dist.close()

    sample_kw = {k: kw[k] for k in ("min_size", "max_size", "seed", "directed")}
    sampled = sample_connected_subgraphs(edges, kw["samples"], **sample_kw)
    want = _rows(sampled, ["occ_id", "vertices", "k"])
    from motive_spark.checkpoint import CheckpointManager

    CheckpointManager._release(sampled)
    src = np.array([a for a, _ in pairs], dtype=np.int64)
    dst = np.array([b for _, b in pairs], dtype=np.int64)
    ids, indptr, nbr = symmetric_csr(src, dst)
    occ, k, members = sample_local(
        ids, indptr, nbr, kw["samples"], kw["min_size"], kw["max_size"],
        kw["seed"], int_ids=id_type == "int",
    )
    got = sorted(
        (int(o), tuple(sorted(ids[members[r, :kk]].tolist())), int(kk))
        for r, (o, kk) in enumerate(zip(occ, k))
    )
    assert got == want
    if case == "dups_loops_pocket":
        assert len(got) < kw["samples"]


def test_extractor_auto_switch_both_sides(spark, monkeypatch):
    """``auto`` extracts locally at ``LOCAL_SCORE_THRESHOLD`` = m edge
    rows and distributed at m - 1, with the forced result on each side."""
    from motive_spark.graph import local as local_mod
    from motive_spark.motifs import MotifExtractor, extract

    pairs = random_pairs(40, 150, seed=9, directed=False)
    m = len(pairs)
    edges = edges_df(spark, pairs)
    kw = dict(samples=300, min_size=3, max_size=4, directed=False)
    forced = MotifExtractor(edges, strategy="local", **kw)
    want = _rows(forced._occurrences, forced._occurrences.columns)

    calls = []
    real = extract._extract_local
    monkeypatch.setattr(
        extract, "_extract_local",
        lambda *a, **k: calls.append(1) or real(*a, **k),
    )
    for threshold, side in ((m - 1, "distributed"), (m, "local")):
        calls.clear()
        monkeypatch.setattr(local_mod, "LOCAL_SCORE_THRESHOLD", threshold)
        ex = MotifExtractor(edges, **kw)
        assert ex.strategy == side and len(calls) == (side == "local")
        assert _rows(ex._occurrences, ex._occurrences.columns) == want
        ex.close()


def test_local_extractor_job_ceiling_and_no_python_eval(spark):
    """The local regime is one bounded edge read plus the caller's own
    action: a job ceiling on extraction + ``occurrences().count()``, and
    no Python evaluation node in the returned frames' executed plans."""
    from motive_spark.motifs import MotifExtractor

    sc = spark.sparkContext
    edges = edges_df(spark, random_pairs(60, 240, seed=5, directed=False))
    group = "local_extractor_jobs"
    sc.setJobGroup(group, group)
    try:
        ex = MotifExtractor(edges, samples=800, min_size=3, max_size=5,
                            directed=False)
        ex.occurrences().count()
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert ex.strategy == "local"
    # 2 at local[2], local[4] and local[8]; the distributed regime took
    # 58 at local[4]
    assert jobs <= 2, jobs
    for df in (ex.motifs(), ex.occurrences(), ex.top_motifs(3)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        for node in ("ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas"):
            assert node not in plan, plan


def test_local_probe_one_job_without_arrow(spark, tmp_path, monkeypatch):
    """The local regime's edge read is one Spark job whatever the
    partition count, keeps ``toPandas``' dtypes and null handling, and a
    local ``fast_experiment`` builds no frame in the JVM (no Arrow after
    the probe, so its first use in a session is never paid)."""
    from pyspark.sql import functions as F

    from motive_spark.experiment import fast_experiment
    from motive_spark.mdl.score import local_edges

    sc = spark.sparkContext
    want = sorted((i % 60, (i * 7 + 1) % 60) for i in range(240))
    for parts in (1, 3, 9):
        # no shuffle and no cache below the probe, so every job is its
        # own; the explode hides the row count, which would let the
        # optimizer drop the limit
        ids = spark.range(0, 240, 1, parts).select(F.explode(F.array("id")).alias("id"))
        edges = ids.select(
            (F.col("id") % 60).alias("src"), ((F.col("id") * 7 + 1) % 60).alias("dst")
        )
        group = f"local_probe_jobs_{parts}"
        sc.setJobGroup(group, group)
        try:
            pdf = local_edges(edges, "auto")
            jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert jobs == 1, (parts, jobs)
        assert sorted(zip(pdf["src"], pdf["dst"])) == want

    pairs = random_pairs(60, 240, seed=5, directed=False)
    ints = spark.createDataFrame(pairs, "src int, dst int")
    for strategy in ("auto", "local"):
        got = local_edges(ints, strategy)
        assert [str(t) for t in got.dtypes] == ["int32", "int32"]
        assert got.equals(ints.toPandas())
    empty = local_edges(spark.createDataFrame([], "src long, dst long"), "auto")
    assert len(empty) == 0 and [str(t) for t in empty.dtypes] == ["int64", "int64"]
    nulls = spark.createDataFrame([(1, 2), (2, None)], "src long, dst long")
    assert local_edges(nulls, "auto") is None
    with pytest.raises(ValueError):
        local_edges(nulls, "local")

    base = edges_df(spark, pairs)
    calls = []

    def spy(name, fn):
        def wrapped(*a, **kw):
            calls.append(name)
            return fn(*a, **kw)
        return wrapped

    # the runtime classes: the classic session and frame override the
    # methods of pyspark.sql's base classes
    for cls, name in ((type(spark), "createDataFrame"), (type(base), "toPandas")):
        monkeypatch.setattr(cls, name, spy(name, getattr(cls, name)))
    meta = fast_experiment(
        base, str(tmp_path / "out"), samples=800, min_size=3, max_size=4,
        directed=False, search_depth=2,
    )
    assert meta["n_motifs_scored"] >= 2
    assert calls == [], calls
    # the spies see the calls they stand for
    spark.createDataFrame([(1, 2)], "src long, dst long").toPandas()
    assert calls == ["createDataFrame", "toPandas"], calls


def test_distributed_dedup_independent_of_partitioning(spark):
    """Duplicate samples (same vertex set) keep the smallest occ_id, so
    the greedy sweep — and the selected occurrences — do not depend on
    how many shuffle partitions the plan ran with."""
    from motive_spark.motifs import MotifExtractor

    edges = edges_df(spark, random_pairs(30, 90, seed=4, directed=False))
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    got = []
    try:
        for parts in ("2", "7"):
            spark.conf.set(key, parts)
            ex = MotifExtractor(edges, samples=1500, min_size=3, max_size=4,
                                directed=False, strategy="distributed")
            got.append(_rows(ex._occurrences, ex._occurrences.columns))
            ex.close()
    finally:
        spark.conf.set(key, old)
    assert got[0] == got[1]


def test_fast_experiment_leaves_no_cached_blocks(spark, tmp_path, monkeypatch):
    """``fast_experiment`` adds nothing to the session's persisted-RDD
    set, in the local and in the distributed regime, and hands its
    ``strategy`` to the extractor.  The distributed sampler on its own
    leaves only the checkpoint its result reads."""
    from motive_spark.checkpoint import CheckpointManager
    from motive_spark.experiment import fast_experiment
    from motive_spark.motifs import extract
    from motive_spark.motifs.sample import sample_connected_subgraphs

    jsc = spark.sparkContext._jsc
    edges = edges_df(spark, FIXTURE_TRI_HUB)

    def added(before):
        # the JVM's cleaner may drop blocks other tests left behind
        # meanwhile, so only what a call adds is checked
        return set(jsc.getPersistentRDDs().keySet().toArray()) - before

    before = added(set())
    sampled = sample_connected_subgraphs(edges, 200, 3, 5, directed=False)
    assert len(added(before)) == 1
    CheckpointManager._release(sampled)
    assert added(before) == set()

    calls = []
    real = extract._extract_local
    monkeypatch.setattr(
        extract, "_extract_local",
        lambda *a, **k: calls.append(1) or real(*a, **k),
    )
    for strategy in ("local", "distributed"):
        calls.clear()
        before = added(set())
        meta = fast_experiment(
            edges, str(tmp_path / strategy), samples=400, min_size=3,
            max_size=3, directed=False, search_depth=0, strategy=strategy,
        )
        assert meta["n_motifs_scored"] >= 1
        assert added(before) == set(), strategy
        assert len(calls) == (strategy == "local")


def test_extractor_string_ids_run_distributed(spark):
    """Non-integral ids extract on the distributed path — under ``auto``
    too — and come back with their own element type; ``local`` refuses
    them."""
    from pyspark.sql.types import StringType

    from motive_spark.motifs import MotifExtractor

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")], "src string, dst string"
    )
    kw = dict(samples=60, min_size=3, max_size=3, min_freq=1, directed=False)
    for strategy in ("distributed", "auto"):
        ex = MotifExtractor(edges, strategy=strategy, **kw)
        try:
            assert ex.strategy == "distributed"
            occ = ex.occurrences()
            assert occ.schema["vertices"].dataType.elementType == StringType()
            rows = occ.collect()
            assert rows and all(set(r["vertices"]) <= set("abcd") for r in rows)
        finally:
            ex.close()
    with pytest.raises(ValueError, match="integral"):
        MotifExtractor(edges, strategy="local", **kw)


def _sinks(out_dir):
    """A fast_experiment output directory as comparable values: file
    bytes, occurrence files as sorted lines, metadata without timings."""
    import json
    import os

    got = {}
    for name in sorted(os.listdir(out_dir)):
        path = os.path.join(out_dir, name)
        if name == "metadata.json":
            with open(path) as f:
                meta = json.load(f)
            for key in ("sample_time_sec", "elapsed_sec"):
                meta.pop(key)
            got[name] = meta
        elif name.startswith("occurrences."):
            with open(path, "rb") as f:
                got[name] = sorted(f.read().splitlines(keepends=True))
        else:
            with open(path, "rb") as f:
                got[name] = f.read()
    return got


def test_fast_experiment_sinks_identical_across_regimes_and_partitions(spark, tmp_path):
    """``fast_experiment`` writes the same bytes in the local regime and
    in the distributed regime at two shuffle partition counts: float sums
    over degree histograms run in degree order, not in the order a
    collect returned them, and each motif's edge list comes from its
    first occurrence in selection order."""
    from motive_spark.experiment import fast_experiment

    # a spread of degrees (a hub, a dense core, a sparse rim) so the
    # histogram sums are long enough for their order to show
    pairs = set(random_pairs(70, 260, seed=8, directed=False))
    pairs |= {(0, v) for v in range(1, 45)} | {(1, v) for v in range(2, 20, 2)}
    edges = edges_df(spark, sorted(pairs))
    kw = dict(samples=500, min_size=3, max_size=4, min_freq=2, max_motifs=4,
              directed=False, search_depth=1, seed=5)
    # AQE would coalesce both partition counts down to the same few
    keys = ("spark.sql.shuffle.partitions",
            "spark.sql.adaptive.coalescePartitions.enabled")
    old = {key: spark.conf.get(key) for key in keys}
    runs = {}
    try:
        for label, strategy, parts in (
            ("local", "local", old[keys[0]]),
            ("distributed_2", "distributed", "2"),
            ("distributed_7", "distributed", "7"),
        ):
            spark.conf.set(keys[0], parts)
            spark.conf.set(keys[1], str(strategy == "local").lower())
            fast_experiment(edges, str(tmp_path / label), strategy=strategy, **kw)
            runs[label] = _sinks(tmp_path / label)
    finally:
        for key, value in old.items():
            spark.conf.set(key, value)
    assert sum(n.startswith("occurrences.") for n in runs["local"]) >= 2
    for label in ("distributed_2", "distributed_7"):
        for name, want in runs["local"].items():
            assert runs[label].get(name) == want, (label, name)
        assert set(runs[label]) == set(runs["local"])


def test_local_fast_experiment_job_ceiling_and_no_python_eval(spark, tmp_path):
    """The local regime reads the edges once and runs everything else on
    the driver: a job ceiling on the whole ``fast_experiment`` call, and
    no Python evaluation node in the plans of the frames the local
    extractor, search and scorer return."""
    from motive_spark.experiment import fast_experiment
    from motive_spark.mdl.score import score_motifs
    from motive_spark.mdl.search import size_with_search
    from motive_spark.motifs import MotifExtractor

    sc = spark.sparkContext
    edges = edges_df(spark, random_pairs(60, 240, seed=5, directed=False))
    group = "local_fast_experiment_jobs"
    sc.setJobGroup(group, group)
    try:
        meta = fast_experiment(
            edges, str(tmp_path / "out"), samples=800, min_size=3, max_size=4,
            directed=False, search_depth=2,
        )
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert meta["n_motifs_scored"] >= 2
    # the bounded edge read: 1-2 jobs at local[2], local[4] and local[8];
    # the parent took 60-90
    assert jobs <= 2, jobs

    ex = MotifExtractor(edges, samples=800, min_size=3, max_size=4, directed=False)
    assert ex.strategy == "local"
    frames = [
        ex.motifs(), ex.occurrences(), ex.top_motifs(3),
        size_with_search(edges, ex.occurrences(), directed=False,
                         model=("er", "el"), max_depth=1),
        score_motifs(edges, ex.occurrences(), directed=False),
    ]
    for df in frames:
        plan = df._jdf.queryExecution().executedPlan().toString()
        for node in ("ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas"):
            assert node not in plan, plan
