"""MDL scoring tests — the reference's test patterns (SURVEY §5):

* fast-vs-slow equivalence: the batched DataFrame scorer must equal the
  naive explicit-contraction oracle to 1e-6 on random graphs
  (MotifModelTest.java:133-145, 643-665 pattern);
* anti-overcompression: on pure ER noise no motif may beat the baseline
  meaningfully (MotifModelTest.java:348-393);
* motif injection recovery: planted motifs surface with positive and
  increasing factors (Synthetic.java §3.3 — the reference's own E2E);
* code primitives sanity (online code = sequential fold equality).
"""

import math
import random

import numpy as np
import pytest

from tests.conftest import edges_df
from tests.test_kernels import random_pairs


def test_online_code_equals_sequential_fold():
    """Closed-form lgamma adaptive code == explicit observe() loop."""
    from motive_spark.mdl.codes import online_multiset_bits

    rng = random.Random(1)
    for _ in range(20):
        k = rng.randint(2, 6)
        seq = [rng.randrange(k) for _ in range(rng.randint(0, 30))]
        counts = [0.5] * k  # KT init
        bits = 0.0
        tot = 0.5 * k
        for s in seq:
            bits += -math.log2(counts[s] / tot)
            counts[s] += 1
            tot += 1
        closed = online_multiset_bits(np.bincount(seq, minlength=k), k)
        assert math.isclose(bits, closed, abs_tol=1e-9), (seq, bits, closed)


def test_el_bits_independent_of_histogram_order():
    """The EL codelength of a degree histogram does not depend on the
    order its dict was filled in (a collect's row order): the float sums
    run in ascending degree order."""
    from motive_spark.mdl.models import el_bits_directed, el_bits_undirected

    for seed in range(10):
        rng = random.Random(seed)
        hist = {d: rng.randint(1, 400) for d in rng.sample(range(1, 300), 40)}
        m = sum(d * c for d, c in hist.items()) // 2
        items = list(hist.items())
        got = set()
        for _ in range(10):
            rng.shuffle(items)
            got.add((
                el_bits_undirected(dict(items), m),
                el_bits_directed(dict(items), dict(reversed(items)), m),
            ))
        assert len(got) == 1, (seed, got)


def test_log2_primitives():
    from motive_spark.mdl.codes import log2_choose, log2_factorial, prefix_bits

    assert math.isclose(float(log2_factorial(5)), math.log2(120), abs_tol=1e-12)
    assert math.isclose(float(log2_choose(2, 5)), math.log2(10), abs_tol=1e-12)
    assert float(prefix_bits(0)) == 1.0
    assert float(prefix_bits(7)) == 7.0  # 2*floor(log2(8)) + 1


def test_lg_matches_math_lgamma():
    """``_lg`` without scipy is libm's ``math.lgamma`` / ln 2, bit for bit,
    with numpy's result shape: a float64 scalar for scalar and 0-d input,
    an array of the input's shape otherwise."""
    from motive_spark.mdl import codes

    def want(v):
        return math.lgamma(float(v)) / float(np.log(2.0))

    rng = random.Random(5)
    values = [0.5, 1.0, 2.0, 3.5, 1e-3, 171.25, 1e6] + [rng.uniform(0.01, 5e4) for _ in range(50)]
    for v in values:
        for x in (v, int(v) or 1, np.float64(v), np.array(v)):
            got = codes._lgamma(np.asarray(x, dtype=np.float64)) / codes._LN2
            assert type(got) is np.float64 and got == want(float(x)), x
            assert type(codes._lg(x)) is np.float64
    for shape in ((len(values),), (3, 19), (0,), (2, 0)):
        n = math.prod(shape)
        x = np.array(values[:n], dtype=np.float64).reshape(shape)
        got = codes._lgamma(x) / codes._LN2
        assert got.shape == shape and got.dtype == np.float64
        assert got.ravel().tolist() == [want(v) for v in x.ravel().tolist()]
        assert codes._lg(x.tolist()).shape == shape


def _score_via_spark(spark, pairs, occurrences, motif_edges, k, directed):
    """Run the batched scorer on one hand-built motif."""
    from motive_spark.mdl.score import score_motifs
    from motive_spark.motifs.canon import edges_to_mask

    edges = edges_df(spark, pairs)
    mask = edges_to_mask(motif_edges, k, directed)
    occ_rows = [
        (1, k, i, [int(v) for v in sorted(o)], mask) for i, o in enumerate(occurrences)
    ]
    occ_df = spark.createDataFrame(
        occ_rows, "canon long, k int, occ_id long, vertices array<long>, mask long"
    )
    out = score_motifs(
        edges, occ_df, directed=directed, strategy="distributed"
    ).collect()
    assert len(out) == 1
    return out[0]


@pytest.mark.parametrize("directed", [False, True])
@pytest.mark.parametrize("seed", [2, 13])
def test_fast_vs_slow_equivalence(spark, directed, seed):
    """Batched DataFrame scorer == naive contraction oracle (tol 1e-6)."""
    from tests.mdl_oracle import naive_score

    rng = random.Random(seed)
    pairs = random_pairs(30, 100, seed, directed=directed)
    adj = set(pairs)

    # plant two disjoint occurrences of whatever induced shape they have:
    # pick 2 disjoint triangles worth of vertices actually connected
    k = 3
    # find two node-disjoint connected triples (path or triangle)
    sym = {}
    for a, b in pairs:
        sym.setdefault(a, set()).add(b)
        sym.setdefault(b, set()).add(a)
    occs = []
    used: set = set()
    for v in sorted(sym):
        if v in used:
            continue
        for u in sorted(sym[v]):
            if u in used or u == v:
                continue
            third = sorted((sym[v] | sym[u]) - {v, u} - used)
            if third:
                occs.append(sorted([v, u, third[0]]))
                used.update(occs[-1])
                break
        if len(occs) == 2:
            break
    if len(occs) < 2:
        pytest.skip("no two disjoint triples in this random graph")

    # the two occurrences must induce the SAME motif for a single canon;
    # force it by using the first occurrence's induced shape and checking
    # the second matches, else skip (randomness)
    def induced(o):
        local = {v: i for i, v in enumerate(o)}
        out = set()
        for a, b in pairs:
            if a in local and b in local:
                e = (local[a], local[b]) if directed else tuple(
                    sorted((local[a], local[b]))
                )
                out.add(e)
        return sorted(out)

    if induced(occs[0]) != induced(occs[1]):
        # fall back: score a single occurrence (still exercises everything)
        occs = occs[:1]
    motif_edges = induced(occs[0])

    got = _score_via_spark(spark, pairs, occs, motif_edges, k, directed)
    want = naive_score(pairs, occs, motif_edges, k, directed)
    assert math.isclose(got.size_er, want["size_er"], abs_tol=1e-6), (
        got.size_er,
        want,
    )
    assert math.isclose(got.size_el, want["size_el"], abs_tol=1e-6)
    assert math.isclose(got.factor_er, want["factor_er"], abs_tol=1e-6)
    assert math.isclose(got.factor_el, want["factor_el"], abs_tol=1e-6)


@pytest.mark.parametrize("directed", [False, True])
def test_fast_vs_slow_multigraph(spark, directed):
    """Non-simplified path (simplify=False): raw multigraph duplicates
    charge the multi-edges bucket and wiring anchors exactly like the
    naive weighted contraction (Compare.java:140 simplify flag,
    MotifModel.java:109-133)."""
    from motive_spark.mdl.score import score_motifs
    from tests.mdl_oracle import naive_score

    rng = random.Random(29)
    pairs = random_pairs(24, 70, 29, directed=directed)
    if not directed:
        pairs = sorted({(min(a, b), max(a, b)) for a, b in pairs})
    mult = {p: rng.choice([1, 1, 2, 3]) for p in pairs}

    sym = {}
    for a, b in pairs:
        sym.setdefault(a, set()).add(b)
        sym.setdefault(b, set()).add(a)
    occs = []
    used: set = set()
    for v in sorted(sym):
        if v in used:
            continue
        for u in sorted(sym[v]):
            if u not in used and u != v:
                third = sorted((sym[v] | sym[u]) - {v, u} - used)
                if third:
                    occs.append(sorted([v, u, third[0]]))
                    used.update(occs[-1])
                    break
        if occs:
            break
    assert occs, "fixture graph must contain a connected triple"

    def induced(o):
        local = {v: i for i, v in enumerate(o)}
        out = set()
        for a, b in pairs:
            if a in local and b in local:
                e = (local[a], local[b]) if directed else tuple(
                    sorted((local[a], local[b]))
                )
                out.add(e)
        return sorted(out)

    motif_edges = induced(occs[0])
    from motive_spark.motifs.canon import canonical_form, edges_to_mask

    mask = edges_to_mask(motif_edges, 3, directed)
    canon = canonical_form(mask, 3)
    edges_df_m = spark.createDataFrame(
        [(a, b, mult[(a, b)]) for a, b in pairs], "src long, dst long, mult long"
    )
    occ_df = spark.createDataFrame(
        [(canon, 3, i, [int(v) for v in o], mask) for i, o in enumerate(occs)],
        "canon long, k int, occ_id long, vertices array<long>, mask long",
    )
    got = score_motifs(
        edges_df_m, occ_df, directed=directed, simplify=False,
        strategy="distributed",
    ).collect()[0]
    want = naive_score(pairs, occs, motif_edges, 3, directed, mult=mult)
    assert math.isclose(got.size_er, want["size_er"], abs_tol=1e-6)
    assert math.isclose(got.size_el, want["size_el"], abs_tol=1e-6)
    # and the simplified path must NOT equal it (the duplicates matter)
    got_simple = score_motifs(
        edges_df_m, occ_df, directed=directed, strategy="distributed"
    ).collect()[0]
    if any(m > 1 for m in mult.values()):
        assert abs(got_simple.size_er - got.size_er) > 1e-9


def test_hand_computed_contraction(spark):
    """Two triangles sharing nothing, bridged by one edge — contraction
    sizes checkable by hand (MotifCompressorTest.java:143-185 style)."""
    from tests.mdl_oracle import naive_score

    pairs = [(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5), (2, 3)]
    occs = [[0, 1, 2], [3, 4, 5]]
    tri = [(0, 1), (0, 2), (1, 2)]
    want = naive_score(pairs, occs, tri, 3, directed=False)
    # contraction: reps 0 and 3, bridge (2,3)→(0,3): n'=2, m'=1
    assert want["n_sub"] == 2 and want["m_sub"] == 1
    got = _score_via_spark(spark, pairs, occs, tri, 3, False)
    assert math.isclose(got.size_er, want["size_er"], abs_tol=1e-9)
    assert math.isclose(got.size_el, want["size_el"], abs_tol=1e-9)


def test_anti_overcompression_on_er_noise(spark):
    """On pure ER noise the motif code should not beat the baseline by
    more than sampling slack (overcompression test pattern)."""
    from motive_spark.mdl.score import score_motifs
    from motive_spark.motifs import MotifExtractor

    pairs = random_pairs(60, 200, seed=4, directed=False)
    edges = edges_df(spark, pairs)
    ex = MotifExtractor(edges, samples=600, min_size=3, max_size=4, directed=False)
    occ = ex.occurrences()
    scores = score_motifs(edges, occ, directed=False).collect()
    assert scores
    sig = -math.log2(0.01)  # the reference's significance line (Konect.java:90)
    for r in scores:
        assert r.factor_er < sig, f"false positive on noise: {r}"


def test_injection_recovery(spark):
    """Synthetic.java semantics: inject many copies of a 4-clique into an
    ER graph; the clique motif must score a large positive factor."""
    from motive_spark.mdl.score import score_motifs
    from motive_spark.motifs import MotifExtractor
    from motive_spark.motifs.canon import canonical_form, edges_to_mask

    rng = random.Random(11)
    n_noise, m_noise, n_inst = 150, 300, 12
    pairs = set(random_pairs(n_noise, m_noise, seed=11, directed=False))
    base = n_noise
    for i in range(n_inst):
        vs = [base + 4 * i + j for j in range(4)]
        for a in range(4):
            for b in range(a + 1, 4):
                pairs.add((vs[a], vs[b]))
        # attach to the noise graph so it is connected-ish
        pairs.add((rng.randrange(n_noise), vs[0]))
    edges = edges_df(spark, sorted(pairs))
    ex = MotifExtractor(
        edges, samples=2500, min_size=4, max_size=4, min_freq=2, directed=False
    )
    scores = {
        r.canon: r for r in score_motifs(edges, ex.occurrences(), directed=False).collect()
    }
    clique4 = canonical_form(
        edges_to_mask([(a, b) for a in range(4) for b in range(a + 1, 4)], 4, False), 4
    )
    assert clique4 in scores, "planted 4-clique not among scored motifs"
    clique_factor = scores[clique4].factor_er
    assert clique_factor > 0, f"planted motif does not compress: {clique_factor}"
    # and it should be the best motif
    best = max(scores.values(), key=lambda r: r.factor_er)
    assert best.canon == clique4


def test_zero_cutoff_closed_form_matches_naive(spark):
    """size at cutoff 0 (closed form) == naive scorer with no occurrences."""
    from collections import Counter

    from motive_spark.mdl.search import _zero_occurrence_size
    from tests.mdl_oracle import naive_score

    pairs = random_pairs(25, 80, seed=6, directed=False)
    tri = [(0, 1), (0, 2), (1, 2)]
    want = naive_score(pairs, [], tri, 3, directed=False)
    deg = Counter()
    for a, b in pairs:
        deg[a] += 1
        deg[b] += 1
    hists = Counter(deg.values())
    n, m = len(deg), len(pairs)
    from motive_spark.motifs.canon import edges_to_mask

    mask = edges_to_mask(tri, 3, False)
    for model in ("er", "el"):
        got = _zero_occurrence_size(n, m, hists, mask, 3, False, model)
        assert math.isclose(got, want[f"size_{model}"], abs_tol=1e-9), (
            model,
            got,
            want[f"size_{model}"],
        )


def test_fibonacci_search_finds_no_worse_cutoff(spark):
    """Searched size <= size at the full occurrence list, and the planted
    clique still wins (MotifSearchModel FindPhi semantics)."""
    from motive_spark.mdl.score import score_motifs
    from motive_spark.mdl.search import size_with_search
    from motive_spark.motifs import MotifExtractor

    pairs = set(random_pairs(80, 160, seed=21, directed=False))
    base = 80
    for i in range(8):
        vs = [base + 4 * i + j for j in range(4)]
        for a in range(4):
            for b in range(a + 1, 4):
                pairs.add((vs[a], vs[b]))
        pairs.add((i, vs[0]))
    edges = edges_df(spark, sorted(pairs))
    ex = MotifExtractor(edges, samples=1200, min_size=4, max_size=4, directed=False)
    occ = ex.occurrences()
    full = {r.canon: r for r in score_motifs(edges, occ, directed=False).collect()}
    searched = {
        r.canon: r
        for r in size_with_search(edges, occ, directed=False, model="er").collect()
    }
    assert set(searched) == set(full)
    for canon, s in searched.items():
        assert s.size <= full[canon].size_er + 1e-9, (canon, s, full[canon])
        assert 0 <= s.cutoff <= full[canon].n_occurrences
    best = max(searched.values(), key=lambda r: r.factor)
    from motive_spark.motifs.canon import canonical_form, edges_to_mask

    clique4 = canonical_form(
        edges_to_mask([(a, b) for a in range(4) for b in range(a + 1, 4)], 4, False), 4
    )
    assert best.canon == clique4 and best.factor > 0


def _same_scores(got, want):
    assert set(got) == set(want)
    for key, d in got.items():
        lo = want[key]
        for fld in [
            "n_occurrences", "size_er", "size_el", "factor_er",
            "factor_el", "common_bits", "m_sub_graph", "n_sub",
        ]:
            assert d[fld] == lo[fld] or abs(d[fld] - lo[fld]) < 1e-9, (
                key, fld, d[fld], lo[fld])
        assert sorted(map(tuple, d["subbed_hist"] or [])) == sorted(
            map(tuple, lo["subbed_hist"] or [])
        ), key


@pytest.mark.parametrize("directed", [False, True])
def test_local_scoring_matches_distributed(spark, directed, monkeypatch):
    """The driver-local fast path and the scale-out instance-loop plan
    share `_assemble_motif`; this pins that their relational preps agree
    too — including on mixed-k extractions where canonical masks collide
    across sizes.  ``strategy="auto"`` is pinned on both sides of
    ``LOCAL_SCORE_THRESHOLD``, in ``score_motifs`` and in the Fibonacci
    search, by a spy on the local scorer."""
    from motive_spark.graph import local as local_mod
    from motive_spark.mdl import score as score_mod
    from motive_spark.mdl.score import score_motifs
    from motive_spark.mdl.search import size_with_search
    from motive_spark.motifs import MotifExtractor

    pairs = random_pairs(60, 300, seed=4, directed=directed)
    edges = edges_df(spark, pairs)
    ex = MotifExtractor(
        edges, samples=600, min_size=3, max_size=4, min_freq=1,
        seed=3, directed=directed,
    )
    occ = ex.occurrences()
    dist = {
        (int(r["canon"]), int(r["k"])): r
        for r in score_motifs(
            edges, occ, directed=directed, strategy="distributed",
            _with_hists=True,
        ).collect()
    }
    loc = {
        (int(r["canon"]), int(r["k"])): r
        for r in score_motifs(
            edges, occ, directed=directed, strategy="local", _with_hists=True
        ).collect()
    }
    assert set(dist) == set(loc) and len(dist) > 5
    if directed:
        # regression: at least one canonical mask collides across k in
        # the directed fixture (the bug this guards: k=3/k=4 pooled)
        canons = [c for c, _k in dist]
        assert len(canons) > len(set(canons)), "fixture no longer collides"
    _same_scores(dist, loc)

    def searched(strategy):
        return {
            (int(r["canon"]), int(r["k"]), r["model"]): (r["cutoff"], r["size"])
            for r in size_with_search(
                edges, occ, directed=directed, model=("er", "el"),
                max_depth=0, strategy=strategy,
            ).collect()
        }

    took_local = []
    real_local = score_mod.score_groups_local

    def spy(*args, **kwargs):
        took_local.append(True)
        return real_local(*args, **kwargs)

    monkeypatch.setattr(score_mod, "score_groups_local", spy)
    m = len(pairs)  # simple edges: random_pairs has no loops or repeats
    # one search round; both sides must agree with the forced local search
    want = searched("local")
    # auto is local iff m <= threshold
    for threshold, side, forced in ((m - 1, "distributed", dist), (m, "local", loc)):
        monkeypatch.setattr(local_mod, "LOCAL_SCORE_THRESHOLD", threshold)
        took_local.clear()
        auto = {
            (int(r["canon"]), int(r["k"])): r
            for r in score_motifs(
                edges, occ, directed=directed, strategy="auto", _with_hists=True
            ).collect()
        }
        assert bool(took_local) == (side == "local"), (threshold, side)
        _same_scores(auto, forced)

        took_local.clear()
        auto_search = searched("auto")
        assert bool(took_local) == (side == "local"), (threshold, side)
        assert set(auto_search) == set(want) and len(want) > 5
        for key, (cutoff, size) in auto_search.items():
            assert cutoff == want[key][0] and abs(size - want[key][1]) < 1e-9, key


def test_extractor_selection_disjoint_per_canon_and_k(spark):
    """Node-disjointness is enforced per (canon, k) — colliding masks of
    different sizes must not share one disjointness pool."""
    from motive_spark.motifs import MotifExtractor

    pairs = random_pairs(60, 300, seed=4, directed=True)
    edges = edges_df(spark, pairs)
    ex = MotifExtractor(
        edges, samples=600, min_size=3, max_size=4, min_freq=1,
        seed=3, directed=True,
    )
    rows = ex.occurrences().collect()
    by_class = {}
    for r in rows:
        by_class.setdefault((int(r["canon"]), int(r["k"])), []).append(
            [int(v) for v in r["vertices"]]
        )
    assert any(
        len({c for c, _k in by_class}) < len(by_class) for _ in [0]
    )  # collision present in fixture
    for key, occs in by_class.items():
        seen = set()
        for vs in occs:
            assert len(vs) == key[1]
            for v in vs:
                assert v not in seen, (key, v)
                seen.add(v)


def test_labeled_scoring_term_and_warning(spark):
    """score_motifs warns on silently-structural scoring of labeled
    occurrences; score_motifs_labeled charges the documented entropy
    label term: factor_labeled = factor_structural
    + (n_occ - 1) * pattern_bits."""
    import math
    import warnings

    from motive_spark.mdl.score import score_motifs, score_motifs_labeled
    from motive_spark.motifs import MotifExtractor

    pairs, labels = [], []
    for i in range(8):
        vs = [3 * i, 3 * i + 1, 3 * i + 2]
        pairs += [(vs[0], vs[1]), (vs[1], vs[2]), (vs[0], vs[2])]
        pat = ["red", "red", "blue"] if i % 2 == 0 else ["green"] * 3
        labels += list(zip(vs, pat))
    for i in range(8):
        pairs.append((3 * i, 3 * ((i + 1) % 8)))
    e = spark.createDataFrame(sorted(set(pairs)), "src long, dst long")
    lab = spark.createDataFrame(labels, "id long, label string")
    ex = MotifExtractor(e, samples=500, min_size=3, max_size=3,
                        min_freq=1, directed=False, vertex_labels=lab)
    occ = ex.occurrences()

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        structural = {
            (int(r["canon"]), int(r["k"])): r
            for r in score_motifs(e, occ, directed=False).collect()
        }
        assert any("STRUCTURAL" in str(w.message) for w in caught)

    labeled = {
        (int(r["canon"]), int(r["k"])): r
        for r in score_motifs_labeled(e, occ, lab, directed=False).collect()
    }
    assert set(labeled) == set(structural)
    # label distribution: red 8, blue 4, green 12 over 24 vertices
    bits = {"red": -math.log2(8 / 24), "blue": -math.log2(4 / 24),
            "green": -math.log2(12 / 24)}
    pat_by_class = {
        (int(r["canon"]), int(r["k"])): list(r["labels"])
        for r in occ.groupBy("canon", "k").agg(
            __import__("pyspark.sql.functions", fromlist=["first"]).first(
                "labels"
            ).alias("labels")
        ).collect()
    }
    checked = 0
    for key, s in structural.items():
        lo = labeled[key]
        pat = sum(bits.get(l, 0.0) for l in pat_by_class[key])
        want = s["factor_el"] + (s["n_occurrences"] - 1) * pat
        assert abs(lo["factor_el"] - want) < 1e-9, (key, lo["factor_el"], want)
        if s["n_occurrences"] >= 2 and pat > 0:
            assert lo["factor_el"] > s["factor_el"]
            checked += 1
    assert checked >= 1


@pytest.mark.parametrize("directed", [False, True])
@pytest.mark.parametrize("simplify", [True, False])
def test_local_globals_match_precompute_globals(spark, directed, simplify):
    """The driver-local globals equal ``precompute_globals``' n, m,
    histograms (in the same ascending key order), joint histogram and
    baselines, and the local scorer's edge/degree tables — on a graph
    with self-loops, repeated and reversed edges, and with a ``mult``
    column when not simplifying."""
    from motive_spark.mdl.score import (
        _ensure_local_graph,
        local_edges,
        local_globals,
        precompute_globals,
        release_globals,
    )

    rng = random.Random(3)
    pairs = random_pairs(50, 200, seed=6, directed=directed)
    pairs += [(1, 2), (1, 2), (2, 1), (3, 3), (7, 7), (9, 4)]
    if simplify:
        edges = edges_df(spark, pairs)
    else:
        edges = spark.createDataFrame(
            [(a, b, rng.randint(1, 3)) for a, b in pairs],
            "src long, dst long, mult long",
        )
    pc = precompute_globals(edges, directed, simplify)
    try:
        loc = local_globals(local_edges(edges, "local"), directed, simplify)
        for key in ("n", "m", "hists", "joint", "base"):
            assert loc[key] == pc[key], key
        hists = pc["hists"] if directed else (pc["hists"],)
        for h, lh in zip(hists, loc["hists"] if directed else (loc["hists"],)):
            assert list(h.items()) == list(lh.items())
        assert loc["_local"] == _ensure_local_graph(pc)
        assert loc["e"] is None and loc["deg"] is None
    finally:
        release_globals(pc)


def test_resolve_globals_auto_both_sides(spark, monkeypatch):
    """``auto`` reads the edges on the driver iff there are at most
    ``LOCAL_SCORE_THRESHOLD`` raw rows; between the simple-edge count m
    and the raw row count it computes the globals distributed and still
    scores locally; below m it scores distributed."""
    from motive_spark.graph import local as local_mod
    from motive_spark.mdl import score as score_mod

    pairs = random_pairs(40, 150, seed=2)
    raw = pairs + pairs[:30] + [(5, 5)]
    m, rows = len(pairs), len(raw)
    edges = edges_df(spark, raw)
    ran = []
    for name in ("local_globals", "precompute_globals"):
        real = getattr(score_mod, name)
        monkeypatch.setattr(
            score_mod, name,
            lambda *a, _n=name, _r=real, **k: ran.append(_n) or _r(*a, **k),
        )
    for threshold, globals_fn, side in (
        (m - 1, "precompute_globals", "distributed"),
        (m, "precompute_globals", "local"),
        (rows - 1, "precompute_globals", "local"),
        (rows, "local_globals", "local"),
    ):
        monkeypatch.setattr(local_mod, "LOCAL_SCORE_THRESHOLD", threshold)
        ran.clear()
        pc, got = score_mod.resolve_globals(edges, True, True, "auto")
        score_mod.release_globals(pc)
        assert (ran, got) == ([globals_fn], side), threshold
        assert pc["m"] == m
