"""Fibonacci search over occurrence-prefix cutoffs (O5).

The reference's FindPhi (MotifSearchModel.java:196-303): for each motif,
find the number of occurrences c minimizing size(first c occurrences);
memoized Fibonacci-grid descent, always sampling c=0, bounded depth,
answer = min over everything sampled.

Control flow lives on the driver (a dict of per-motif search states);
every ROUND batches all motifs' pending (motif, cutoff) evaluations into
ONE scoring pass keyed by a synthetic group id — the reference's
thread-per-motif boundary becomes round-batched evaluation
(SURVEY §3.5).  Rounds ≈ O(log_phi max_occurrences).

Two regimes, chosen by ``strategy`` through ``score.resolve_globals``:

* **local** (at most ``LOCAL_SCORE_THRESHOLD`` edge rows, non-null
  integral ids; ``auto`` decides with one bounded read of the edges):
  the globals (n, m, degree histograms, baselines) come from the edges
  read on the driver, the occurrences are ranked in pandas, and every
  round is ``score_groups_local`` arithmetic — no Spark job after the
  edge read.  ``fast_experiment`` hands in the edges and occurrences
  its extractor already holds, so the search reads nothing at all.
* **distributed**: ``precompute_globals`` caches the simple edge table
  and degrees, occurrences are ranked with a window, and each round is
  one ``score_motifs`` pass (still scored on the driver when ``auto``
  finds at most the threshold of simple edges).

Occurrence order is the extractor's deterministic selection order
(exDegree asc, occ_id) — the reference's occurrences(sub) order.  The
result is a local relation built from pandas (or the pandas frame
itself, for ``fast_experiment``).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from motive_spark.checkpoint import CheckpointManager
from motive_spark.mdl import codes
from motive_spark.mdl.models import el_bits_directed, el_bits_undirected, er_bits
from motive_spark.mdl.score import frame_from_rows, score_motifs
from motive_spark.motifs.canon import mask_to_edges

_FIBS = [1, 1]
while _FIBS[-1] < 10**12:
    _FIBS.append(_FIBS[-1] + _FIBS[-2])


def _next_fib(n: int) -> int:
    for f in _FIBS:
        if f >= n:
            return f
    raise ValueError(n)


def _prev_fib(x: int) -> int:
    """Largest Fibonacci number strictly below x (>= 1)."""
    prev = 1
    for f in _FIBS:
        if f >= x:
            return prev
        prev = f
    raise ValueError(x)


class _State:
    def __init__(self, lo: int, hi: int):
        self.lo, self.hi, self.depth = lo, hi, 0
        self.done = False


def _zero_occurrence_size(n, m, hists, mask, k, directed, model):
    """size() with an empty occurrence list: subbed graph == graph.
    Finite by contract (MotifModelTest.java:817-838)."""
    medges = mask_to_edges(int(mask), k, directed)
    m_motif = len(medges)
    if model == "er":
        sub = float(er_bits(k, m_motif, directed=directed))
        subbed = float(er_bits(n, m, directed=directed))
    else:
        # marginals from the single-sourced joint motif histogram
        from motive_spark.mdl.beta import motif_beta_hist

        if directed:
            mi: dict[int, int] = {}
            mo: dict[int, int] = {}
            for (ind, outd), c in motif_beta_hist(int(mask), k, True).items():
                mi[ind] = mi.get(ind, 0) + c
                mo[outd] = mo.get(outd, 0) + c
            sub = el_bits_directed(mi, mo, m_motif)
            subbed = el_bits_directed(hists[0], hists[1], m)
        else:
            sub = el_bits_undirected(motif_beta_hist(int(mask), k, False), m_motif)
            subbed = el_bits_undirected(hists, m)
    labels = float(codes.prefix_bits(0) + codes.log2_choose(0, n))
    multi = float(codes.prefix_bits(0))
    return sub + subbed + labels + multi  # wiring 0, insertions 0


_OCC_COLS = ["canon", "k", "occ_id", "vertices", "mask", "ex_degree"]
_RESULT_COLS = ["canon", "k", "model", "cutoff", "size", "factor"]


def size_with_search(
    edges: DataFrame,
    occurrences: DataFrame | pd.DataFrame,
    directed: bool = True,
    model: str | tuple[str, ...] = "er",
    max_depth: int = -1,
    reset_wiring: bool = True,
    beta_iterations: int = 24,
    beta_alpha: float = 0.05,
    beta_depth: int | None = 3,
    seed: int = 42,
    max_rw: int = 500_000,
    simplify: bool = True,
    strategy: str = "auto",
    _edges_pdf: pd.DataFrame | None = None,
    _pandas: bool = False,
) -> DataFrame | pd.DataFrame:
    """Per-motif optimal (cutoff, size, factor) under ``model`` — "er",
    "el", "beta", or a tuple.  All requested models share every batched
    evaluation round (one score_motifs pass returns the structural terms
    for all of them), so an N-model search costs one search's Spark jobs.

    "beta" runs the DS/Beta model UNDER the search — the reference's
    MotifSearchModel.sizeBeta(…, betaSearchDepth) (Compare.java:307,
    MotifSearchModel.java sizeBeta): its Fibonacci descent is capped at
    ``beta_depth`` (None → ``max_depth``) because every evaluation pays a
    fan-out MC sampling pass over the subbed degree sequence.

    ``occurrences`` may be a pandas frame of the extractor's columns;
    ``_edges_pdf`` passes in the edge table already read on the driver
    (the local regime).  ``strategy`` is auto|local|distributed, see the
    module docstring.

    Returns (canon, k, model, cutoff, size, factor); as a pandas frame
    with ``_pandas``, which skips building a frame in the JVM only to
    collect it again.
    """
    spark = edges.sparkSession
    models = (model,) if isinstance(model, str) else tuple(model)
    with_beta = "beta" in models

    # global stats for the zero-cutoff closed form and the baselines —
    # computed ONCE and shared by every scoring round; in the local
    # regime from the edges read on the driver
    from motive_spark.mdl.score import release_globals, resolve_globals

    pc, strategy = resolve_globals(edges, directed, simplify, strategy, _edges_pdf)
    e, n, m = pc["e"], pc["n"], pc["m"]
    hists = pc["hists"]
    baselines = dict(pc["base"])

    # ranks and ALL search state key on (canon, k): canonical masks
    # collide across motif sizes, so canon alone would merge classes.
    # A motif's mask is its first-ranked occurrence's.
    local_occ: dict[tuple[int, int], list[tuple[int, list[int]]]] = {}
    if strategy == "local":
        # rank order + occurrence lists on the driver ONCE; every search
        # round then costs pure numpy, no Spark jobs at all
        occ = occurrences
        if isinstance(occ, DataFrame):
            occ = occ.select(*_OCC_COLS).toPandas()
        occ = occ.sort_values(["canon", "k", "ex_degree", "occ_id"], kind="mergesort")
        motif_info = {}
        for (cn, kk), grp in occ.groupby(["canon", "k"], sort=False):
            ck = (int(cn), int(kk))
            motif_info[ck] = (int(kk), int(grp["mask"].iat[0]), len(grp))
            local_occ[ck] = [
                (int(o), [int(v) for v in vs])
                for o, vs in zip(grp["occ_id"], grp["vertices"])
            ]
    else:
        if isinstance(occurrences, pd.DataFrame):
            occurrences = spark.createDataFrame(occurrences[_OCC_COLS])
        w = Window.partitionBy("canon", "k").orderBy("ex_degree", "occ_id")
        ranked = occurrences.withColumn("occ_rank", F.row_number().over(w)).cache()
        motif_info = {
            (int(r["canon"]), int(r["k"])): (
                int(r["k"]), int(r["mask"]), int(r["n_occ"])
            )
            for r in ranked.groupBy("canon", "k")
            .agg(
                F.min_by("mask", "occ_rank").alias("mask"),
                F.count(F.lit(1)).alias("n_occ"),
            )
            .collect()
        }

    sub_beta: dict[tuple[int, int], float] = {}
    if with_beta:
        from motive_spark.mdl.beta import graph_beta_codelength, motif_beta_hist

        # whole-graph DS codelength: the beta baseline AND the subbed term
        # of every zero-cutoff evaluation (empty contraction == the graph)
        baselines["beta"] = graph_beta_codelength(
            spark, pc["joint"], directed, beta_iterations, beta_alpha, seed
        )
        for ck, (k, mask, _n_occ) in sorted(motif_info.items()):
            sub_beta[ck] = graph_beta_codelength(
                None, motif_beta_hist(mask, k, directed), directed,
                beta_iterations, beta_alpha, seed,
            )

    # dense motif index for the batched-evaluation group key: gid =
    # idx * 2^40 + cutoff.  Raw canonical masks reach ~2^48 for dense k>=7
    # motifs, so encoding canon itself would overflow int64 (and collide
    # with large cutoffs); the dense index is bounded by the motif count
    # and cutoffs are Fibonacci numbers <= ~1.6*n_occ << 2^40.
    _GID_BASE = 1 << 40
    canon_list = sorted(motif_info)  # (canon, k) pairs
    canon_idx = {ck: i for i, ck in enumerate(canon_list)}

    # per-model caches and search states, keyed by ((canon, k), cutoff)
    # and advanced from SHARED eval rounds
    cache: dict[str, dict[tuple[tuple[int, int], int], float]] = {
        mo: {} for mo in models
    }
    states: dict[str, dict[tuple[int, int], _State]] = {mo: {} for mo in models}
    _zero_extra = float(codes.prefix_bits(0) + codes.log2_choose(0, n)) + float(
        codes.prefix_bits(0)
    )  # labels + multi terms of an empty occurrence list
    for ck, (k, mask, n_occ) in motif_info.items():
        hi = n_occ if n_occ in _FIBS else _next_fib(n_occ)
        for mo in models:
            if mo == "beta":
                cache[mo][(ck, 0)] = (
                    sub_beta[ck] + baselines["beta"] + _zero_extra
                )
            else:
                cache[mo][(ck, 0)] = _zero_occurrence_size(
                    n, m, hists, mask, k, directed, mo
                )
            states[mo][ck] = _State(0, hi)

    def want_cutoffs(st: _State) -> list[int]:
        rng = st.hi - st.lo
        if rng <= 2:
            return [st.lo, st.lo + 1, st.hi]
        r0 = _prev_fib(rng)
        return [st.hi - r0, st.lo + r0]

    def _depth_cap(mo: str) -> int:
        if mo == "beta" and beta_depth is not None:
            return beta_depth
        return max_depth

    from motive_spark.mdl.score import score_groups_local

    while True:
        pending: set[tuple[tuple[int, int], int]] = set()
        # beta sizes are only computed for the pairs BETA's own descent
        # requested — er/el descend deeper (no beta_depth cap) and their
        # extra cutoffs must not trigger MC sampling passes
        beta_pending: set[tuple[tuple[int, int], int]] = set()
        for mo in models:
            cap = _depth_cap(mo)
            for ck, st in states[mo].items():
                if st.done:
                    continue
                if cap >= 0 and st.depth > cap:
                    st.done = True
                    continue
                for c in want_cutoffs(st):
                    c_eff = min(c, motif_info[ck][2])
                    if (ck, c_eff) not in cache[mo] and c_eff > 0:
                        pending.add((ck, c_eff))
                        if mo == "beta":
                            beta_pending.add((ck, c_eff))
        if pending:
            assert all(c < _GID_BASE for _, c in pending)
            if strategy == "local":
                groups = [
                    (
                        canon_idx[ck] * _GID_BASE + ct,
                        motif_info[ck][0],
                        motif_info[ck][1],
                        local_occ[ck][:ct],
                    )
                    for ck, ct in sorted(pending)
                ]
                res = score_groups_local(
                    groups, pc, directed, reset_wiring, max_rw, with_beta
                )
            else:
                pend_df = frame_from_rows(
                    spark,
                    [
                        (cn, kk, ct, canon_idx[(cn, kk)] * _GID_BASE + ct)
                        for (cn, kk), ct in sorted(pending)
                    ],
                    "canon long, k int, cutoff long, gid long",
                )
                subset = ranked.join(pend_df, on=["canon", "k"]).where(
                    F.col("occ_rank") <= F.col("cutoff")
                )
                scored = score_motifs(
                    e,
                    subset.select(
                        "gid", "k", "occ_id", "vertices", "mask", "ex_degree"
                    ),
                    directed=directed,
                    reset_wiring=reset_wiring,
                    group_col="gid",
                    precomputed=pc,
                    max_rw=max_rw,
                    strategy="distributed",
                    _with_hists=with_beta,
                )
                res = scored.collect()
                CheckpointManager._release(scored)
            beta_rows: list[tuple[tuple[int, int], int, dict]] = []
            for r in res:
                idx, cutoff = divmod(int(r["canon"]), _GID_BASE)
                ck = canon_list[idx]
                for mo in models:
                    if mo == "beta":
                        if (ck, cutoff) in beta_pending:
                            beta_rows.append((ck, cutoff, r))
                    else:
                        cache[mo][(ck, cutoff)] = float(r[f"size_{mo}"])
            if beta_rows:
                # ONE MC fan-out job for the whole round's beta points
                from motive_spark.mdl.beta import graph_beta_codelength_batch

                hists, keyed = [], []
                for ck, cutoff, r in beta_rows:
                    # local-strategy rows are plain dicts whose max_rw guard
                    # branch omits the hist keys entirely; distributed Rows
                    # carry an explicit None — treat both as "no hist"
                    sh = r.get("subbed_hist") if isinstance(r, dict) else r["subbed_hist"]
                    if sh is None:  # max_rw-guarded
                        cache["beta"][(ck, cutoff)] = float("inf")
                        continue
                    if directed:
                        hists.append(
                            {(int(a), int(b)): int(c) for a, b, c in sh}
                        )
                    else:
                        hists.append({int(d): int(c) for d, c in sh})
                    keyed.append((ck, cutoff, float(r["common_bits"])))
                vals = graph_beta_codelength_batch(
                    spark, hists, directed, beta_iterations, beta_alpha, seed
                )
                for (ck, cutoff, common), v in zip(keyed, vals):
                    cache["beta"][(ck, cutoff)] = sub_beta[ck] + v + common

        all_done = True
        for mo in models:
            for ck, st in states[mo].items():
                if st.done:
                    continue
                rng = st.hi - st.lo
                if rng <= 2:
                    st.done = True
                    continue
                r0 = _prev_fib(rng)
                mid1, mid2 = st.hi - r0, st.lo + r0
                n_occ = motif_info[ck][2]
                y1 = cache[mo][(ck, min(mid1, n_occ))]
                y2 = cache[mo][(ck, min(mid2, n_occ))]
                if y1 > y2:
                    st.lo = mid1
                else:
                    st.hi = mid2
                st.depth += 1
                all_done = False
        if all_done:
            break

    rows = []
    for mo in models:
        for ck, (k, mask, n_occ) in sorted(motif_info.items()):
            sizes = {c: v for (cc, c), v in cache[mo].items() if cc == ck}
            best_c = min(sizes, key=lambda c: (sizes[c], c))
            rows.append(
                (ck[0], k, mo, best_c, sizes[best_c], baselines[mo] - sizes[best_c])
            )
    if strategy != "local":
        ranked.unpersist()
    release_globals(pc)
    if _pandas:
        return pd.DataFrame.from_records(rows, columns=_RESULT_COLS)
    return frame_from_rows(
        spark, rows,
        "canon long, k int, model string, cutoff long, size double, factor double",
    )
