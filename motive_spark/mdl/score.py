"""MDL motif scoring — batched over ALL motifs in one DataFrame pass.

Computes, per candidate motif (canon key), the total codelength of the
graph stored as {motif + contracted graph + rewiring}, under the ER and
EL null models, and the compression factor vs the plain-baseline
codelength — the reference's size()/sizeER()/sizeEL() surface
(MotifModel.java:94-150, 485-530) re-expressed as grouped aggregation:

  bits(motif) = sub + subbed + wiring + labels + insertions + multi-edges
    sub         null-model codelength of the k-node motif graph
    subbed      null-model codelength of the contraction (occurrences
                collapsed to single nodes)
    wiring      adaptive code over rewired-link anchor positions
                (wiringBits, MotifModel.java:454-470) — order-invariant
                closed form, see codes.online_multiset_bits
    labels      prefix(#occ) + log2C(#occ, n')   (MotifModel.java:136)
    insertions  log2(n!) - log2(n'!)             (MotifModel.java:147)
    multi-edges prefix(max) + adaptive code of per-pair collapse counts
                (MotifModel.java:882-901)

Physical shape (instance-loop, A4/A5): the edge table is joined against
the per-motif membership map on BOTH endpoints (J1/P5) — touching only
instance neighborhoods, never O(#motifs * E).  Degree-sequence effects
of the contraction are applied as per-vertex DELTAS against the global
degree histogram (subbedDegrees semantics, MotifModel.java:1192-1395).
Final per-motif assembly runs in applyInPandas over a tall generic
frame grouped by motif — group sizes bounded by rewired links per motif
(the reference's --fast.max-rw guard, README.md:85-89), never by |E| or
|V|, so the pass scales out with the motif count.  The Beta consumer
(``score_motifs_with_hists``) shares the same executor-side assembly and
gets the subbed degree histograms back as bounded array columns.
"""

from __future__ import annotations

import collections

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from motive_spark.graph import local as _local
# re-exported: the local regime's switch and probe live in graph.local,
# shared with the iterative kernels
from motive_spark.graph.local import LOCAL_SCORE_THRESHOLD, local_edges  # noqa: F401
from motive_spark.mdl import codes
from motive_spark.mdl.models import (
    el_bits_directed,
    el_bits_undirected,
    er_bits,
)
from motive_spark.motifs.canon import mask_to_edges


def _baselines(n: int, m: int, hists, directed: bool) -> dict[str, float]:
    er = float(er_bits(n, m, directed=directed))
    if directed:
        el = el_bits_directed(hists[0], hists[1], m)
    else:
        el = el_bits_undirected(hists, m)
    return {"er": er, "el": el}


def precompute_globals(
    edges: DataFrame, directed: bool, simplify: bool = True
) -> dict:
    """Normalize edges + global degrees/histograms/baselines ONCE —
    reused across every scoring pass of a search (CSE hoisting, the
    reference computes degrees/baselines once per run too:
    CompareLarge.java:152, 188-189).

    ``simplify=False`` is the reference's non-simplified multigraph path
    (Compare.java:140, 189-195 skips toSimple*): the edge table keeps a
    ``mult`` multiplicity column (summing any ``mult`` already present),
    and contraction-collapse counts downstream charge the SUM of
    multiplicities per collapsed pair, not the link count
    (MotifModel.java:109-133 — removal counts inherited from the raw
    multigraph).  The ER/EL null models remain restricted to simple
    graphs, exactly as the reference's are, so degrees/baselines always
    describe the simplified structure; multiplicities on links not
    incident to an instance node are uncoded on BOTH sides of the
    factor, matching the reference's observable behavior.
    """
    mult_in = (
        F.col("mult").cast("long") if "mult" in edges.columns else F.lit(1).cast("long")
    )
    if directed:
        # self-loops dropped in BOTH orientations: every null model here is
        # RestrictedToSimple (ER maxlinks = n(n-1) excludes loops, and a
        # loop inflates in+out degree together, which the FCA feasibility
        # check of the directed DS sampler rightly rejects) — matching
        # Graphs.toSimpleDGraph's loop removal.
        base_e = edges.select("src", "dst", mult_in.alias("mult")).where(
            F.col("src") != F.col("dst")
        )
    else:
        base_e = edges.select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
            mult_in.alias("mult"),
        ).where(F.col("src") != F.col("dst"))
    if simplify:
        e = base_e.select("src", "dst").dropDuplicates().withColumn(
            "mult", F.lit(1).cast("long")
        )
    else:
        e = base_e.groupBy("src", "dst").agg(F.sum("mult").alias("mult"))
    e = e.cache()
    m = e.count()

    out_d = e.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("out_deg"))
    in_d = e.groupBy(F.col("dst").alias("id")).agg(F.count(F.lit(1)).alias("in_deg"))
    deg = (
        out_d.join(in_d, on="id", how="full_outer")
        .select(
            "id",
            F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
            F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
        )
        .cache()
    )
    n = deg.count()

    # engine-side degree HISTOGRAM — the driver only ever sees
    # (degree, count) rows, bounded by the max degree, never the |V|-row
    # per-vertex table (a wiki-scale graph has 10^7 vertices but ~10^4
    # distinct degrees)
    # (histograms are dicts in ascending key order, whatever order the
    # collect returned, so every consumer iterates them the same way)
    def _hist(*cols):
        out = {}
        for r in deg.groupBy(*cols).count().collect():
            key = tuple(int(x) for x in r[:-1])
            out[key if len(cols) > 1 else key[0]] = int(r[-1])
        return dict(sorted(out.items()))

    if directed:
        hists = (_hist("in_deg"), _hist("out_deg"))
        # joint (in, out) histogram — the digraph count under the DS/Beta
        # model depends on the multiset of degree PAIRS, not the marginals
        joint = _hist("in_deg", "out_deg")
    else:
        hists = _hist((F.col("in_deg") + F.col("out_deg")).alias("d"))
        joint = hists
    return {
        "e": e,
        "deg": deg,
        "n": n,
        "m": m,
        "hists": hists,
        "joint": joint,
        "base": _baselines(n, m, hists, directed),
    }


def _local_graph(e_rows: list, deg_map: dict) -> tuple:
    """``pc["_local"]``: the simple edge rows in (src, dst) order, the
    per-vertex (in, out) degrees and each vertex's incident row indices."""
    e_rows = sorted(e_rows)
    incident: dict[int, list[int]] = {}
    for i, (s, d, _mu) in enumerate(e_rows):
        incident.setdefault(s, []).append(i)
        if d != s:
            incident.setdefault(d, []).append(i)
    return e_rows, deg_map, incident


def local_globals(pdf: pd.DataFrame, directed: bool, simplify: bool = True) -> dict:
    """:func:`precompute_globals` on the driver, from the pandas edge
    table of :func:`local_edges`: the same ``n``, ``m``, histograms,
    joint histogram and baselines, plus the ``_local`` tables the local
    scorer reads, and no Spark frames (``e`` and ``deg`` are None)."""
    src = pdf["src"].to_numpy(dtype=np.int64)
    dst = pdf["dst"].to_numpy(dtype=np.int64)
    mult = (
        pdf["mult"].to_numpy(dtype=np.int64) if "mult" in pdf.columns
        else np.ones(len(src), dtype=np.int64)
    )
    keep = src != dst
    src, dst, mult = src[keep], dst[keep], mult[keep]
    if not directed:
        src, dst = np.minimum(src, dst), np.maximum(src, dst)
    e = pd.DataFrame({"src": src, "dst": dst, "mult": mult})
    if simplify:
        e = e[["src", "dst"]].drop_duplicates().assign(mult=np.int64(1))
    else:
        e = e.groupby(["src", "dst"], as_index=False, sort=False)["mult"].sum()
    deg = pd.concat(
        [e["dst"].value_counts().rename("in_deg"),
         e["src"].value_counts().rename("out_deg")],
        axis=1,
    ).fillna(0).astype(np.int64).sort_index()

    def _hist(keys):
        return dict(sorted(collections.Counter(keys).items()))

    in_d, out_d = deg["in_deg"].tolist(), deg["out_deg"].tolist()
    if directed:
        hists = (_hist(in_d), _hist(out_d))
        joint = _hist(zip(in_d, out_d))
    else:
        hists = _hist(a + b for a, b in zip(in_d, out_d))
        joint = hists
    n, m = len(deg), len(e)
    return {
        "e": None,
        "deg": None,
        "n": n,
        "m": m,
        "hists": hists,
        "joint": joint,
        "base": _baselines(n, m, hists, directed),
        "_local": _local_graph(
            list(zip(e["src"].tolist(), e["dst"].tolist(), e["mult"].tolist())),
            dict(zip(deg.index.tolist(), zip(in_d, out_d))),
        ),
    }


def resolve_globals(
    edges: DataFrame,
    directed: bool,
    simplify: bool,
    strategy: str,
    edges_pdf: pd.DataFrame | None = None,
) -> tuple[dict, str]:
    """(globals, scorer side) for ``strategy`` auto|local|distributed.

    The local regime (see :func:`local_edges`; ``edges_pdf`` passes in
    an edge table already read) computes the globals on the driver.
    Otherwise :func:`precompute_globals` runs distributed, and ``auto``
    still scores locally when the simple-edge count ``m`` is at most
    ``LOCAL_SCORE_THRESHOLD`` (a table with many duplicate rows)."""
    if edges_pdf is None:
        edges_pdf = local_edges(edges, strategy)
    if edges_pdf is not None:
        return local_globals(edges_pdf, directed, simplify), "local"
    pc = precompute_globals(edges, directed, simplify)
    if strategy == "auto":
        small = pc["m"] <= _local.LOCAL_SCORE_THRESHOLD and _local.integral_ids(edges)
        strategy = "local" if small else "distributed"
    return pc, strategy


def release_globals(pc: dict) -> None:
    """Free the frames :func:`precompute_globals` cached (none locally)."""
    for key in ("e", "deg"):
        if pc[key] is not None:
            pc[key].unpersist()


def frame_from_rows(spark, rows: list[tuple], schema: str) -> DataFrame:
    """A DataFrame of driver-side rows, built from pandas through Arrow:
    a local relation that starts no Python worker when evaluated (the
    list form of ``createDataFrame`` goes through a Python RDD)."""
    names = [f.name for f in T._parse_datatype_string(schema).fields]
    return spark.createDataFrame(pd.DataFrame(rows, columns=names), schema)


def _ensure_local_graph(pc: dict) -> tuple:
    """Collect the (small, <= threshold by contract) simple edge table and
    per-vertex degrees ONCE into the precompute dict; reused by every
    local scoring round of a search."""
    if "_local" not in pc:
        e_rows = [
            (int(r["src"]), int(r["dst"]), int(r["mult"]))
            for r in pc["e"].collect()
        ]
        deg_map = {
            int(r["id"]): (int(r["in_deg"]), int(r["out_deg"]))
            for r in pc["deg"].collect()
        }
        pc["_local"] = _local_graph(e_rows, deg_map)
    return pc["_local"]


def score_groups_local(
    groups: list[tuple[int, int, int, list[tuple[int, list[int]]]]],
    pc: dict,
    directed: bool,
    reset_wiring: bool,
    max_rw: int,
    with_hists: bool,
) -> list[dict]:
    """Driver-local mirror of the distributed scoring prep: same
    membership classification, rewiring, anchor/pair aggregation and
    degree deltas, feeding the SAME `_assemble_motif` arithmetic — so
    results are identical to the distributed path by construction (and
    pinned so by test_mdl's local-vs-distributed equivalence).

    ``groups``: [(canon, k, mask, [(occ_id, vertices), ...]), ...].
    """
    e_rows, deg_map, incident = _ensure_local_graph(pc)
    consts = {
        "n": pc["n"],
        "m": pc["m"],
        "hists": pc["hists"],
        "joint": pc["joint"],
        "base": pc["base"],
        "directed": directed,
        "reset_wiring": reset_wiring,
        "with_hists": with_hists,
        "max_rw": max_rw,
    }
    rows = []
    for canon, k, mask, occs in groups:
        member: dict[int, tuple[int, int, int]] = {}
        for occ_id, vertices in occs:
            rep = int(vertices[0])
            for pos, v in enumerate(vertices):
                member[int(v)] = (int(occ_id), pos, rep)
        touched_idx = sorted(
            {i for v in member for i in incident.get(v, ())}
        )
        intra_cnt = 0
        anchor_counts: dict[tuple[int, int], int] = {}
        pair_mult: dict[tuple[int, int], int] = {}
        ends: dict[int, dict] = {}
        touched_cnt = 0
        for i in touched_idx:
            s, d, mu = e_rows[i]
            ms, md = member.get(s), member.get(d)
            if ms is not None and md is not None and ms[0] == md[0]:
                intra_cnt += 1
                continue
            touched_cnt += 1
            new_src = ms[2] if ms is not None else s
            new_dst = md[2] if md is not None else d
            if directed:
                pair = (new_src, new_dst)
            else:
                pair = (min(new_src, new_dst), max(new_src, new_dst))
            pair_mult[pair] = pair_mult.get(pair, 0) + mu
            if ms is not None:
                key = (ms[0], ms[1])
                anchor_counts[key] = anchor_counts.get(key, 0) + mu
            if md is not None:
                key = (md[0], md[1])
                anchor_counts[key] = anchor_counts.get(key, 0) + mu
            for v, is_out in ((new_src, 1), (new_dst, 0)):
                st = ends.setdefault(
                    v, {"out_pairs": set(), "in_pairs": set(),
                        "und_pairs": set(), "t_out": 0, "t_in": 0}
                )
                if is_out:
                    st["out_pairs"].add(pair)
                    st["t_out"] += 1
                else:
                    st["in_pairs"].add(pair)
                    st["t_in"] += 1
                st["und_pairs"].add(pair)
        anchors = pd.DataFrame(
            [(o, p, c) for (o, p), c in anchor_counts.items()],
            columns=["occ_id", "pos", "cnt"],
        )
        adds_mult = np.array(sorted(pair_mult.values()), dtype=np.int64)
        delta = pd.DataFrame(
            [
                {
                    "is_member": int(v in member),
                    "is_rep": int(v in member and member[v][2] == v),
                    "old_in": deg_map.get(v, (0, 0))[0],
                    "old_out": deg_map.get(v, (0, 0))[1],
                    "new_in": len(st["in_pairs"]),
                    "new_out": len(st["out_pairs"]),
                    "new_und": len(st["und_pairs"]),
                    "t_in": st["t_in"],
                    "t_out": st["t_out"],
                }
                for v, st in ends.items()
            ],
            columns=[
                "is_member", "is_rep", "old_in", "old_out", "new_in",
                "new_out", "new_und", "t_in", "t_out",
            ],
        )
        # inner-join semantics of the distributed memb ⋈ deg: members
        # absent from the degree table contribute no removal row
        member_old = pd.DataFrame(
            [
                {
                    "old_in": deg_map[v][0],
                    "old_out": deg_map[v][1],
                    "is_rep": int(rep == v),
                }
                for v, (_o, _p, rep) in member.items()
                if v in deg_map
            ],
            columns=["old_in", "old_out", "is_rep"],
        )
        rows.append(
            _assemble_motif(
                canon, k, len(occs), intra_cnt, touched_cnt,
                len(pair_mult), mask, anchors, adds_mult, delta,
                member_old, consts,
            )
        )
    return rows


def score_motifs(
    edges: DataFrame,
    occurrences: DataFrame,
    directed: bool = True,
    reset_wiring: bool = True,
    group_col: str = "canon",
    precomputed: dict | None = None,
    max_rw: int = 500_000,
    simplify: bool = True,
    strategy: str = "auto",
    _with_hists: bool = False,
    _labels_ok: bool = False,
) -> DataFrame:
    """Score every motif in ``occurrences`` (canon, k, occ_id, vertices —
    node-disjoint per canon, extractor output) against the ER and EL
    baselines of ``edges`` (simple graph).

    Returns (canon, k, n_occurrences, size_er, size_el, factor_er,
    factor_el) — factor = baseline - size, positive ⇒ the motif
    compresses the graph (numbers.csv semantics, Compare.java:358-363).

    ``strategy``: "distributed" always runs the scale-out instance-loop
    plan; "local" collects the (small) graph and scores driver-side;
    "auto" picks local below ``LOCAL_SCORE_THRESHOLD`` simple edges —
    both paths share `_assemble_motif`, and their equality is pinned by
    test_mdl.
    """
    spark = edges.sparkSession
    if "labels" in occurrences.columns and not _labels_ok:
        import warnings

        warnings.warn(
            "occurrences carry vertex labels but score_motifs charges a "
            "STRUCTURAL codelength only (the reference blanks labels "
            "before scoring, Synthetic.java:105); use score_motifs_labeled "
            "to include an entropy-code vertex-label term",
            stacklevel=2,
        )
    if group_col != "canon":
        occurrences = occurrences.drop("canon").withColumnRenamed(group_col, "canon")
        canon_restore = None
    else:
        # canonical masks collide across k (mask 14 is both a k=3 and a
        # k=4 class); the per-group machinery keys on canon ALONE, so
        # remap (canon, k) to a dense unique gid and restore after
        pairs = sorted(
            (int(r["canon"]), int(r["k"]))
            for r in occurrences.select("canon", "k").distinct().collect()
        )
        if len(pairs) == len({c for c, _k in pairs}):
            canon_restore = None  # no collision — skip the remap joins
        else:
            gidx = {ck: i for i, ck in enumerate(pairs)}
            map_df = spark.createDataFrame(
                [(c, kk, i) for (c, kk), i in gidx.items()],
                "canon long, k int, _gidx long",
            )
            occurrences = (
                occurrences.join(F.broadcast(map_df), on=["canon", "k"])
                .drop("canon")
                .withColumnRenamed("_gidx", "canon")
            )
            canon_restore = {i: c for (c, _kk), i in gidx.items()}

    if precomputed is None:
        pc, strategy = resolve_globals(edges, directed, simplify, strategy)
    else:
        pc = precomputed
        if strategy == "auto":
            strategy = (
                "local" if pc["m"] <= _local.LOCAL_SCORE_THRESHOLD else "distributed"
            )
    if strategy == "local":
        occ_rows = occurrences.select(
            "canon", "k", "occ_id", "vertices", "mask"
        ).collect()
        grouped: dict[int, tuple[int, int, list]] = {}
        for r in occ_rows:
            g = grouped.setdefault(
                int(r["canon"]), (int(r["k"]), int(r["mask"]), [])
            )
            g[2].append((int(r["occ_id"]), [int(v) for v in r["vertices"]]))
        groups = [
            (canon, k, mask, occs)
            for canon, (k, mask, occs) in sorted(grouped.items())
        ]
        rows = score_groups_local(
            groups, pc, directed, reset_wiring, max_rw, _with_hists
        )
        out_cols = [
            "canon", "k", "n_occurrences", "size_er", "size_el",
            "factor_er", "factor_el",
        ]
        out_schema = (
            "canon long, k int, n_occurrences long, size_er double, "
            "size_el double, factor_er double, factor_el double"
        )
        if _with_hists:
            out_cols += ["common_bits", "m_sub_graph", "n_sub", "subbed_hist"]
            out_schema += (
                ", common_bits double, m_sub_graph long, n_sub long, "
                "subbed_hist array<array<long>>"
            )
        if precomputed is None:
            release_globals(pc)
        if canon_restore is not None:
            for r in rows:
                r["canon"] = canon_restore[r["canon"]]
        return frame_from_rows(
            spark, [tuple(r.get(c) for c in out_cols) for r in rows], out_schema
        )
    e, deg = pc["e"], pc["deg"]
    n, m = pc["n"], pc["m"]
    hists, joint, base = pc["hists"], pc["joint"], pc["base"]

    # membership map: vertex → (canon, occ_id, pos, rep)
    memb = occurrences.select(
        "canon",
        "k",
        "occ_id",
        F.posexplode("vertices").alias("pos", "vertex"),
        F.element_at("vertices", 1).alias("rep"),
    ).cache()

    # classify every edge against each motif's membership (J1 x2 / P5)
    ms = memb.select(
        "canon",
        F.col("vertex").alias("src"),
        F.col("occ_id").alias("src_occ"),
        F.col("pos").alias("src_pos"),
        F.col("rep").alias("src_rep"),
    )
    md = memb.select(
        F.col("canon").alias("canon_d"),
        F.col("vertex").alias("dst"),
        F.col("occ_id").alias("dst_occ"),
        F.col("pos").alias("dst_pos"),
        F.col("rep").alias("dst_rep"),
    )
    t1 = e.join(ms, on="src", how="inner").select(
        F.col("canon"), F.col("src").alias("src1"), F.col("dst").alias("dst1"),
        F.col("mult").alias("mult1"),
        "src_occ", "src_pos", "src_rep",
    )
    t2 = e.join(md, on="dst", how="inner").select(
        F.col("canon_d"), F.col("src").alias("src2"), F.col("dst").alias("dst2"),
        F.col("mult").alias("mult2"),
        "dst_occ", "dst_pos", "dst_rep",
    )
    touched = (
        t1.join(
            t2,
            on=[
                t1.src1 == t2.src2,
                t1.dst1 == t2.dst2,
                t1.canon == t2.canon_d,
            ],
            how="full_outer",
        )
        .select(
            F.coalesce("canon", "canon_d").alias("canon"),
            F.coalesce("src1", "src2").alias("src"),
            F.coalesce("dst1", "dst2").alias("dst"),
            F.coalesce("mult1", "mult2").alias("mult"),
            "src_occ",
            "src_pos",
            "src_rep",
            "dst_occ",
            "dst_pos",
            "dst_rep",
        )
        .cache()
    )

    # both isNotNull conjuncts FIRST: with only one, NULL == NULL yields
    # SQL NULL and where(~NULL) silently drops every half-member edge
    intra = (
        F.col("src_occ").isNotNull()
        & F.col("dst_occ").isNotNull()
        & (F.col("src_occ") == F.col("dst_occ"))
    )
    rew = touched.where(~intra).select(
        "canon",
        "src",
        "dst",
        "mult",
        "src_occ",
        "src_pos",
        "dst_occ",
        "dst_pos",
        F.coalesce("src_rep", "src").alias("new_src"),
        F.coalesce("dst_rep", "dst").alias("new_dst"),
        F.col("src_rep").isNotNull().alias("src_in"),
        F.col("dst_rep").isNotNull().alias("dst_in"),
    )
    if not directed:
        rew = rew.withColumn("pair_a", F.least("new_src", "new_dst")).withColumn(
            "pair_b", F.greatest("new_src", "new_dst")
        )
    else:
        rew = rew.withColumn("pair_a", F.col("new_src")).withColumn(
            "pair_b", F.col("new_dst")
        )
    rew = rew.cache()

    # scalar aggregates per canon
    intra_cnt = (
        touched.where(intra).groupBy("canon").agg(F.count(F.lit(1)).alias("intra_cnt"))
    )
    occ_stats = occurrences.groupBy("canon", "k").agg(
        F.count(F.lit(1)).alias("n_occ")
    )
    motif_masks = occurrences.groupBy("canon", "k").agg(F.first("mask").alias("mask"))

    # wiring anchors: one per instance-side endpoint of each rewired RAW
    # link — weighting by mult makes every multigraph duplicate anchor
    # itself (subbedGraph iterates raw links; with simplify mult == 1)
    anchors = (
        rew.where(F.col("src_in")).select(
            "canon", F.col("src_occ").alias("occ_id"),
            F.col("src_pos").alias("pos"), "mult",
        )
    ).unionByName(
        rew.where(F.col("dst_in")).select(
            "canon", F.col("dst_occ").alias("occ_id"),
            F.col("dst_pos").alias("pos"), "mult",
        )
    )
    anchor_counts = anchors.groupBy("canon", "occ_id", "pos").agg(
        F.sum("mult").alias("cnt")
    )

    # distinct rewritten pairs with multiplicities → additions = mult-1;
    # summing the input ``mult`` (1 when simplified) makes raw-multigraph
    # duplicates count as removals exactly like contraction collapses
    pair_mult = rew.groupBy("canon", "pair_a", "pair_b").agg(
        F.sum("mult").alias("mult")
    )
    rew_stats = rew.groupBy("canon").agg(F.count(F.lit(1)).alias("touched_cnt"))
    pair_stats = pair_mult.groupBy("canon").agg(
        F.count(F.lit(1)).alias("distinct_pairs")
    )

    # ---- degree deltas (A4 instance-loop subbed degrees) ----
    # (a) old degrees of all member vertices leave the histogram
    member_old = memb.join(deg, on=[memb.vertex == deg.id]).select(
        "canon",
        F.col("vertex").alias("v"),
        F.col("in_deg").alias("old_in"),
        F.col("out_deg").alias("old_out"),
        F.lit("member").alias("kind"),
        (F.col("vertex") == F.col("rep")).alias("is_rep"),
    )
    # (b) per-vertex new degrees in the contraction, from rewritten pairs
    ends = rew.select(
        "canon", F.col("new_src").alias("v"), F.lit(1).alias("is_out"),
        "pair_a", "pair_b",
    ).unionByName(
        rew.select(
            "canon", F.col("new_dst").alias("v"), F.lit(0).alias("is_out"),
            "pair_a", "pair_b",
        )
    )
    new_deg = ends.groupBy("canon", "v").agg(
        F.count_distinct(
            F.when(F.col("is_out") == 1, F.struct("pair_a", "pair_b"))
        ).alias("new_out"),
        F.count_distinct(
            F.when(F.col("is_out") == 0, F.struct("pair_a", "pair_b"))
        ).alias("new_in"),
        # undirected: a vertex can sit on either side of the same
        # canonical pair — count pair incidence unsplit
        F.count_distinct(F.struct("pair_a", "pair_b")).alias("new_und"),
        F.sum("is_out").alias("t_out"),
        (F.count(F.lit(1)) - F.sum("is_out")).alias("t_in"),
    )
    members_flat = memb.select("canon", F.col("vertex").alias("v"), "rep")
    delta = (
        new_deg.join(members_flat, on=["canon", "v"], how="left")
        .join(deg.withColumnRenamed("id", "v"), on="v", how="left")
        .select(
            "canon",
            "v",
            F.col("rep").isNotNull().alias("is_member"),
            (F.col("rep").isNotNull() & (F.col("rep") == F.col("v"))).alias("is_rep"),
            F.coalesce("in_deg", F.lit(0)).alias("old_in"),
            F.coalesce("out_deg", F.lit(0)).alias("old_out"),
            "new_in",
            "new_out",
            "new_und",
            "t_in",
            "t_out",
        )
    )

    # collect per-canon small frames and assemble scalars driver-side via
    # applyInPandas (group sizes bounded by rewired links / occurrence count)
    sums = (
        occ_stats.join(intra_cnt, on="canon", how="left")
        .join(rew_stats, on="canon", how="left")
        .join(pair_stats, on="canon", how="left")
        .join(motif_masks, on=["canon", "k"])
        .fillna(0, subset=["intra_cnt", "touched_cnt", "distinct_pairs"])
    )

    consts = {
        "n": n,
        "m": m,
        "hists": hists,
        "joint": joint,
        "base": base,
        "directed": directed,
        "reset_wiring": reset_wiring,
        "with_hists": _with_hists,
        "max_rw": max_rw,
    }

    # --- scale-out path: per-motif assembly in executors ------------------
    # a tall generic frame (canon, kind, c1..c10) unions the five per-motif
    # inputs; applyInPandas groups by canon and runs the same assembly —
    # group sizes are bounded by max_rw, never by |E| or |V|.
    tall_schema = "canon long, kind int, " + ", ".join(
        f"c{i} long" for i in range(1, 11)
    )

    def generic(df, kind, cols):
        exprs = [F.col("canon"), F.lit(kind).alias("kind")]
        for i in range(1, 11):
            if i <= len(cols):
                exprs.append(F.col(cols[i - 1]).cast("long").alias(f"c{i}"))
            else:
                exprs.append(F.lit(None).cast("long").alias(f"c{i}"))
        return df.select(*exprs)

    tall = (
        generic(
            sums,
            0,
            ["k", "n_occ", "intra_cnt", "touched_cnt", "distinct_pairs", "mask"],
        )
        .unionByName(generic(anchor_counts, 1, ["occ_id", "pos", "cnt"]))
        .unionByName(generic(pair_mult, 2, ["mult"]))
        .unionByName(
            generic(
                delta.select(
                    "canon",
                    F.col("is_member").cast("long").alias("is_member"),
                    F.col("is_rep").cast("long").alias("is_rep"),
                    "old_in",
                    "old_out",
                    "new_in",
                    "new_out",
                    "new_und",
                    "t_in",
                    "t_out",
                ),
                3,
                [
                    "is_member",
                    "is_rep",
                    "old_in",
                    "old_out",
                    "new_in",
                    "new_out",
                    "new_und",
                    "t_in",
                    "t_out",
                ],
            )
        )
        .unionByName(
            generic(
                member_old.select(
                    "canon",
                    "old_in",
                    "old_out",
                    F.col("is_rep").cast("long").alias("is_rep"),
                ),
                4,
                ["old_in", "old_out", "is_rep"],
            )
        )
    )

    out_cols = [
        "canon", "k", "n_occurrences", "size_er", "size_el",
        "factor_er", "factor_el",
    ]
    out_schema = (
        "canon long, k int, n_occurrences long, size_er double, size_el double, "
        "factor_er double, factor_el double"
    )
    if _with_hists:
        # subbed_hist rows: [deg, count] (undirected) / [in, out, count]
        # (directed joint pairs) — the Beta consumer's input, emitted from
        # the same executor-side assembly so no per-motif driver collects
        out_cols += ["common_bits", "m_sub_graph", "n_sub", "subbed_hist"]
        out_schema += (
            ", common_bits double, m_sub_graph long, n_sub long, "
            "subbed_hist array<array<long>>"
        )

    def assemble(pdf: pd.DataFrame) -> pd.DataFrame:
        canon = int(pdf["canon"].iloc[0])
        s = pdf[pdf.kind == 0]
        if s.empty:
            return pd.DataFrame(columns=out_cols)
        srow = s.iloc[0]
        anchors = pdf[pdf.kind == 1].rename(
            columns={"c1": "occ_id", "c2": "pos", "c3": "cnt"}
        )
        adds_mult = pdf[pdf.kind == 2]["c1"].to_numpy()
        dd = pdf[pdf.kind == 3].rename(
            columns={
                "c1": "is_member", "c2": "is_rep", "c3": "old_in",
                "c4": "old_out", "c5": "new_in", "c6": "new_out",
                "c7": "new_und", "c8": "t_in", "c9": "t_out",
            }
        )
        mo_ = pdf[pdf.kind == 4].rename(
            columns={"c1": "old_in", "c2": "old_out", "c3": "is_rep"}
        )
        row = _assemble_motif(
            canon,
            int(srow.c1),
            int(srow.c2),
            int(srow.c3),
            int(srow.c4),
            int(srow.c5),
            int(srow.c6),
            anchors,
            adds_mult,
            dd,
            mo_,
            consts,
        )
        return pd.DataFrame([{kk: row.get(kk) for kk in out_cols}])

    result = tall.groupBy("canon").applyInPandas(assemble, schema=out_schema)
    if canon_restore is not None:
        back_df = F.broadcast(
            spark.createDataFrame(
                sorted(canon_restore.items()), "_gidx long, _canon_orig long"
            )
        )
        result = (
            result.withColumnRenamed("canon", "_gidx")
            .join(back_df, on="_gidx")
            .withColumn("canon", F.col("_canon_orig"))
            .select(*out_cols)
        )
    result = result.localCheckpoint(eager=True)  # materialize before unpersists
    if precomputed is None:
        e.unpersist()
        deg.unpersist()
    memb.unpersist()
    touched.unpersist()
    rew.unpersist()
    return result


def score_motifs_labeled(
    edges: DataFrame,
    occurrences: DataFrame,
    vertex_labels: DataFrame,
    directed: bool = True,
    **kw,
) -> DataFrame:
    """Label-aware MDL scoring for label-sensitive extractions
    (``MotifExtractor(vertex_labels=...)``) — closes the round-2 gap
    where labeled occurrences silently scored structurally.

    Documented label code (a local choice — the reference's own label
    coding lives in its unvendored `nodes` models and motive blanks
    labels before scoring, Synthetic.java:105):

      * every vertex label costs -log2 p(l) under the graph's empirical
        label distribution (ML code), so the baseline gains
        L_base = sum_l c_l * -log2(c_l / n_lab);
      * a labeled motif class stores its k-position label pattern ONCE
        (pattern_bits = sum of its labels' codes); each of its n_occ
        instances' member labels are then implied by the motif, so the
        motif-coded side gains L_base - n_occ*pattern_bits + pattern_bits.

    Net effect: factor_labeled = factor_structural
    + (n_occ - 1) * pattern_bits — repeated label patterns compress,
    label-diverse ones gain nothing, exactly the behavior label-blind
    scoring could not express.  Output schema matches ``score_motifs``.
    """
    import math

    spark = edges.sparkSession
    lab_rows = (
        vertex_labels.select(F.col("label").cast("string"))
        .groupBy("label")
        .count()
        .collect()
    )
    n_lab = sum(int(r["count"]) for r in lab_rows)
    bits = {
        r["label"]: -math.log2(int(r["count"]) / n_lab) for r in lab_rows
    }
    l_base = sum(int(r["count"]) * bits[r["label"]] for r in lab_rows)

    pat = occurrences.groupBy("canon", "k").agg(
        F.first("labels").alias("labels")
    )
    pat_bits = {
        (int(r["canon"]), int(r["k"])): sum(
            bits.get(l, 0.0) for l in r["labels"]
        )
        for r in pat.collect()
    }
    structural = score_motifs(
        edges, occurrences, directed=directed, _labels_ok=True, **kw
    )
    pat_df = F.broadcast(
        spark.createDataFrame(
            [(c, kk, b) for (c, kk), b in sorted(pat_bits.items())],
            "canon long, k int, _pat_bits double",
        )
    )
    adj = (F.col("n_occurrences") - 1) * F.col("_pat_bits")
    return (
        structural.join(pat_df, on=["canon", "k"])
        .withColumn("size_er", F.col("size_er") + F.lit(l_base) - adj)
        .withColumn("size_el", F.col("size_el") + F.lit(l_base) - adj)
        .withColumn("factor_er", F.col("factor_er") + adj)
        .withColumn("factor_el", F.col("factor_el") + adj)
        .drop("_pat_bits")
    )


def score_motifs_with_hists(
    edges: DataFrame,
    occurrences: DataFrame,
    directed: bool = True,
    reset_wiring: bool = True,
    group_col: str = "canon",
    precomputed: dict | None = None,
    max_rw: int = 500_000,
) -> DataFrame:
    """``score_motifs`` plus the Beta-consumer columns: common_bits,
    m_sub_graph, n_sub, and the subbed degree histogram (``subbed_hist``
    rows are [deg, count] undirected / [in, out, count] directed joint
    pairs).  Same scale-out applyInPandas assembly — one bounded row per
    motif comes back, never per-vertex or per-edge frames."""
    return score_motifs(
        edges,
        occurrences,
        directed=directed,
        reset_wiring=reset_wiring,
        group_col=group_col,
        precomputed=precomputed,
        max_rw=max_rw,
        _with_hists=True,
    )


def _assemble_motif(
    canon: int,
    k: int,
    n_occ: int,
    intra_c: int,
    touched_c: int,
    distinct_p: int,
    mask: int,
    anchors: pd.DataFrame,
    adds_mult,
    delta: pd.DataFrame,
    member_old: pd.DataFrame,
    consts: dict,
) -> dict:
    """Pure per-motif codelength assembly, run inside applyInPandas.
    Input frames are that motif's slices only (bounded by max_rw)."""
    n, m = consts["n"], consts["m"]
    hists, base = consts["hists"], consts["base"]
    directed = consts["directed"]
    inf = float("inf")
    if touched_c > consts["max_rw"]:
        # resource guard (TooManyRWLinksException semantics,
        # MotifModel.java:88-91, 1333-1348; --fast.max-rw README.md:85-89)
        return {
            "canon": canon,
            "k": k,
            "n_occurrences": n_occ,
            "size_er": inf,
            "size_el": inf,
            "factor_er": -inf,
            "factor_el": -inf,
        }

    n_sub = n - n_occ * (k - 1)
    m_sub_graph = m - intra_c - touched_c + distinct_p

    medges = mask_to_edges(mask, k, directed)
    m_motif = len(medges)

    # float sums below run in a fixed row order, whatever order a shuffle
    # or a dict delivered the rows in
    if consts["reset_wiring"]:
        wiring = 0.0
        anchors = anchors.sort_values(["occ_id", "pos"], kind="mergesort")
        for _, grp in anchors.groupby("occ_id"):
            wiring += codes.online_multiset_bits(grp["cnt"].to_numpy(), k)
    else:
        tot = anchors.groupby("pos")["cnt"].sum().to_numpy()
        wiring = codes.online_multiset_bits(tot, k)

    adds = np.asarray(adds_mult, dtype=np.int64) - 1
    multi_bits = codes.store_integers_bits(adds)

    labels = float(codes.prefix_bits(n_occ) + codes.log2_choose(n_occ, n_sub))
    insertions = float(codes.log2_factorial(n) - codes.log2_factorial(n_sub))

    def bump(h, key, v):
        h[key] = h.get(key, 0) + v
        if h[key] == 0:
            del h[key]

    if directed:
        hist_in = dict(hists[0])
        hist_out = dict(hists[1])
        # joint (in, out) histogram tracked in lockstep — only consumed by
        # the Beta/DS model (digraph counts need degree PAIRS)
        hist_joint = dict(consts["joint"]) if consts["with_hists"] else {}

        def bump_j(key, v):
            if consts["with_hists"]:
                bump(hist_joint, key, v)

        for t in member_old.itertuples(index=False):  # members leave
            bump(hist_in, int(t.old_in), -1)
            bump(hist_out, int(t.old_out), -1)
            bump_j((int(t.old_in), int(t.old_out)), -1)
        n_reps_seen = 0
        for t in delta.itertuples(index=False):
            if t.is_member and not t.is_rep:
                continue  # non-rep members already removed, never return
            if t.is_rep:
                n_reps_seen += 1
                bump(hist_in, int(t.new_in), +1)
                bump(hist_out, int(t.new_out), +1)
                bump_j((int(t.new_in), int(t.new_out)), +1)
            else:  # touched outside vertex: degree adjusted
                bump(hist_in, int(t.old_in), -1)
                bump(hist_out, int(t.old_out), -1)
                bump(hist_in, int(t.old_in - t.t_in + t.new_in), +1)
                bump(hist_out, int(t.old_out - t.t_out + t.new_out), +1)
                bump_j((int(t.old_in), int(t.old_out)), -1)
                bump_j(
                    (int(t.old_in - t.t_in + t.new_in),
                     int(t.old_out - t.t_out + t.new_out)),
                    +1,
                )
        n_isolated_reps = n_occ - n_reps_seen
        if n_isolated_reps:  # reps with no external links: degree 0
            bump(hist_in, 0, n_isolated_reps)
            bump(hist_out, 0, n_isolated_reps)
            bump_j((0, 0), n_isolated_reps)
        sub_er = float(er_bits(k, m_motif, directed=True))
        subbed_er = float(er_bits(n_sub, m_sub_graph, directed=True))
        # marginals from the single-sourced joint motif histogram
        # (motif_beta_hist owns the in/out orientation convention)
        from motive_spark.mdl.beta import motif_beta_hist

        mot_in: dict[int, int] = {}
        mot_out: dict[int, int] = {}
        for (ind, outd), c in motif_beta_hist(mask, k, True).items():
            mot_in[ind] = mot_in.get(ind, 0) + c
            mot_out[outd] = mot_out.get(outd, 0) + c
        sub_el = el_bits_directed(mot_in, mot_out, m_motif)
        subbed_el = el_bits_directed(hist_in, hist_out, m_sub_graph)
    else:
        hist_u = dict(hists)
        for t in member_old.itertuples(index=False):
            bump(hist_u, int(t.old_in + t.old_out), -1)
        n_reps_seen = 0
        for t in delta.itertuples(index=False):
            if t.is_member and not t.is_rep:
                continue
            if t.is_rep:
                n_reps_seen += 1
                bump(hist_u, int(t.new_und), +1)
            else:
                old = int(t.old_in + t.old_out)
                bump(hist_u, old, -1)
                bump(hist_u, int(old - (t.t_in + t.t_out) + t.new_und), +1)
        n_isolated_reps = n_occ - n_reps_seen
        if n_isolated_reps:
            bump(hist_u, 0, n_isolated_reps)
        sub_er = float(er_bits(k, m_motif, directed=False))
        subbed_er = float(er_bits(n_sub, m_sub_graph, directed=False))
        from motive_spark.mdl.beta import motif_beta_hist

        sub_el = el_bits_undirected(motif_beta_hist(mask, k, False), m_motif)
        subbed_el = el_bits_undirected(hist_u, m_sub_graph)

    common = wiring + labels + insertions + multi_bits
    size_er = sub_er + subbed_er + common
    size_el = sub_el + subbed_el + common
    row = {
        "canon": canon,
        "k": k,
        "n_occurrences": n_occ,
        "size_er": size_er,
        "size_el": size_el,
        "factor_er": base["er"] - size_er,
        "factor_el": base["el"] - size_el,
    }
    if consts["with_hists"]:
        row["common_bits"] = common
        row["m_sub_graph"] = m_sub_graph
        row["n_sub"] = n_sub
        if directed:
            row["subbed_hist"] = sorted(
                [i, o, c] for (i, o), c in hist_joint.items()
            )
        else:
            row["subbed_hist"] = sorted([d, c] for d, c in hist_u.items())
    return row
