"""Experiment orchestration + sinks — the reference's CLI surface.

``fast_experiment`` mirrors ``--type fast`` (Run.java:218-283 →
CompareLarge.main): sample → top-K → score under ER and EL with
Fibonacci search → write the reference's output files (S6-S9):

  numbers.csv        frequency, factorER, factorEL per motif, sorted by
                     factorEL desc      (CompareLarge.java:273-278)
  motifs.csv         canonical key + 0-based edge list per motif
                     (motif.NNN.edgelist, CompareLarge.java:280-286)
  occurrences.NNN.csv one line per selected occurrence: comma-separated
                     vertex ids, positions aligned to the motif's nodes
                     (CompareLarge.java:288-311)
  metadata.json      dataset name, directedness, baselines, parameters
                     (CompareLarge.java:316-321)

``full_experiment`` adds the Beta model column (``--type full``,
Compare.java:166-389), undirected graphs.

Two regimes, shared by the extractor and the search (``strategy``
auto|local|distributed; ``auto`` decides with the extractor's one
bounded read of at most ``LOCAL_SCORE_THRESHOLD + 1`` edge rows):

* **local** (unlabeled, non-null integral ids, at most the threshold):
  every step from sampling to the sink files runs on the driver in
  numpy/pandas over that one read — the search takes the extractor's
  edge and occurrence tables, the scores are joined in pandas, and the
  occurrence files are written from the occurrence table in selection
  order.  The Spark jobs left are the probe itself, plus, for the Beta
  column of ``full_experiment``, its Monte Carlo fan-out.
* **distributed**: DataFrame plans throughout; occurrence lines are
  rendered and written executor-side.

Both regimes write the same bytes, whatever the core or partition
count (occurrence lines may come in another order when distributed).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from motive_spark.mdl.search import size_with_search
from motive_spark.motifs import MotifExtractor
from motive_spark.motifs.canon import mask_to_edges


def _occurrence_path(output_dir: str, i: int) -> str:
    return os.path.join(output_dir, f"occurrences.{i:03d}.csv")


def _write_occurrences_local(occ: pd.DataFrame, order: pd.DataFrame, output_dir: str) -> None:
    """occurrences.NNN.csv from the driver-side occurrence table, lines in
    selection order."""
    lines = {
        (int(c), int(k)): [",".join(map(str, vs)) + "\n" for vs in grp["vertices"]]
        for (c, k), grp in occ.groupby(["canon", "k"], sort=False)
    }
    for i, rec in enumerate(order.itertuples(index=False)):
        with open(_occurrence_path(output_dir, i), "w") as f:
            f.writelines(lines[(int(rec.canon), int(rec.k))])


def _write_occurrences(occ: DataFrame, order: pd.DataFrame, output_dir: str) -> None:
    """occurrences.NNN.csv of the distributed regime: lines are rendered
    and written executor-side, partitioned by (canon, k), then stitched
    into the reference's layout with byte-level file concat — the
    10^6-sample default never funnels through a driver DataFrame."""
    tmp_occ = os.path.join(output_dir, "_occ_parts")
    (
        occ.select(
            "canon",
            "k",
            F.concat_ws(
                ",", F.transform("vertices", lambda v: v.cast("string"))
            ).alias("value"),
        )
        .repartition("canon", "k")
        .write.partitionBy("canon", "k")
        .mode("overwrite")
        .text(tmp_occ)
    )
    for i, rec in enumerate(order.itertuples(index=False)):
        parts = sorted(
            glob.glob(
                os.path.join(
                    tmp_occ, f"canon={int(rec.canon)}", f"k={int(rec.k)}",
                    "part-*",
                )
            )
        )
        with open(_occurrence_path(output_dir, i), "wb") as out_f:
            for p in parts:
                with open(p, "rb") as pf:
                    shutil.copyfileobj(pf, out_f)
    shutil.rmtree(tmp_occ, ignore_errors=True)


def fast_experiment(
    edges: DataFrame,
    output_dir: str,
    samples: int = 5000,
    min_size: int = 3,
    max_size: int = 6,
    min_freq: int = 2,
    max_motifs: int = 100,
    directed: bool = True,
    seed: int = 42,
    search_depth: int = 3,
    name: str = "data",
    with_beta: bool = False,
    beta_iterations: int = 50,
    max_rw: int = 500_000,
    simplify: bool = True,
    strategy: str = "auto",
) -> dict:
    """Run the full pipeline; write sinks; return summary dict.

    ``strategy`` (auto|local|distributed) picks the regime of both the
    motif extractor and the MDL search (see the module docstring);
    whatever either cached is freed before returning."""
    os.makedirs(output_dir, exist_ok=True)
    t0 = time.time()

    ex = MotifExtractor(
        edges, samples=samples, min_size=min_size, max_size=max_size,
        min_freq=min_freq, seed=seed, directed=directed, strategy=strategy,
    )
    try:
        local = ex.strategy == "local"
        # join on (canon, k): canonical masks collide across motif sizes
        if local:
            motifs, occ_all = ex._tables
            top = motifs.sort_values(
                ["freq", "canon", "k"], ascending=[False, True, True],
                kind="mergesort",
            ).head(max_motifs)
            # in selection order, as the extractor left it
            occ = occ_all.merge(top[["canon", "k"]], on=["canon", "k"])
        else:
            top_df = ex.top_motifs(max_motifs)
            occ = ex.occurrences().join(top_df.select("canon", "k"), on=["canon", "k"])
            top = top_df.toPandas()
        sample_time = time.time() - t0

        # one joint search: every requested model advances from SHARED
        # evaluation rounds (--type full runs Beta under the same search,
        # MotifSearchModel.sizeBeta with betaSearchDepth — Compare.java:307)
        model = ("er", "el", "beta") if with_beta else ("er", "el")
        # search_depth caps BOTH descents: it maps to the reference's
        # --full.depth, which is the DS/Beta search depth (Compare.java:307)
        both = size_with_search(
            edges, occ, directed=directed, model=model, max_depth=search_depth,
            beta_iterations=beta_iterations, beta_depth=search_depth, seed=seed,
            max_rw=max_rw, simplify=simplify, strategy=strategy,
            _edges_pdf=ex._edges_pdf, _pandas=True,
        )

        scores = top
        for mo, cols in (
            ("er", {"cutoff": "cutoff_er", "size": "size_er", "factor": "factor_er"}),
            ("el", {"size": "size_el", "factor": "factor_el"}),
            ("beta", {"size": "size_beta", "factor": "factor_beta"}),
        ):
            if mo in model:
                part = both[both["model"] == mo][["canon", "k", *cols]].rename(columns=cols)
                scores = scores.merge(
                    part, on=["canon", "k"], how="left" if mo == "beta" else "inner"
                )
        # ties keep the top-motif order (freq desc, canon, k)
        sort_col = "factor_beta" if with_beta else "factor_el"
        pdf = scores.sort_values(sort_col, ascending=False, kind="mergesort")

        # S6: numbers.csv
        cols = ["freq", "factor_er", "factor_el"] + (["factor_beta"] if with_beta else [])
        pdf_out = pdf[["canon", "k"] + cols].rename(columns={"freq": "frequency"})
        pdf_out.to_csv(os.path.join(output_dir, "numbers.csv"), index=False)

        # S7: motif edge lists, each from the motif's first occurrence in
        # selection order (exDegree asc, occ_id)
        if local:
            firsts = occ.groupby(["canon", "k"], sort=False)["mask"].first()
            masks = {(int(c), int(k)): int(v) for (c, k), v in firsts.items()}
        else:
            masks = {
                (int(r["canon"]), int(r["k"])): int(r["mask"])
                for r in occ.groupBy("canon", "k").agg(
                    F.min_by("mask", F.struct("ex_degree", "occ_id")).alias("mask")
                ).collect()
            }
        with open(os.path.join(output_dir, "motifs.csv"), "w") as f:
            f.write("canon,k,edges\n")
            for rec in pdf.itertuples(index=False):
                k = int(rec.k)
                mask = masks[(int(rec.canon), k)]
                el_str = ";".join(f"{a} {b}" for a, b in mask_to_edges(mask, k, directed))
                f.write(f"{rec.canon},{k},{el_str}\n")

        # S8: occurrence CSVs per motif rank
        if local:
            _write_occurrences_local(occ, pdf, output_dir)
        else:
            _write_occurrences(occ, pdf, output_dir)
    finally:
        ex.close()

    # S10-style significance count (Konect.java:160-175, :430-433) —
    # computed BEFORE the metadata sink so the on-disk file carries it
    sig = -__import__("math").log2(0.01)
    n_significant_el = int((pdf["factor_el"] > sig).sum())

    # S9: metadata.json
    meta = {
        "name": name,
        "directed": directed,
        "samples": samples,
        "min_size": min_size,
        "max_size": max_size,
        "min_freq": min_freq,
        "max_motifs": max_motifs,
        "seed": seed,
        "models": ["er", "el"] + (["beta"] if with_beta else []),
        "n_motifs_scored": len(pdf),
        "n_significant_el": n_significant_el,
        "sample_time_sec": round(sample_time, 3),
        "elapsed_sec": round(time.time() - t0, 3),
    }
    with open(os.path.join(output_dir, "metadata.json"), "w") as f:
        json.dump(meta, f, indent=1)
    return meta


def full_experiment(edges: DataFrame, output_dir: str, **kw) -> dict:
    """--type full: adds the Beta (DS) model column, searched with the
    other models (directed or undirected)."""
    kw.setdefault("directed", False)
    return fast_experiment(edges, output_dir, with_beta=True, **kw)
