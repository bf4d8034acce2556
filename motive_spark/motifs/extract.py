"""Motif extractor: sample → canonize → count → overlap-remove.

Spark-first re-expression of D/UPlainMotifExtractor
(DPlainMotifExtractor.java:141-231, UPlainMotifExtractor.java:130-237):

  1. seeded connected-subgraph sampling (sample.py);
  2. induced-subgraph bitmask per occurrence, canonized by
     ``canon.canonical_batch`` — isomorphic samples unify under a plain
     group key on ``canon`` (J5: canonical hashing beats iso-tests);
  3. duplicate occurrences (same vertex set, same motif) collapse to the
     one with the smallest ``occ_id``
     (testNoDuplicates, UPlainMotifExtractorTest.java:84-99);
  4. min-frequency predicate (P4, default 2 — Compare.java:135);
  5. exDegree per occurrence — sum(deg) - 2*m_induced over the raw-edge
     degrees, no per-occurrence neighborhood join (A7);
  6. greedy overlap removal per motif (A6): occurrences sorted by
     (exDegree asc, occ_id) swept, accepting node-disjoint ones — the
     deterministic greedy maximal independent set of
     UPlainMotifExtractor.java:165-227.

Two regimes, split by one bounded probe of the edge table at
``graph.local.LOCAL_SCORE_THRESHOLD`` raw rows (``graph.local.local_edges``,
the MDL scorer's switch; raw rows >= simple edges, so a local
extraction is always followed by a local MDL search):

* **local** (unlabeled, non-null integral ids, at most the threshold):
  the probe's rows are the whole graph, and every step above runs on
  the driver in numpy (``sample.sample_local`` /
  ``induced_masks_local``, bit-identical to the distributed sampler).
  The two result frames are local relations built from pandas through
  Arrow on first use — no Python workers, no Spark job after the probe
  — and ``fast_experiment`` reads the pandas tables themselves.
* **distributed** (above it, labeled, or other ids): DataFrame plans —
  per-round frontier joins, the canonical-form pandas UDF, and the
  overlap sweep in ``applyInPandas`` per motif (group size bounded by
  the sample budget); ``close()`` frees what they cached.

Both regimes give the same rows.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from motive_spark.checkpoint import CheckpointManager
from motive_spark.motifs.canon import canonical_batch, canonical_udf
from motive_spark.motifs.sample import (
    induced_masks,
    induced_masks_local,
    sample_connected_subgraphs,
    sample_local,
    symmetric_csr,
)

_MOTIF_SCHEMA = "canon long, k int, freq long"


def _occ_schema(vertex_type: str) -> str:
    return (
        f"canon long, k int, occ_id long, vertices array<{vertex_type}>, "
        "ex_degree long, mask long"
    )


def _sweep(group, vertices) -> np.ndarray:
    """Greedy MIS over rows pre-sorted by (group, ex_degree, occ_id):
    keep a row iff no vertex of it is taken by an earlier kept row of
    the same group."""
    taken: dict = {}
    keep = np.zeros(len(vertices), dtype=bool)
    for r, (g, vs) in enumerate(zip(group, vertices)):
        if all(taken.get(v) != g for v in vs):
            for v in vs:
                taken[v] = g
            keep[r] = True
    return keep


def _remove_overlaps(pdf: pd.DataFrame) -> pd.DataFrame:
    """Greedy MIS sweep within one motif group (deterministic)."""
    pdf = pdf.sort_values(["ex_degree", "occ_id"], kind="mergesort")
    return pdf[_sweep([0] * len(pdf), pdf["vertices"])]


def _vertex_type(edges: DataFrame) -> str:
    """Element type of ``vertices``: long for integral ids (the local
    regime's type too), else the type of ``src`` (e.g. string ids)."""
    from motive_spark.graph.local import _INTEGRAL

    t = edges.schema["src"].dataType
    return "long" if isinstance(t, _INTEGRAL) else t.simpleString()


def _extract_local(
    pdf: pd.DataFrame, samples: int, min_size: int, max_size: int,
    min_freq: int, seed: int, directed: bool,
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Every extraction step on the driver; returns the (motifs,
    occurrences) tables of the distributed regime's frames, the
    occurrences in selection order: (canon, k, ex_degree, occ_id)."""
    # Spark hashes the sampler's candidate column as a long only if one
    # of src/dst is a long column
    int_ids = all(pdf[c].dtype.itemsize < 8 for c in ("src", "dst"))
    src = pdf["src"].to_numpy(dtype=np.int64)
    dst = pdf["dst"].to_numpy(dtype=np.int64)
    ids, indptr, nbr = symmetric_csr(src, dst)
    n = len(ids)
    parts = []
    if n:
        occ_id, k, members = sample_local(
            ids, indptr, nbr, samples, min_size, max_size, seed, int_ids
        )
        # non-loop edges as dense pair keys; raw-edge degrees (duplicates
        # count, a self-loop counts twice) of the sampled vertices
        loop = src == dst
        a = np.searchsorted(ids, src[~loop])
        b = np.searchsorted(ids, dst[~loop])
        if not directed:
            a, b = np.minimum(a, b), np.maximum(a, b)
        ekeys = np.unique(a * n + b)
        deg = np.zeros(n, dtype=np.int64)
        for col in (src, dst):
            i = np.minimum(np.searchsorted(ids, col), n - 1)
            deg += np.bincount(i[ids[i] == col], minlength=n)
        for kv in np.unique(k).tolist():
            sel = k == kv
            mem = np.sort(members[sel, :kv], axis=1)
            occ_k = occ_id[sel]
            mask, m_ind = induced_masks_local(mem, kv, n, ekeys, directed)
            # rows ascend by occ_id: the first row of each vertex set is
            # the one kept
            order = np.lexsort([occ_k] + [mem[:, j] for j in range(kv - 1, -1, -1)])
            ms = mem[order]
            first = np.ones(len(order), dtype=bool)
            first[1:] = (ms[1:] != ms[:-1]).any(axis=1)
            keep = np.sort(order[first & (m_ind[order] > 0)])
            mem, occ_k, mask, m_ind = mem[keep], occ_k[keep], mask[keep], m_ind[keep]
            uniq, inv = np.unique(mask, return_inverse=True)
            parts.append(pd.DataFrame({
                "canon": canonical_batch(uniq, kv)[inv].view(np.int64),
                "k": np.full(len(keep), kv, dtype=np.int32),
                "occ_id": occ_k,
                "vertices": ids[mem].tolist(),
                "ex_degree": deg[mem].sum(axis=1) - 2 * m_ind,
                "mask": mask.view(np.int64),
            }))
    occ = pd.concat(parts, ignore_index=True) if parts else pd.DataFrame(
        {c: pd.Series(dtype=t) for c, t in (
            ("canon", np.int64), ("k", np.int32), ("occ_id", np.int64),
            ("vertices", object), ("ex_degree", np.int64), ("mask", np.int64),
        )}
    )
    freq = occ.groupby(["canon", "k"], sort=True).size().rename("freq").reset_index()
    freq = freq[freq["freq"] >= min_freq]
    sel = occ.merge(freq[["canon", "k"]], on=["canon", "k"])
    sel = sel.sort_values(["canon", "k", "ex_degree", "occ_id"], kind="mergesort")
    group = sel["canon"].ne(sel["canon"].shift()) | sel["k"].ne(sel["k"].shift())
    sel = sel[_sweep(group.cumsum().tolist(), sel["vertices"].tolist())]
    return freq.astype({"freq": np.int64}), sel.reset_index(drop=True)


class MotifExtractor:
    """API mirror of the reference extractor (SURVEY §3.4).

    ``MotifExtractor(edges, samples, min_size, max_size, min_freq,
    seed, directed)`` → ``.motifs()`` (canon, k, freq sorted desc),
    ``.occurrences()`` (selected, node-disjoint), ``.frequency(canon)``;
    ``.close()`` frees what it cached.

    ``strategy``: "local" extracts on the driver, "distributed" with
    DataFrame plans, "auto" locally when unlabeled and at most
    ``LOCAL_SCORE_THRESHOLD`` edge rows; ``.strategy`` records the side
    taken.  Both give the same frames.
    """

    def __init__(
        self,
        edges: DataFrame,
        samples: int = 5000,
        min_size: int = 3,
        max_size: int = 6,
        min_freq: int = 2,
        seed: int = 42,
        directed: bool = True,
        vertex_labels: DataFrame | None = None,
        strategy: str = "auto",
    ):
        from motive_spark.motifs.canon import MAX_BRUTE_K, MAX_K

        if max_size > (MAX_BRUTE_K if directed else MAX_K):
            raise ValueError(
                f"max_size={max_size} unsupported: directed motifs cap at "
                f"k={MAX_BRUTE_K} (two bits per pair overflow a 64-bit mask "
                f"above that), undirected at k={MAX_K}"
            )
        if strategy not in ("auto", "local", "distributed"):
            raise ValueError(f"unknown strategy {strategy!r}")
        if strategy == "local" and vertex_labels is not None:
            raise ValueError("labeled extraction runs distributed only")
        self.edges = edges
        self.directed = directed
        self.min_freq = min_freq
        self.labeled = vertex_labels is not None
        self._cached: list[DataFrame] = []
        self._checkpoint: DataFrame | None = None

        # the local regime's edge table and (motifs, occurrences) tables
        self._edges_pdf: pd.DataFrame | None = None
        self._tables: tuple[pd.DataFrame, pd.DataFrame] | None = None
        # (motifs, occurrences); built from ``_tables`` on first use locally
        self._frames: tuple[DataFrame, DataFrame] | None = None
        if vertex_labels is None:
            from motive_spark.mdl.score import local_edges

            self._edges_pdf = local_edges(edges, strategy)
        self.strategy = "distributed" if self._edges_pdf is None else "local"
        if self._edges_pdf is not None:
            self._tables = _extract_local(
                self._edges_pdf, samples, min_size, max_size, min_freq, seed,
                directed,
            )
            return

        sampled = sample_connected_subgraphs(
            edges, samples, min_size, max_size, seed=seed, directed=directed
        )
        occ = induced_masks(sampled, edges, directed=directed)
        if vertex_labels is not None:
            # label-sensitive matching (DPlainMotifExtractor.java:54-63):
            # occurrences unify only when structure AND label pattern are
            # isomorphic.  The canonical key is the labeled canonization's
            # composite string; the long ``canon`` group key is its hash
            # (the string rides along as ``canon_key``).
            from motive_spark.motifs.canon import canonical_labeled_udf

            per_v = (
                occ.select("occ_id", F.posexplode("vertices").alias("pos", "id"))
                .join(
                    vertex_labels.select("id", F.col("label").cast("string")),
                    on="id",
                    how="left",
                )
                .groupBy("occ_id")
                .agg(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(
                                    F.col("pos").alias("p"),
                                    F.coalesce("label", F.lit("")).alias("lab"),
                                )
                            )
                        ),
                        lambda s: s["lab"],
                    ).alias("labels")
                )
            )
            occ = occ.join(per_v, on="occ_id").withColumn(
                "canon_key", canonical_labeled_udf("mask", "k", "labels")
            )
            occ = occ.withColumn("canon", F.xxhash64("canon_key"))
        else:
            occ = occ.withColumn("canon", canonical_udf("mask", "k"))
        # no duplicate occurrences of the same motif (same vertex set):
        # keep the smallest occ_id, so the sweep below never depends on
        # which duplicate a shuffle delivered first
        rest = [c for c in occ.columns if c not in ("canon", "k", "vertices", "occ_id")]
        occ = (
            occ.groupBy("canon", "k", "vertices")
            .agg(F.min(F.struct("occ_id", *rest)).alias("_o"))
            .select("canon", "k", "vertices", "_o.*")
        )

        # degrees once, reused for every motif (CSE hoisting, SURVEY §4.1)
        deg = (
            edges.select(F.col("src").alias("id"))
            .union(edges.select(F.col("dst").alias("id")))
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        ex = (
            occ.select("occ_id", F.explode("vertices").alias("id"))
            .join(deg, on="id")
            .groupBy("occ_id")
            .agg(F.sum("deg").alias("sum_deg"))
        )
        # every induced edge (directed or not) contributes 2 to sum_deg
        # (one endpoint appearance on each side), so external links =
        # sum(deg) - 2*m_induced (A7, exDegree semantics)
        occ = occ.join(ex, on="occ_id").withColumn(
            "ex_degree", F.col("sum_deg") - F.lit(2) * F.col("m_induced")
        )
        self._sampled = occ.cache()

        freq_aggs = [F.count(F.lit(1)).alias("freq")]
        if self.labeled:
            freq_aggs.append(F.first("canon_key").alias("canon_key"))
        freq = (
            self._sampled.groupBy("canon", "k")
            .agg(*freq_aggs)
            .where(F.col("freq") >= min_freq)
        )
        motifs = freq.cache()

        sel_cols = ["canon", "k", "occ_id", "vertices", "ex_degree", "mask"]
        sel_schema = _occ_schema(_vertex_type(edges))
        if self.labeled:
            sel_cols += ["canon_key", "labels"]
            sel_schema += ", canon_key string, labels array<string>"
        # group on (canon, k): canonical masks COLLIDE across motif sizes
        # (e.g. mask 14 names both a k=3 and a k=4 class), so canon alone
        # would pool different-size motifs into one disjointness group
        selected = (
            self._sampled.join(motifs.select("canon", "k"), on=["canon", "k"])
            .select(*sel_cols)
            .groupBy("canon", "k")
            .applyInPandas(_remove_overlaps, schema=sel_schema)
        )
        self._frames = (motifs, selected.cache())
        self._cached = [self._sampled, *self._frames]
        self._checkpoint = sampled

    def _result_frames(self) -> tuple[DataFrame, DataFrame]:
        """(motifs, occurrences) frames; the local regime builds them
        from its pandas tables on first use, as local relations through
        Arrow.  ``fast_experiment`` reads the tables and never asks, so
        a local experiment makes no call into the JVM after the probe."""
        if self._frames is None:
            spark = self.edges.sparkSession
            motifs, occ = self._tables
            # at most ``samples`` rows: one partition, so sorting,
            # counting or taking the top motifs needs no exchange
            self._frames = (
                spark.createDataFrame(motifs, _MOTIF_SCHEMA).coalesce(1),
                spark.createDataFrame(occ, _occ_schema("long")).coalesce(1),
            )
        return self._frames

    @property
    def _motifs(self) -> DataFrame:
        return self._result_frames()[0]

    @property
    def _occurrences(self) -> DataFrame:
        return self._result_frames()[1]

    def close(self) -> None:
        """Free the blocks the distributed regime cached and the
        sampler's checkpoint; frames obtained earlier must not be
        evaluated afterwards.  The local regime caches nothing."""
        for df in self._cached:
            df.unpersist()
        if self._checkpoint is not None:
            CheckpointManager._release(self._checkpoint)
        self._cached, self._checkpoint = [], None

    def motifs(self) -> DataFrame:
        """(canon, k, freq) sorted by sampled frequency desc (O2)."""
        return self._motifs.orderBy(F.desc("freq"), "canon", "k")

    def occurrences(self, canon: int | None = None) -> DataFrame:
        """Selected node-disjoint occurrences; optionally for one motif."""
        out = self._occurrences
        if canon is not None:
            out = out.where(F.col("canon") == canon)
        return out

    def frequency(self, canon: int) -> int:
        row = self._motifs.where(F.col("canon") == canon).collect()
        return int(row[0]["freq"]) if row else 0

    def top_motifs(self, max_motifs: int = 100) -> DataFrame:
        """Top-K pruning before expensive scoring (O3, default 100)."""
        return self.motifs().limit(max_motifs)
