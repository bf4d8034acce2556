"""The three benchmark workloads: seeded inputs, the timed job, checks.

A workload object has four steps, called by ``run.py``:

* ``generate(spark, seed)`` builds and caches the inputs (set-up time);
* ``reference(inputs)`` collects what the checks need (untimed);
* ``job(spark, inputs, scratch)`` is the timed region: it starts from the
  cached inputs and returns once every result is materialized;
* ``check(out, ref)`` compares the results with ``oracles`` (untimed)
  and returns one ``(name, ok, detail)`` triple per check.

The job calls the engine only through module attributes
(``kernels.pagerank``, ``extract.dense_edge_table`` ...), so the traced
run can wrap those public functions from outside the package.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
from pyspark.sql import functions as F

import oracles
from motive_spark import experiment, extract, kernels, tables
from motive_spark.motifs import synthetic

PAGERANK_DAMPING = 0.85


def _arrays(df, *cols):
    pdf = df.select(*cols).toPandas()
    return [pdf[c].to_numpy(dtype=np.int64) for c in cols]


def _same_map(got_pdf, key, val, ids, expected) -> tuple[bool, str]:
    """Exact equality of a (key -> value) result against reference arrays."""
    if len(got_pdf) != len(ids):
        return False, f"{len(got_pdf)} rows, expected {len(ids)}"
    got = got_pdf.sort_values(key)
    if not np.array_equal(got[key].to_numpy(), ids):
        return False, "vertex set differs"
    bad = int((got[val].to_numpy() != expected).sum())
    return bad == 0, f"{bad} vertices differ"


def _close_ranks(got_pdf, ids, expected, rtol=1e-6) -> tuple[bool, str]:
    if len(got_pdf) != len(ids):
        return False, f"{len(got_pdf)} rows, expected {len(ids)}"
    got = got_pdf.sort_values("id")
    if not np.array_equal(got["id"].to_numpy(), ids):
        return False, "vertex set differs"
    r = got["rank"].to_numpy()
    err = float(np.max(np.abs(r - expected) / np.abs(expected)))
    return bool(np.allclose(r, expected, rtol=rtol, atol=0.0)), f"max rel err {err:.2e}"


class DepGraph:
    """Code table -> repo-dependency edges -> PageRank and label
    propagation, on the broadcast path (|V| far below the switch)."""

    name = "depgraph"
    n_repos = 300
    files_per_repo = 16
    imports_per_file = 3
    pagerank_iters = 3
    lp_iters = 2
    # operations per job: extract, pagerank, label propagation
    n_ops = 3

    def generate(self, spark, seed):
        code = tables.synth_code_table(
            spark, self.n_repos, self.files_per_repo, self.imports_per_file, seed=seed
        ).cache()
        return {"code": code, "files": code.count()}

    def release(self, inputs):
        inputs["code"].unpersist()

    def reference(self, inputs):
        rows = inputs["code"].select("repo", "content").collect()
        edges = oracles.repo_edges((r["repo"], r["content"]) for r in rows)
        return {"edges": edges}

    def input_edges(self, ref):
        return len(ref["edges"])

    def job(self, spark, inputs, scratch):
        dense, vmap = extract.dense_edge_table(inputs["code"])
        dense, vmap = dense.cache(), vmap.cache()
        n_edges = dense.count()
        vmap.count()
        counters = []
        pr = kernels.pagerank(
            dense, damping=PAGERANK_DAMPING, max_iter=self.pagerank_iters,
            tol=None, counters_out=counters,
        )
        lp = kernels.label_propagation(dense, iters=self.lp_iters)
        return {
            "dense": dense, "vmap": vmap, "edges_out": n_edges, "pr": pr,
            "lp": lp, "pr_counters": counters,
            "files_in": inputs["files"], "pr_strategy": "auto",
        }

    def check(self, out, ref):
        src, dst = _arrays(out["dense"], "src", "dst")
        vm = out["vmap"].toPandas()
        name = dict(zip(vm["id"].to_numpy().tolist(), vm["orig_key"]))
        got = {(name[s], name[d]) for s, d in zip(src.tolist(), dst.tolist())}
        # the kernels are checked on the edges extract produced, so a
        # wrong extract fails its own check and nothing else
        pr_ref = oracles.pagerank(src, dst, self.pagerank_iters, PAGERANK_DAMPING)
        lp_ref = oracles.label_propagation(src, dst, self.lp_iters)
        return [
            ("extract.edges", got == ref["edges"] and len(src) == len(got),
             f"{len(src)} rows, {len(got ^ ref['edges'])} pairs differ"),
            ("pagerank", *_close_ranks(out["pr"].toPandas(), *pr_ref)),
            ("label_propagation",
             *_same_map(out["lp"].toPandas(), "id", "label", *lp_ref)),
        ]


def hub_edges(spark, n_vertices: int, draws: int, skew: float, seed: int):
    """Directed edge table with power-law in-degrees: every vertex v
    draws ``draws`` destinations ``floor(n * u**skew)`` for uniform
    hashed u, so low ids become "library" hubs with very high in-degree.
    Self-loops are dropped and duplicate pairs merged."""
    n = float(n_vertices)
    parts = []
    for j in range(draws):
        u = (
            F.pmod(F.xxhash64("id", F.lit(seed), F.lit(j)), F.lit(1 << 30)).cast("double")
            + F.lit(0.5)
        ) / F.lit(float(1 << 30))
        dst = F.floor(F.lit(n) * F.pow(u, F.lit(skew))).cast("long")
        parts.append(spark.range(n_vertices).select(F.col("id").alias("src"), dst.alias("dst")))
    e = parts[0]
    for p in parts[1:]:
        e = e.unionByName(p)
    return e.where(F.col("src") != F.col("dst")).dropDuplicates(["src", "dst"])


class HubGraph:
    """Power-law edge table on the CSR kernel path: PageRank with a
    Parquet checkpoint per superstep, a simulated crash and a resume from
    the mid-run checkpoint, then connected components and triangles.
    The graph is far below the 2M-vertex auto switch (a run above it does
    not fit the per-run budget), so the CSR strategy is asked for."""

    name = "hubgraph"
    n_vertices = 20_000
    draws = 3
    skew = 3.0
    pagerank_iters = 3
    # operations per job: pagerank, resumed pagerank, components, triangles
    n_ops = 4

    def generate(self, spark, seed):
        edges = hub_edges(spark, self.n_vertices, self.draws, self.skew, seed).cache()
        return {"edges": edges, "n_edges": edges.count()}

    def release(self, inputs):
        inputs["edges"].unpersist()

    def reference(self, inputs):
        src, dst = _arrays(inputs["edges"], "src", "dst")
        return {
            "pr": oracles.pagerank(src, dst, self.pagerank_iters, PAGERANK_DAMPING),
            "cc": oracles.components(src, dst),
            "tri": oracles.triangles(src, dst),
            "n_edges": len(src),
        }

    def input_edges(self, ref):
        return ref["n_edges"]

    def job(self, spark, inputs, scratch):
        ckpt = os.path.join(scratch, "pagerank_ckpt")
        shutil.rmtree(ckpt, ignore_errors=True)
        edges = inputs["edges"]
        counters = []
        pr = kernels.pagerank(
            edges, damping=PAGERANK_DAMPING, max_iter=self.pagerank_iters,
            tol=None, checkpoint_dir=ckpt, strategy="csr", counters_out=counters,
        ).toPandas()
        # crash before the last superstep landed, then resume
        for i in range(self.pagerank_iters - 1, self.pagerank_iters):
            shutil.rmtree(os.path.join(ckpt, f"iter={i:04d}"))
        resumed_counters = []
        t0 = time.perf_counter()
        resumed = kernels.pagerank(
            edges, damping=PAGERANK_DAMPING, max_iter=self.pagerank_iters,
            tol=None, checkpoint_dir=ckpt, resume=True, strategy="csr",
            counters_out=resumed_counters,
        ).toPandas()
        resume_s = time.perf_counter() - t0
        cc = kernels.connected_components(edges, strategy="csr")
        tri = kernels.triangle_count(edges).collect()[0]["n_triangles"]
        return {
            "pr": pr, "resumed": resumed, "cc": cc, "tri": int(tri),
            "ckpt": ckpt, "pr_counters": counters, "pr_strategy": "csr",
            "durable_counters": counters + resumed_counters, "resume_s": resume_s,
        }

    def check(self, out, ref):
        ckpt_ok = all(
            os.path.exists(os.path.join(out["ckpt"], f"iter={i:04d}", "_SUCCESS"))
            for i in range(self.pagerank_iters)
        )
        a = out["pr"].sort_values("id")["rank"].to_numpy()
        b = out["resumed"].sort_values("id")["rank"].to_numpy()
        same = len(a) == len(b) and bool(np.array_equal(a, b))
        return [
            ("pagerank", *_close_ranks(out["pr"], *ref["pr"])),
            ("pagerank.resumed_equals_uninterrupted", same,
             "identical" if same else "resumed ranks differ"),
            ("checkpoint.complete_supersteps", ckpt_ok, out["ckpt"]),
            ("connected_components",
             *_same_map(out["cc"].toPandas(), "id", "component", *ref["cc"])),
            ("triangle_count", out["tri"] == ref["tri"], f"{out['tri']} vs {ref['tri']}"),
        ]


CLIQUE4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]


class Motifs:
    """The paper's --type fast experiment on a planted-motif graph:
    sample, take the top motifs, score them under ER and EL with the
    Fibonacci search, write the reference sinks."""

    name = "motifs"
    motif, k = CLIQUE4, 4
    n_instances = 100
    n_noise = 2000
    m_noise = 5000
    samples = 1000
    max_size = 4
    max_motifs = 8
    # above the sampled frequency of the rare 4-vertex shapes, so every
    # seed scores the same six motifs and the work does not vary by seed
    min_freq = 5
    search_depth = 3
    # operations per job: the experiment
    n_ops = 1

    def generate(self, spark, seed):
        edges = synthetic.inject_motifs(
            spark, self.motif, self.k, self.n_instances, self.n_noise,
            self.m_noise, seed=seed,
        ).cache()
        return {"edges": edges, "n_edges": edges.count(), "seed": seed}

    def release(self, inputs):
        inputs["edges"].unpersist()

    def reference(self, inputs):
        return {"n_edges": inputs["n_edges"]}

    def input_edges(self, ref):
        return ref["n_edges"]

    def job(self, spark, inputs, scratch):
        out_dir = os.path.join(scratch, "motifs_out")
        shutil.rmtree(out_dir, ignore_errors=True)
        meta = experiment.fast_experiment(
            inputs["edges"], out_dir, samples=self.samples, min_size=3,
            max_size=self.max_size, max_motifs=self.max_motifs,
            min_freq=self.min_freq, directed=False,
            seed=inputs["seed"], search_depth=self.search_depth,
        )
        return {"meta": meta, "dir": out_dir}

    def check(self, out, ref):
        import pandas as pd

        numbers = pd.read_csv(os.path.join(out["dir"], "numbers.csv"))
        with open(os.path.join(out["dir"], "metadata.json")) as f:
            meta = json.load(f)
        n_occ_files = len(
            [p for p in os.listdir(out["dir"]) if p.startswith("occurrences.")]
        )
        planted = None
        with open(os.path.join(out["dir"], "motifs.csv")) as f:
            next(f)
            for line in f:
                canon, k, edge_str = line.rstrip("\n").split(",", 2)
                edges = [tuple(map(int, p.split())) for p in edge_str.split(";") if p]
                if int(k) == self.k and oracles.isomorphic(edges, self.motif, self.k):
                    planted = (int(canon), int(k))
        factor = None
        if planted is not None:
            row = numbers[(numbers["canon"] == planted[0]) & (numbers["k"] == planted[1])]
            factor = float(row["factor_el"].iloc[0])
        return [
            ("sinks.consistent",
             meta["n_motifs_scored"] == len(numbers) == n_occ_files,
             f"{len(numbers)} motifs, {n_occ_files} occurrence files"),
            ("planted_motif.factor_el_positive", factor is not None and factor > 0,
             f"factor_el={factor}"),
        ]


WORKLOADS = {w.name: w for w in (DepGraph, HubGraph, Motifs)}
