"""Connected components via hash-min label exchange (north_rule kernel).

Each vertex holds a component label (init: own id); every superstep each
vertex takes the min of its own label and its neighbors' labels; stop
when no label changes.  Exact at convergence (north_rule: "components
exact").

Scale notes:
  * convergence is bounded by graph diameter with plain neighbor-min;
    ``big_star`` mode adds the large-star shortcut (propagate the min
    label to ALL current members of the label's group, not just direct
    neighbors — one extra join per round) which drops rounds to
    O(log n) on high-diameter graphs (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14 — public literature);
  * the symmetrized edge table is partitioned once on the gather key and
    cached; labels (1 row/vertex) are the only per-round shuffle;
  * two plans, the pagerank.py switch (``strategy="auto"``; any other
    value than ``auto``/``broadcast``/``csr`` raises ValueError): the
    label side is BROADCAST only below BROADCAST_MAX_VERTICES — above
    that, a per-superstep |V|-row broadcast would serialize on the
    hash-relation build and OOM executors at billion-vertex scale, so
    the ``csr`` plan gathers labels over salted CSR blocks of the
    symmetric adjacency with one exchange per superstep;
  * the loop is ``CheckpointManager.run``: per-superstep Parquet
    checkpoint (or localCheckpoint) → resume + lineage truncation, with
    the changed-label count as its convergence probe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from motive_spark.checkpoint import CheckpointManager
from motive_spark.kernels.pagerank import BROADCAST_MAX_VERTICES, check_strategy


def connected_components(
    edges: DataFrame,
    max_iter: int = 100,
    fixed_iters: int | None = None,
    checkpoint_dir: str | None = None,
    resume: bool = False,
    big_star: bool = True,
    strategy: str = "auto",
    pre_partitioned: bool = False,
) -> DataFrame:
    """Returns (id, component) — component = min vertex id reachable.

    ``edges`` is treated as undirected.  ``fixed_iters`` runs exactly
    that many supersteps without a convergence check (oracle mode).

    ``pre_partitioned=True`` declares ``edges`` is ALREADY symmetrized,
    self-loop-free, deduped, and hash-distributed on ``dst`` (e.g. a
    ``tables.write_bucketed(sym, ..., ["dst"], npart)`` table): the
    kernel skips its symmetrize + repartition pass and the stationary
    edge side of every superstep join reuses the bucket layout with no
    exchange.
    """
    check_strategy(strategy, "connected_components")
    spark = edges.sparkSession
    npart = int(spark.conf.get("spark.sql.shuffle.partitions"))

    # partitioned on dst once: the per-superstep gather joins on sym.dst,
    # so the edge side never moves; the auto-switch vertex count reads
    # this same cache (no second symmetrize pass)
    sym = edges.select("src", "dst")
    if not pre_partitioned:
        sym = (
            sym.union(
                edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            )
            .where(F.col("src") != F.col("dst"))
            .dropDuplicates(["src", "dst"])
            .repartition(npart, "dst")
        )
    else:
        from motive_spark.kernels.guards import check_pre_partitioned

        check_pre_partitioned(sym, npart, "connected_components")
    sym = sym.cache()
    verts = sym.select(F.col("src").alias("id")).distinct()
    if strategy == "auto":
        n = verts.count()
        strategy = "broadcast" if n <= BROADCAST_MAX_VERTICES else "csr"

    def labels_side(df):
        """The moving |V|-row side of each per-superstep join."""
        return F.broadcast(df) if strategy == "broadcast" else df.hint("shuffle_hash")

    csr = None
    if strategy == "csr":
        # salted CSR blocks of the SYMMETRIC adjacency, hash(src)
        # partitioned: the label ⋈ csr join is exchange-free (labels leave
        # each superstep's min-aggregation hash(id)-partitioned), and the
        # self-label union folds reinstatement into the same single
        # aggregation — one exchange per superstep (pagerank.py pattern)
        from motive_spark.graph.csr import build_csr

        csr = build_csr(sym, n_blocks=npart, partition_by="src").cache()
        csr.count()

    ckpt = CheckpointManager(spark, checkpoint_dir)

    def step(labels: DataFrame) -> DataFrame:
        # the saved state also carries the previous label as `old`
        labels = labels.select("id", "component")
        # neighbor-min: min label over {self} ∪ N(v)
        # the label side moves — the edge table never does (100-TB side)
        if strategy == "csr":
            cand = csr.join(
                labels.hint("shuffle_hash"), on=[labels.id == csr.src]
            ).select(F.explode("dst_list").alias("id"), "component")
            new_labels = (
                cand.unionByName(labels)
                .groupBy("id")
                .agg(F.min("component").alias("component"))
            )
        else:
            nbr_min = (
                sym.join(labels_side(labels), on=[sym.dst == labels.id])
                .groupBy(F.col("src").alias("id"))
                .agg(F.min("component").alias("nbr_component"))
            )
            # the previous label rides along as `old` from here on, so
            # the convergence check needs no extra join at all (the
            # least-merge already reads it)
            new_labels = (
                labels.join(nbr_min, on="id", how="left")
                .select(
                    "id",
                    F.least(
                        F.col("component"),
                        F.coalesce("nbr_component", F.col("component")),
                    ).alias("component"),
                    F.col("component").alias("old"),
                )
            )
        if big_star:
            # pointer-jumping shortcut: label(v) <- label(label(v)) —
            # collapses label chains exponentially, so rounds ~ O(log
            # diameter) instead of O(diameter).  Cache first: the jump is a
            # self-join and must not recompute the neighbor-min pass twice.
            new_labels = ckpt.cache(new_labels)
            carry_old = (
                [F.col("l.old").alias("old")]
                if strategy != "csr"
                else []
            )
            new_labels = (
                new_labels.alias("l")
                .join(
                    labels_side(
                        new_labels.select(
                            F.col("id").alias("rep"), F.col("component").alias("rep_c")
                        )
                    ).alias("r"),
                    F.col("l.component") == F.col("r.rep"),
                    "left",
                )
                .select(
                    F.col("l.id").alias("id"),
                    F.least(
                        F.col("l.component"),
                        F.coalesce(F.col("r.rep_c"), F.col("l.component")),
                    ).alias("component"),
                    *carry_old,
                )
            )
        if strategy == "csr":
            # csr's single aggregation loses which input row was the
            # self label — attach the previous label with one join (the
            # convergence check then reads the same cached pass)
            new_labels = new_labels.join(
                labels_side(
                    labels.select("id", F.col("component").alias("old"))
                ),
                on="id",
            )
        return new_labels

    def changed(new: DataFrame, _old: DataFrame) -> int:
        return new.where(F.col("component") != F.col("old")).count()

    labels = ckpt.run(
        verts.select("id", F.col("id").alias("component")),
        step,
        fixed_iters if fixed_iters is not None else max_iter,
        resume=resume,
        # stop once no label changed (fixed_iters: no probe at all)
        probe=changed if fixed_iters is None else None,
        tol=1,
    )
    sym.unpersist()
    if csr is not None:
        csr.unpersist()
    return labels.select("id", "component")
