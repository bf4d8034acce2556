"""Synchronous label propagation (north_rule kernel).

Each vertex starts labeled with its own id; every superstep it adopts
its neighbors' most frequent label, ties broken by smallest label —
fully deterministic, so a fixed-round run is exactly reproducible (and
ANSI-SQL expressible for the DuckDB oracle).

Gather-scatter shape identical to PageRank: labels ⋈ edges on one side,
groupBy the other, argmax via a single struct-max aggregation (no window
over a big partition).  Edge table partitioned once and cached; labels
are the only per-round shuffle.  The loop is ``CheckpointManager.run``
(Parquet checkpoint or localCheckpoint per superstep, resume).

``label_propagation`` has the pagerank.py switch (``strategy="auto"``;
any other value than ``auto``/``broadcast``/``csr`` raises ValueError):
the label side is BROADCAST only below BROADCAST_MAX_VERTICES — above
that the ``csr`` plan gathers labels over salted CSR blocks, so no
per-superstep giant hash-relation build.  ``seeded_label_propagation``
keeps a shuffle-hash ``copartition`` plan above the threshold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from motive_spark.checkpoint import CheckpointManager
from motive_spark.kernels.pagerank import BROADCAST_MAX_VERTICES, check_strategy


def label_propagation(
    edges: DataFrame,
    iters: int = 5,
    checkpoint_dir: str | None = None,
    resume: bool = False,
    strategy: str = "auto",
    pre_partitioned: bool = False,
) -> DataFrame:
    """Returns (id, label) after exactly ``iters`` synchronous rounds.

    ``edges`` is treated as undirected.  ``pre_partitioned=True``
    declares ``edges`` is ALREADY symmetrized, self-loop-free, deduped,
    and hash-distributed on ``dst`` (a bucketed table) — the symmetrize
    + repartition pass is skipped and the stationary edge side of each
    superstep join reuses the bucket layout exchange-free
    (components.py contract).
    """
    check_strategy(strategy, "label_propagation")
    spark = edges.sparkSession
    npart = int(spark.conf.get("spark.sql.shuffle.partitions"))

    # partitioned on dst once (the gather key); the auto-switch vertex
    # count reads this same cache — no second symmetrize pass
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

        check_pre_partitioned(sym, npart, "label_propagation")
    sym = sym.cache()
    verts = sym.select(F.col("src").alias("id")).distinct()
    if strategy == "auto":
        n = verts.count()
        strategy = "broadcast" if n <= BROADCAST_MAX_VERTICES else "csr"

    csr = None
    if strategy == "csr":
        # salted CSR blocks of the symmetric adjacency (pagerank.py
        # pattern): exchange-free label ⋈ csr join; two exchanges per
        # superstep (vote count by (id, label), then argmax by id)
        from motive_spark.graph.csr import build_csr

        csr = build_csr(sym, n_blocks=npart, partition_by="src").cache()
        csr.count()

    def step(labels: DataFrame) -> DataFrame:
        # the label side moves — the edge table never does (100-TB side)
        if strategy == "csr":
            votes = (
                csr.join(labels.hint("shuffle_hash"), on=[labels.id == csr.src])
                .select(F.explode("dst_list").alias("id"), "label")
                .groupBy("id", "label")
                .agg(F.count(F.lit(1)).alias("cnt"))
            )
        else:
            votes = (
                sym.join(F.broadcast(labels), on=[sym.dst == labels.id])
                .groupBy(F.col("src").alias("id"), "label")
                .agg(F.count(F.lit(1)).alias("cnt"))
            )
        # argmax by (cnt desc, label asc): max of struct(cnt, -label)
        new_labels = (
            votes.groupBy("id")
            .agg(F.max(F.struct(F.col("cnt"), (-F.col("label")).alias("neg"))).alias("top"))
            .select("id", (-F.col("top.neg")).alias("label"))
        )
        # isolated vertices (none in a sym graph, but keep semantics
        # total).  The id universe comes from the materialized state —
        # identical to verts by construction — so no superstep recomputes
        # the verts distinct or pays a second join (guide §2.4)
        return (
            labels.select("id", F.col("label").alias("old"))
            .join(new_labels, on="id", how="left")
            .select("id", F.coalesce("label", "old").alias("label"))
            .repartition(npart, "id")
        )

    labels = CheckpointManager(spark, checkpoint_dir).run(
        verts.select("id", F.col("id").alias("label")), step, iters, resume=resume
    )
    sym.unpersist()
    if csr is not None:
        csr.unpersist()
    return labels.select("id", "label")


def seeded_label_propagation(
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = 4,
    strategy: str = "auto",
) -> DataFrame:
    """Semi-supervised label propagation: ``seeds`` ((id, label)) are
    CLAMPED — they never change — and unlabeled vertices take the
    most frequent label among labeled neighbors each synchronous round
    (ties to the smallest label; vertices no labeled vertex has reached
    yet stay NULL).  Returns (id, label) after exactly ``iters`` rounds.

    Same physical shape as label_propagation's broadcast plan, with a
    shuffle-hash ``copartition`` plan above BROADCAST_MAX_VERTICES:
    stationary symmetric edge cache, moving label table, lineage
    truncation per round.
    """
    spark = edges.sparkSession
    npart = int(spark.conf.get("spark.sql.shuffle.partitions"))

    sym = (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .where(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
        .repartition(npart, "dst")
        .cache()
    )
    verts = sym.select(F.col("src").alias("id")).distinct()
    if strategy == "auto":
        n = verts.count()
        strategy = "broadcast" if n <= BROADCAST_MAX_VERTICES else "copartition"

    def _side(df):
        return F.broadcast(df) if strategy == "broadcast" else df.hint("shuffle_hash")

    seed_tab = seeds.select(
        "id", F.col("label").cast("long").alias("seed_label")
    ).cache()

    # the iterated state carries the stationary clamp column, so no
    # round re-joins seed_tab or recomputes the verts distinct (guide
    # §2.4)
    def step(state: DataFrame) -> DataFrame:
        lab = state.where(F.col("label").isNotNull()).select(
            F.col("id").alias("nbr"), "label"
        )
        votes = (
            sym.join(_side(lab), on=[lab.nbr == sym.dst])
            .groupBy(F.col("src").alias("id"), "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        winner = (
            votes.groupBy("id")
            .agg(
                F.min(
                    F.struct((-F.col("cnt")).alias("nc"), F.col("label"))
                ).alias("b")
            )
            .select("id", F.col("b.label").alias("win"))
        )
        return (
            state.select(
                "id", "seed_label", F.col("label").alias("old")
            )
            .join(winner, on="id", how="left")
            .select(
                "id",
                "seed_label",
                F.coalesce("seed_label", "win", "old").alias("label"),
            )
        )

    state = CheckpointManager(spark, None).run(
        verts.join(seed_tab, on="id", how="left").select(
            "id", "seed_label", F.col("seed_label").alias("label")
        ),
        step,
        iters,
    )
    sym.unpersist()
    seed_tab.unpersist()
    return state.select("id", "label")
