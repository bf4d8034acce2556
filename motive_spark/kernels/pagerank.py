"""PageRank as repeated sparse gather-scatter joins (north_rule kernel).

Semantics: standard damped power iteration with uniform teleport and
dangling-mass redistribution:

    r'(v) = (1-d)/n + d * ( sum_{u->v} r(u)/outdeg(u)  +  dangling/n )

where dangling = sum of r(u) over vertices with outdeg 0.  This matches
networkx.pagerank's per-iteration update, so per-vertex scores converge
allclose(1e-6) against the reference power iteration (BASELINE.json).

Two physical strategies, chosen by |V| (``strategy="auto"``; any other
value than ``auto``/``broadcast``/``csr`` raises ValueError).  The same
switch serves connected_components and label_propagation:

* ``broadcast`` (|V| <= BROADCAST_MAX_VERTICES): ranks broadcast against
  the stationary edge table — zero edge movement, one hash-relation
  build per superstep.  The explicit hint matters: without it Spark
  happily broadcasts a small-SF *edge* table instead, rebuilding a
  multi-million-entry hash relation every superstep (measured 5x slower
  at sf0.1).
* ``csr`` (above it): the salted CSR block layout (graph.csr), hash(src)
  partitioned, ONE superstep exchange total.  The rank ⋈ csr join is
  exchange-free (ranks leave the previous superstep's aggregation
  already hash(id)-partitioned, and localCheckpoint preserves output
  partitioning, so the shuffle-hash join reuses both partitionings);
  totality is restored by unioning a cached zero-contribution row per
  vertex INTO the same aggregation instead of a reinstatement join.
  Per superstep: 1 shuffle (the contribution sum), ~|V| probe rows
  instead of |E| join rows, and per-row neighbor arrays bounded by
  salt_chunk for hubs.  It measured 2.8x faster supersteps than a
  shuffle-hash plan over a stationary edge table and 1.8x faster than
  a 2-D block-aligned gather (BENCH/BASELINE.md).

The weighted and personalized variants keep the shuffle-hash
``copartition`` plan above the threshold.

Every loop here runs on ``CheckpointManager.run``: per-superstep lineage
truncation (Parquet when a checkpoint dir is given — resumable
mid-iteration per north_rule — else localCheckpoint), release of
superseded state, and the shared L1 convergence probe ``l1_delta``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from motive_spark.checkpoint import CheckpointManager

# above this vertex count, broadcasting the rank table each superstep is
# slower than shuffling it (hash-relation build is single-threaded)
BROADCAST_MAX_VERTICES = 2_000_000


def check_strategy(strategy: str, kernel: str) -> None:
    """pagerank, connected_components and label_propagation have exactly
    the two plans ``auto`` chooses between."""
    if strategy not in ("auto", "broadcast", "csr"):
        raise ValueError(
            f"{kernel}: strategy must be 'auto', 'broadcast' or 'csr', "
            f"got {strategy!r}"
        )


def l1_delta(new: DataFrame, old: DataFrame) -> float:
    """Convergence probe of the PageRank family: sum of |rank - old rank|."""
    return (
        new.select("id", "rank")
        .join(old.select("id", F.col("rank").alias("old")), on="id")
        .agg(F.sum(F.abs(F.col("rank") - F.col("old"))).alias("d"))
        .collect()[0][0]
    )


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    max_iter: int = 20,
    tol: float | None = 1e-6,
    checkpoint_dir: str | None = None,
    resume: bool = False,
    strategy: str = "auto",
    counters_out: list | None = None,
    init_ranks: DataFrame | None = None,
    pre_partitioned: bool = False,
    plans_out: list | None = None,
) -> DataFrame:
    """Returns (id, rank). ``tol=None`` runs exactly ``max_iter`` supersteps
    (fixed-iteration mode used by the DuckDB oracle); otherwise stops when
    the L1 delta drops below ``tol``.

    ``pre_partitioned=True`` declares that ``edges`` is ALREADY
    hash-distributed on ``src`` — e.g. a table written with
    ``tables.write_bucketed(..., ["src"], n_buckets)`` where n_buckets
    equals ``spark.sql.shuffle.partitions`` — so the kernel skips its
    own ``repartition(npart, "src")`` and trusts the layout: the
    stationary edge side then never exchanges on src, end to end (the
    bucket scan feeds the edge cache and the CSR build directly; only
    the |V|-row rank table and the contribution aggregation move).
    Repeated kernel runs over the same 100-TB bucketed table skip the
    partitioning pass every time.  ``plans_out`` (a list) receives the
    first superstep's executed-plan string for plan tests.

    ``init_ranks`` ((id, rank)) warm-starts the iteration — e.g. the
    previous converged state when the edge table has been appended to by
    the streaming ingest: vertices missing from it take the uniform
    prior and the vector is renormalized to sum 1, so a small edge delta
    converges in far fewer supersteps than a cold start (pinned by
    test_streaming's incremental test).
    """
    check_strategy(strategy, "pagerank")
    spark = edges.sparkSession
    npart = int(spark.conf.get("spark.sql.shuffle.partitions"))

    e = edges.select("src", "dst")
    if not pre_partitioned:
        e = e.repartition(npart, "src")
    else:
        from motive_spark.kernels.guards import check_pre_partitioned

        # pagerank consumes the DIRECTED edge table: dedup + bucketing
        # are the contract, symmetry is not
        check_pre_partitioned(e, npart, "pagerank", require_symmetric=False)
    e = e.cache()
    verts = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    outdeg = e.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("out_deg"))
    base = (
        verts.join(outdeg, on="id", how="left")
        .select("id", F.coalesce("out_deg", F.lit(0)).alias("out_deg"))
        .cache()
    )
    n = base.count()
    if n == 0:
        e.unpersist()
        base.unpersist()
        return spark.createDataFrame([], "id long, rank double")
    has_dangling = base.where(F.col("out_deg") == 0).limit(1).count() > 0
    if strategy == "auto":
        strategy = "broadcast" if n <= BROADCAST_MAX_VERTICES else "csr"

    csr = zeros = dang_ids = None
    if strategy == "csr":
        from motive_spark.graph.csr import build_csr

        csr = build_csr(e, n_blocks=npart, partition_by="src").cache()
        csr.count()
        zeros = base.select(
            F.col("id").alias("vid"), F.lit(0.0).alias("w")
        ).cache()
        zeros.count()
        if has_dangling:
            dang_ids = (
                base.where(F.col("out_deg") == 0)
                .select("id")
                .repartition(npart, "id")
                .cache()
            )
            dang_ids.count()

    ckpt = CheckpointManager(spark, checkpoint_dir)
    ranks = base.select("id", (F.lit(1.0) / F.lit(float(n))).alias("rank"))
    if init_ranks is not None:
        warm = base.select("id").join(
            init_ranks.select("id", F.col("rank").alias("_wr")),
            on="id",
            how="left",
        ).select(
            "id", F.coalesce("_wr", F.lit(1.0 / float(n))).alias("rank")
        )
        total = warm.agg(F.sum("rank")).collect()[0][0] or 1.0
        ranks = warm.select(
            "id", (F.col("rank") / F.lit(float(total))).alias("rank")
        )

    def step(ranks: DataFrame) -> DataFrame:
        carry: list[str] = []
        if strategy == "broadcast":
            # the iterated state carries the stationary out_deg column so
            # no superstep re-joins the base table (guide §2.4); the
            # initial state, and a resumed checkpoint written by the
            # (id, rank)-only layout, attach it once
            if "out_deg" not in ranks.columns:
                ranks = ranks.join(base, on="id").select("id", "out_deg", "rank")
            sender = F.broadcast(ranks.where(F.col("out_deg") > 0))
            contribs = (
                sender.join(e, on=[ranks.id == e.src])
                .groupBy(F.col("dst").alias("vid"))
                .agg(F.sum(F.col("rank") / F.col("out_deg")).alias("recv"))
            )
            dang = ranks.where(F.col("out_deg") == 0).agg(
                F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dang")
            )
            # vertex universe comes from the state itself (same rows as
            # base) and out_deg rides along into the next superstep
            carry = ["out_deg"]
            new_ranks = ranks.select("id", "out_deg").join(
                contribs.hint("shuffle_hash"),
                on=[ranks.id == contribs.vid],
                how="left",
            ).select("id", "out_deg", "recv")
        else:  # csr — single-exchange superstep
            contrib = csr.join(
                ranks.hint("shuffle_hash"), on=[ranks.id == csr.src]
            ).select(
                (F.col("rank") / F.col("out_deg")).alias("w"),
                F.explode("dst_list").alias("vid"),
            )
            # zeros make the aggregation total over all vertices
            new_ranks = (
                contrib.unionByName(zeros.select("w", "vid"))
                .groupBy("vid")
                .agg(F.sum("w").alias("recv"))
                .select(F.col("vid").alias("id"), "recv")
            )
            if has_dangling:
                dang = ranks.join(dang_ids.hint("shuffle_hash"), on="id").agg(
                    F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dang")
                )
        rank = F.lit((1.0 - damping) / n) + F.lit(damping) * F.coalesce(
            F.col("recv"), F.lit(0.0)
        )
        if has_dangling:
            new_ranks = new_ranks.crossJoin(F.broadcast(dang))
            rank = rank + F.lit(damping) * F.col("dang") / F.lit(float(n))
        new_ranks = new_ranks.select("id", *carry, rank.alias("rank"))
        if plans_out is not None and not ckpt.counters:
            plans_out.append(
                new_ranks._jdf.queryExecution().executedPlan().toString()
            )
        return new_ranks

    ranks = ckpt.run(
        ranks, step, max_iter, resume=resume,
        probe=l1_delta if tol is not None else None, tol=tol,
    )
    # final state is materialized; release inputs — any recompute falls
    # back to the source scan, still correct.
    for cached in (e, base, csr, zeros, dang_ids):
        if cached is not None:
            cached.unpersist()
    if counters_out is not None:
        counters_out.extend(ckpt.counters)
    return ranks.select("id", "rank")


def weighted_pagerank(
    edges: DataFrame,
    weight_col: str = "mult",
    damping: float = 0.85,
    max_iter: int = 10,
    tol: float | None = None,
    strategy: str = "auto",
) -> DataFrame:
    """PageRank over a WEIGHTED edge table: each vertex splits its rank
    over out-edges proportionally to the edge weight (the multiplicity
    side channel P1 produces is the natural weight — a pair that
    co-occurs in 10 orders carries 10x the endorsement of a one-off):

        rank'(v) = (1-d)/n + d * sum_{u->v} rank(u) * w(u,v) / W_out(u)
                   + d * dangling / n

    Broadcast-rank superstep, stationary cached (src, dst, w, w_out)
    edge table, per-superstep lineage truncation.  Returns (id, rank)
    summing to 1."""
    spark = edges.sparkSession
    npart = int(spark.conf.get("spark.sql.shuffle.partitions"))

    e0 = edges.select(
        "src", "dst", F.col(weight_col).cast("double").alias("w")
    ).where(F.col("src") != F.col("dst"))
    wout = e0.groupBy(F.col("src").alias("id")).agg(F.sum("w").alias("w_out"))
    ew = (
        e0.join(wout.withColumnRenamed("id", "src"), on="src")
        .select("src", "dst", "w", "w_out")
        .repartition(npart, "src")
        .cache()
    )
    verts = (
        e0.select(F.col("src").alias("id"))
        .union(e0.select(F.col("dst").alias("id")))
        .distinct()
    )
    base = (
        verts.join(wout, on="id", how="left")
        .select("id", F.coalesce("w_out", F.lit(0.0)).alias("w_out"))
        .cache()
    )
    n = base.count()
    if n == 0:
        ew.unpersist()
        base.unpersist()
        return spark.createDataFrame([], "id long, rank double")
    if strategy == "auto":
        # a 10^9-row rank table must never broadcast: co-partition the
        # rank side against the stationary hash(src)-partitioned edges
        strategy = "broadcast" if n <= BROADCAST_MAX_VERTICES else "copartition"

    # the iterated state carries the stationary w_out column so no
    # superstep re-joins base (guide §2.4); the sender stays a narrow
    # (id, rank) projection because the edge table carries its own
    # w_out copy for the contribution expression.
    def step(state: DataFrame) -> DataFrame:
        ranks = state.select("id", "rank")
        sender = (
            F.broadcast(ranks)
            if strategy == "broadcast"
            else ranks.hint("shuffle_hash")
        )
        contribs = (
            ew.join(sender, on=[ranks.id == ew.src])
            .groupBy(F.col("dst").alias("vid"))
            .agg(F.sum(F.col("rank") * F.col("w") / F.col("w_out")).alias("recv"))
        )
        dang = state.where(F.col("w_out") == 0).agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dang")
        )
        return (
            state.select("id", "w_out")
            .join(
                contribs.hint("shuffle_hash"),
                on=[state.id == contribs.vid],
                how="left",
            )
            .crossJoin(F.broadcast(dang))
            .select(
                "id",
                "w_out",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping) * F.coalesce(F.col("recv"), F.lit(0.0))
                    + F.lit(damping) * F.col("dang") / F.lit(float(n))
                ).alias("rank"),
            )
        )

    state = CheckpointManager(spark, None).run(
        base.select("id", "w_out", (F.lit(1.0) / n).alias("rank")),
        step, max_iter, probe=l1_delta if tol is not None else None, tol=tol,
    )
    ew.unpersist()
    base.unpersist()
    return state.select("id", "rank")


def personalized_pagerank(
    edges: DataFrame,
    seeds: list[int],
    damping: float = 0.85,
    max_iter: int = 10,
    tol: float | None = None,
    strategy: str = "auto",
) -> DataFrame:
    """Personalized PageRank: restart mass (and dangling mass) teleports
    uniformly to ``seeds`` instead of all vertices —

        rank'(v) = (1-d)*s(v) + d*sum_{u->v} rank(u)/outdeg(u)
                   + d*dangling*s(v),   s(v) = 1/|seeds| on seeds else 0.

    Same physical shape as the broadcast PageRank strategy: stationary
    cached edge table, broadcast rank vector, per-superstep lineage
    truncation.  Returns (id, rank) summing to 1.

    Seeds absent from the graph are ignored and the restart vector is
    renormalized over the seeds actually PRESENT (s = 1/|seeds ∩ V|), so
    the returned ranks always sum to 1; an empty seed list, or a seed
    list fully disjoint from the graph, raises ValueError."""
    if not seeds:
        raise ValueError(
            "personalized_pagerank requires at least one seed vertex"
        )
    spark = edges.sparkSession
    npart = int(spark.conf.get("spark.sql.shuffle.partitions"))

    e = edges.select("src", "dst").repartition(npart, "src").cache()
    verts = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    outdeg = e.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("out_deg")
    )
    present = (
        spark.createDataFrame(
            [(int(s),) for s in sorted(set(seeds))], "id long"
        )
        .join(verts, on="id", how="leftsemi")
        .cache()
    )
    n_present = present.count()
    if n_present == 0:
        if verts.limit(1).count() == 0:
            e.unpersist()
            present.unpersist()
            return spark.createDataFrame([], "id long, rank double")
        raise ValueError(
            "personalized_pagerank: no seed vertex appears in the graph"
        )
    seed_df = present.withColumn("s", F.lit(1.0 / n_present))
    base = (
        verts.join(outdeg, on="id", how="left")
        .join(F.broadcast(seed_df), on="id", how="left")
        .select(
            "id",
            F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
            F.coalesce("s", F.lit(0.0)).alias("s"),
        )
        .cache()
    )
    n = base.count()
    if strategy == "auto":
        # same discipline as pagerank: the rank side broadcasts only
        # below the threshold, else it co-partitions (shuffle-hash) —
        # never a |V|-row broadcast at scale
        strategy = "broadcast" if n <= BROADCAST_MAX_VERTICES else "copartition"

    # the iterated state carries the stationary (out_deg, s) columns so
    # no superstep re-joins the base table (guide §2.4)
    def step(state: DataFrame) -> DataFrame:
        live = state.where(F.col("out_deg") > 0)
        sender = (
            F.broadcast(live)
            if strategy == "broadcast"
            else live.hint("shuffle_hash")
        )
        contribs = (
            sender.join(e, on=[state.id == e.src])
            .groupBy(F.col("dst").alias("vid"))
            .agg(F.sum(F.col("rank") / F.col("out_deg")).alias("recv"))
        )
        dang = state.where(F.col("out_deg") == 0).agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dang")
        )
        return (
            state.select("id", "out_deg", "s")
            .join(
                contribs.hint("shuffle_hash"),
                on=[state.id == contribs.vid],
                how="left",
            )
            .crossJoin(F.broadcast(dang))
            .select(
                "id",
                "out_deg",
                "s",
                (
                    F.lit(1.0 - damping) * F.col("s")
                    + F.lit(damping) * F.coalesce(F.col("recv"), F.lit(0.0))
                    + F.lit(damping) * F.col("dang") * F.col("s")
                ).alias("rank"),
            )
        )

    state = CheckpointManager(spark, None).run(
        base.select("id", "out_deg", "s", F.col("s").alias("rank")),
        step, max_iter, probe=l1_delta if tol is not None else None, tol=tol,
    )
    e.unpersist()
    base.unpersist()
    present.unpersist()
    return state.select("id", "rank")


def grouped_pagerank(
    edges: DataFrame,
    group_col: str = "g",
    damping: float = 0.85,
    max_iter: int = 10,
) -> DataFrame:
    """Independent PageRanks for MANY graphs in ONE iteration loop:
    every vertex key is (group, id) and the per-graph scalars — vertex
    count, dangling mass, teleport — become per-group columns, so a
    thousand daily snapshot graphs (or per-language subgraphs) converge
    together in ``max_iter`` supersteps TOTAL instead of one kernel
    launch each.  The group rides every shuffle key; ranks within a
    group sum to 1 exactly as in the single-graph kernel (same damped
    update with per-group dangling redistribution).

    Fixed-iteration only (the grouped analogue of ``tol=None``), which
    keeps it oracle-replayable.  Returns (group, id, rank).
    """
    spark = edges.sparkSession
    npart = int(spark.conf.get("spark.sql.shuffle.partitions"))

    e = (
        edges.select(F.col(group_col).alias("g"), "src", "dst")
        .repartition(npart, "g", "src")
        .cache()
    )
    verts = (
        e.select("g", F.col("src").alias("id"))
        .union(e.select("g", F.col("dst").alias("id")))
        .distinct()
    )
    outdeg = e.groupBy("g", F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("out_deg")
    )
    base = (
        verts.join(outdeg, ["g", "id"], "left")
        .select("g", "id", F.coalesce("out_deg", F.lit(0)).alias("out_deg"))
        .repartition(npart, "g", "id")
        .cache()
    )
    ngt = base.groupBy("g").agg(F.count(F.lit(1)).alias("n")).cache()
    # stationary weighted edge side (copartition shape)
    ew = (
        e.join(
            outdeg.select(
                "g", F.col("id").alias("src"), "out_deg"
            ),
            ["g", "src"],
        )
        .repartition(npart, "g", "src")
        .cache()
    )
    ew.count()

    d = float(damping)
    # the iterated state carries the stationary per-vertex out_deg and
    # per-group n columns, so no superstep re-joins base or ngt (guide
    # §2.4)
    def step(state: DataFrame) -> DataFrame:
        rside = state.select(
            F.col("g").alias("_rg"),
            F.col("id").alias("_rid"),
            F.col("rank").alias("_rr"),
        )
        contribs = (
            ew.join(
                rside.hint("shuffle_hash"),
                (F.col("g") == F.col("_rg")) & (F.col("src") == F.col("_rid")),
            )
            .groupBy("g", F.col("dst").alias("id"))
            .agg(F.sum(F.col("_rr") / F.col("out_deg")).alias("recv"))
        )
        dang = (
            state.where(F.col("out_deg") == 0)
            .groupBy("g")
            .agg(F.sum("rank").alias("dang"))
        )
        return (
            state.select("g", "id", "out_deg", "n")
            .join(contribs, ["g", "id"], "left")
            .join(dang, "g", "left")
            .select(
                "g",
                "id",
                "out_deg",
                "n",
                (
                    F.lit(1.0 - d) / F.col("n")
                    + F.lit(d) * F.coalesce("recv", F.lit(0.0))
                    + F.lit(d)
                    * F.coalesce("dang", F.lit(0.0))
                    / F.col("n")
                ).alias("rank"),
            )
            .repartition(npart, "g", "id")
        )

    ckpt = CheckpointManager(spark, None)
    # the first superstep reads the initial state three times
    state = ckpt.cache(
        base.join(ngt, "g")
        .select(
            "g", "id", "out_deg", "n", (F.lit(1.0) / F.col("n")).alias("rank")
        )
        .repartition(npart, "g", "id")
    )
    state = ckpt.run(state, step, max_iter)
    e.unpersist()
    base.unpersist()
    ngt.unpersist()
    ew.unpersist()
    return state.select(F.col("g").alias(group_col), "id", "rank")
