"""CSR block layout + experiment sinks + checkpoint resume."""

import json
import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import edges_df
from tests.test_kernels import FIXTURE_TRI_HUB, random_pairs


def test_csr_roundtrip_and_salting(spark):
    from motive_spark.graph.csr import build_csr, csr_to_edges, degrees_from_csr

    pairs = random_pairs(50, 400, seed=8)
    edges = edges_df(spark, pairs)
    csr = build_csr(edges, salt_chunk=5)  # tiny chunk → forced salting
    back = {(r.src, r.dst) for r in csr_to_edges(csr).collect()}
    assert back == set(pairs)
    # hubs split into multiple salt rows of at most salt_chunk neighbors
    max_salt = csr.agg(F.max("salt")).collect()[0][0]
    assert max_salt >= 1
    assert csr.agg(F.max("deg_part")).collect()[0][0] <= 5
    # every multi-salt src must carry its TOTAL degree in out_deg
    tot = {r.src: r.out_deg for r in csr.collect()}
    want_deg = {}
    for a, _ in pairs:
        want_deg[a] = want_deg.get(a, 0) + 1
    assert tot == want_deg
    # two-phase degrees equal plain degrees
    want = {}
    for a, _ in pairs:
        want[a] = want.get(a, 0) + 1
    got = {r.id: r.out_deg for r in degrees_from_csr(csr).collect()}
    assert got == want


def test_csr_gather_sum_matches_join(spark):
    from motive_spark.graph.csr import build_csr, gather_sum

    pairs = random_pairs(40, 200, seed=12)
    edges = edges_df(spark, pairs)
    vals = spark.createDataFrame(
        [(v, float(v % 7 + 1)) for v in range(40)], "id long, value double"
    )
    got = {
        r.id: r.gathered
        for r in gather_sum(build_csr(edges, salt_chunk=3), vals).collect()
    }
    want = {}
    val = {v: float(v % 7 + 1) for v in range(40)}
    for a, b in pairs:
        want[b] = want.get(b, 0.0) + val[a]
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9


def test_fast_experiment_sinks(spark, tmp_path):
    from motive_spark.experiment import fast_experiment

    edges = edges_df(spark, FIXTURE_TRI_HUB)
    out = str(tmp_path / "exp")
    meta = fast_experiment(
        edges,
        out,
        samples=400,
        min_size=3,
        max_size=3,
        directed=False,
        search_depth=2,
        name="fixture",
    )
    assert meta["n_motifs_scored"] >= 1
    files = os.listdir(out)
    assert "numbers.csv" in files and "motifs.csv" in files
    assert "metadata.json" in files
    assert any(f.startswith("occurrences.") for f in files)
    with open(os.path.join(out, "metadata.json")) as f:
        md = json.load(f)
    assert md["directed"] is False and md["name"] == "fixture"
    import pandas as pd

    numbers = pd.read_csv(os.path.join(out, "numbers.csv"))
    assert {"canon", "k", "frequency", "factor_er", "factor_el"} <= set(numbers.columns)
    # sorted by factor_el desc (CompareLarge co-sort)
    assert list(numbers["factor_el"]) == sorted(numbers["factor_el"], reverse=True)
    # occurrence sink contents: the rank-0 motif's file carries exactly its
    # selected occurrences (partitioned executor-side write, stitched)
    top_canon, top_k = int(numbers["canon"][0]), int(numbers["k"][0])
    with open(os.path.join(out, "occurrences.000.csv")) as f:
        got_lines = sorted(l.strip() for l in f if l.strip())
    from motive_spark.motifs import MotifExtractor

    ex = MotifExtractor(
        edges, samples=400, min_size=3, max_size=3, min_freq=2,
        seed=42, directed=False,
    )
    want = sorted(
        ",".join(str(int(v)) for v in r["vertices"])
        for r in ex.occurrences().collect()
        if int(r["canon"]) == top_canon and int(r["k"]) == top_k
    )
    assert got_lines == want and len(want) >= 2


def test_checkpoint_resume_exact(spark, tmp_path):
    """North-rule resume: kill after 3 supersteps, resume to 8 — must be
    bit-identical to a straight 8-superstep run."""
    from motive_spark.kernels import pagerank

    pairs = random_pairs(50, 300, seed=17)
    edges = edges_df(spark, pairs)
    d = str(tmp_path / "ck")
    pagerank(edges, max_iter=3, tol=None, checkpoint_dir=d)
    resumed = pagerank(edges, max_iter=8, tol=None, checkpoint_dir=d, resume=True)
    # the plan auto takes with a checkpoint dir; without one, auto would
    # take the local regime, whose float sums run in another order
    straight = pagerank(edges, max_iter=8, tol=None, strategy="broadcast")
    a = {r.id: r.rank for r in resumed.collect()}
    b = {r.id: r.rank for r in straight.collect()}
    assert a == b
    # counters recorded per superstep
    with open(os.path.join(d, "counters.json")) as f:
        counters = json.load(f)
    assert [c["iteration"] for c in counters][-1] == 7
    assert all("superstep_sec" in c for c in counters)


def test_csr_superstep_join_is_exchange_free(spark):
    """The core perf property of the csr strategy, pinned at the plan
    level: a superstep's rank ⋈ csr shuffle-hash join has NO exchange on
    either live side (csr cached hash(src); ranks from a groupBy keep
    hash(id) through localCheckpoint), leaving ONE exchange — the
    contribution aggregation."""
    from pyspark.sql import functions as F

    from motive_spark.graph.csr import build_csr

    pairs = random_pairs(200, 1200, seed=33)
    edges = edges_df(spark, pairs)
    csr = build_csr(edges, partition_by="src").cache()
    csr.count()
    zeros = (
        edges.select(F.col("src").alias("vid"))
        .union(edges.select(F.col("dst").alias("vid")))
        .distinct()
        .select("vid", F.lit(0.0).alias("w"))
        .cache()
    )
    zeros.count()
    ranks = (
        zeros.groupBy(F.col("vid").alias("id"))
        .agg(F.lit(1.0).alias("rank"))
        .localCheckpoint(eager=True)
    )
    contrib = csr.join(ranks.hint("shuffle_hash"), on=[ranks.id == csr.src]).select(
        (F.col("rank") / F.col("out_deg")).alias("w"),
        F.explode("dst_list").alias("vid"),
    )
    step = (
        contrib.unionByName(zeros.select("w", "vid"))
        .groupBy("vid")
        .agg(F.sum("w").alias("recv"))
    )
    plan = step._jdf.queryExecution().executedPlan().toString()
    # live-side exchanges: exclude those buried inside cached relations
    live = plan.split("InMemoryRelation")[0]
    n_live_exchanges = live.count("Exchange ")
    assert n_live_exchanges == 1, plan
    assert "ShuffledHashJoin" in plan
    csr.unpersist()
    zeros.unpersist()


def test_bucketed_tables_join_without_exchange(spark, tmp_path):
    """Two tables bucketed on the join key by the same bucket count must
    join with ZERO live exchanges — the co-location contract a 100-TB
    pipeline relies on (bucket-pruned scan feeds SortMergeJoin/
    ShuffledHashJoin directly)."""
    from pyspark.sql import functions as F

    from motive_spark.tables import read_table, write_bucketed

    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    # force the join path a 100-TB table takes: a big table never
    # auto-broadcasts, so disable the small-table shortcut here
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    edges = edges_df(spark, random_pairs(100, 600, seed=44))
    degs = edges.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    write_bucketed(
        edges.withColumnRenamed("src", "id"), "bt_edges", ["id"], 8,
        sort_cols=["id"],
    )
    write_bucketed(degs, "bt_degs", ["id"], 8, sort_cols=["id"])
    try:
        joined = read_table(spark, "bt_edges").join(
            read_table(spark, "bt_degs"), on="id"
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan.split("InMemoryRelation")[0], plan
        # and the result is right
        want = {r.id: r.deg for r in degs.collect()}
        got = joined.select("id", "deg").collect()
        assert got and all(want[r.id] == r.deg for r in got)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql("DROP TABLE IF EXISTS bt_edges")
        spark.sql("DROP TABLE IF EXISTS bt_degs")


def test_pagerank_pre_partitioned_bucketed_no_src_exchange(spark, tmp_path):
    """A csr pagerank superstep over a bucketed edge table with
    pre_partitioned=True must never shuffle on src ANYWHERE (including
    inside the cached csr relation): the bucket layout replaces the
    kernel's repartition pass.  The default path over the same raw
    edges DOES shuffle on src — the comparative proof, plus rank
    equality."""
    from pyspark.sql import functions as F

    from motive_spark.kernels import pagerank
    from motive_spark.tables import read_table, write_bucketed

    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    npart = int(spark.conf.get("spark.sql.shuffle.partitions"))
    edges = edges_df(spark, random_pairs(300, 2000, seed=55))
    write_bucketed(edges, "bt_pr_edges", ["src"], npart)
    try:
        plans_b, plans_p = [], []
        got = {
            r.id: r.rank
            for r in pagerank(
                read_table(spark, "bt_pr_edges"),
                max_iter=3,
                tol=None,
                strategy="csr",
                pre_partitioned=True,
                plans_out=plans_b,
            ).collect()
        }
        want = {
            r.id: r.rank
            for r in pagerank(
                edges,
                max_iter=3,
                tol=None,
                strategy="csr",
                plans_out=plans_p,
            ).collect()
        }
        assert got.keys() == want.keys()
        assert all(abs(got[k] - want[k]) < 1e-12 for k in want)
        # bucketed + pre-partitioned: nothing in the whole superstep plan
        # (cached relations included) ever exchanges on src
        assert "hashpartitioning(src" not in plans_b[0], plans_b[0]
        # the bucket-aware scan actually fed the join
        assert "Bucketed: true" in plans_b[0]
        # the default path over raw edges does shuffle on src
        assert "hashpartitioning(src" in plans_p[0]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql("DROP TABLE IF EXISTS bt_pr_edges")


def test_cc_lp_pre_partitioned_bucketed_equivalence(spark):
    """connected_components / label_propagation accept a pre-symmetrized
    dst-bucketed table (pre_partitioned=True) and return the same
    result as the default path over raw edges."""
    from pyspark.sql import functions as F

    from motive_spark.kernels import connected_components, label_propagation
    from motive_spark.tables import read_table, write_bucketed

    npart = int(spark.conf.get("spark.sql.shuffle.partitions"))
    edges = edges_df(spark, random_pairs(150, 500, seed=66) + [(900, 901)])
    sym = (
        edges.union(edges.selectExpr("dst as src", "src as dst"))
        .where(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )
    write_bucketed(sym, "bt_sym_edges", ["dst"], npart)
    try:
        bt = read_table(spark, "bt_sym_edges")
        cc_b = {
            r.id: r.component
            for r in connected_components(bt, pre_partitioned=True).collect()
        }
        cc_p = {r.id: r.component for r in connected_components(edges).collect()}
        assert cc_b == cc_p
        lp_b = {
            r.id: r.label
            for r in label_propagation(bt, iters=3, pre_partitioned=True).collect()
        }
        lp_p = {r.id: r.label for r in label_propagation(edges, iters=3).collect()}
        assert lp_b == lp_p
    finally:
        spark.sql("DROP TABLE IF EXISTS bt_sym_edges")


def test_checkpoint_resume_from_old_rank_only_layout(spark, tmp_path):
    """r6 batch: the broadcast-path state now carries out_deg in its
    checkpoints.  A directory written by the old (id, rank)-only layout
    must still resume bit-identically — the loop re-attaches out_deg
    once before iterating."""
    from motive_spark.kernels import pagerank

    pairs = random_pairs(50, 300, seed=23)
    edges = edges_df(spark, pairs)
    d = str(tmp_path / "ck_old")
    pagerank(edges, max_iter=3, tol=None, checkpoint_dir=d)
    # strip the state back to the pre-batch (id, rank) schema in place
    last = os.path.join(d, "iter=0002")
    narrow = spark.read.parquet(last).select("id", "rank")
    tmp = os.path.join(d, "_narrow")
    narrow.write.mode("overwrite").parquet(tmp)
    rewritten = spark.read.parquet(tmp)
    rewritten.write.mode("overwrite").parquet(last)
    assert spark.read.parquet(last).columns == ["id", "rank"]
    resumed = pagerank(
        edges, max_iter=8, tol=None, checkpoint_dir=d, resume=True
    )
    straight = pagerank(edges, max_iter=8, tol=None, strategy="broadcast")
    a = {r.id: r.rank for r in resumed.collect()}
    b = {r.id: r.rank for r in straight.collect()}
    assert a == b
