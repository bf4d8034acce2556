"""Graph normalization: simple-graph projection, dense ids, degrees.

Reference parity:
  * simplify    — Graphs.toSimpleDGraph/-UGraph with removal counts kept
                  as a side channel (motive MotifModel.java:109-133,
                  Compare.java:189-195).  Here the multiplicity IS the
                  side channel: a ``mult`` column.
  * degrees     — Graphs.degrees / DSequenceEstimator.sequence
                  (motive Compare.java:200, CompareLarge.java:152);
                  directed = (in, out) pairs, undirected = plain degree.
  * normalize   — the reference assumes consecutive int ids
                  (README.md:61-63); we densify arbitrary keys instead.

All pure DataFrame ops — no UDFs.  Each function returns a new immutable
DataFrame (the reference mutates pointer graphs in place; see SURVEY §1.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def simplify(edges: DataFrame, keep_self_loops: bool = False) -> DataFrame:
    """Collapse multi-edges (count kept as ``mult``) and drop self-loops.

    groupBy(src, dst) shuffles once on the edge key; at scale this is the
    same shuffle later joins reuse, and AQE coalesces the output.
    """
    e = edges.select("src", "dst")
    if not keep_self_loops:
        e = e.where(F.col("src") != F.col("dst"))
    return e.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("mult"))


def undirect(edges: DataFrame) -> DataFrame:
    """Canonical undirected orientation: src <= dst, deduped.

    Mirrors ``ordered()`` in motive MotifModel.java:1574-1579.
    """
    return (
        edges.select(
            F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
        )
        .where(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )


def vertices(edges: DataFrame) -> DataFrame:
    """Distinct vertex ids appearing at either endpoint."""
    return (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
    )


def dense_index(keys: DataFrame, key_col: str) -> DataFrame:
    """Rank distinct ``key_col`` values to dense longs 0..n-1, scalably.

    Returns (key_col, id) with id = global rank in sorted key order —
    exactly what ``row_number().over(Window.orderBy(key_col)) - 1``
    produces, WITHOUT the single-partition global sort: range-partition
    the keys, rank within each partition, then add the cumulative count
    of the preceding partitions (collected offsets — one row per
    PARTITION, never per key — applied as a literal array indexed by
    partition, so no DataFrame is built from Python objects).  The
    ranked table is localCheckpointed before the count job so both jobs
    observe the SAME sampled range boundaries.
    """
    spark = keys.sparkSession
    npart = int(spark.conf.get("spark.sql.shuffle.partitions"))
    local = (
        keys.select(key_col)
        .distinct()
        .repartitionByRange(npart, key_col)
        .withColumn("part", F.spark_partition_id())
        .withColumn(
            "local_rank",
            F.row_number().over(Window.partitionBy("part").orderBy(key_col)),
        )
        .localCheckpoint(eager=True)
    )
    counts = dict(
        local.groupBy("part").agg(F.count(F.lit(1)).alias("cnt")).collect()
    )
    offsets, acc = [], 0
    for p in range(max(counts, default=0) + 1):
        offsets.append(F.lit(acc))
        acc += counts.get(p, 0)
    offset = F.array(*offsets).cast("array<long>")[F.col("part")]
    return local.select(key_col, (offset + F.col("local_rank") - 1).alias("id"))


def normalize_ids(edges: DataFrame, key_cols: tuple[str, str] = ("src", "dst")):
    """Map arbitrary vertex keys to dense longs 0..n-1.

    Returns (edges_dense, vertex_map) where vertex_map = (orig_key, id).
    Uses the two-phase :func:`dense_index` — no single task ever sees the
    whole vertex set.
    """
    s, d = key_cols
    vs = (
        edges.select(F.col(s).alias("orig_key"))
        .union(edges.select(F.col(d).alias("orig_key")))
        .distinct()
    )
    vmap = dense_index(vs, "orig_key")
    dense = (
        edges.join(vmap.withColumnRenamed("orig_key", s), on=s)
        .withColumnRenamed("id", "src_id")
        .join(vmap.withColumnRenamed("orig_key", d), on=d)
        .withColumnRenamed("id", "dst_id")
        .select(F.col("src_id").alias("src"), F.col("dst_id").alias("dst"))
    )
    return dense, vmap


def degrees(edges: DataFrame, directed: bool = True) -> DataFrame:
    """Per-vertex degrees.

    Directed: (id, in_deg, out_deg); undirected input (src<dst rows):
    (id, deg).  Full-outer join of the two one-sided counts with nulls→0
    (motive MotifModel.java:280-286 unions the token sets the same way).
    """
    out_d = edges.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("out_deg"))
    in_d = edges.groupBy(F.col("dst").alias("id")).agg(F.count(F.lit(1)).alias("in_deg"))
    both = out_d.join(in_d, on="id", how="full_outer").select(
        "id",
        F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
        F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
    )
    if directed:
        return both
    return both.select("id", (F.col("in_deg") + F.col("out_deg")).alias("deg"))
