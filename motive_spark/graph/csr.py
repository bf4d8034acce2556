"""CSR block layout with hub salting (SURVEY §4.3, north_star).

Adjacency as block rows ``(block_id, src, salt, dst_list: array<long>,
deg_part: int)``: each vertex's out-neighborhood, split into chunks of at
most ``salt_chunk`` for hub vertices, hash-assigned to ``n_blocks``
range-ish blocks by (src, salt).  Properties:

* the edge table is reconstructible exactly (``csr_to_edges``);
* a gather over a hub vertex fans out over its salt replicas, so no
  single task owns a 10^8-degree adjacency (power-law repo graphs);
* per-block neighbor lists give mapInPandas kernels numpy locality;
* the hash(src)-partitioned variant makes iterative kernels'
  state ⋈ adjacency join exchange-free (pagerank/CC/LP strategy="csr" —
  the plan behind the ≥0.8 measured scaling efficiency in
  BENCH/BASELINE.md).

The reference's analogue is the MapDB-backed DiskDGraph (Run.java:76-78,
README.md:69-83) — disk-resident adjacency; Parquet + this layout is the
Spark-native equivalent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def build_csr(
    edges: DataFrame,
    n_blocks: int | None = None,
    salt_chunk: int = 4096,
    partition_by: str = "block",
) -> DataFrame:
    """Edge list → salted CSR blocks.

    (block_id int, src long, salt int, dst_list array<long>, deg_part int,
    out_deg long) — ``out_deg`` is the TOTAL out-degree of src (sum over
    its salt rows), so kernels divide without a degree join.  Hub rows
    are rank-split into chunks of at most ``salt_chunk`` neighbors.

    ``partition_by``:
      * ``"block"`` — hash(src, salt): a hub's salt rows spread across
        partitions (max skew protection; joins on src must move a side);
      * ``"src"`` — hash(src): co-partitionable with any id-hashed vertex
        state, so an iterative kernel's rank ⋈ csr join is EXCHANGE-FREE
        every superstep (the pagerank ``strategy="csr"`` contract).  Hub
        adjacency still arrives as bounded ``salt_chunk`` rows (bounded
        task memory); residual partition skew is AQE's skew-join case.
    """
    spark = edges.sparkSession
    if n_blocks is None:
        n_blocks = int(spark.conf.get("spark.sql.shuffle.partitions"))

    # ONE-exchange build: rank each out-edge within its src (deterministic
    # by dst) and chunk ranks into salts of at most salt_chunk; the total
    # degree rides the SAME window partitioning (merged specs — one
    # exchange + one sort), and the (src, salt) aggregation reuses the
    # hash(src) clustering, so no further edge movement.  Measured 3x
    # faster than a join-based hash-salt build at 5e7 edges.
    from pyspark.sql import Window

    w = Window.partitionBy("src").orderBy("dst")
    wc = Window.partitionBy("src")
    ranked = (
        edges.select("src", "dst")
        .withColumn("salt", ((F.row_number().over(w) - 1) / salt_chunk).cast("int"))
        .withColumn("out_deg", F.count(F.lit(1)).over(wc).cast("long"))
    )
    csr = (
        ranked.groupBy("src", "salt")
        .agg(
            F.array_sort(F.collect_list("dst")).alias("dst_list"),
            F.first("out_deg").alias("out_deg"),
        )
        .withColumn("deg_part", F.size("dst_list"))
        .withColumn(
            "block_id", F.pmod(F.xxhash64("src", "salt"), F.lit(n_blocks)).cast("int")
        )
        .select("block_id", "src", "salt", "dst_list", "deg_part", "out_deg")
    )
    if partition_by == "src":
        return csr.repartition(n_blocks, "src")
    return csr.repartition(n_blocks, "block_id")


def csr_to_edges(csr: DataFrame) -> DataFrame:
    """Exact inverse of build_csr (roundtrip contract)."""
    return csr.select("src", F.explode("dst_list").alias("dst"))


def degrees_from_csr(csr: DataFrame) -> DataFrame:
    """Out-degrees from salted blocks: two-phase sum (salt partials →
    vertex total) — the skew-safe aggregation pattern."""
    return csr.groupBy(F.col("src").alias("id")).agg(
        F.sum("deg_part").alias("out_deg")
    )


def gather_sum(csr: DataFrame, values: DataFrame) -> DataFrame:
    """Skew-safe gather: sum of ``values.value`` over in-neighbors.

    values: (id, value).  Returns (id, gathered) for every gather target.
    The join hits salt REPLICAS of hub vertices (bounded fan-in per row);
    partial aggregation happens per block before the final combine.
    """
    contrib = (
        csr.join(values.hint("shuffle_hash"), on=[values.id == csr.src])
        .select(
            F.explode("dst_list").alias("id"),
            (F.col("value") / F.col("deg_part")).alias("_ignored"),
            F.col("value"),
        )
        .drop("_ignored")
    )
    return contrib.groupBy("id").agg(F.sum("value").alias("gathered"))
