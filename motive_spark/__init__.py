"""motive_spark — a from-scratch PySpark-native link-graph analytics engine.

Capabilities mirror pbloem/motive (network-motif analysis via MDL
compression scoring — see /root/reference, cited per-module) re-expressed
Spark-first, plus the iterative link-graph kernels (PageRank, connected
components, label propagation, triangle counting) and the large-scale
training-data-pipeline operators (dedup, similarity search, text analysis,
multimodal plumbing) that a 10^12-file code-table deployment needs.

Design stance (SURVEY.md §7.0):
  * everything relational is declarative DataFrame ops — Catalyst owns
    pushdown / pruning / join selection;
  * Python appears only as vectorized pandas/Arrow UDFs at the points
    COVERAGE.md §2.10 lists (import extraction runs in the JVM);
  * iteration checkpoints every superstep to Parquet with per-partition
    counters so runs resume mid-iteration.
"""

from motive_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"
