"""SparkSession factory tuned for the engine.

Local-mode defaults mirror what we would set cluster-side via
``spark-submit --conf``: AQE on (runtime re-planning + skew-join
splitting), shuffle partitions sized to cores (not the 200 default),
Arrow enabled for the pandas-UDF slow path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """A quarter of physical RAM, capped at 8g and at least 1g."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(8, ram // (4 * 1024**3)))}g"


def get_spark(
    app_name: str = "motive_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    ``shuffle_partitions`` defaults to the local core count — on a real
    cluster this would be ~2-3x total executor cores.  The driver heap
    is ``$SPARK_DRIVER_MEM``, else a quarter of physical RAM (1g..8g).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # match parallelism of the master URL if it is local[N]
        if master.startswith("local[") and master[6:-1].isdigit():
            shuffle_partitions = int(master[6:-1])
        else:
            shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # guide §3.1: prefer shuffled-hash over sort-merge when the
        # per-partition build side fits — the iterative kernels join a
        # small moving table (ranks/labels/frontier) against a stationary
        # edge table every superstep, and skipping both sort passes
        # measured -17% on a 10-query mixed subset (r6 A/B: scc 22.7->12.5,
        # kcore 9.3->6.4, harmonic 21.3->17.9; OPTIMIZATION_r06.md).
        # Size-bounded, not core-count-tuned: the 64 MB AQE threshold caps
        # the build per partition and sort-merge remains the fallback
        # above it, so the setting is scale-safe on a real cluster.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            str(64 * 1024 * 1024),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
