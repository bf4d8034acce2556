"""The driver-local regime shared by the MDL pipeline and the iterative
kernels: a small edge table is read once, through one bounded probe, and
every later step runs in numpy/pandas on the driver.

At most ``LOCAL_SCORE_THRESHOLD`` raw edge rows with non-null integral
ids qualify.  At that size a Spark plan costs far more in jobs and
driver time than the arithmetic it runs: a Fibonacci-search round is a
full distributed pass (3 cache materializations + ~8 jobs), a
PageRank superstep 8–10 jobs, and numpy does either in milliseconds.
"""

from __future__ import annotations

import time
from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# edge tables at or below this raw row count run driver-locally under
# ``strategy="auto"``: the MDL extractor and scorer (mdl.score re-exports
# it) and PageRank, components and label propagation
LOCAL_SCORE_THRESHOLD = 50_000


_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
# the numpy dtype of each integral Spark type, as toPandas would give it
_NP_INT = {T.ByteType: np.int8, T.ShortType: np.int16, T.IntegerType: np.int32,
           T.LongType: np.int64}


def integral_ids(edges: DataFrame) -> bool:
    return all(isinstance(edges.schema[c].dataType, _INTEGRAL) for c in ("src", "dst"))


def local_edges(edges: DataFrame, strategy: str) -> pd.DataFrame | None:
    """The edge table as pandas ``(src, dst[, mult])`` when the
    driver-local regime applies, else None.

    The local regime needs non-null integral ids (and ``mult``).
    ``auto`` reads at most ``LOCAL_SCORE_THRESHOLD + 1`` rows — one
    bounded probe — and gives up above the threshold; ``local`` reads
    the whole table and raises on ids it cannot use; ``distributed``
    reads nothing.  Raw rows bound simple edges from above, so a table
    that passes the probe also passes the scorer's simple-edge switch.

    The probe collects rows, not ``toPandas``: Arrow's first use in a
    JVM loads and compiles its classes, which costs more than decoding
    the probe's rows and varies from run to run.  The columns keep the
    dtypes ``toPandas`` gives (``int32`` for int ids).
    """
    if strategy not in ("auto", "local", "distributed"):
        raise ValueError(f"unknown strategy {strategy!r}")
    if strategy == "distributed":
        return None
    ok = integral_ids(edges)
    pdf = None
    if ok:
        cols = [F.col("src"), F.col("dst")]
        if "mult" in edges.columns:
            cols.append(F.col("mult").cast("long"))
        probe = edges.select(*cols)
        if strategy == "auto":
            probe = probe.limit(LOCAL_SCORE_THRESHOLD + 1)
        # through the plan's RDD: one job whatever the partition count
        # (``collect`` on a limit scans one partition, then 4x more, ...
        # job by job); rows are pickled in the JVM, no Python worker runs
        rows = probe.rdd.collect()
        if strategy == "auto" and len(rows) > LOCAL_SCORE_THRESHOLD:
            return None
        fields = probe.schema.fields
        values = list(zip(*rows)) if rows else [()] * len(fields)
        ok = not any(None in v for v in values)
        if ok:
            pdf = pd.DataFrame({
                f.name: np.fromiter(v, dtype=_NP_INT[type(f.dataType)], count=len(v))
                for f, v in zip(fields, values)
            })
    if not ok and strategy == "local":
        raise ValueError("the local regime needs non-null integral src/dst ids")
    return pdf if ok else None


def kernel_edges(
    edges: DataFrame, strategy: str, kernel: str, durable: bool
) -> pd.DataFrame | None:
    """``(src, dst)`` as pandas when a PageRank / components / label
    propagation call runs in the local regime, else None.

    ``local`` always reads the edges (and raises on ids it cannot use);
    ``auto`` probes them only when the call keeps no ``durable`` state —
    a checkpoint dir, a resume, a pre-partitioned layout or a plan
    capture stays with the distributed plans; ``broadcast``/``csr``
    never read them here.
    """
    if strategy == "local" and durable:
        raise ValueError(
            f"{kernel}: strategy 'local' keeps no checkpoint, resume, "
            "pre-partitioned layout or plan; use 'broadcast' or 'csr'"
        )
    if strategy == "local" or (strategy == "auto" and not durable):
        return local_edges(edges.select("src", "dst"), strategy)
    return None


def id_frame(edges: DataFrame, columns: dict, value_type: str | None = None) -> DataFrame:
    """``columns`` (the id column, then one value column, as numpy
    arrays) as a DataFrame with the schema the distributed plans return:
    the id typed as ``src`` and ``dst`` widen in a union (analysis only,
    no job), the value typed ``value_type`` or, for a label, as the id.
    It is built through Arrow into a local relation, so evaluating it
    starts no Python worker and runs no upstream plan again."""
    t = edges.select("src").union(edges.select("dst")).schema[0].dataType.simpleString()
    (id_col, _), (value_col, _) = columns.items()
    return edges.sparkSession.createDataFrame(
        pd.DataFrame(columns), f"{id_col} {t}, {value_col} {value_type or t}"
    )


def run_local(
    state: np.ndarray,
    step: Callable[[np.ndarray], np.ndarray],
    n_iter: int,
    probe: Callable[[np.ndarray, np.ndarray], float] | None = None,
    tol: float | None = None,
) -> tuple[np.ndarray, list[dict]]:
    """``CheckpointManager.run`` for a driver-resident state vector:
    supersteps ``0 .. n_iter-1``, stopping once ``probe(new, old)`` drops
    below ``tol``.  Returns the last state and one counter record per
    superstep with the distributed loop's keys (``iteration``, ``rows``,
    ``superstep_sec``, ``delta`` when probed) and ``strategy="local"``."""
    counters: list[dict] = []
    for i in range(n_iter):
        t0 = time.perf_counter()
        new = step(state)
        delta = probe(new, state) if probe is not None else None
        rec = {"iteration": i, "rows": len(new), "strategy": "local",
               "superstep_sec": round(time.perf_counter() - t0, 6)}
        if delta is not None:
            rec["delta"] = delta
        counters.append(rec)
        state = new
        if delta is not None and delta < tol:
            break
    return state, counters
