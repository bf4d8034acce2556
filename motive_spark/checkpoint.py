"""The superstep loop with checkpointing and resume (north_rule requirement).

``CheckpointManager.run`` is the one loop every iterative kernel
(PageRank and its variants, components, label propagation) drives: the
kernel supplies a step function and, optionally, a convergence probe;
the loop owns resume, lineage truncation, release of superseded state,
the probe and the per-superstep counters.

Each superstep's state is written to ``<dir>/iter=NNNN/`` (Parquet,
atomic via Spark's _SUCCESS marker) plus a ``counters.json`` sidecar
recording per-iteration metrics (rows, delta, wall time, partition
count).  ``latest()`` finds the newest COMPLETE iteration so a killed
run resumes mid-iteration with exact state — the Spark-native substitute
for the reference's single-process in-memory loop (motive has no resume;
DiskDGraph README.md:69-83 is its closest analogue: state that survives
the heap).  Without a dir the state is an eager ``localCheckpoint``.

Either form truncates lineage every superstep: letting the iterated-join
plan grow makes Catalyst analysis time explode superlinearly (measured:
2s/superstep at iter 2 → 140s at iter 8 with a cadence of 4 on the sf0.1
graph).  Parquet also makes the state durable across driver restarts,
which localCheckpoint is not.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass
class CheckpointManager:
    spark: SparkSession
    base_dir: str | None
    counters: list[dict] = field(default_factory=list)
    # what ``cache`` holds for the running superstep; freed once its
    # state is saved
    _step_cached: list[DataFrame] = field(default_factory=list)

    def _iter_dir(self, i: int) -> str:
        return os.path.join(self.base_dir, f"iter={i:04d}")

    def _complete(self, i: int) -> bool:
        return os.path.exists(os.path.join(self._iter_dir(i), "_SUCCESS"))

    def latest(self) -> int | None:
        """Newest complete iteration number, or None."""
        if self.base_dir is None or not os.path.isdir(self.base_dir):
            return None
        its = sorted(
            int(d.split("=")[1])
            for d in os.listdir(self.base_dir)
            if d.startswith("iter=") and self._complete(int(d.split("=")[1]))
        )
        return its[-1] if its else None

    def run(
        self,
        state: DataFrame,
        step: Callable[[DataFrame], DataFrame],
        n_iter: int,
        resume: bool = False,
        probe: Callable[[DataFrame, DataFrame], float] | None = None,
        tol: float | None = None,
    ) -> DataFrame:
        """Run supersteps ``0 .. n_iter-1`` from ``state``; return the last
        saved state.

        ``step(state)`` builds the next state from the previous one; the
        loop saves it (lineage-free) and releases the superseded state.  With ``resume`` and a dir, the loop starts
        after the newest complete iteration, from its saved state.
        ``probe(new, old)`` runs after each save; its value is recorded
        as that superstep's ``delta`` and the loop stops once it drops
        below ``tol``.
        """
        start = 0
        last = self.latest() if resume else None
        if last is not None:
            state, start = self.load(last), last + 1
        # only localCheckpoint states made here hold blocks to free
        owned = False
        for i in range(start, n_iter):
            t0 = time.time()
            new = self.save(step(state), i)
            self._drop_step_cached()
            delta = probe(new, state) if probe is not None else None
            if owned:
                self._release(state)
            state, owned = new, self.base_dir is None
            rec = self.counters[-1]
            rec["superstep_sec"] = round(time.time() - t0, 6)
            if delta is not None:
                rec["delta"] = delta
            if self.base_dir is not None:
                with open(os.path.join(self.base_dir, "counters.json"), "w") as f:
                    json.dump(self.counters, f, indent=1)
            if delta is not None and delta < tol:
                break
        self._drop_step_cached()  # a cached initial state no superstep read
        return state

    def cache(self, df: DataFrame) -> DataFrame:
        """Cache a DataFrame the current (or first) superstep reads more
        than once; it is freed as soon as that superstep's state is
        saved."""
        df = df.cache()
        self._step_cached.append(df)
        return df

    def _drop_step_cached(self) -> None:
        for df in self._step_cached:
            df.unpersist()
        self._step_cached.clear()

    def save(self, df: DataFrame, iteration: int) -> DataFrame:
        """Write state for ``iteration``; return the re-read (lineage-free)
        DataFrame.  When no base_dir is configured, fall back to an eager
        localCheckpoint (tests / ephemeral runs)."""
        t0 = time.time()
        if self.base_dir is None:
            out = df.localCheckpoint(eager=True)  # materializes; no extra count
            n = -1
        else:
            path = self._iter_dir(iteration)
            df.write.mode("overwrite").parquet(path)
            out = self.spark.read.parquet(path)
            n = out.count()
        self.counters.append({
            "iteration": iteration,
            "rows": n,
            "partitions": out.rdd.getNumPartitions(),
            "write_sec": round(time.time() - t0, 3),
        })
        return out

    @staticmethod
    def _release(df: DataFrame) -> None:
        """Explicitly free a superseded localCheckpoint state.  Its blocks
        belong to the LogicalRDD's internal RDD (not the CacheManager), so
        ``df.unpersist()`` is a no-op; reach the RDD through the analyzed
        plan instead.  Without this, long iterative runs accumulate
        checkpoint blocks until the driver GC + ContextCleaner catch up
        (verified: storage grows monotonically).  ``df`` may also be a
        chain of single-input operators (select, where) over the
        checkpoint; the checkpoint at its bottom is freed."""
        try:
            plan = df._jdf.queryExecution().analyzed()
            while plan.children().size() == 1:
                plan = plan.children().head()
            plan.rdd().unpersist(False)
        except Exception:  # noqa: BLE001 — freeing is best-effort
            pass

    def load(self, iteration: int) -> DataFrame:
        return self.spark.read.parquet(self._iter_dir(iteration))
