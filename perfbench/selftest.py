"""Tiny-scale self-test of the benchmark's checks.

    python3 perfbench/selftest.py

Runs each workload once at a tiny size in one Spark session and requires
every oracle check to pass; then hands each workload's checks a result
that was deliberately made wrong and requires the tally to count it as a
failed operation.  Exits 0 when all of that holds.
"""

from __future__ import annotations

import os
import shutil
import sys

import run

TINY = {
    "depgraph": {"n_repos": 40},
    "hubgraph": {"n_vertices": 2000},
    "motifs": {"n_noise": 300, "m_noise": 600, "n_instances": 30, "samples": 800},
}


def _corrupt(name, out):
    """Make one result of a finished job wrong, in place."""
    from pyspark.sql import functions as F

    if name == "depgraph":
        out["pr"] = out["pr"].withColumn("rank", F.col("rank") * 1.01)
    elif name == "hubgraph":
        out["resumed"]["rank"] = out["resumed"]["rank"] * (1 + 1e-9)
    else:
        path = os.path.join(out["dir"], "numbers.csv")
        with open(path) as f:
            header, *rows = f.read().splitlines()
        cols = header.split(",")
        i = cols.index("factor_el")
        fixed = []
        for r in rows:
            vals = r.split(",")
            vals[i] = str(-abs(float(vals[i])) - 1.0)
            fixed.append(",".join(vals))
        with open(path, "w") as f:
            f.write("\n".join([header, *fixed]) + "\n")


def main() -> int:
    work = run.ROOT / ".perfbench_work" / f"selftest-{os.getpid()}"
    try:
        cpus = run._prepare_env(work)
        sys.path.insert(0, str(run.ROOT))
        from motive_spark import get_spark

        from workloads import WORKLOADS

        spark = get_spark("perfbench-selftest", master=f"local[{cpus}]",
                          shuffle_partitions=cpus, extra_conf=run.session_conf(work))
        ok = True
        try:
            for name, sizes in TINY.items():
                wl = WORKLOADS[name]()
                for k, v in sizes.items():
                    setattr(wl, k, v)
                inputs = wl.generate(spark, 7)
                ref = wl.reference(inputs)
                clean, broken = run.Tally(), run.Tally()
                _dt, out = clean.run_job(wl, spark, inputs, str(work / "scratch"))
                if out is not None:
                    clean.check(wl, out, ref)
                    _corrupt(name, out)
                    broken.check(wl, out, ref)
                passed = out is not None and clean.failed == 0 and broken.failed > 0
                ok = ok and passed
                print(f"{name}: clean {clean.failed}/{clean.attempted} failed, "
                      f"corrupted {broken.failed}/{broken.attempted} failed "
                      f"-> {'ok' if passed else 'FAIL'}")
                for f in clean.failures + broken.failures:
                    print(f"  {f}")
                wl.release(inputs)
        finally:
            run.stop_session(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("selftest", "passed" if ok else "FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
