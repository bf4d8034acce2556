"""motive_spark benchmark: one seeded workload, timed or traced.

    python3 perfbench/run.py --workload depgraph --seed 1 --seconds 12 --trace 0

Run from the repository root (the directory holding ``motive_spark/``).
One driver process, ``local[<cores>]`` with as many shuffle partitions,
a driver heap sized to a quarter of RAM (at most 8 GiB), and every Spark
scratch file under ``.perfbench_work/`` in the repository root.

``--trace 0`` times the job with nothing wrapped and prints the
end-to-end metrics.  ``--trace 1`` runs the job once plain and once with
every layer's public functions wrapped (see ``tracing.py``) and prints
the per-layer metrics plus the tracing overhead.  Each metric is printed
as ``name value unit``; the last line is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

import pandas as pd

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
# input generation is repeated this many times; setup_s takes the median
SETUP_REPS = 3
WORKLOAD_NAMES = ("depgraph", "hubgraph", "motifs")

END_TO_END = (
    ("job_s", "s"),
    ("setup_s", "s"),
    ("edges_per_s", "edges/s"),
)


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=12.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _driver_mem_gb() -> int:
    with open("/proc/meminfo") as f:
        kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return max(1, min(8, kb // (4 * 1024 * 1024)))


def _prepare_env(work: Path) -> int:
    """Environment the Spark JVM and its Python workers inherit."""
    cpus = len(os.sched_getaffinity(0))
    for sub in ("spark-local", "tmp", "scratch"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        SPARK_DRIVER_MEM=f"{_driver_mem_gb()}g",
        TMPDIR=str(work / "tmp"),
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
        ),
    )
    return cpus


def session_conf(work: Path, trace: bool = False) -> dict[str, str]:
    """Spark settings that keep every file under ``work``; with ``trace``
    also a plain-JSON event log for ``tracing.read_event_log``."""
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }
    if trace:
        (work / "eventlog").mkdir(exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    if gateway.proc is not None:
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def _persistent_rdds(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def _unpersist_new(spark, keep: set[int]) -> int:
    """Unpersist every persisted RDD not in ``keep``; return how many."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    new = [int(k) for k in rdds.keySet() if int(k) not in keep]
    for k in new:
        rdds.get(k).unpersist(True)
    return len(new)


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def _retained_heap_mb(spark) -> float:
    """Driver heap in use after full collections: live data only, so it
    does not depend on when the collector happened to run.  Spark's
    ContextCleaner frees unreachable broadcasts and blocks on its own
    thread after a collection, so collect until the figure settles."""
    gc.collect()
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = None
    for _ in range(8):
        jvm.java.lang.System.gc()
        now = bean.getHeapMemoryUsage().getUsed()
        if used is not None and abs(now - used) < 1 << 20:
            break
        used = now
        time.sleep(0.5)
    return now / (1024.0 * 1024.0)


def _steal_s() -> float:
    """CPU time the hypervisor took from this machine since boot (the
    steal column of /proc/stat); a jump during a job means a noisy host."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _du(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


class Tally:
    """Attempted and failed operations and oracle checks."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def run_job(self, wl, spark, inputs, scratch):
        """Time one job; return (seconds, outputs or None)."""
        t0 = time.perf_counter()
        try:
            out = wl.job(spark, inputs, scratch)
        except Exception:  # a failed job is a measured outcome, not a crash
            traceback.print_exc()
            out = None
        dt = time.perf_counter() - t0
        self.attempted += wl.n_ops
        if out is None:
            self.failed += wl.n_ops
            self.failures.append("job raised")
        return dt, out

    def check(self, wl, out, ref):
        try:
            results = wl.check(out, ref)
        except Exception:
            traceback.print_exc()
            results = [("check raised", False, "")]
        for name, ok, detail in results:
            self.attempted += 1
            if not ok:
                self.failed += 1
                self.failures.append(f"{name}: {detail}")


def _pagerank_vertices(out) -> int:
    """Rows of the job's PageRank result (0 when the job ran none)."""
    pr = out.get("pr")
    if pr is None:
        return 0
    return len(pr) if isinstance(pr, pd.DataFrame) else pr.count()


def layer_facts(wl, out, ref, spans, threshold_pr, threshold_mdl) -> dict[str, float]:
    """Layer-specific per-layer metrics of one traced job."""
    from tracing import span_time

    facts = {
        "extract.files_in": out.get("files_in", 0),
        "extract.edges_out": out.get("edges_out", 0),
        "graph.build_csr_s": span_time(spans, "graph", "build_csr"),
    }
    for k in ("pagerank", "connected_components", "label_propagation", "triangle_count"):
        facts[f"kernels.{k}_s"] = span_time(spans, "kernels", k)
    steps = [c["superstep_sec"] for c in out.get("pr_counters", [])]
    superstep = statistics.median(steps) if steps else 0.0
    facts["kernels.pagerank.superstep_s"] = superstep
    facts["kernels.pagerank.edges_per_s"] = (
        wl.input_edges(ref) / superstep if superstep else 0.0
    )
    facts["kernels.pagerank.vertices_per_switch"] = _pagerank_vertices(out) / threshold_pr
    durable = out.get("durable_counters", [])
    facts["checkpoint.saves"] = len(durable)
    facts["checkpoint.write_s"] = sum(c["write_sec"] for c in durable)
    facts["checkpoint.bytes"] = _du(out["ckpt"]) if "ckpt" in out else 0
    facts["checkpoint.resume_s"] = out.get("resume_s", 0.0)
    sample_s = sum(span_time(spans, "motifs", n) for n in ("sample", "top_motifs", "occurrences"))
    facts["motifs.samples_per_s"] = wl.samples / sample_s if sample_s else 0.0
    occ = 0
    if "dir" in out:
        for p in os.listdir(out["dir"]):
            if p.startswith("occurrences."):
                with open(os.path.join(out["dir"], p)) as f:
                    occ += sum(1 for _ in f)
    facts["motifs.occurrences"] = occ
    facts["mdl.edges_per_switch"] = (
        wl.input_edges(ref) / threshold_mdl if wl.name == "motifs" else 0.0
    )
    return facts


def bench(args, work: Path, cpus: int) -> tuple[dict, Tally, dict]:
    from motive_spark import get_spark
    from motive_spark.kernels.pagerank import BROADCAST_MAX_VERTICES
    from motive_spark.mdl.score import LOCAL_SCORE_THRESHOLD

    import tracing
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload]()
    scratch = str(work / "scratch")
    t_wall, t0 = time.time(), time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{cpus}]", shuffle_partitions=cpus,
                      extra_conf=session_conf(work, args.trace))
    tracer = tracing.Tracer(spark) if args.trace else None
    if tracer:
        spark.sparkContext.setJobDescription("perfbench#0 session.start")
    # the first job pays class loading and JIT warm-up: part of start-up
    spark.range(1).count()
    session_start = time.perf_counter() - t0
    if tracer:
        spark.sparkContext.setJobDescription(None)
        tracer.add("session", "start", t_wall, time.time())
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())

    gen_s, inputs = [], None
    for _ in range(SETUP_REPS):
        if inputs is not None:
            wl.release(inputs)
        t = time.perf_counter()
        inputs = wl.generate(spark, args.seed)
        gen_s.append(time.perf_counter() - t)
    ref = wl.reference(inputs)
    keep = _persistent_rdds(spark)

    tally = Tally()
    info: dict = {"cores": cpus, "driver_mem": os.environ["SPARK_DRIVER_MEM"],
                  "input_edges": wl.input_edges(ref)}
    metrics: dict[str, float] = {}
    leftovers: list[int] = []

    def one_job():
        dt, out = tally.run_job(wl, spark, inputs, scratch)
        if out is not None:
            tally.check(wl, out, ref)
        return dt, out

    # job_s is the first job of the fresh session, as a batch submission
    # sees it; repetitions that still fit in --seconds run warm and are
    # reported apart, so job_s means the same whatever the job's speed
    steal0 = _steal_s()
    job_s, out = one_job()
    info["steal_during_job_s"] = round(_steal_s() - steal0, 2)
    ok = out is not None
    out = None
    leftovers.append(_unpersist_new(spark, keep))
    retained = _retained_heap_mb(spark)
    warm_s: list[float] = []
    if not args.trace:
        while ok and job_s + sum(warm_s) + (warm_s or [job_s])[-1] <= args.seconds:
            dt, out = one_job()
            ok = out is not None
            warm_s.append(dt)
            out = None
            leftovers.append(_unpersist_new(spark, keep))
    elif ok:
        # overhead = traced minus the mean of the plain jobs on either side,
        # all on a warm session (the session keeps warming as jobs run)
        plain_s, out = one_job()
        out = None
        leftovers.append(_unpersist_new(spark, keep))
        tracing.instrument(tracer)
        try:
            traced_s, out = one_job()
        finally:
            tracer.restore()
        if out is not None:
            metrics.update(layer_facts(wl, out, ref, tracer.spans,
                                       BROADCAST_MAX_VERTICES, LOCAL_SCORE_THRESHOLD))
            n_pr = _pagerank_vertices(out)
            info["pagerank_auto_strategy"] = (
                ("broadcast" if n_pr <= BROADCAST_MAX_VERTICES else "csr") if n_pr else None
            )
            info["pagerank_strategy_used"] = out.get("pr_strategy")
            info["mdl_auto_path"] = (
                ("local" if wl.input_edges(ref) <= LOCAL_SCORE_THRESHOLD else "distributed")
                if wl.name == "motifs" else None
            )
        out = None
        leftovers.append(_unpersist_new(spark, keep))
        plain_after_s, out = one_job()
        out = None
        _unpersist_new(spark, keep)
        metrics["trace.overhead_s"] = traced_s - (plain_s + plain_after_s) / 2
        info.update(plain_warm_job_s=[round(plain_s, 4), round(plain_after_s, 4)],
                    traced_job_s=round(traced_s, 4))

    peak_rss = _vm_hwm_mb(jvm_pid)
    stop_session(spark)

    info.update(job_s=round(job_s, 4), warm_job_s=[round(x, 4) for x in warm_s],
                peak_rss_mb=round(peak_rss, 1), retained_heap_mb=round(retained, 1),
                setup_gen_s=[round(x, 4) for x in gen_s],
                session_start_s=round(session_start, 4),
                cached_rdds_after=leftovers)
    if args.trace:
        log = tracing.read_event_log(str(work / "eventlog"))
        metrics.update(tracing.layer_metrics(tracer.spans, log))
        metrics["session.start_s"] = session_start
        metrics["session.cached_rdds_after"] = leftovers[0]
        metrics["session.peak_rss_mb"] = peak_rss
        metrics["session.retained_heap_mb"] = retained
        traces = ROOT / ".perfbench_work" / "traces"
        traces.mkdir(parents=True, exist_ok=True)
        with open(traces / f"{args.workload}-seed{args.seed}.json", "w") as f:
            json.dump({"info": info, "spans": tracer.spans, "metrics": metrics}, f, indent=1)
        spec = [(n, u) for n, u, _b in tracing.per_layer_spec()]
    else:
        metrics.update(
            job_s=job_s,
            setup_s=session_start + statistics.median(gen_s),
            edges_per_s=wl.input_edges(ref) / job_s,
        )
        spec = list(END_TO_END)
    # a job that raised leaves its per-layer figures at 0; the tally
    # already marks the run incorrect
    return {n: {"value": float(metrics.get(n, 0.0)), "unit": u} for n, u in spec}, tally, info


def main(argv=None) -> int:
    args = _parse(argv)
    if not (ROOT / "motive_spark").is_dir():
        print(f"motive_spark/ not found next to {HERE.name}/; run from a full checkout",
              file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"run-{os.getpid()}"
    try:
        cpus = _prepare_env(work)
        sys.path.insert(0, str(ROOT))
        metrics, tally, info = bench(args, work, cpus)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for k, v in info.items():
        print(f"# {k}: {v}")
    for f in tally.failures:
        print(f"# FAILED {f}")
    failed_ops = tally.failed / max(tally.attempted, 1)
    print(f"# failed_ops {failed_ops:.6g} share ({tally.failed}/{tally.attempted})")
    for name, m in metrics.items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": tally.failed == 0, "attempted": tally.attempted,
                      "failed": tally.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
