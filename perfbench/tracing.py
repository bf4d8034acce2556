"""Spans around the engine's public functions, and per-layer metrics.

The traced run wraps public functions of each layer (module attributes
and class methods) from outside the package.  Every call records a span
(id, layer, name, start, end, parent) in memory and tags the Spark jobs
it submits with ``setJobDescription("perfbench#<span id> ...")``.  The
Spark event log, enabled through the session's ``extra_conf``, then gives
jobs, tasks, CPU, shuffle, spill and task-time skew per span; each job
is charged to the innermost span that was open when it was submitted.

A wrapped function that returns lazy DataFrames has them cached and
counted before its span closes, so the layer's work is charged to it and
not to whichever later call first forces it.
"""

from __future__ import annotations

import functools
import glob
import json
import statistics
import time

from pyspark.sql import DataFrame

LAYERS = (
    "session", "extract", "graph", "kernels", "checkpoint", "motifs", "mdl",
    "experiment",
)
GENERIC = (
    ("wall_s", "s", "lower"),
    ("self_s", "s", "lower"),
    ("driver_s", "s", "lower"),
    ("jobs", "count", "lower"),
    ("tasks", "count", "lower"),
    ("executor_cpu_s", "s", "lower"),
    ("shuffle_bytes", "bytes", "lower"),
    ("spill_bytes", "bytes", "lower"),
    ("task_skew", "ratio", "lower"),
)
SPECIFIC = (
    ("extract.files_in", "count", "higher"),
    ("extract.edges_out", "count", "higher"),
    ("graph.build_csr_s", "s", "lower"),
    ("kernels.pagerank_s", "s", "lower"),
    ("kernels.connected_components_s", "s", "lower"),
    ("kernels.label_propagation_s", "s", "lower"),
    ("kernels.triangle_count_s", "s", "lower"),
    ("kernels.pagerank.superstep_s", "s", "lower"),
    ("kernels.pagerank.edges_per_s", "edges/s", "higher"),
    ("kernels.pagerank.vertices_per_switch", "ratio", "lower"),
    ("checkpoint.saves", "count", "lower"),
    ("checkpoint.write_s", "s", "lower"),
    ("checkpoint.bytes", "bytes", "lower"),
    ("checkpoint.resume_s", "s", "lower"),
    ("motifs.samples_per_s", "samples/s", "higher"),
    ("motifs.occurrences", "count", "higher"),
    ("mdl.edges_per_switch", "ratio", "lower"),
    ("session.start_s", "s", "lower"),
    ("session.peak_rss_mb", "MB", "lower"),
    ("session.retained_heap_mb", "MB", "lower"),
    ("session.cached_rdds_after", "count", "lower"),
    ("trace.overhead_s", "s", "lower"),
)


def per_layer_spec():
    """(name, unit, better) for every per-layer metric, in output order."""
    out = [(f"{layer}.{m}", u, b) for layer in LAYERS for m, u, b in GENERIC]
    return out + list(SPECIFIC)


def _force(value):
    """Cache and count every DataFrame in a return value."""
    if isinstance(value, DataFrame):
        value = value.cache()
        value.count()
        return value
    if isinstance(value, tuple):
        return tuple(_force(v) for v in value)
    return value


class Tracer:
    """In-memory span recorder that can wrap functions and methods."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    def add(self, layer, name, start, end):
        """Record a span measured before the tracer existed."""
        self.spans.append({"id": len(self.spans), "layer": layer, "name": name,
                           "start": start, "end": end, "parent": None})

    def call(self, layer, name, fn, args, kwargs, force):
        sid = len(self.spans)
        rec = {"id": sid, "layer": layer, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobDescription(f"perfbench#{sid} {layer}.{name}")
        try:
            out = fn(*args, **kwargs)
            return _force(out) if force else out
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            parent = self._stack[-1] if self._stack else None
            self.sc.setJobDescription(
                None if parent is None
                else f"perfbench#{parent} {self.spans[parent]['layer']}."
                f"{self.spans[parent]['name']}"
            )

    def wrap(self, owner, attr, layer, name=None, force=False):
        """Replace ``owner.attr`` with a traced version (undone by
        ``restore``)."""
        orig = getattr(owner, attr)
        label = name or attr

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            return self.call(layer, label, orig, args, kwargs, force)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def restore(self):
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()


def instrument(tracer: Tracer) -> None:
    """Wrap the public functions each workload reaches, by layer."""
    from motive_spark import checkpoint, experiment, extract, kernels
    from motive_spark.graph import csr, normalize
    from motive_spark.mdl import score, search
    from motive_spark.motifs import MotifExtractor

    tracer.wrap(extract, "dense_edge_table", "extract", force=True)
    tracer.wrap(extract, "repo_edges", "extract", force=True)
    tracer.wrap(normalize, "normalize_ids", "graph", force=True)
    tracer.wrap(csr, "build_csr", "graph", force=True)
    for fn in ("pagerank", "connected_components", "label_propagation"):
        tracer.wrap(kernels, fn, "kernels")
    tracer.wrap(kernels, "triangle_count", "kernels", force=True)
    tracer.wrap(checkpoint.CheckpointManager, "save", "checkpoint")
    tracer.wrap(checkpoint.CheckpointManager, "load", "checkpoint")
    tracer.wrap(MotifExtractor, "__init__", "motifs", name="sample")
    tracer.wrap(MotifExtractor, "top_motifs", "motifs", force=True)
    tracer.wrap(MotifExtractor, "occurrences", "motifs", force=True)
    # experiment and search bound these names at import time
    tracer.wrap(experiment, "size_with_search", "mdl", force=True)
    tracer.wrap(search, "score_motifs", "mdl", force=True)
    tracer.wrap(score, "precompute_globals", "mdl")
    tracer.wrap(score, "score_groups_local", "mdl")
    tracer.wrap(experiment, "fast_experiment", "experiment")


def read_event_log(log_dir: str) -> dict:
    """Jobs (by span id) and per-stage task figures from a finished,
    uncompressed, non-rolling Spark event log."""
    jobs: dict[int, dict] = {}
    stage_tasks: dict[int, list[dict]] = {}
    for path in sorted(glob.glob(f"{log_dir}/*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                    span = None
                    if desc.startswith("perfbench#"):
                        span = int(desc.split()[0][len("perfbench#"):])
                    jobs[ev["Job ID"]] = {"span": span, "start": ev["Submission Time"] / 1e3,
                                          "end": None, "stages": ev["Stage IDs"]}
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerTaskEnd":
                    tm = ev.get("Task Metrics") or {}
                    ti = ev["Task Info"]
                    stage_tasks.setdefault(ev["Stage ID"], []).append({
                        "time": (ti["Finish Time"] - ti["Launch Time"]) / 1e3,
                        "cpu": tm.get("Executor CPU Time", 0) / 1e9,
                        "shuffle": (tm.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0),
                        "spill": tm.get("Disk Bytes Spilled", 0),
                    })
    return {"jobs": jobs, "stage_tasks": stage_tasks}


def _minus(intervals, cuts):
    """Total length of ``intervals`` not covered by any of ``cuts``
    (cuts may overlap)."""
    total = 0.0
    cuts = sorted(cuts)
    for a, b in intervals:
        cur = a
        for c, d in cuts:
            if d <= cur or c >= b:
                continue
            if c > cur:
                total += c - cur
            cur = max(cur, d)
            if cur >= b:
                break
        if cur < b:
            total += b - cur
    return total


def layer_metrics(spans: list[dict], log: dict) -> dict[str, float]:
    """Generic per-layer metrics from spans and the event log."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    job_iv = [(j["start"], j["end"]) for j in log["jobs"].values() if j["end"]]
    out = {f"{layer}.{m}": 0.0 for layer in LAYERS for m, _u, _b in GENERIC}
    skew_w: dict[str, list[tuple[float, float]]] = {}
    for s in spans:
        layer = s["layer"]
        kids = [(c["start"], c["end"]) for c in children.get(s["id"], [])]
        dur = s["end"] - s["start"]
        out[f"{layer}.self_s"] += dur - sum(b - a for a, b in kids)
        # a span nested in a span of its own layer is already in wall_s
        p, outermost = s["parent"], True
        while p is not None:
            if spans[p]["layer"] == layer:
                outermost = False
                break
            p = spans[p]["parent"]
        if outermost:
            out[f"{layer}.wall_s"] += dur
        # self time during which no Spark job was running
        out[f"{layer}.driver_s"] += _minus([(s["start"], s["end"])], kids + job_iv)
    for j in log["jobs"].values():
        if j["span"] is None or j["span"] >= len(spans):
            continue
        layer = spans[j["span"]]["layer"]
        out[f"{layer}.jobs"] += 1
        for st in j["stages"]:
            tasks = log["stage_tasks"].get(st, [])
            if not tasks:
                continue
            out[f"{layer}.tasks"] += len(tasks)
            out[f"{layer}.executor_cpu_s"] += sum(t["cpu"] for t in tasks)
            out[f"{layer}.shuffle_bytes"] += sum(t["shuffle"] for t in tasks)
            out[f"{layer}.spill_bytes"] += sum(t["spill"] for t in tasks)
            times = [t["time"] for t in tasks]
            med = statistics.median(times)
            if len(times) > 1 and med > 0:
                skew_w.setdefault(layer, []).append((max(times) / med, sum(times)))
    # time-weighted mean over stages of (max / median task time)
    for layer, vals in skew_w.items():
        w = sum(t for _r, t in vals)
        if w > 0:
            out[f"{layer}.task_skew"] = sum(r * t for r, t in vals) / w
    return out


def span_time(spans, layer, name) -> float:
    return sum(s["end"] - s["start"] for s in spans
               if s["layer"] == layer and s["name"] == name)
