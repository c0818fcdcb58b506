"""Tracing for the benchmark's traced run: spans, layer counters and the
Spark event log, reduced to the per-layer metrics.

Spans are recorded from the benchmark's own code around the calls it
makes into each layer: one span around each timed part of a pass
(``catchup`` and ``cycle`` on ``steady``, ``pair`` on ``curate``),
``task.<t>`` around each ``run_task``, and ``sources.read_table`` /
``sources.overwrite`` around the lake reads and snapshot writes the
tasks make. Each span sets the Spark job group to its id, so every Spark
job names the span that started it. The layer calls are reached by
wrapping module attributes while a traced pass runs (``Tracer.install``
/ ``uninstall``); the program itself is not edited.

Everything stays in memory until the run ends; ``write_spans`` then
writes each span with its self time (duration minus the time its child
spans cover).
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time

MB = 1024 * 1024
# Task metrics that count rows an enrichment task newly set.
NEWLY_SET = ("updated_duration", "matched_gtfs_rides", "matched_gtfs_stops",
             "matched_nearest_locations")
EXEC_KEYS = ("run_s", "cpu_s", "shuffle_mb", "spill_mb", "tasks")


class NullTracer:
    """Tracing off: spans cost nothing."""

    @contextlib.contextmanager
    def span(self, name: str):
        yield None


class Tracer(NullTracer):
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._counters: dict[str, list] = {}
        self._patched: list[tuple] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = {"name": name, "id": len(self.spans) + 1,
             "parent": parent["id"] if parent else None,
             "start": time.time(), "end": None}
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(str(s["id"]), name)
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(str(parent["id"]), parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    # -- layer counters ----------------------------------------------------
    def add(self, name: str, seconds: float, value: float = 0) -> None:
        c = self._counters.setdefault(name, [0, 0.0, 0])
        c[0] += 1
        c[1] += seconds
        c[2] += value

    def reset_counters(self) -> None:
        self._counters = {}

    def counters(self) -> dict:
        return {k: list(v) for k, v in self._counters.items()}

    def _wrap(self, module, attr: str, counter: str, span: bool, rows: bool = False):
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            cm = self.span(counter) if span else contextlib.nullcontext()
            with cm:
                t0 = time.perf_counter()
                out = orig(*args, **kwargs)
                self.add(counter, time.perf_counter() - t0,
                         out["rows"] if rows else 0)
            return out

        setattr(module, attr, wrapper)
        self._patched.append((module, attr, orig))

    def install(self) -> None:
        """Wrap the layer entry points the stride and curation tasks call."""
        from open_bus_stride_etl_spark.plans import stride, stride_tasks
        from open_bus_stride_etl_spark.sources import fs, parquet_stats, stride_lake

        self._wrap(stride_lake, "read_table", "sources.read_table", span=True)
        self._wrap(stride_lake, "overwrite_table_observed", "sources.overwrite",
                   span=True, rows=True)
        for attr in ("rename", "exists", "delete"):
            self._wrap(fs, attr, "sources.swap", span=False)
        for attr in ("nonnull_count", "row_count"):
            self._wrap(parquet_stats, attr, "sources.footer_stats", span=False)
        self._wrap(stride_tasks, "read_manifest", "sources.manifest", span=False)
        for attr, fn in vars(stride).items():
            if callable(fn) and not attr.startswith("_") and \
                    getattr(fn, "__module__", None) == stride.__name__:
                self._wrap(stride, attr, "plans.build", span=False)

    def uninstall(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched = []

    def write_spans(self, path: str) -> None:
        """Write every span with ``self_s``: its duration minus its
        children's. Children of one span never overlap, because spans
        open and close on one thread."""
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                dur = s["end"] - s["start"]
                fh.write(json.dumps({**s, "dur_s": round(dur, 6),
                                     "self_s": round(dur - child_s.get(s["id"], 0.0), 6)}) + "\n")


# -- Spark event log --------------------------------------------------------
def parse_event_log(log_dir: str) -> dict[int, dict]:
    """Jobs of the (single) application logged in ``log_dir``: submission
    and completion time (epoch seconds), job group, and the summed task
    metrics of its stages."""
    (path,) = glob.glob(os.path.join(log_dir, "*"))
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                j = jobs[ev["Job ID"]] = {
                    "start": ev["Submission Time"] / 1000.0, "end": None,
                    "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                    "run_s": 0.0, "cpu_s": 0.0, "shuffle_mb": 0.0, "spill_mb": 0.0,
                    "tasks": 0, "input_mb": 0.0, "output_mb": 0.0, "peak_mem_mb": 0.0,
                }
                for sid in ev["Stage IDs"]:
                    stage_job[sid] = ev["Job ID"]
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev["Stage ID"]))
                m = ev.get("Task Metrics")
                if job is None or not m:
                    continue
                job["tasks"] += 1
                job["run_s"] += m["Executor Run Time"] / 1000.0
                job["cpu_s"] += m["Executor CPU Time"] / 1e9
                job["shuffle_mb"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / MB
                job["spill_mb"] += m["Disk Bytes Spilled"] / MB
                job["input_mb"] += m["Input Metrics"]["Bytes Read"] / MB
                job["output_mb"] += m["Output Metrics"]["Bytes Written"] / MB
                job["peak_mem_mb"] = max(job["peak_mem_mb"], m["Peak Execution Memory"] / MB)
    return jobs


def _union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def layer_metrics(tracer: Tracer, jobs: dict[int, dict], rep: dict,
                  task_names: list[str]) -> dict[str, float]:
    """Per-layer metrics of one traced rep.

    ``rep`` holds its top-level ``spans`` (one per part of the pass that
    has its own span), the layer ``counters`` collected during it and the
    ``metrics`` each task run returned. Each Spark job belongs to the
    span named by its job group; a job without one belongs to the
    innermost span open when it was submitted. A task that runs more than
    once in a rep (the catch-up and the cycle both run the hourly tasks
    and the ledger) sums its runs."""
    spans = {s["id"]: s for s in tracer.spans}

    def owner(job: dict) -> dict | None:
        if job["group"] and job["group"].isdigit() and int(job["group"]) in spans:
            return spans[int(job["group"])]
        open_ = [s for s in tracer.spans if s["start"] <= job["start"] <= (s["end"] or 0)]
        return max(open_, key=lambda s: s["start"]) if open_ else None

    def ancestors(s: dict | None):
        while s is not None:
            yield s
            s = spans.get(s["parent"])

    def gap(span: dict, span_jobs: list[dict]) -> float:
        """Span wall time minus the union of its jobs' intervals."""
        return span["end"] - span["start"] - _union_s(
            [(j["start"], j["end"]) for j in span_jobs], span["start"], span["end"])

    roots = {s["id"] for s in rep["spans"]}
    v: dict[str, float] = {}
    rep_jobs: list[dict] = []
    by_span: dict[int, list[dict]] = {}
    for job in jobs.values():
        chain = list(ancestors(owner(job)))
        if job["end"] is None or not roots & {s["id"] for s in chain}:
            continue
        rep_jobs.append(job)
        for s in chain:
            by_span.setdefault(s["id"], []).append(job)
    task_spans = {t: [] for t in task_names}
    for s in tracer.spans:
        if s["parent"] in roots and s["name"].startswith("task."):
            task_spans[s["name"][5:]].append(s)
    for t in task_names:
        tj = [j for s in task_spans[t] for j in by_span.get(s["id"], [])]
        v[f"task.{t}.wall_s"] = sum(s["end"] - s["start"] for s in task_spans[t])
        v[f"task.{t}.jobs"] = len(tj)
        v[f"task.{t}.driver_gap_s"] = sum(gap(s, by_span.get(s["id"], []))
                                          for s in task_spans[t])
        for k in EXEC_KEYS:
            v[f"exec.{t}.{k}"] = sum(j[k] for j in tj)
    c = rep["counters"]
    for name in ("sources.read_table", "sources.overwrite",
                 "sources.footer_stats", "sources.manifest", "plans.build"):
        calls, secs, _ = c.get(name, (0, 0.0, 0))
        v[f"{name}.calls"] = calls
        v[f"{name}.s"] = secs
    v["sources.swap.s"] = c.get("sources.swap", (0, 0.0, 0))[1]
    v["sources.input_mb"] = sum(j["input_mb"] for j in rep_jobs)
    v["sources.output_mb"] = sum(j["output_mb"] for j in rep_jobs)
    written = c.get("sources.overwrite", (0, 0.0, 0))[2]
    v["sources.rows_written"] = written
    newly = sum(m.get(k, 0) for m in rep["metrics"] for k in NEWLY_SET)
    v["sources.useful_write_ratio"] = newly / written if written else 0.0
    hashed = written_h = 0
    for m in rep["metrics"]:
        if "hours_total" in m:  # backfill
            hashed += m["hours_total"]
            written_h += m["written"]
        elif "hours_scanned" in m:  # hourly sweep
            hashed += sum(m.get(k, 0) for k in ("created", "updated", "skipped", "empty"))
            written_h += m.get("created", 0) + m.get("updated", 0)
    v["packages.hours_hashed"] = hashed
    v["packages.hours_written"] = written_h
    v["packages.write_ratio"] = written_h / hashed if hashed else 0.0
    v["spark.jobs"] = len(rep_jobs)
    v["spark.driver_gap_s"] = sum(gap(s, by_span.get(s["id"], [])) for s in rep["spans"])
    v["spark.peak_exec_memory_mb"] = max((j["peak_mem_mb"] for j in rep_jobs), default=0.0)
    return v

