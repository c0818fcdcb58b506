"""Stride workload benchmark: one command, two workloads.

    python3 perfbench/run.py --workload steady|curate --seed N \\
        --seconds S --trace 0|1

Runs from the root of a checkout of the repository, on ``local[nproc]``,
from one driver process, and reads and writes only under ``.bench_work/``
in that checkout. With ``--trace 0`` the last stdout line carries the
end-to-end metrics; with ``--trace 1`` it carries the per-layer metrics of
a traced pass (see README.md). The line before it records
sizes, every pass, the CPU probe readings and any check failures.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Set-ups per run: setup_s is their median.
SETUPS = 5


def _environment(work: str) -> None:
    """Keep every file Spark, the JVM and Python create inside ``work``,
    and size the session to the cores this process may use."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = "4g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    import tempfile

    tempfile.tempdir = tmp


def _fits(t0: float, seconds: float, *sides: list[dict]) -> bool:
    """Whether one more pass on each side, as slow as that side's slowest
    so far, still ends within ``seconds`` of ``t0``."""
    more = sum(max(r["pass"] for r in side) for side in sides)
    return time.perf_counter() - t0 + more <= seconds


def _traced(wl, tracer) -> dict:
    """One pass with the spans and the layer wrappers on."""
    untraced = wl.r.tracer
    wl.r.tracer = tracer
    tracer.reset_counters()
    tracer.install()
    try:
        rep = wl.rep()
    finally:
        tracer.uninstall()
        wl.r.tracer = untraced
    rep["counters"] = tracer.counters()
    return rep


def _overhead_pairs(wl, seconds: float, tracer) -> tuple[list[dict], list[dict]]:
    """Warm untraced and traced passes in turn, in the order U T T U U T
    ..., while the next pair fits in ``seconds``; at least one pair. Both
    sides run in the same event-logged Spark context, so the comparison
    covers the spans and wrappers, not the event log, and a JVM still
    warming up slows neither side more than the other."""
    plain: list[dict] = []
    traced: list[dict] = []
    t0 = time.perf_counter()
    while not traced or _fits(t0, seconds, plain, traced):
        for side in ((plain, traced) if len(plain) % 2 == 0 else (traced, plain)):
            side.append(wl.rep() if side is plain else _traced(wl, tracer))
    return plain, traced


def _start_session():
    from open_bus_stride_etl_spark.session import build_session

    spark = build_session("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _restart(spark, event_log: str | None = None):
    """Stop the Spark context and start a new one in the same JVM; with
    ``event_log``, the new one writes its event log there (uncompressed,
    not rolled)."""
    from pyspark import SparkContext

    spark.stop()
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        system = SparkContext._jvm.java.lang.System
        for k, v in (("spark.eventLog.enabled", "true"),
                     ("spark.eventLog.dir", f"file://{event_log}"),
                     ("spark.eventLog.compress", "false"),
                     ("spark.eventLog.rolling.enabled", "false")):
            system.setProperty(k, v)
    return _start_session()


def _jvm_peak_rss_mb() -> float:
    from pyspark import SparkContext

    with open(f"/proc/{SparkContext._gateway.proc.pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def _stat(pid: int) -> tuple[str, int] | None:
    """(state, parent pid) of a process, or None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            # the command name in field 2 may contain spaces and parentheses
            state, ppid = fh.read().rsplit(")", 1)[1].split()[:2]
    except OSError:
        return None
    return state, int(ppid)


def _running(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[0] != "Z"


def _children(pid: int) -> list[int]:
    """Pids of the processes whose parent is ``pid``."""
    return [int(d) for d in os.listdir("/proc")
            if d.isdigit() and (_stat(int(d)) or ("", -1))[1] == pid]


def _shutdown(spark) -> None:
    """Stop Spark, then the JVM, and wait until the JVM and the Python
    workers it started have exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = gateway.proc
    workers = _children(proc.pid)
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while any(_running(p) for p in workers):
        if time.monotonic() > deadline:
            raise RuntimeError(f"Spark workers {workers} still running")
        time.sleep(0.1)


def run(args, work: str) -> dict:
    import probe

    record: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                    "probe_before": probe.probe()}
    from open_bus_stride_etl_spark.plans import llm_tasks, stride_tasks  # noqa: F401 registers tasks

    import tracing
    import workloads

    runner = workloads.Runner(None, tracing.NullTracer())
    wl = workloads.WORKLOADS[args.workload](runner, work, args.seed)
    log_dir = os.path.join(work, "eventlog") if args.trace else None
    # A set-up starts the Spark session and writes the inputs. The first
    # one launches the JVM; the others restart the Spark context in it.
    # In a traced run the last one turns the event log on.
    setups = []
    for i in range(SETUPS):
        t0 = time.perf_counter()
        if runner.spark is None:
            runner.spark = _start_session()
        else:
            runner.spark = _restart(runner.spark, log_dir if i == SETUPS - 1 else None)
        wl.generate()
        setups.append(time.perf_counter() - t0)
    spark = runner.spark
    record["setups_s"] = [round(x, 4) for x in setups]
    record["sizes"] = wl.sizes

    # The timed pass: the first one in this process.
    if args.trace:
        tracer = tracing.Tracer(spark.sparkContext)
        rep = _traced(wl, tracer)
        plain, traced = _overhead_pairs(wl, args.seconds, tracer)
    else:
        rep = wl.rep()
    t0 = time.perf_counter()
    wl.checks_once()
    record["checks_once_s"] = round(time.perf_counter() - t0, 3)
    record["pass"] = {k: round(rep[k], 4) for k in ("pass", "part1", "part2")}
    if args.trace:
        record["overhead_passes"] = {"untraced": [round(r["pass"], 4) for r in plain],
                                     "traced": [round(r["pass"], 4) for r in traced]}
        rss = _jvm_peak_rss_mb()
        spark.stop()
        layers = tracing.layer_metrics(tracer, tracing.parse_event_log(log_dir), rep,
                                       workloads.TASK_NAMES)
        layers["spark.jvm_peak_rss_mb"] = rss
        layers["trace.overhead_pct"] = 100.0 * (
            statistics.median(r["pass"] for r in traced)
            / statistics.median(r["pass"] for r in plain) - 1.0)
        spans = os.path.join(ROOT, ".bench_work", "traces",
                             f"{args.workload}-seed{args.seed}.spans.jsonl")
        tracer.write_spans(spans)
        record["spans"] = os.path.relpath(spans, ROOT)
        metrics = {k: {"value": v, "unit": _unit(k)} for k, v in layers.items()}
    else:
        metrics = {
            "setup_s": {"value": statistics.median(setups), "unit": "s"},
            "pass_s": {"value": rep["pass"], "unit": "s"},
        }
    failed = min(runner.failed, runner.attempted)
    if not args.trace:
        metrics["task_success_ratio"] = {
            "value": 1.0 - failed / max(runner.attempted, 1), "unit": "ratio"}
    _shutdown(spark)
    record["probe_after"] = probe.probe()
    record["errors"] = runner.errors
    return {"record": record,
            "result": {"correct": failed == 0, "attempted": runner.attempted,
                       "failed": failed, "metrics": metrics}}


def _unit(name: str) -> str:
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_pct"):
        return "%"
    if name.endswith("_ratio"):
        return "ratio"
    return "count"


def main() -> int:
    ap = argparse.ArgumentParser(description="Stride workload benchmark")
    ap.add_argument("--workload", required=True, choices=("steady", "curate"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "open_bus_stride_etl_spark")):
        print("perfbench: the program package is missing from this checkout",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    _environment(work)
    sys.path[:0] = [ROOT, HERE]
    stdout = sys.stdout
    try:
        # The tasks print their metrics to stdout; keep stdout for the result.
        with contextlib.redirect_stdout(sys.stderr):
            out = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(ROOT, ".bench_work", "results"), exist_ok=True)
    with open(os.path.join(ROOT, ".bench_work", "results",
                           f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(out, fh, indent=1, default=str)
    print(json.dumps({"perfbench": out["record"]}, default=str), file=stdout)
    print(json.dumps(out["result"]), file=stdout)
    return 0


if __name__ == "__main__":
    sys.exit(main())
