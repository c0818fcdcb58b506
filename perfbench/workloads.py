"""The benchmark's two workloads and their correctness checks.

Each workload reaches the program only through ``plans.tasks.run_task``
and the tasks registered by ``plans.stride_tasks`` and
``plans.llm_tasks``. A workload has three steps:

- ``generate``: write the seeded inputs (part of ``setup_s``);
- ``rep``: one timed pass in two parts, then the checks of its outputs
  (untimed);
- ``checks_once``: per-seed checks against DuckDB, after the timed
  passes, outside ``setup_s`` and outside the timed regions.
"""

from __future__ import annotations

import datetime
import glob
import hashlib
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

import duckdb

import gen
from tracing import NEWLY_SET

CHAIN = (
    ("ride_durations", "siri-add-ride-durations"),
    ("rides_gtfs", "siri-update-rides-gtfs"),
    ("ride_stops_gtfs", "siri-update-ride-stops-gtfs"),
    ("ride_stops_vehicle_locations", "siri-update-ride-stops-vehicle-locations"),
    ("ride_aggregations", "gtfs-update-ride-aggregations"),
)
TASK_NAMES = [t for t, _ in CHAIN] + [
    "packages_backfill", "packages_hourly", "curate_full", "curate_incremental"]


class Runner:
    """Runs tasks inside spans, times them, and counts task runs attempted
    and failed (a task that raised, or a failed check)."""

    def __init__(self, spark, tracer):
        self.spark = spark
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def task(self, short: str, name: str, **params) -> tuple[dict, float]:
        from open_bus_stride_etl_spark.plans.tasks import run_task

        self.attempted += 1
        with self.tracer.span(f"task.{short}"):
            t0 = time.perf_counter()
            try:
                m = run_task(self.spark, name, **params)
            except Exception as exc:  # a failing task is counted; the run goes on
                traceback.print_exc(file=sys.stderr)
                self.fail(f"{short} raised {type(exc).__name__}: {exc}")
                m = {}
            dt = time.perf_counter() - t0
        return {k: v for k, v in m.items() if k not in ("task", "elapsed_sec")}, dt

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what[:300])

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.fail(what)


def _duck() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads = {len(os.sched_getaffinity(0))}")
    con.execute(f"SET temp_directory = '{tempfile.gettempdir()}'")
    return con


def _view(con, name: str, path: str) -> None:
    con.execute(f"CREATE OR REPLACE VIEW {name} AS "
                f"SELECT * FROM read_parquet('{path}/*.parquet')")


class Workload:
    name = ""

    def __init__(self, runner: Runner, work: str, seed: int):
        self.r = runner
        self.work = work
        self.seed = seed
        self.sizes: dict = {}


class Steady(Workload):
    """The catch-up after an outage, then one scheduler cycle over the
    lake it leaves. Set-up writes a seeded lake in which a third of the
    rides are still to process and no packages exist. A pass copies it
    afresh (untimed) and catches it up: part 1 is the five-task chain
    with the window and the guard clock pinned, then
    ``siri-packages-backfill`` into an empty package dir. That converges
    the lake. Part 2 is one cycle over it: the four hourly ``siri-*``
    tasks with their registry-default ``num_days`` up to the lake's last
    day, then the two daily tasks. Nothing is new in the cycle, so no row
    and no package may change."""

    name = "steady"
    HOURLY = CHAIN[:4]

    def __init__(self, *a):
        super().__init__(*a)
        self.pristine = os.path.join(self.work, "pristine")
        self.lake = os.path.join(self.work, "lake")
        self.pk = os.path.join(self.work, "packages")
        # (catch-up task metrics, fingerprint after it), one per pass
        self.catchups: list[tuple[dict, dict]] = []

    def generate(self) -> None:
        shutil.rmtree(self.pristine, ignore_errors=True)
        self.sizes = gen.stride_lake(self.pristine, self.seed)

    def catchup(self) -> dict:
        metrics = {}
        for short, name in CHAIN:
            params = {"base_dir": self.lake}
            if name.startswith("siri-"):
                params.update(gen.CATCHUP_WINDOW)
            if short == "ride_durations":
                params["now_ts"] = gen.NOW_TS
            metrics[short], _ = self.r.task(short, name, **params)
        metrics["packages_backfill"], _ = self.r.task(
            "packages_backfill", "siri-packages-backfill", base_dir=self.lake, out_dir=self.pk)
        return metrics

    def cycle(self) -> dict:
        max_date = str(gen.LAST_DAY + datetime.timedelta(days=1))
        metrics = {}
        for short, name in self.HOURLY:
            params = {"base_dir": self.lake, "max_date": max_date}
            if short == "ride_durations":
                params["now_ts"] = gen.NOW_TS
            metrics[short], _ = self.r.task(short, name, **params)
        metrics["ride_aggregations"], _ = self.r.task(
            "ride_aggregations", "gtfs-update-ride-aggregations", base_dir=self.lake)
        metrics["packages_hourly"], _ = self.r.task(
            "packages_hourly", "siri-hourly-update-packages", base_dir=self.lake, out_dir=self.pk)
        return metrics

    def fingerprint(self) -> dict:
        """Order-insensitive content hash and row count of the enriched
        tables, and a hash of every package manifest."""
        from open_bus_stride_etl_spark.functions.hashing import content_hash_and_count

        fp = {t: list(content_hash_and_count(
                  self.r.spark.read.parquet(os.path.join(self.lake, f"{t}.parquet"))))
              for t in ("siri_ride", "siri_ride_stop", "gtfs_ride")}
        h = hashlib.md5()
        paths = sorted(glob.glob(os.path.join(self.pk, "*-metadata.json")))
        for p in paths:
            with open(p, "rb") as fh:
                h.update(os.path.basename(p).encode() + b"\0" + fh.read())
        fp["packages"] = [h.hexdigest(), len(paths)]
        return fp

    def rep(self) -> dict:
        shutil.rmtree(self.lake, ignore_errors=True)
        shutil.rmtree(self.pk, ignore_errors=True)
        shutil.copytree(self.pristine, self.lake)
        with self.r.tracer.span("catchup") as s1:
            t0 = time.perf_counter()
            caught = self.catchup()
            part1 = time.perf_counter() - t0
        before = self.fingerprint()
        self.catchups.append((caught, before))
        with self.r.tracer.span("cycle") as s2:
            t0 = time.perf_counter()
            cycled = self.cycle()
            part2 = time.perf_counter() - t0
        for short, m in cycled.items():
            for k in NEWLY_SET:
                self.r.check(m.get(k, 0) == 0, f"steady: {short} newly set {k}={m.get(k)}")
        agg = cycled["ride_aggregations"]
        self.r.check(agg.get("dates_processed") == 0, f"steady: ride_aggregations {agg}")
        hourly = cycled["packages_hourly"]
        self.r.check(
            hourly.get("created") == 0 and hourly.get("updated") == 0
            and hourly.get("skipped", 0) + hourly.get("skipped_exists", 0)
            == before["packages"][1],
            f"steady: packages not all skipped {hourly}")
        after = self.fingerprint()
        self.r.check(after == before, f"steady: fingerprint {after} != {before}")
        return {"pass": part1 + part2, "part1": part1, "part2": part2, "spans": [s1, s2],
                "metrics": list(caught.values()) + list(cycled.values())}

    def checks_once(self) -> None:
        """Every catch-up gave the same task metrics and tables; the first
        one's plain aggregates match DuckDB over the generated parquet."""
        caught, fp = self.catchups[0]
        for other in self.catchups[1:]:
            self.r.check(other == (caught, fp), "catch-up: passes differ")
        con = _duck()
        for t in ("siri_ride", "siri_ride_stop", "siri_vehicle_location", "gtfs_ride"):
            _view(con, f"g_{t}", os.path.join(self.pristine, f"{t}.parquet"))
        _view(con, "out_ride", os.path.join(self.lake, "siri_ride.parquet"))

        def q(sql: str) -> tuple:
            return con.execute(sql).fetchone()

        for t in ("siri_ride", "siri_ride_stop", "gtfs_ride"):
            (n,) = q(f"SELECT count(*) FROM g_{t}")
            self.r.check(fp[t][1] == n, f"catch-up: {t} rows {fp[t][1]} != {n}")
        todo_n, dur_sum = q("""
            WITH d AS (
              SELECT r.id, round((epoch(max(l.recorded_at_time))
                                  - epoch(min(l.recorded_at_time))) / 60.0) AS dur
              FROM g_siri_ride r
              JOIN g_siri_ride_stop rs ON rs.siri_ride_id = r.id
              JOIN g_siri_vehicle_location l ON l.siri_ride_stop_id = rs.id
              WHERE r.updated_duration_minutes IS NULL
              GROUP BY r.id)
            SELECT count(*), CAST(sum(dur) AS BIGINT) FROM d""")
        got = caught["ride_durations"].get("updated_duration")
        self.r.check(got == todo_n, f"catch-up: durations set {got} != {todo_n}")
        out_n, out_sum = q("SELECT count(duration_minutes), "
                           "CAST(sum(duration_minutes) AS BIGINT) FROM out_ride")
        self.r.check((out_n, out_sum) == (todo_n, dur_sum),
                     f"catch-up: durations {(out_n, out_sum)} != {(todo_n, dur_sum)}")
        (loc_n,) = q("SELECT count(*) FROM g_siri_vehicle_location "
                     "WHERE recorded_at_time IS NOT NULL")
        pkg_n = 0
        for p in glob.glob(os.path.join(self.pk, "*-metadata.json")):
            with open(p) as fh:
                pkg_n += json.load(fh)["count_of_rows"]
        self.r.check(pkg_n == loc_n, f"catch-up: package rows {pkg_n} != {loc_n}")
        con.close()


class Curate(Workload):
    """``llm-curate-corpus`` with a fresh history, then again as an
    incremental run over the same corpus against run 1's history."""

    name = "curate"

    def __init__(self, *a):
        super().__init__(*a)
        self.corpus = os.path.join(self.work, "corpus")
        # (task metrics, run 1's survivors), one per pass
        self.pairs: list[tuple[dict, set]] = []

    def generate(self) -> None:
        shutil.rmtree(self.corpus, ignore_errors=True)
        self.sizes = gen.corpus(self.corpus, self.seed)

    def rep(self) -> dict:
        for d in ("hist", "out1", "out2"):
            shutil.rmtree(os.path.join(self.work, d), ignore_errors=True)
        common = {"base_dir": self.corpus, "history_dir": os.path.join(self.work, "hist")}
        with self.r.tracer.span("pair") as span:
            m1, d1 = self.r.task("curate_full", "llm-curate-corpus",
                                 out_dir=os.path.join(self.work, "out1"), **common)
            m2, d2 = self.r.task("curate_incremental", "llm-curate-corpus",
                                 out_dir=os.path.join(self.work, "out2"), **common)
        self.r.check(m2.get("n_final") == 0, f"curate: run 2 admitted {m2.get('n_final')}")
        survivors = {r[0] for r in self.r.spark.read.parquet(
            os.path.join(self.work, "out1")).select("doc_id").collect()}
        self.pairs.append(({"curate_full": m1, "curate_incremental": m2}, survivors))
        return {"pass": d1 + d2, "part1": d1, "part2": d2, "spans": [span],
                "metrics": [m1, m2]}

    def checks_once(self) -> None:
        """Every pass gave the same task metrics, and run 1's survivors
        are exactly the rows of the ``corpus_clean_keep`` oracle SQL,
        evaluated with DuckDB."""
        from open_bus_stride_etl_spark.plans.registry import oracle_sql

        con = _duck()
        _view(con, "documents", os.path.join(self.corpus, "documents.parquet"))
        oracle = {r[0] for r in con.execute(oracle_sql()["corpus_clean_keep"]).fetchall()}
        con.close()
        for metrics, survivors in self.pairs:
            self.r.check(metrics == self.pairs[0][0], f"curate: metrics {metrics} differ")
            self.r.check(survivors == oracle,
                         f"curate: {len(survivors ^ oracle)} survivors differ from the oracle")


WORKLOADS = {w.name: w for w in (Steady, Curate)}
