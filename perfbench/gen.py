"""Seeded input generator for the benchmark.

Writes a stride lake shaped like ``tools/gen_stride_data.generate`` and a
document corpus shaped like the ``documents`` table of
``tools/gen_testdata.py``, with every pseudo-random choice drawn from one
``numpy`` generator keyed on the seed: the same seed gives byte-identical
tables, and sizes do not depend on the seed (only contents do), so every
seed asks the program for the same amount of work. The sizes are the
constants ``RIDES`` and ``DOCS`` below.

Tables are written with pyarrow, not Spark, so generation runs no program
code. Timestamps are UTC microseconds, the type Spark itself writes for
this lake.

    python3 perfbench/gen.py --seed 7 --out .bench_work/gen
"""

from __future__ import annotations

import argparse
import datetime
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes: rides in the stride lake, documents in the corpus.
RIDES = 3000
DOCS = 5000

# Shape constants of tools/gen_stride_data.py, over fewer days.
N_DATES = 3
N_ROUTES = 200
N_STOPS = 1000
STOPS_PER_RIDE = 5
LOCS_PER_RIDE = 20
EPOCH = datetime.datetime(2024, 5, 1, tzinfo=datetime.timezone.utc)
# Large tables are split into this many files so Spark scans them in
# parallel; fixed, so the file layout does not depend on the box.
N_FILES = 4

US = 1_000_000
TS = pa.timestamp("us", tz="UTC")
EPOCH_US = int(EPOCH.timestamp()) * US
DAY_US = 86_400 * US

# Window and guard clock pinned for the enrichment tasks: the catch-up
# window covers every generated day, and the settle/stale clock sits after
# all telemetry, so no result depends on the wall clock.
FIRST_DAY = EPOCH.date()
LAST_DAY = FIRST_DAY + datetime.timedelta(days=N_DATES - 1)
CATCHUP_WINDOW = {
    "min_date": str(FIRST_DAY),
    "max_date": str(LAST_DAY + datetime.timedelta(days=1)),
}
NOW_TS = str(LAST_DAY + datetime.timedelta(days=5)) + " 00:00:00"

VOCAB = (
    "the quick brown fox jumps over lazy dog and a of to in is it was for on "
    "with data spark engine query batch stream table join shuffle"
).split()


def _write(table: pa.Table, path: str, n_files: int = 1) -> None:
    """Write ``table`` as a parquet directory of ``n_files`` part files."""
    os.makedirs(path)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        part = table.slice(i * step, step)
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"))


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _ts(us: np.ndarray, valid: np.ndarray | None = None) -> pa.Array:
    mask = None if valid is None else ~valid
    return pa.array(us, type=pa.int64(), mask=mask).cast(TS)


def _pick(rng: np.random.Generator, n: int, k: int) -> np.ndarray:
    """Boolean mask with exactly ``k`` of ``n`` entries set."""
    m = np.zeros(n, dtype=bool)
    m[rng.permutation(n)[:k]] = True
    return m


def stride_lake(base_dir: str, seed: int) -> dict:
    """Write a stride lake of ``RIDES`` rides over ``N_DATES`` days.

    Shape, as in tools/gen_stride_data.py: date-versioned GTFS dims, two
    GTFS rides per SIRI ride (a tier-1 match within a minute and a
    four-minute decoy), one NULL-timestamp telemetry row per ride, rides
    without telemetry, and exactly a third of the rides still to process.
    Returns ``{table: {"rows", "bytes"}}``.
    """
    rng = np.random.default_rng([seed, 1])
    n_rides = RIDES
    os.makedirs(base_dir, exist_ok=True)
    out: dict[str, pa.Table] = {}
    files: dict[str, int] = {}

    ids = np.arange(1, n_rides + 1, dtype=np.int64)
    day = rng.permutation(n_rides) % N_DATES
    route = rng.integers(1, N_ROUTES + 1, n_rides)
    start_us = (
        EPOCH_US
        + day * DAY_US
        + rng.integers(5, 21, n_rides) * 3600 * US
        + rng.integers(0, 60, n_rides) * 60 * US
    )
    dates = [FIRST_DAY + datetime.timedelta(days=int(d)) for d in range(N_DATES)]
    todo = _pick(rng, n_rides, n_rides // 3)
    null_long = pa.nulls(n_rides, pa.int64())
    out["siri_ride"] = pa.table({
        "id": ids,
        "siri_route_id": route,
        "journey_ref": [f"{dates[d]}-{10000 + i}" for d, i in zip(day, ids)],
        "vehicle_ref": [f"v{i}" for i in ids],
        "scheduled_start_time": _ts(start_us),
        "duration_minutes": pa.nulls(n_rides, pa.int32()),
        "first_vehicle_location_id": null_long,
        "last_vehicle_location_id": null_long,
        "updated_first_last_vehicle_locations": pa.nulls(n_rides, TS),
        "updated_duration_minutes": _ts(np.full(n_rides, EPOCH_US), ~todo),
        "gtfs_ride_id": null_long,
        "route_gtfs_ride_id": null_long,
        "journey_gtfs_ride_id": null_long,
        "scheduled_time_gtfs_ride_id": null_long,
    })
    files["siri_ride"] = N_FILES

    rid = np.arange(1, N_ROUTES + 1, dtype=np.int64)
    out["siri_route"] = pa.table({
        "id": rid,
        "operator_ref": [f"op{r % 20}" for r in rid],
        "line_ref": [f"line{r % 50}" for r in rid],
    })
    sid = np.arange(1, N_STOPS + 1, dtype=np.int64)
    out["siri_stop"] = pa.table({"id": sid, "code": [f"S{s:05d}" for s in sid]})

    n_rs = n_rides * STOPS_PER_RIDE
    rs_ride = np.repeat(ids, STOPS_PER_RIDE)
    out["siri_ride_stop"] = pa.table({
        "id": np.arange(1, n_rs + 1, dtype=np.int64),
        "siri_ride_id": rs_ride,
        "siri_stop_id": rng.integers(1, N_STOPS + 1, n_rs),
        "order": np.tile(np.arange(STOPS_PER_RIDE, dtype=np.int32), n_rides),
        "gtfs_stop_id": pa.nulls(n_rs, pa.int64()),
        "nearest_siri_vehicle_location_id": pa.nulls(n_rs, pa.int64()),
    })
    files["siri_ride_stop"] = N_FILES

    # Telemetry: every ride but a seeded 1/17 has LOCS_PER_RIDE points,
    # two minutes apart plus jitter (so per-ride order is unambiguous),
    # one of them with a NULL timestamp and some with a NULL latitude.
    has_tel = ~_pick(rng, n_rides, n_rides // 17)
    tel_rides = ids[has_tel]
    n_t = len(tel_rides)
    n_loc = n_t * LOCS_PER_RIDE
    j = np.tile(np.arange(LOCS_PER_RIDE, dtype=np.int64), n_t)
    lr = np.repeat(tel_rides, LOCS_PER_RIDE)
    null_j = np.repeat(rng.integers(0, LOCS_PER_RIDE, n_t), LOCS_PER_RIDE)
    ride_lat = np.repeat(32.0 + rng.random(n_t), LOCS_PER_RIDE)
    ride_lon = np.repeat(34.7 + rng.random(n_t), LOCS_PER_RIDE)
    out["siri_vehicle_location"] = pa.table({
        "id": (lr - 1) * LOCS_PER_RIDE + j + 1,
        "siri_ride_stop_id": (lr - 1) * STOPS_PER_RIDE + j % STOPS_PER_RIDE + 1,
        "siri_snapshot_id": rng.integers(1, 101, n_loc),
        "recorded_at_time": _ts(
            np.repeat(start_us[has_tel], LOCS_PER_RIDE)
            + j * 120 * US
            + rng.integers(0, 60, n_loc) * US,
            j != null_j,
        ),
        "lat": pa.array(ride_lat + j / 1e4, mask=rng.random(n_loc) < 1 / 19),
        "lon": ride_lon + rng.normal(0, 1e-4, n_loc),
        "bearing": rng.integers(0, 360, n_loc, dtype=np.int32),
        "velocity": rng.integers(0, 90, n_loc, dtype=np.int32),
        "distance_from_journey_start": (j * 500).astype(np.int32),
        "distance_from_siri_ride_stop_meters": pa.nulls(n_loc, pa.float64()),
    })
    files["siri_vehicle_location"] = N_FILES

    d_idx = np.repeat(np.arange(N_DATES, dtype=np.int64), N_STOPS)
    s_idx = np.tile(sid, N_DATES)
    out["gtfs_stop"] = pa.table({
        "id": d_idx * N_STOPS + s_idx,
        "date": pa.array([dates[d] for d in d_idx], type=pa.date32()),
        "code": [f"S{s:05d}" for s in s_idx],
        "lat": 32.0 + s_idx / 1000.0 + d_idx / 200.0 + rng.normal(0, 1e-3, len(s_idx)),
        "lon": 34.7 + s_idx / 1000.0 + rng.normal(0, 1e-3, len(s_idx)),
        "city": [f"city{s % 30}" for s in s_idx],
        "name": [f"stop {s}" for s in s_idx],
    })

    d_idx = np.repeat(np.arange(N_DATES, dtype=np.int64), N_ROUTES)
    r_idx = np.tile(rid, N_DATES)
    out["gtfs_route"] = pa.table({
        "id": d_idx * N_ROUTES + r_idx,
        "date": pa.array([dates[d] for d in d_idx], type=pa.date32()),
        "operator_ref": [f"op{r % 20}" for r in r_idx],
        "line_ref": [f"line{r % 50}" for r in r_idx],
        "agency_name": [f"agency{r % 20}" for r in r_idx],
        "route_short_name": [f"r{r}" for r in r_idx],
        "route_long_name": [f"route {r}" for r in r_idx],
        "route_type": ["3"] * len(r_idx),
        "route_alternative": ["0"] * len(r_idx),
        "route_direction": ["1"] * len(r_idx),
        "route_mkt": [f"mkt{r}" for r in r_idx],
    })

    # Two GTFS rides per SIRI ride: ids 2i-1 (within a minute, journey ref
    # matching the SIRI one) and 2i (a decoy four to five minutes later).
    g_route = day * N_ROUTES + route
    match_off = rng.integers(-55, 56, n_rides) * US
    decoy_off = (240 + rng.integers(0, 50, n_rides)) * US
    g_ids = np.empty(2 * n_rides, dtype=np.int64)
    g_ids[0::2], g_ids[1::2] = 2 * ids - 1, 2 * ids
    g_start = np.empty(2 * n_rides, dtype=np.int64)
    g_start[0::2], g_start[1::2] = start_us + match_off, start_us + decoy_off
    g_journey = []
    for d, i in zip(day, ids):
        g_journey.append(f"{10000 + i}_{dates[d].strftime('%d%m%y')}")
        g_journey.append(f"x{i}")
    n_g = 2 * n_rides
    out["gtfs_ride"] = pa.table({
        "id": g_ids,
        "gtfs_route_id": np.repeat(g_route, 2),
        "journey_ref": g_journey,
        "start_time": _ts(g_start),
        "end_time": pa.nulls(n_g, TS),
        "first_gtfs_ride_stop_id": pa.nulls(n_g, pa.int64()),
        "last_gtfs_ride_stop_id": pa.nulls(n_g, pa.int64()),
    })
    files["gtfs_ride"] = N_FILES

    # Three stops per GTFS ride, except a seeded 1/101 of rides with none.
    has_stops = ~_pick(rng, n_g, n_g // 101)
    gr = g_ids[has_stops]
    g_st = g_start[has_stops]
    seq = np.tile(np.arange(1, 4, dtype=np.int64), len(gr))
    rr = np.repeat(gr, 3)
    arr_us = np.repeat(g_st, 3) + seq * 600 * US
    out["gtfs_ride_stop"] = pa.table({
        "id": (rr - 1) * 3 + seq,
        "gtfs_ride_id": rr,
        "gtfs_stop_id": rng.integers(1, N_STOPS + 1, len(rr)),
        "stop_sequence": seq.astype(np.int32),
        "arrival_time": _ts(arr_us),
        "departure_time": _ts(arr_us + 60 * US),
        "drop_off_type": np.zeros(len(rr), dtype=np.int32),
        "pickup_type": np.zeros(len(rr), dtype=np.int32),
        "shape_dist_traveled": seq * 700.0,
    })
    files["gtfs_ride_stop"] = N_FILES

    sn = np.arange(1, 101, dtype=np.int64)
    failed = _pick(rng, 100, 10)
    snap_us = EPOCH_US + sn * 60 * US
    out["siri_snapshot"] = pa.table({
        "id": sn,
        "snapshot_id": [
            (EPOCH + datetime.timedelta(minutes=int(m))).strftime("%Y/%m/%d/%H/%M")
            for m in sn
        ],
        "etl_status": np.where(failed, "error", "loaded").tolist(),
        "etl_start_time": _ts(snap_us),
        "etl_end_time": _ts(snap_us + 40 * US),
        "error": pa.array(np.where(failed, "boom", "").tolist(), mask=~failed),
        "num_successful_parse_vehicle_locations": rng.integers(100, 200, 100, dtype=np.int32),
        "num_failed_parse_vehicle_locations": rng.integers(0, 3, 100, dtype=np.int32),
    })

    sizes = {}
    for name, table in out.items():
        path = os.path.join(base_dir, f"{name}.parquet")
        _write(table, path, files.get(name, 1))
        sizes[name] = {"rows": table.num_rows, "bytes": _dir_bytes(path)}
    return sizes


def corpus(base_dir: str, seed: int) -> dict:
    """Write ``{base_dir}/documents.parquet`` with ``DOCS`` documents.

    Shape, as in tools/gen_testdata.py: thirty words from a vocabulary
    that grows with the corpus (real stopwords first, synthetic ``wN``
    words after), and a tenth of the documents near-duplicates of their
    predecessor (its first 29 words plus ``changed``). Every 50th
    document is also cloned verbatim under a new id above the range, so
    the exact-duplicate keeper has work to do. Returns sizes as
    ``stride_lake`` does.
    """
    rng = np.random.default_rng([seed, 2])
    n_docs = DOCS
    v_size = max(40, int(1500 * n_docs / 50_000))
    words = np.array(VOCAB + [f"w{i}" for i in range(len(VOCAB), v_size)])
    base = words[rng.integers(0, v_size, (n_docs, 30))]
    near = _pick(rng, n_docs, n_docs // 10)
    near[0] = False
    texts = []
    for i in range(n_docs):
        if near[i]:
            texts.append(" ".join(base[i - 1, :29]) + " changed")
        else:
            texts.append(" ".join(base[i]))
    ids = list(range(1, n_docs + 1))
    clone_of = [i for i in ids if i % 50 == 1]
    ids += [n_docs + i for i in clone_of]
    texts += [texts[i - 1] for i in clone_of]
    n = len(ids)
    table = pa.table({
        "doc_id": pa.array(ids, type=pa.int64()),
        "text": texts,
        "lang": ["en"] * n,
        "source": [f"src{k}" for k in rng.integers(0, 5, n)],
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })
    path = os.path.join(base_dir, "documents.parquet")
    os.makedirs(base_dir, exist_ok=True)
    _write(table, path, N_FILES)
    return {"documents": {"rows": n, "bytes": _dir_bytes(path)}}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    if os.path.exists(args.out):
        ap.error(f"--out {args.out} already exists")
    sizes = stride_lake(os.path.join(args.out, "lake"), args.seed)
    sizes.update(corpus(os.path.join(args.out, "corpus"), args.seed))
    print(json.dumps(sizes, indent=1))


if __name__ == "__main__":
    main()
