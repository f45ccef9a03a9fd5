"""Seeded input generators for the benchmark workloads.

Every input is a pure function of ``(workload, seed)`` and is written
once under ``<work>/inputs/<workload>-<seed>/``; a later run with the
same pair reuses the files. A ``_DONE`` marker is written last, so an
interrupted generation is redone instead of reused.

* ``gbfs_tick``  -- one Paris-scale GBFS snapshot per feed per tick, in
  the shapes of FIXTURES.md section 1 (status-only and info-only ids,
  null ``last_reported`` / ``is_*`` / string-coded bools);
* ``star``       -- the TPC-H-like star schema of the engine's testdata
  (same tables, columns and Arrow types), scaled and seeded.
"""

from __future__ import annotations

import json
import os
import random
import shutil
from datetime import datetime, timezone

import numpy as np

# -- GBFS ticks ---------------------------------------------------------------

TICK_BASE_EPOCH = 1704448800  # 2024-01-05 10:00:00 UTC
TICK_EVERY_S = 3 * 3600  # the reference's 3-hour cadence
N_STATIONS = 1500
N_BIKES = (3000, 4000)
METHODS = ["CREDITCARD", "KEY", "PHONE"]


def cached(root: str, build) -> str:
    """Run ``build(tmp_dir)`` once per ``root``; return ``root``."""
    if os.path.exists(os.path.join(root, "_DONE")):
        return root
    tmp = root + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    with open(os.path.join(tmp, "_DONE"), "w") as f:
        f.write("ok\n")
    shutil.rmtree(root, ignore_errors=True)
    os.rename(tmp, root)
    return root


def _dump(path: str, obj) -> int:
    data = json.dumps(obj, separators=(",", ":")) + "\n"
    with open(path, "w") as f:
        f.write(data)
    return len(data.encode())


def gbfs_tick(root: str, seed: int, tick: int) -> dict:
    """Write tick ``tick``'s three snapshots under ``root``; return paths,
    the tick time and the row counts the pipeline must produce."""
    d = os.path.join(root, f"tick_{tick:04d}")

    def build(out: str) -> None:
        rng = random.Random(seed * 100_003 + tick)
        epoch = TICK_BASE_EPOCH + tick * TICK_EVERY_S
        n_only = N_STATIONS // 50  # ~2% status-only and ~2% info-only ids
        shared = [f"st_{i:05d}" for i in range(N_STATIONS - n_only)]
        status_ids = shared + [f"st_s{i:04d}" for i in range(n_only)]
        info_ids = shared + [f"st_i{i:04d}" for i in range(n_only)]
        stations = []
        for sid in status_ids:
            st = {
                "station_id": sid,
                "stationCode": f"c{sid[3:]}",
                "num_bikes_available": rng.randrange(0, 61),
                "num_docks_available": rng.randrange(0, 61),
                "is_installed": 1,
                "is_returning": rng.choice([0, 1]),
                "is_renting": rng.choice([0, 1]),
                "last_reported": epoch - rng.randrange(0, 600),
            }
            r = rng.random()
            if r < 0.03:
                st["is_installed"] = None
            if r > 0.98:
                st["last_reported"] = None
            stations.append(st)
        info = []
        for i, sid in enumerate(info_ids):
            st = {
                "station_id": sid,
                "stationCode": f"c{sid[3:]}",
                "name": f"Station {sid.upper()}",
                "lat": round(48.80 + rng.random() * 0.11, 6),
                "lon": round(2.25 + rng.random() * 0.17, 6),
                "capacity": rng.randrange(10, 71),
                "rental_methods": rng.sample(METHODS, rng.randrange(0, 4)),
            }
            if i % 13 == 7:
                del st["rental_methods"]
            info.append(st)
        bikes = []
        for i in range(rng.randrange(*N_BIKES)):
            b = {
                "bike_id": f"bike_{tick}_{i:05d}",
                "lat": round(48.80 + rng.random() * 0.11, 6),
                "lon": round(2.25 + rng.random() * 0.17, 6),
                "is_reserved": rng.choice(["true", "false"]),
                "is_disabled": rng.choice(["true", "false"]),
                "current_range_meters": rng.randrange(1000, 30000),
                "vehicle_type_id": rng.choice(["scooter", "ebike"]),
                "vehicle_type": rng.choice(["SCOOTER", "EBIKE"]),
                "last_reported": epoch + 60 - rng.randrange(0, 600),
            }
            if i % 9 == 4:
                b["is_reserved"] = None
            if i % 11 == 6:
                b["current_range_meters"] = None
            bikes.append(b)
        nbytes = _dump(
            os.path.join(out, "ss.json"),
            {"lastUpdatedOther": epoch, "data": {"stations": stations}},
        )
        nbytes += _dump(
            os.path.join(out, "si.json"),
            {"lastUpdatedOther": epoch - 30, "data": {"stations": info}},
        )
        nbytes += _dump(
            os.path.join(out, "lime.json"),
            {"last_updated": epoch + 60, "data": {"bikes": bikes}},
        )
        _dump(
            os.path.join(out, "meta.json"),
            {
                "epoch": epoch,
                "n_status": len(stations),
                "n_velib": len(shared),
                "n_bikes": len(bikes),
                "json_bytes": nbytes,
            },
        )

    cached(d, build)
    with open(os.path.join(d, "meta.json")) as f:
        meta = json.load(f)
    meta.update(
        ss=os.path.join(d, "ss.json"),
        si=os.path.join(d, "si.json"),
        lime=os.path.join(d, "lime.json"),
        # the K-Means window is [end - 90 min, end]: 5 minutes after the
        # tick keeps all three snapshots of this tick inside it
        kmeans_end=datetime.fromtimestamp(meta["epoch"] + 300, tz=timezone.utc).replace(
            tzinfo=None
        ),
    )
    return meta


# -- star schema --------------------------------------------------------------

STAR_SCALE = 1  # multiples of the engine's sf0.1 testdata row counts
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DAY_US = 86_400_000_000


def _days_us(rng: np.random.Generator, lo: str, hi: str, n: int) -> np.ndarray:
    a = np.datetime64(lo, "D").astype(np.int64)
    b = np.datetime64(hi, "D").astype(np.int64)
    return rng.integers(a, b + 1, n) * DAY_US


def star(root: str, seed: int) -> str:
    """Write the star schema's parquet tables under ``root``.

    The row counts are sf0.1's times ``STAR_SCALE``, and the value
    distributions follow sf0.1's: uniform keys, about 10 orders per
    customer and 4 line items per order, the same date ranges, discounts
    and taxes rounded from uniform draws (so the end values are half as
    frequent), 1,500 users over 30 days of events. README.md lists the
    query selectivities and fan-outs checked against sf0.1.
    """

    def build(out: str) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        rng = np.random.default_rng(seed)
        n_cust, n_supp, n_part = (k * STAR_SCALE for k in (15_000, 1_000, 20_000))
        n_orders, n_li = 150_000 * STAR_SCALE, 600_000 * STAR_SCALE
        n_users, n_events = 1_500 * STAR_SCALE, 100_000 * STAR_SCALE

        def money(lo: float, hi: float, n: int) -> np.ndarray:
            return np.round(rng.uniform(lo, hi, n), 2)

        def pick(values: list[str], n: int) -> pa.Array:
            return pa.DictionaryArray.from_arrays(
                pa.array(rng.integers(0, len(values), n), pa.int32()), pa.array(values)
            ).cast(pa.string())

        def write(name: str, cols: dict) -> None:
            pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

        ts = pa.timestamp("us")
        write("region", {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
        write(
            "nation",
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            },
        )
        write(
            "customer",
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": money(-999.99, 9999.99, n_cust),
                "c_mktsegment": pick(SEGMENTS, n_cust),
            },
        )
        write(
            "supplier",
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": money(-999.99, 9999.99, n_supp),
            },
        )
        write(
            "part",
            {
                "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                "p_name": [f"part {i}" for i in range(n_part)],
                "p_brand": pick([f"Brand#{i}" for i in range(1, 6)], n_part),
                "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": money(900.0, 2100.0, n_part),
            },
        )
        write(
            "orders",
            {
                "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
                "o_orderstatus": pick(["F", "O", "P"], n_orders),
                "o_totalprice": money(1000.0, 500000.0, n_orders),
                "o_orderdate": pa.array(_days_us(rng, "1995-01-01", "2001-08-01", n_orders), ts),
                "o_orderpriority": pick(PRIORITIES, n_orders),
            },
        )
        qty = rng.integers(1, 51, n_li).astype(np.float64)
        write(
            "lineitem",
            {
                "l_orderkey": pa.array(rng.integers(0, n_orders, n_li), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
                "l_quantity": qty,
                "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
                "l_discount": np.rint(rng.uniform(0, 10, n_li)) / 100.0,
                "l_tax": np.rint(rng.uniform(0, 8, n_li)) / 100.0,
                "l_returnflag": pick(["A", "N", "R"], n_li),
                "l_linestatus": pick(["F", "O"], n_li),
                "l_shipdate": pa.array(_days_us(rng, "1995-01-02", "2001-11-04", n_li), ts),
            },
        )
        t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
        write(
            "events",
            {
                "event_id": pa.array(np.arange(n_events), pa.int64()),
                "ts": pa.array(np.sort(t0 + rng.integers(0, 30 * DAY_US, n_events)), ts),
                "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
                "event_type": pick(EVENT_TYPES, n_events),
                "value": money(0.0, 560.0, n_events),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
            },
        )

    return cached(root, build)
