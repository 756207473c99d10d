"""Seeded input generator for the benchmark.

Everything the program under test reads is made here from the seed:

* ``events`` files for the ingest workload (the acquisition feed the
  streaming pipeline replays: ``event_id`` unique and increasing, ``ts``
  increasing, ``user_id % 40 + 1`` selects one of the 40 configured
  channels);
* the star-schema and ``events`` tables the query mix scans, with the
  schemas and value ranges of the repo's test tables (FIXTURES.md).

Run as a program it is the live load generator: one process, one thread,
publishing ``events`` slices into a feed directory at seeded Poisson arrival
times, each written under a hidden temp name and renamed into place, with
one manifest line per slice (its due and publish times, wall clock)::

    python3 perfbench/loadgen.py --seed 1 --out FEED/events.parquet \\
        --manifest M.jsonl --start EPOCH_S --seconds 14
"""

from __future__ import annotations

import argparse
import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

#: 2024-01-01T00:00:00 in epoch microseconds: the feed's synthetic clock.
BASE_US = 1_704_067_200_000_000
EVENT_TYPES = pa.array(["click", "view", "purchase", "signup", "error"])
PROPS = pa.array([f'{{"k": {k}}}' for k in range(100)])
N_USERS = 1500
#: The live feed: LIVE_RATE slices/s of SLICE_ROWS rows (2,000 rows/s over
#: the 40 channels).
LIVE_RATE, SLICE_ROWS = 20.0, 100

EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


def write_atomic(table: pa.Table, path: str) -> None:
    """Write ``table`` to a hidden temp name beside ``path``, then rename it
    in: a directory lister never sees a partial file (Spark's file listing
    skips names starting with ``.``)."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.tmp")
    pq.write_table(table, tmp)
    os.rename(tmp, path)


def events_rows(rng: np.random.Generator, id0: int, ts_us: np.ndarray) -> pa.Table:
    """``len(ts_us)`` events with ids from ``id0`` and the given timestamps."""
    n = len(ts_us)
    value = np.round(rng.exponential(50.0, n), 2)
    return pa.table(
        [
            pa.array(np.arange(id0, id0 + n, dtype=np.int64)),
            pa.array(ts_us.astype(np.int64), type=pa.int64()).cast(pa.timestamp("us")),
            pa.array(rng.integers(0, N_USERS, n, dtype=np.int64)),
            pc.take(EVENT_TYPES, pa.array(rng.integers(0, len(EVENT_TYPES), n))),
            pa.array(value),
            pc.take(PROPS, pa.array(rng.integers(0, len(PROPS), n))),
        ],
        schema=EVENTS_SCHEMA,
    )


def stage_backfill(feed_dir: str, seed: int, rows: int, files: int) -> None:
    """An outage's backlog: ``rows`` events in ``files`` files, ids and
    timestamps increasing across the files (mean gap 26 ms of feed time)."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(feed_dir, exist_ok=True)
    per = -(-rows // files)
    ts = BASE_US + np.cumsum(rng.integers(1, 52_000, rows, dtype=np.int64))
    for f in range(files):
        lo, hi = f * per, min(rows, (f + 1) * per)
        write_atomic(events_rows(rng, lo, ts[lo:hi]), os.path.join(feed_dir, f"part-{f:05d}.parquet"))


def live_schedule(seed: int, seconds: float) -> np.ndarray:
    """Due offsets (s) of a Poisson arrival process of LIVE_RATE slices/s
    over ``seconds``; gaps are floored at 1 ms so slice timestamps stay
    distinct."""
    rng = np.random.default_rng([seed, 1])
    gaps = np.maximum(rng.exponential(1.0 / LIVE_RATE, int(seconds * LIVE_RATE * 3) + 16), 1e-3)
    due = np.cumsum(gaps) - gaps[0]
    return due[due < seconds]


def run_live(out: str, manifest: str, seed: int, start: float, seconds: float) -> None:
    """Publish slice k at ``start + due[k]`` (wall clock).  Slice k holds ids
    ``k*SLICE_ROWS ..`` with feed timestamps spread over its inter-arrival
    gap."""
    rows = SLICE_ROWS
    os.makedirs(out, exist_ok=True)
    due = live_schedule(seed, seconds)
    rng = np.random.default_rng([seed, 3])
    prev_us = 0
    with open(manifest, "w") as m:
        for k, d in enumerate(due):
            due_us = int(round(d * 1e6)) + 1_000
            ts = BASE_US + prev_us + ((np.arange(1, rows + 1) * (due_us - prev_us)) // rows)
            prev_us = due_us
            table = events_rows(rng, k * rows, ts)
            wait = start + d - time.time()
            if wait > 0:
                time.sleep(wait)
            name = f"slice-{k:06d}.parquet"
            write_atomic(table, os.path.join(out, name))
            m.write(json.dumps({"k": k, "file": name, "rows": rows, "due": start + d,
                                "published": time.time()}) + "\n")
            m.flush()


# --- query-mix tables ---------------------------------------------------------


def _strings(prefix: str, ids: np.ndarray, width: int) -> pa.Array:
    return pa.array([f"{prefix}{i:0{width}d}" for i in ids])


def _dates_ms(rng: np.random.Generator, n: int, lo: str, hi: str) -> pa.Array:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    days = rng.integers(0, int((hi_d - lo_d).astype(int)) + 1, n)
    return pa.array((lo_d + days).astype("datetime64[us]"))


def make_tables(sf_dir: str, seed: int, sf: float) -> None:
    """The query mix's input tables at scale factor ``sf`` (lineitem has
    ``6e6 * sf`` rows, as in the repo's test tables)."""
    rng = np.random.default_rng([seed, 4])
    os.makedirs(sf_dir, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_part = int(200_000 * sf)  # key range of l_partkey
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    t = {
        "region": pa.table({"r_regionkey": pa.array(np.arange(5, dtype=np.int32)), "r_name": regions}),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
                "c_name": _strings("Customer#", np.arange(n_cust), 9),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
                "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
                "c_mktsegment": pa.array(
                    np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])[
                        rng.integers(0, 5, n_cust)
                    ]
                ),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
                "s_name": _strings("Supplier#", np.arange(n_supp), 9),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
                "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
                "o_orderstatus": pa.array(np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)]),
                "o_totalprice": pa.array(np.round(rng.uniform(1000, 500_000, n_ord), 2)),
                "o_orderdate": _dates_ms(rng, n_ord, "1995-01-01", "2001-08-01"),
                "o_orderpriority": pa.array(prio[rng.integers(0, 5, n_ord)]),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_li, dtype=np.int64)),
                "l_partkey": pa.array(rng.integers(0, n_part, n_li, dtype=np.int64)),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_li, dtype=np.int64)),
                "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
                "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
                "l_extendedprice": pa.array(np.round(rng.uniform(900, 105_000, n_li), 2)),
                "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
                "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
                "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n_li)]),
                "l_shipdate": _dates_ms(rng, n_li, "1995-01-02", "2001-11-04"),
            }
        ),
        # 30 days of feed time, like the repo's events test table
        "events": events_rows(
            rng, 0, BASE_US + np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev, dtype=np.int64))
        ),
    }
    for name, table in t.items():
        write_atomic(table, os.path.join(sf_dir, f"{name}.parquet"))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True, help="feed directory the slices land in")
    ap.add_argument("--manifest", required=True, help="JSON-lines record of each slice")
    ap.add_argument("--start", type=float, required=True, help="wall-clock time of slice 0 (epoch s)")
    ap.add_argument("--seconds", type=float, required=True)
    a = ap.parse_args()
    run_live(a.out, a.manifest, a.seed, a.start, a.seconds)


if __name__ == "__main__":
    main()
