"""Seeded inputs for the benchmark.

Two generators, both pure functions of the seed:

- :func:`write_tables` writes the star-schema parquet tables the program
  reads (``region nation customer supplier part orders lineitem events``)
  with the value domains of the project's fixture data, at a fixed size.
- :func:`live_file` builds the rows of one file of the open-loop page log
  that feeds the live unique-visitor job; :func:`run_live` is the
  generator process: one thread, one parquet file per period, each
  written to a staging directory and renamed into the watched directory
  at its due time.

Run ``python3 perfbench/gen.py live ...`` to start the live generator
(the benchmark child does this itself).
"""

from __future__ import annotations

import argparse
import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Fixture-shaped table sizes (the project's sf0.001 fixture row counts).
SIZES = {
    "customer": 150,
    "supplier": 10,
    "part": 200,
    "orders": 1500,
    "lineitem": 6000,
    "events": 1000,
    "event_users": 15,
}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["FURNITURE", "MACHINERY", "BUILDING", "HOUSEHOLD", "AUTOMOBILE"]
_ADJ = ["cold", "small", "large", "blue", "old", "new", "red", "green"]
_NOUN = ["widget", "bolt", "rod", "anvil", "ring", "gear", "spring", "valve"]
_PTYPES = ["ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD", "SMALL"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]

_US_PER_DAY = 86_400_000_000


def _days(rng, start: str, n_days: int, size: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, size) * np.timedelta64(1, "D")


def make_tables(seed: int) -> dict[str, pa.Table]:
    """The star schema as Arrow tables; the same seed gives the same rows."""
    rng = np.random.default_rng(seed)
    n = SIZES
    i32, i64 = pa.int32(), pa.int64()
    tables = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), i32), "r_name": _REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), i32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(range(n["customer"]), i64),
                "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
                "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), i32),
                "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["customer"]), 2),
                "c_mktsegment": rng.choice(_SEGMENTS, n["customer"]),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(range(n["supplier"]), i64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
                "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), i32),
                "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["supplier"]), 2),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(range(n["part"]), i64),
                "p_name": [
                    f"{a} {b}"
                    for a, b in zip(
                        rng.choice(_ADJ, n["part"]), rng.choice(_NOUN, n["part"])
                    )
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
                "p_type": rng.choice(_PTYPES, n["part"]),
                "p_size": pa.array(rng.integers(1, 51, n["part"]), i32),
                "p_retailprice": np.round(900.0 + np.arange(n["part"]) % 1000 * 0.1, 2),
            }
        ),
    }
    n_orders = n["orders"]
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(n_orders), i64),
            "o_custkey": pa.array(rng.integers(0, n["customer"], n_orders), i64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_orders), 2),
            "o_orderdate": _days(rng, "1995-01-01", 2404, n_orders),
            "o_orderpriority": rng.choice(_PRIORITIES, n_orders),
        }
    )
    # Line numbers run 1..k within each order, so (orderkey, linenumber)
    # is unique as the CDC order_detail id requires.
    l_orderkey = np.sort(rng.integers(0, n_orders, n["lineitem"]))
    starts = np.searchsorted(l_orderkey, l_orderkey, side="left")
    l_linenumber = np.arange(n["lineitem"]) - starts + 1
    n_li = n["lineitem"]
    qty = rng.integers(1, 51, n_li).astype(float)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_orderkey, i64),
            "l_partkey": pa.array(rng.integers(0, n["part"], n_li), i64),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], n_li), i64),
            "l_linenumber": pa.array(l_linenumber, i32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["N", "A", "R"], n_li),
            "l_linestatus": rng.choice(["O", "F"], n_li),
            "l_shipdate": _days(rng, "1995-01-02", 2498, n_li),
        }
    )
    n_ev = n["events"]
    ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, 30 * _US_PER_DAY, n_ev)
    ).astype("timedelta64[us]")
    tables["events"] = pa.table(
        {
            "event_id": pa.array(range(n_ev), i64),
            "ts": ts,
            "user_id": pa.array(rng.integers(0, n["event_users"], n_ev), i64),
            "event_type": rng.choice(_EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    return tables


def write_tables(out_dir: str, seed: int) -> dict[str, int]:
    """Write the star schema under ``out_dir``; return rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in make_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows


# --- live page log --------------------------------------------------------

# Page-log columns in the order and types of the program's page log topic.
LIVE_SCHEMA = pa.schema(
    [
        ("ar", pa.string()),
        ("ch", pa.string()),
        ("is_new", pa.string()),
        ("md", pa.string()),
        ("mid", pa.string()),
        ("os", pa.string()),
        ("uid", pa.string()),
        ("vc", pa.string()),
        ("event_id", pa.int64()),
        ("ts", pa.int64()),
        ("page_id", pa.string()),
        ("last_page_id", pa.string()),
        ("item", pa.string()),
        ("item_type", pa.string()),
        ("during_time", pa.int64()),
    ]
)

# One file per period. A batch takes every file that has arrived, so with
# a period well under the batch time a row's freshness is not quantized by
# the period (a 0.5 s period made the medians jump by whole periods).
LIVE_PERIOD_S = 0.1
# 4000 events/s. The job's cost here is mostly per batch, not per event:
# its keyed state is pickled per hash bucket on every batch and grows with
# the keys seen. At 4000 and at 8000 events/s alike the cores were ~77%
# busy with a backlog of ~30 files.
LIVE_ROWS_PER_FILE = 400
LIVE_EVENT_DAY_FILES = 40  # files per event day: 4 s of wall time
LIVE_MIDS_START = 5000  # mid universe at file 0 ...
LIVE_MIDS_GROWTH = 500  # ... grows by this many mids per file
LIVE_ZIPF_A = 1.3
LIVE_EPOCH_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
EVENT_ID_STRIDE = 1_000_000  # event_id = (file index + 1) * stride + row
_PAGES = ["home", "good_detail", "search", "trade", "cart"]
_CHANNELS = ["Appstore", "xiaomi", "wandoujia", "oppo", "vivo"]


def live_file(seed: int, index: int) -> pa.Table:
    """Rows of live file ``index``: page events over its slice of event
    time, mids Zipf-skewed over a universe that grows with the index.
    Index -1 is the warm-up file, one event-time slice before file 0."""
    rng = np.random.default_rng([seed, index + 1])
    n = LIVE_ROWS_PER_FILE
    universe = LIVE_MIDS_START + LIVE_MIDS_GROWTH * max(index, 0)
    ranks = rng.zipf(LIVE_ZIPF_A, 4 * n)
    ranks = ranks[ranks <= universe][:n]
    while len(ranks) < n:  # heavy tail past the universe: redraw
        more = rng.zipf(LIVE_ZIPF_A, 4 * n)
        ranks = np.concatenate([ranks, more[more <= universe]])[:n]
    # Rank r -> a fixed pseudo-random mid id, so hot mids are spread out.
    mid_ids = (ranks * 2_654_435_761 + seed) % 1_000_003
    day_ms = 86_400_000
    slice_ms = day_ms // LIVE_EVENT_DAY_FILES
    start = LIVE_EPOCH_MS + index * slice_ms
    ts = start + np.sort(rng.integers(0, slice_ms, n))
    pages = rng.choice(_PAGES, n)
    session_start = rng.random(n) < 0.3
    last_page = np.where(session_start, None, rng.choice(_PAGES, n))
    base = (index + 1) * EVENT_ID_STRIDE  # warm-up file gets ids 0..n-1
    return pa.table(
        {
            "ar": [str(m % 10) for m in mid_ids],
            "ch": rng.choice(_CHANNELS, n),
            "is_new": rng.choice(["0", "1"], n),
            "md": [f"model_{m % 7}" for m in mid_ids],
            "mid": [f"mid_{m}" for m in mid_ids],
            "os": ["iOS" if m % 4 == 0 else "Android" for m in mid_ids],
            "uid": [str(m) for m in mid_ids],
            "vc": [f"v2.1.{m % 3}" for m in mid_ids],
            "event_id": pa.array(base + np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.int64()),
            "page_id": pages,
            "last_page_id": pa.array(last_page, pa.string()),
            "item": pa.array([None] * n, pa.string()),
            "item_type": pa.array([None] * n, pa.string()),
            "during_time": pa.array(rng.integers(1000, 60000, n), pa.int64()),
        },
        schema=LIVE_SCHEMA,
    )


def file_of_event(event_id: int) -> int:
    """Index of the live file that holds ``event_id`` (-1: warm-up)."""
    return event_id // EVENT_ID_STRIDE - 1


def live_file_name(index: int) -> str:
    return f"part-{index + 1:05d}.parquet"


def run_live(
    out_dir: str, stage_dir: str, seed: int, seconds: float, t_start: float
) -> dict:
    """Open-loop generator: file ``i`` is due at ``t_start + i * period``
    and is renamed into ``out_dir`` at that time, however far the reader
    has fallen behind. Returns the schedule with each file's lateness."""
    n_files = max(1, int(round(seconds / LIVE_PERIOD_S)))
    os.makedirs(stage_dir, exist_ok=True)
    files = []
    for i in range(n_files):
        due = t_start + i * LIVE_PERIOD_S
        table = live_file(seed, i)
        staged = os.path.join(stage_dir, live_file_name(i))
        pq.write_table(table, staged)
        pause = due - time.time()
        if pause > 0:
            time.sleep(pause)
        os.rename(staged, os.path.join(out_dir, live_file_name(i)))
        files.append(
            {"index": i, "due": due, "late_s": time.time() - due, "rows": table.num_rows}
        )
    return {"period_s": LIVE_PERIOD_S, "files": files}


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__)
    sub = p.add_subparsers(dest="cmd", required=True)
    live = sub.add_parser("live", help="run the open-loop page-log generator")
    live.add_argument("--out-dir", required=True)
    live.add_argument("--stage-dir", required=True)
    live.add_argument("--seed", type=int, required=True)
    live.add_argument("--seconds", type=float, required=True)
    live.add_argument("--t-start", type=float, required=True)
    live.add_argument("--manifest", required=True)
    a = p.parse_args()
    sched = run_live(a.out_dir, a.stage_dir, a.seed, a.seconds, a.t_start)
    with open(a.manifest, "w") as f:
        json.dump(sched, f)


if __name__ == "__main__":
    main()
