"""Programmatic driver-window rebuild (the r9+ recipe, committed).

Recomputes ``_WINDOW_ROUND`` / ``_WINDOW_ROWS_ONLY`` / ``_DRIVER_WINDOW``
/ ``_DRIVER_TAIL`` in api.py from the cumulative CORRECTNESS_r*.json
records and rewrites the section in place:

1. rows-only entries that have NEVER executed under the driver — zero
   telemetry rows of any kind — take the very first slots;
2. oracled entries with no hash-green row in any prior round (new this
   round) come next: the hard correctness signal must reach them;
3. new/impl-changed rows-only entries (passed via --rows-only), then the
   stalest rows-only rotations (least-recently driver-executed);
4. remaining slots: proven oracled entries, stalest last-green first;
5. tail: everything else in current order, rows-only-by-design strictly
   last.

Usage: python tools/rebuild_window.py ROUND [--rows-only name ...]
         [--changed name ...]   # impl-changed entries forced into window
Writes api.py in place; run tests/test_driver_order.py afterwards.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))
# Let api.py import even when just-registered entries are not yet in the
# order lists — the whole point of this tool is to regenerate them.
os.environ["SPARK_GRAFT_ALLOW_ORDER_DRIFT"] = "1"

API_PATH = str(REPO / "flink_realtime_datawarehouse_v3_spark/registry/driver_order.py")
N_SLOTS = 50
N_ROWS_ONLY_ROTATIONS = 3


def history() -> tuple[dict, dict]:
    last_green: dict[str, int] = {}
    executed: dict[str, int] = {}
    for path in sorted(glob.glob(str(REPO / "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"r(\d+)", path).group(1))
        for n, r in json.load(open(path)).items():
            if r.get("hash_match") is True:
                last_green[n] = max(last_green.get(n, 0), rnd)
            if r.get("spark_rows") is not None:
                executed[n] = max(executed.get(n, 0), rnd)
    return last_green, executed


def build(round_no: int, forced_rows_only: list[str], changed: list[str]):
    from flink_realtime_datawarehouse_v3_spark import api

    last_green, executed = history()
    names = list(api.QUERIES)
    oracled = set(api.ORACLES)
    rows_only_all = [n for n in names if n not in oracled]

    window: list[str] = []
    window += [n for n in rows_only_all if n not in executed]
    window += [n for n in names if n in oracled and n not in last_green]
    window += [n for n in forced_rows_only if n not in window]
    stale_rows_only = sorted(
        (n for n in rows_only_all if n not in window),
        key=lambda n: (executed.get(n, 0), names.index(n)),
    )
    window += stale_rows_only[:N_ROWS_ONLY_ROTATIONS]
    window += [n for n in changed if n not in window]
    stale = sorted(
        (n for n in names if n in last_green),
        key=lambda n: (last_green[n], names.index(n)),
    )
    for n in stale:
        if len(window) >= N_SLOTS:
            break
        if n not in window:
            window.append(n)
    assert len(window) == N_SLOTS, f"window is {len(window)}"
    rows_only_in_window = [n for n in window if n not in oracled]
    tail = [n for n in names if n not in window and n in oracled]
    tail += [n for n in rows_only_all if n not in window]
    assert sorted(window + tail) == sorted(names)
    return window, tail, rows_only_in_window


def fmt_list(names: list[str], indent: str = "    ") -> str:
    return "\n".join(f'{indent}"{n}",' for n in names)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("round_no", type=int)
    ap.add_argument("--rows-only", nargs="*", default=[])
    ap.add_argument("--changed", nargs="*", default=[])
    args = ap.parse_args()

    window, tail, rows_only_in_window = build(
        args.round_no, args.rows_only, args.changed
    )

    src = open(API_PATH).read()
    block = (
        f"_WINDOW_ROUND = {args.round_no}\n\n"
        "# Rows-only entries deliberately inside the checked window this round\n"
        "# (never-driver-executed first, then new/changed, then the stalest\n"
        "# rotations) — an oracle-less slot buys error-surface + row-count\n"
        "# telemetry under the driver's real session. Generated by\n"
        "# tools/rebuild_window.py; do not hand-edit.\n"
        "_WINDOW_ROWS_ONLY = {\n"
        + fmt_list(sorted(rows_only_in_window))
        + "\n}\n\n"
        "_DRIVER_WINDOW = [\n" + fmt_list(window) + "\n]\n\n"
        "# Proven in earlier rounds; rotated past the cutoff. The\n"
        "# rows-only-by-design entries (no oracle possible) sit strictly last.\n"
        "_DRIVER_TAIL = [\n" + fmt_list(tail) + "\n]\n"
    )
    pat = re.compile(
        r"_WINDOW_ROUND = \d+.*?_DRIVER_TAIL = \[.*?\n\]\n", re.DOTALL
    )
    assert len(pat.findall(src)) == 1, "api.py window section not found once"
    open(API_PATH, "w").write(pat.sub(lambda _: block, src, count=1))
    print(f"window rebuilt for round {args.round_no}: "
          f"{len(window)} slots ({len(rows_only_in_window)} rows-only), "
          f"tail {len(tail)}")
    for i, n in enumerate(window, 1):
        print(f"  {i:2d}. {n}")


if __name__ == "__main__":
    main()
