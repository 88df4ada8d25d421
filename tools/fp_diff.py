"""Diff physical-plan fingerprints between two WINDOW_REPLICA records.

Usage: python tools/fp_diff.py WINDOW_REPLICA_r08.json /tmp/check_all.json

Prints one line per entry whose normalized plan shape changed (or that
gained/lost a fingerprint) — the cross-round regression check for silent
plan changes (broadcast->SMJ flip, lost pushdown, new exchange) that
timing noise can hide. Entries present in only one record are reported
as added/removed; streaming_* entries carry no fingerprint by design.

A multi-SF ``check_all`` record (one entry record per SF dir) is compared
SF by SF, each entry reported as ``<sf_dir>: <entry>``; SF dirs present
in only one record are reported as added/removed. A single-SF record is
refused against a multi-SF one (exit 2), since which SF it holds is
unknown.

Exit code 0 when nothing differs, 1 otherwise (usable as a gate).
"""

from __future__ import annotations

import json
import sys


def _is_multi_sf(rec: dict) -> bool:
    """True for a record keyed by SF dir: its values hold entry records
    (dicts) rather than an entry's scalar/list fields."""
    return any(
        isinstance(v, dict) and any(isinstance(x, dict) for x in v.values())
        for v in rec.values()
    )


def _diff(a: dict, b: dict, prefix: str = "") -> tuple[int, int]:
    """Print each entry whose fingerprint differs between ``a`` and ``b``;
    return (diffs, entries compared)."""
    changed = 0
    names = sorted(set(a) | set(b))
    for name in names:
        fa = a.get(name, {}).get("plan_fp")
        fb = b.get(name, {}).get("plan_fp")
        if name not in a or name not in b:
            print(f"{'added' if name not in a else 'removed':8s} {prefix}{name}")
            changed += 1
        elif fa != fb:
            print(f"CHANGED  {prefix}{name}: {fa} -> {fb}")
            changed += 1
    return changed, len(names)


def main() -> int:
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    a = json.load(open(sys.argv[1]))
    b = json.load(open(sys.argv[2]))
    multi = (_is_multi_sf(a), _is_multi_sf(b))
    if multi[0] != multi[1]:
        print(
            "refused: one record is a multi-SF check_all sweep and the other "
            "a single-SF record; compare records of the same shape"
        )
        return 2
    if not multi[0]:
        changed, n = _diff(a, b)
        print(f"{changed} fingerprint diffs across {n} entries")
        return 1 if changed else 0
    changed = 0
    for sf in sorted(set(a) | set(b)):
        if sf not in a or sf not in b:
            print(f"{'added' if sf not in a else 'removed':8s} SF {sf}")
            changed += 1
            continue
        c, n = _diff(a[sf], b[sf], f"{sf}: ")
        print(f"{sf}: {c} fingerprint diffs across {n} entries")
        changed += c
    print(f"{changed} fingerprint diffs in total")
    return 1 if changed else 0


if __name__ == "__main__":
    sys.exit(main())
