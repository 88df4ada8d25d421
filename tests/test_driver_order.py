"""Registration-order contract: the correctness driver checks exactly the
first 50 registered entries, so the order IS the coverage lever.

The "proven" set counts only CORRECTNESS_r*.json records from rounds
STRICTLY OLDER than ``api._WINDOW_ROUND`` — the round the current window
was built for.  Counting the current round's record (once the driver
lands it mid-round) would retroactively flip the "unproven entries sit
first" invariant that produced the window in the first place; that is
exactly how this suite went red at the end of round 4.
"""

from __future__ import annotations

import glob
import json
import re
from pathlib import Path

from flink_realtime_datawarehouse_v3_spark import api

REPO = Path(__file__).resolve().parents[1]


def _proven_before_window_round() -> set[str]:
    proven: set[str] = set()
    for path in sorted(glob.glob(str(REPO / "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if m is None or int(m.group(1)) >= api._WINDOW_ROUND:
            continue
        with open(path) as f:
            rec = json.load(f)
        proven |= {n for n, r in rec.items() if r.get("hash_match") is True}
    return proven


def test_harness_runs_ansi_on(spark):
    """The driver's session runs Spark-default ANSI mode; rounds 4 and 5
    each shipped a failure visible only to the driver because the local
    harness pinned ansi=false. The whole local stack (this pytest session
    and tools/check_all.py, both built via session.get_spark) must run
    ANSI-on unless SPARK_GRAFT_ANSI explicitly opts out — this test pins
    the default so the driver-only-failure class stays closed."""
    import os

    if os.environ.get("SPARK_GRAFT_ANSI", "true") == "true":
        assert spark.conf.get("spark.sql.ansi.enabled") == "true"


def test_window_is_50_and_fully_oracle_checked():
    names = list(api.QUERIES)
    window = names[:50]
    assert len(names) == len(set(names))
    # every checked slot must be hash-checkable, EXCEPT the declared
    # rows-only rotations (api._WINDOW_ROWS_ONLY): entries with no
    # single-SQL oracle by design, deliberately surfaced for their first
    # rows-match driver rows this round.
    stray = [
        n for n in window if n not in api.ORACLES and n not in api._WINDOW_ROWS_ONLY
    ]
    assert not stray, f"undeclared rows-only entries in window: {stray}"
    # and the carve-out must actually be used for window slots, not rot
    assert all(n in window for n in api._WINDOW_ROWS_ONLY)


def test_never_checked_entries_sit_inside_window():
    """Every oracled entry with NO hash-green row in any pre-window-round
    driver record must sit in the first 50 (the checked window) — the
    window exists precisely to get unproven entries their hard signal."""
    proven = _proven_before_window_round()
    names = list(api.QUERIES)
    unproven = {n for n in api.ORACLES if n not in proven}
    if not unproven:
        return  # steady state: everything proven, any order is coverage-safe
    # With more new entries than slots, the strongest guarantee is that
    # unproven entries fill the EARLIEST slots: no proven entry may sit
    # ahead of an unproven one (any overflow lands right after slot 50 and
    # rotates in next round).
    last_unproven = max(i for i, n in enumerate(names) if n in unproven)
    ahead_proven = [
        n for n in names[:last_unproven] if n in api.ORACLES and n not in unproven
    ]
    assert not ahead_proven, (
        f"proven entries occupy slots ahead of unproven ones: {ahead_proven}"
    )
    overflow = [n for n in names[50:] if n in unproven]
    assert len(overflow) <= max(0, len(unproven) - 50), overflow


def test_rows_only_entries_are_last():
    """Rows-only entries must not waste hash-checkable slots: each is
    either a declared in-window rotation (_WINDOW_ROWS_ONLY) or parked at
    the very end of the tail."""
    names = list(api.QUERIES)
    rows_only = [
        n
        for n in names
        if n not in api.ORACLES and n not in api._WINDOW_ROWS_ONLY
    ]
    assert names[-len(rows_only):] == sorted(
        rows_only, key=names.index
    ), f"rows-only entries not at the tail: {rows_only}"


def test_every_entry_has_prior_round_or_window_coverage():
    """Rotated-out entries must be proven: hash-green in some driver
    record from a round older than the one this window targets."""
    proven = _proven_before_window_round()
    names = list(api.QUERIES)
    unproven = {n for n in api.ORACLES if n not in proven}
    # When there are more unproven entries than window slots, the
    # unavoidable overflow sits at the head of the tail (the companion
    # ordering test); everything after it must be proven.
    allowed_overflow = max(0, len(unproven) - 50)
    tail_unproven = [
        n for n in names[50:] if n in api.ORACLES and n not in proven
    ]
    assert len(tail_unproven) <= allowed_overflow, (
        f"entries rotated past the cutoff without a green row in any prior "
        f"round (beyond the {allowed_overflow} unavoidable): {tail_unproven}"
    )
