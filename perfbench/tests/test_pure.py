"""Self-tests of the benchmark's pure code: input generators, the
percentile rule and span arithmetic.

Run with ``python3 -m pytest perfbench/tests -q`` from the repository root.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
from spans import (  # noqa: E402
    Span,
    Tracer,
    backlog_max,
    covered,
    self_times,
    tail_percentile,
)


def test_tables_same_seed_same_rows():
    a, b = gen.make_tables(7), gen.make_tables(7)
    assert a.keys() == b.keys()
    for name in a:
        assert a[name].equals(b[name]), name


def test_tables_other_seed_other_rows():
    a, b = gen.make_tables(7), gen.make_tables(8)
    assert not a["lineitem"].equals(b["lineitem"])
    assert a["lineitem"].num_rows == b["lineitem"].num_rows


def test_order_detail_key_unique():
    li = gen.make_tables(3)["lineitem"].to_pandas()
    assert not li.duplicated(["l_orderkey", "l_linenumber"]).any()


def test_live_files_deterministic_and_ordered():
    assert gen.live_file(5, 3).equals(gen.live_file(5, 3))
    assert not gen.live_file(5, 3).equals(gen.live_file(6, 3))
    prev = gen.live_file(5, -1)
    for i in range(3):
        cur = gen.live_file(5, i)
        assert cur.schema == gen.LIVE_SCHEMA
        assert cur.num_rows == gen.LIVE_ROWS_PER_FILE
        # event time and event ids never go backwards across files
        assert min(cur["ts"].to_pylist()) >= max(prev["ts"].to_pylist())
        assert gen.file_of_event(cur["event_id"][0].as_py()) == i
        prev = cur
    assert gen.file_of_event(gen.live_file(5, -1)["event_id"][0].as_py()) == -1


def test_live_universe_grows():
    first = set(gen.live_file(1, 0)["mid"].to_pylist())
    late = set(gen.live_file(1, 30)["mid"].to_pylist())
    assert late - first


@pytest.mark.parametrize(
    "n, cap, want",
    [
        (1000, 100.0, 99.0),  # 10 samples beyond p99
        (999, 100.0, 95.0),  # 9.99 beyond p99: one step down
        (1000, 90.0, 90.0),  # capped
        (100, 100.0, 90.0),
        (50, 100.0, 75.0),
        (20, 100.0, 50.0),
        (5, 100.0, 50.0),  # too few for any tail: the median
    ],
)
def test_tail_percentile_rule(n, cap, want):
    p, value, count = tail_percentile([float(i) for i in range(n, 0, -1)], cap)
    assert (p, count) == (want, n)
    rank = max(1, -(-int(want * n) // 100))  # nearest rank, ceil(p * n / 100)
    assert value == float(rank)


def test_covered_merges_overlaps_and_clips():
    assert covered([(1, 3), (2, 5), (8, 20)], 0, 10) == 6
    assert covered([], 0, 10) == 0
    assert covered([(-5, -1)], 0, 10) == 0


def test_self_times():
    spans = [
        Span("op", 0.0, 10.0, None, "a"),
        Span("write", 1.0, 3.0, 0, "a"),
        Span("run", 2.0, 5.0, 0, "a"),  # overlaps its sibling
        Span("batch", 2.5, 4.0, 2, "a"),  # grandchild: only the parent loses it
    ]
    assert self_times(spans) == [6.0, 2.0, 1.5, 1.5]


def test_tracer_nesting_and_disabled():
    t = Tracer(True)
    with t.span("op", trace="x"):
        with t.span("inner"):
            pass
    assert [s.parent for s in t.spans] == [None, 0]
    assert t.spans[1].trace == "x"
    assert sum(self_times(t.spans)) == pytest.approx(t.spans[0].duration)
    off = Tracer(False)
    with off.span("op"):
        pass
    assert off.spans == []


def test_backlog_max():
    assert backlog_max([0, 1, 2], [0.5, 1.5, 2.5]) == 1
    assert backlog_max([0, 1, 2], [3, 3, 3]) == 3
    assert backlog_max([], []) == 0
