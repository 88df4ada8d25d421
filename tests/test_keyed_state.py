"""Spark-free rules of the bucketed keyed-state helper.

``stateful._bucket_fn`` is the per-bucket function every keyed streaming
operator hands to ``applyInPandasWithState``. These tests drive it
directly with a stub ``GroupState`` and pin the timer rules the six
operators share: the strict ``due < watermark`` firing predicate, no
sweep of keys touched by the call, the bucket timer at
``max(wm, min due)``, ``remove()`` on an emptied dict, no timer for
entries without a due time, and no timer or watermark read in the
``NoTimeout`` form — plus the stable, nulls-last sort of a call's rows.
"""

from __future__ import annotations

import pickle

import pandas as pd

from flink_realtime_datawarehouse_v3_spark.streaming.stateful import _bucket_fn

COLS = ["k", "ts"]


class StubState:
    """The slice of ``GroupState`` the helper uses, recording writes."""

    def __init__(self, ent=None, wm=0, timed_out=False, watermark=True):
        self.exists = ent is not None
        self.get = (pickle.dumps(ent),) if ent is not None else None
        self.hasTimedOut = timed_out
        self._wm = wm
        self._watermark = watermark
        self.saved = None
        self.removed = False
        self.timeout = None

    def getCurrentWatermarkMs(self):
        assert self._watermark, "the NoTimeout form read the watermark"
        return self._wm

    def update(self, value):
        self.saved = pickle.loads(value[0])

    def remove(self):
        self.removed = True

    def setTimeoutTimestamp(self, ts):
        self.timeout = ts


def pending_step(ent, rows, wm, out):
    """Buffer the key's latest row; a timer firing emits and drops it."""
    if not rows:
        out.append(ent)
        return None
    return rows[-1]


def due_10(ent):
    return ent[1] + 10


def call(fn, state, rows=()):
    pdfs = [pd.DataFrame(list(rows), columns=COLS)] if rows else []
    out = list(fn(0, iter(pdfs), state))
    return [] if not out else sorted(map(tuple, out[0].values.tolist()))


def test_key_fires_only_strictly_before_watermark():
    fn = _bucket_fn(COLS, ["k"], ["ts"], COLS, pending_step, due_10)
    at = StubState({"a": ("a", 90)}, wm=100, timed_out=True)
    assert call(fn, at) == []  # due 100 == watermark: not yet
    assert at.saved == {"a": ("a", 90)} and at.timeout == 100
    past = StubState({"a": ("a", 90)}, wm=101, timed_out=True)
    assert call(fn, past) == [("a", 90)]
    assert past.removed and past.timeout is None


def test_data_call_sweeps_only_untouched_keys():
    fn = _bucket_fn(COLS, ["k"], ["ts"], COLS, pending_step, due_10)
    st = StubState({"a": ("a", 0), "b": ("b", 0), "c": ("c", 995)}, wm=1000)
    # a and b are both overdue; a receives data, so only b fires
    assert call(fn, st, [("a", 5)]) == [("b", 0)]
    assert st.saved == {"a": ("a", 5), "c": ("c", 995)}


def test_timer_is_max_of_watermark_and_min_due():
    fn = _bucket_fn(COLS, ["k"], ["ts"], COLS, pending_step, due_10)
    early = StubState({"a": ("a", 50)}, wm=10)
    call(fn, early, [("b", 20)])
    assert early.timeout == 30  # min due over a (60) and b (30)
    late = StubState(None, wm=1000)
    call(fn, late, [("b", 20)])
    assert late.timeout == 1000  # touched b is overdue: clamp to the watermark


def test_rows_reach_step_stable_sorted_per_key():
    seen = {}

    def step(ent, rows, wm, out):
        seen[rows[0][0]] = [r[1] for r in rows]
        return None

    fn = _bucket_fn(["k", "ts", "tag"], ["k"], ["ts"], COLS, step)
    pdfs = [
        pd.DataFrame([("a", 3, "x"), ("b", 1, "y")], columns=["k", "ts", "tag"]),
        pd.DataFrame([("a", 1, "z"), ("a", 3, "w")], columns=["k", "ts", "tag"]),
    ]
    list(fn(0, iter(pdfs), StubState(watermark=False)))
    assert seen == {"a": [1, 3, 3], "b": [1]}


def test_null_order_values_sort_last():
    seen = []

    def step(ent, rows, wm, out):
        seen.extend(r[1] for r in rows)
        return None

    fn = _bucket_fn(COLS, ["k"], ["ts"], COLS, step)
    pdf = pd.DataFrame([("a", "b"), ("a", None), ("a", "a")], columns=COLS)
    list(fn(0, iter([pdf]), StubState(watermark=False)))
    assert seen == ["a", "b", None]  # pandas' na_position="last"


def test_emptied_dict_removes_state():
    fn = _bucket_fn(COLS, ["k"], ["ts"], COLS, pending_step, due_10)
    st = StubState({"a": ("a", 0), "b": ("b", 1)}, wm=500, timed_out=True)
    assert call(fn, st) == [("a", 0), ("b", 1)]
    assert st.removed and st.saved is None


def test_entries_without_due_set_no_timer():
    def due(ent):
        return None if ent[1] is None else ent[1] + 10

    def step(ent, rows, wm, out):
        return (rows[-1][0], None)  # a kept entry with nothing pending

    fn = _bucket_fn(COLS, ["k"], ["ts"], COLS, step, due)
    st = StubState({"a": ("a", None)}, wm=10_000)
    call(fn, st, [("b", 1)])
    assert st.saved == {"a": ("a", None), "b": ("b", None)}
    assert st.timeout is None and not st.removed


def test_no_timeout_form_never_sets_a_timer():
    def step(last, rows, wm, out):
        out.extend(rows)
        return rows[-1][1]

    fn = _bucket_fn(COLS, ["k"], ["ts"], COLS, step)
    st = StubState({"z": 1}, watermark=False)
    assert call(fn, st, [("a", 2), ("a", 1)]) == [("a", 1), ("a", 2)]
    assert st.saved == {"z": 1, "a": 2} and st.timeout is None


def test_every_key_steps_untouched_keys_before_due():
    fn = _bucket_fn(
        COLS, ["k"], ["ts"], COLS, pending_step, due_10, every_key=True
    )
    st = StubState({"a": ("a", 500)}, wm=100, timed_out=True)
    assert call(fn, st) == [("a", 500)]  # due 510 > 100, stepped anyway
