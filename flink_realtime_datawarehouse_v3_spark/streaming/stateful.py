"""Keyed-state streaming operators (SURVEY.md §2.6).

The six keyed operators are the true-streaming twins of the batch
window-function forms in :mod:`..operators.dedup` and
:mod:`..operators.timeseries`; the batch forms are the oracle in the
stream==batch parity tests (tests/test_streaming.py). Each one is a
per-key transition on top of :func:`_bucketed_keyed_state`:

- :func:`first_per_day_stream` — D1 UV dedup: per-key last emitted date
  (reference: RT/app/dwd/DwdTrafficUniqueVisitorDetail.java:76-105,
  state TTL 1 day == daily rollover of the date value).
- :func:`is_new_repair_stream` — P8 new-visitor flag repair: the
  first-visit date, backfilled to "old" for visitors first seen with
  is_new=0 (reference: RT/app/dwd/BaseLogApp.java:76-105).
- :func:`keep_latest_stream` — D4/W6 keep-latest with a 5 s debounce
  timer (reference: RT/app/dws/DwsTradePaymentSucWindow.java:85-121).
- :func:`jump_detect_stream` — D5 CEP bounce detection: pending
  session start closed by the next event or a 10 s event-time timeout
  (reference: RT/app/dwd/DwdTrafficUserJumpDetail.java:73-119; matched
  ∪ timed-out first events).
- :func:`uv_jump_contrib_stream` — D1 and D5 as one keyed operator for
  the 3-stream union window job.
- :func:`trailing_window_stream` — watermark-exact trailing time-window
  aggregate (the online feature-store shape).

Rows are processed in (ts, tiebreak) order inside each key and the
replay harness feeds time-ordered micro-batches, so the state
transitions see the same event order as the reference's Kafka
consumption.
"""

from __future__ import annotations

import pickle
from operator import itemgetter

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# perfbench/child.py looks the upsert table's reader up here, then
# rebinds every package attribute bound to it (its sink_drain span).
from .upsert_table import read_upsert_table  # noqa: F401


def _bucket_fn(cols, keys, order, out_cols, step, due=None, every_key=False):
    """The per-bucket function of :func:`_bucketed_keyed_state`, kept
    separate so it can be driven without Spark.

    ``fn(bucket, pdfs, state)`` loads the bucket's pickled
    ``{key: entry}`` dict, stable-sorts the call's rows by ``order``,
    and calls ``step(entry, rows, wm, out)`` once per touched key with
    that key's rows as ``cols`` tuples (``entry`` is None for a new
    key). ``step`` appends output tuples to ``out`` and returns the new
    entry, or None to drop the key. When the watermark ``wm`` is
    positive, each untouched key whose ``due(entry) < wm`` is stepped
    with no rows — its timer firing (every untouched key when
    ``every_key``). A timed-out call is that sweep alone. The bucket
    timer is ``max(wm, min due)`` over entries whose due is not None;
    an emptied dict removes the state. Without ``due`` the watermark is
    never read and no timer is set.
    """
    by_key = itemgetter(*[cols.index(k) for k in keys])
    order_is = [cols.index(c) for c in order]

    def nulls_last(row):
        # pandas' na_position="last": nulls after every value, tied
        return [(True, 0) if v is None or v != v else (False, v) for v in map(row.__getitem__, order_is)]

    def fires(e, wm):
        d = due(e)
        return d is not None and d < wm

    def fn(_bucket, pdfs, state):
        wm = state.getCurrentWatermarkMs() if due else 0
        ent = pickle.loads(bytes(state.get[0])) if state.exists else {}
        out = []
        touched: dict = {}
        if not state.hasTimedOut:
            # plain lists: pandas' per-call overhead (itertuples,
            # sort_values) would dominate the few rows a bucket gets
            rows = [r for p in pdfs for r in zip(*[p[c].tolist() for c in cols])]
            rows.sort(key=nulls_last)  # stable
            for row in rows:
                touched.setdefault(by_key(row), []).append(row)
        swept = []
        if wm > 0:
            swept = [
                k
                for k, e in ent.items()
                if k not in touched and (every_key or fires(e, wm))
            ]
        for k, rows in [*touched.items(), *((k, ()) for k in swept)]:
            e = step(ent.get(k), rows, wm, out)
            if e is None:
                ent.pop(k, None)
            else:
                ent[k] = e
        if ent:
            state.update((pickle.dumps(ent),))
            dues = [d for d in map(due, ent.values()) if d is not None] if due else []
            if dues:
                state.setTimeoutTimestamp(max(wm, min(dues)))
        else:
            state.remove()
        if out:
            yield pd.DataFrame(out, columns=out_cols)

    return fn


def _bucketed_keyed_state(
    df: DataFrame,
    keys: list[str],
    n_buckets: int,
    order: list[str],
    out_schema: StructType,
    step,
    due=None,
    cols: list[str] | None = None,
    every_key: bool = False,
) -> DataFrame:
    """Keyed state with per-key event-time timers on
    ``applyInPandasWithState`` — the one place the keyed operators'
    state and timer scaffolding lives.

    Spark enters Python once per group per micro-batch, so grouping by
    the key itself pays one Python call and one state-store row per
    key (~450 k calls for ~150 k order ids over 4 batches). Groups are
    instead ``n_buckets`` hash buckets ``pmod(xxhash64(keys),
    n_buckets)``, each holding one pickled dict of per-key entries, and
    :func:`_bucket_fn` runs each key's ``step`` inside the bucket. The
    per-key semantics are those of one group per key: the stable sort
    by ``order`` gives each key its rows in its own sorted order (same
    tie-breaks), and Spark fires a per-key event-time timer exactly when
    ``timeout < watermark`` — the strict ``due(entry) < wm`` sweep is
    that firing predicate, evaluated against the same
    ``getCurrentWatermarkMs()`` on every call, while the bucket timer at
    the minimum pending due guarantees a call no later than the earliest
    key would have fired. Keys touched by data in a call are not swept,
    as a per-key group with data does not time out.

    ``due`` (entry -> ms, or None for no timer) selects
    ``EventTimeTimeout``; without it the operator runs ``NoTimeout``.
    ``cols`` are the columns of the row tuples ``step`` sees (default:
    the output columns); ``every_key`` steps every untouched key on
    every call (see :func:`trailing_window_stream`).
    """
    out_cols = out_schema.fieldNames()
    fn = _bucket_fn(cols or out_cols, keys, order, out_cols, step, due, every_key)
    return (
        df.withColumn(
            "__bucket",
            F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(n_buckets)),
        )
        .groupBy("__bucket")
        .applyInPandasWithState(
            fn,
            out_schema,
            StructType([StructField("entries", BinaryType())]),
            "append",
            GroupStateTimeout.EventTimeTimeout if due else GroupStateTimeout.NoTimeout,
        )
    )


def first_per_day_stream(
    df: DataFrame, key: str = "mid", dt_col: str = "dt"
) -> DataFrame:
    """Emit each key's first row per calendar day (streaming D1). The
    entry is the key's last emitted date."""
    dt_i = df.columns.index(dt_col)

    def step(last, rows, wm, out):
        for row in rows:
            if row[dt_i] != last:
                out.append(row)
                last = row[dt_i]
        return last

    return _bucketed_keyed_state(
        df, [key], 256, ["ts", "event_id"], df.schema, step
    )


def is_new_repair_stream(
    df: DataFrame,
    key: str = "mid",
    dt_col: str = "dt",
    is_new_col: str = "is_new",
) -> DataFrame:
    """Repair the is_new flag with per-key first-visit-date state (P8).

    The entry holds the first-visit date when the key's first event
    claimed is_new=1, else the sentinel '' (visitor known old). is_new
    stays 1 only while raw=1 and the event date equals the stored
    first-visit date.
    """
    dt_i, new_i = df.columns.index(dt_col), df.columns.index(is_new_col)

    def step(first_dt, rows, wm, out):
        for row in rows:
            if first_dt is None:
                first_dt = row[dt_i] if row[new_i] == "1" else ""
            fixed = "1" if row[new_i] == "1" and row[dt_i] == first_dt else "0"
            out.append((*row[:new_i], fixed, *row[new_i + 1:]))
        return first_dt

    return _bucketed_keyed_state(
        df, [key], 256, ["ts", "event_id"], df.schema, step
    )


DEBOUNCE_MS = 5_000


def keep_latest_stream(
    df: DataFrame,
    keys: list[str],
    order_col: str,
    watermark_col: str = "rt",
) -> DataFrame:
    """D4/W6 keep-LATEST per key with a 5 s debounce timer (reference:
    RT/app/dws/DwsTradePaymentSucWindow.java:85-121,
    RT/app/dws/DwsTradeProvinceOrderWindow.java:86-121): the first row of
    a burst anchors a timer 5 s out; rows arriving before it replace the
    buffered row if their ``order_col`` is newer; the timer emits the
    survivor and clears state — absorbing left-join retraction bursts
    before the row is released downstream. The entry is (buffered row,
    anchor ms).

    The reference's timer is processing-time; here it is EVENT-time
    (timeout at anchor + 5 s, fired by the watermark on
    ``watermark_col``). Processing-time timers never let an
    ``availableNow`` replay terminate (the engine keeps scheduling
    no-data batches against the wall clock), and on replay
    arrival-proximity IS event-proximity, so event time is the faithful
    bounded mapping — and makes emissions deterministic: one per (key,
    5 s burst), independent of how files split into micro-batches.
    2048 buckets: the debounced order streams carry far more keys than
    the page-log operators.
    """
    out_schema = df.drop(watermark_col).schema
    oc_i = out_schema.fieldNames().index(order_col)

    def step(ent, rows, wm, out):
        if not rows:  # the debounce timer fired
            out.append(ent[0])
            return None
        for row in rows:
            row_ms = int(row[oc_i]) * 1000
            if ent is None:
                ent = (row, row_ms)
            elif row_ms - ent[1] > DEBOUNCE_MS:
                out.append(ent[0])  # burst closed in-stream
                ent = (row, row_ms)
            elif row[oc_i] >= ent[0][oc_i]:
                ent = (row, ent[1])
        return ent

    return _bucketed_keyed_state(
        df.withWatermark(watermark_col, "2 seconds"),
        keys,
        2048,
        [order_col],
        out_schema,
        step,
        due=lambda ent: ent[1] + DEBOUNCE_MS,
    )


JUMP_GAP_MS = 10_000


def jump_detect_stream(
    page: DataFrame,
    key: str = "mid",
    ts_col: str = "ts",
    last_page_col: str = "last_page_id",
    watermark_col: str = "rt",
) -> DataFrame:
    """Bounce detection (D5): a session start (last_page_id IS NULL) is a
    bounce unless a non-session-start event follows within 10 s.

    The entry is the pending session-start row, with an event-time timer
    at its ts + 10 s; the watermark (driven by ``watermark_col``) closes
    it when no successor arrives — the CEP ``within(10s)`` timeout
    side-output of the reference.
    """
    out_schema = page.drop(watermark_col).schema
    cols = out_schema.fieldNames()
    ts_i, lp_i = cols.index(ts_col), cols.index(last_page_col)

    def step(pending, rows, wm, out):
        if not rows:  # the 10 s timer fired: a bounce
            out.append(pending)
            return None
        for row in rows:
            is_start = row[lp_i] is None or pd.isna(row[lp_i])
            if pending is not None and (
                is_start or row[ts_i] - pending[ts_i] > JUMP_GAP_MS
            ):
                out.append(pending)  # start -> start, or timed out in-stream
            pending = row if is_start else None
        return pending

    return _bucketed_keyed_state(
        page.withWatermark(watermark_col, "2 seconds"),
        [key],
        256,
        [ts_col, "event_id"],
        out_schema,
        step,
        due=lambda pending: int(pending[ts_i]) + JUMP_GAP_MS,
    )


def uv_jump_contrib_stream(page: DataFrame, watermark_col: str = "rt") -> DataFrame:
    """Combined D1 + D5 keyed operator for the 3-stream union window job:
    ONE keyed state per mid computes both the first-visit-per-day UV
    flag and CEP bounce detection, emitting rows pre-shaped as
    union contributions ``(vc, ch, ar, is_new, ts, uv, sv, pv, dur,
    uj)`` with uv=1 or uj=1.

    The reference runs these as two separate Flink jobs over the same
    topic (RT/app/dwd/DwdTrafficUniqueVisitorDetail.java,
    RT/app/dwd/DwdTrafficUserJumpDetail.java); Spark allows only one
    Python stateful operator per streaming query, and consolidating the two
    state machines into one keyed pass is the idiomatic answer anyway:
    one shuffle on mid, one state store, both flags from the same sorted
    scan.

    The entry is (last UV date, pending start's (vc, ch, ar, is_new, ts)
    or None); only a pending start sets a timer. A fired timer emits the
    bounce and keeps the UV date. An entry whose parts are both None is
    kept, as the per-key form kept its empty state row.
    """
    out_schema = StructType(
        [StructField(c, StringType()) for c in ("vc", "ch", "ar", "is_new")]
        + [StructField(c, LongType()) for c in ("ts", "uv", "sv", "pv", "dur", "uj")]
    )
    cols = ["mid", "vc", "ch", "ar", "is_new", "ts", "event_id", "last_page_id", "dt"]
    VC, TS, LP, DT = 1, 5, 7, 8

    def step(ent, rows, wm, out):
        last_uv_dt, pend = ent or (None, None)
        if not rows:  # the 10 s timer fired: a bounce
            out.append((*pend, 0, 0, 0, 0, 1))
            return None if last_uv_dt is None else (last_uv_dt, None)
        for row in rows:
            is_start = row[LP] is None or pd.isna(row[LP])
            if is_start and row[DT] != last_uv_dt:
                out.append((*row[VC:TS + 1], 1, 0, 0, 0, 0))
                last_uv_dt = row[DT]
            if pend is not None and (is_start or row[TS] - pend[4] > JUMP_GAP_MS):
                out.append((*pend, 0, 0, 0, 0, 1))
            pend = row[VC:TS + 1] if is_start else None
        return (last_uv_dt, pend)

    return _bucketed_keyed_state(
        page.withWatermark(watermark_col, "2 seconds"),
        ["mid"],
        256,
        ["ts", "event_id"],
        out_schema,
        step,
        due=lambda ent: None if ent[1] is None else int(ent[1][4]) + JUMP_GAP_MS,
        cols=cols,
    )


def _trunc_div(s: int, n: int) -> int:
    """Integer division truncating toward zero (Spark DIV / DuckDB //
    semantics; Python's // floors, which differs for negative sums)."""
    q = abs(s) // n
    return -q if s < 0 else q


def trailing_window_stream(
    df: DataFrame,
    window_sec: int,
    key: str = "user_id",
    ts_col: str = "ts_s",
    val_col: str = "v_micro",
    watermark_col: str = "rt",
) -> DataFrame:
    """Watermark-correct ONLINE trailing time-window aggregate — the
    feature-store shape ("user's count/sum/mean over the last hour")
    as a keyed-state streaming operator with EXACT batch-RANGE-frame
    semantics:

    an event is emitted only once the watermark passes its timestamp,
    so every frame member (peers at the same second included — RANGE
    semantics) has provably arrived; the emitted aggregate therefore
    equals the batch ``value_trailing_window`` row-for-row, and the
    registry entry shares the batch entry's SQL oracle.

    The entry is two bounded buffers: ``hist`` — (ts, v) pairs inside
    the trailing window of any future event (pruned to ``watermark -
    window_sec`` on every evaluation) — and ``pend`` — rows newer than
    the watermark (bounded by one batch span plus the watermark delay).
    The per-key timer sits past the newest pending ts, flushing keys
    that receive no further batches, and once nothing is pending at
    ``last_ts + window_sec`` — the idle-TTL that self-cleans idle keys,
    so state tracks the ACTIVE key set, not the historical one.

    Unlike the other keyed operators, every call evaluates EVERY key in
    the bucket (``every_key``), not only due keys: a row's RANGE frame is
    complete the moment the watermark passes its timestamp (any later
    arrival with ts <= the row's ts would be dropped as late), so
    evaluating early emits the same rows with the same aggregates, and
    it keeps each row's emission in the micro-batch it has always been
    emitted in.
    """
    out_fields = [f for f in df.schema.fields if f.name != watermark_col]
    out_schema = StructType(
        out_fields
        + [
            StructField("trail_n", LongType()),
            StructField("trail_sum_micro", LongType()),
            StructField("trail_avg_micro", LongType()),
        ]
    )
    cols = [f.name for f in out_fields]
    ts_i, v_i = cols.index(ts_col), cols.index(val_col)

    def step(ent, rows, wm, out):
        hist, pend = ent or ([], [])
        pend = sorted([*pend, *rows], key=lambda r: (r[ts_i], str(r)))
        wm_s = wm // 1000
        ready = [r for r in pend if r[ts_i] < wm_s]
        if ready:
            pend = pend[len(ready):]
            hist = hist + [(r[ts_i], r[v_i]) for r in ready]
            for r in ready:
                lo = r[ts_i] - window_sec
                frame = [v for t, v in hist if lo <= t <= r[ts_i]]
                out.append(
                    (*r, len(frame), sum(frame), _trunc_div(sum(frame), len(frame)))
                )
        hist = [tv for tv in hist if tv[0] >= wm_s - window_sec]
        return (hist, pend) if pend or hist else None

    def due(ent):
        hist, pend = ent
        if pend:
            return (max(r[ts_i] for r in pend) + 1) * 1000
        return (max(t for t, _ in hist) + window_sec + 1) * 1000

    return _bucketed_keyed_state(
        df.withWatermark(watermark_col, "2 seconds"),
        [key],
        256,
        [ts_col],
        out_schema,
        step,
        due=due,
        cols=cols,
        every_key=True,
    )
