"""Keyed-state streaming operators (SURVEY.md §2.6) and keyed upsert sinks.

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

The sinks: :func:`upsert_sink` — K3 keyed last-writer-wins sink
(upsert-kafka equivalent; reference: RT/utils/MyKafkaUtil.java:112-121)
as a foreachBatch parquet MERGE — and its snapshot-isolated twins
:func:`upsert_sink_snapshot` / :func:`upsert_sink_snapshot_agg` with
their readers, delete, export and vacuum.

Rows are processed in (ts, tiebreak) order inside each key and the
replay harness feeds time-ordered micro-batches, so the state
transitions see the same event order as the reference's Kafka
consumption.
"""

from __future__ import annotations

import os
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


N_UPSERT_BUCKETS = 16  # hash(key) % N partition dirs; a prod table sizes
# this so one bucket ~ a few GB (e.g. 4096 at 100 TB) — the constant only
# changes the directory fanout, never the semantics.


def bucket_of(keys: list[str], n_buckets: int = N_UPSERT_BUCKETS):
    """Bucket id column for a keyed upsert table: pmod(murmur3(keys), N).
    Deterministic per key, so every update for a key lands in the same
    partition directory forever."""
    return F.pmod(F.hash(*[F.col(k) for k in keys]), F.lit(n_buckets))


def read_upsert_table(spark, path: str) -> DataFrame:
    """Read a bucketed upsert table back WITHOUT the internal ``__bucket``
    partition column (``mergeSchema`` because a config-driven column add
    rewrites only touched buckets — untouched buckets keep the old file
    schema until their keys next update, the ALTER-then-UPSERT shape)."""
    return (
        spark.read.option("mergeSchema", "true").parquet(path).drop("__bucket")
    )


def upsert_sink(
    keys: list[str],
    order_col: str,
    path: str,
    n_buckets: int = N_UPSERT_BUCKETS,
):
    """K3 upsert-kafka-equivalent sink: per micro-batch, MERGE the batch
    into a keyed parquet table, keeping the row with the greatest
    ``order_col`` per key (last-writer-wins; ties go to the incoming batch).

    Returns a ``foreachBatch`` function. The table is stored partitioned
    by ``__bucket = hash(key) % n_buckets``; each micro-batch reads ONLY
    the buckets its keys hash into (partition pruning on the stored
    table), merges, and rewrites ONLY those partition directories via
    dynamic ``partitionOverwriteMode`` — untouched bucket dirs are never
    read nor rewritten (byte-identical across batches, asserted by
    ``test_upsert_sink_untouched_buckets_byte_identical``). Merge cost per
    batch is O(touched buckets), not O(table) — the parquet stand-in for a
    bucketed Delta ``MERGE INTO`` (reference sink contract: primary-keyed
    upsert, RT/app/dwd/DwdTradeOrderPreProcess.java:200-250;
    RT/utils/MyKafkaUtil.java:112-121).

    **Read isolation (the documented gap):** plain parquet has no
    snapshot isolation, so a reader that lists a touched bucket DURING
    the dynamic-overwrite commit window can observe a partially-rewritten
    directory — missing, duplicated, or mixed-generation rows for that
    bucket (untouched buckets are never perturbed; the torn window is
    per-touched-bucket and lasts only the directory swap).
    ``test_upsert_reader_during_inflight_rewrite`` pins the failure mode:
    the read is torn, not an error. The contract is single-writer +
    read-between-commits. :func:`upsert_sink_snapshot` is the
    snapshot-isolated twin (atomic manifest swap over immutable
    generation dirs — the commit protocol a Delta/Iceberg ``MERGE
    INTO`` would provide on the same ``__bucket`` layout); use it when
    concurrent readers must never observe a mid-commit state.
    """

    def fn(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        from ..operators.dedup import keep_latest

        incoming = batch.withColumn("__gen", F.lit(batch_id + 1)).withColumn(
            "__bucket", bucket_of(keys, n_buckets)
        )
        if os.path.exists(path):
            # Bounded collect: <= n_buckets ints.
            touched = [
                r[0] for r in incoming.select("__bucket").distinct().collect()
            ]
            if not touched:
                return
            current = (
                spark.read.option("mergeSchema", "true")
                .parquet(path)
                .filter(F.col("__bucket").isin(touched))
                .withColumn("__gen", F.lit(0))
            )
            merged = keep_latest(
                current.unionByName(incoming, allowMissingColumns=True),
                keys,
                [order_col, "__gen"],
            )
        else:
            merged = keep_latest(incoming, keys, [order_col, "__gen"])
        # localCheckpoint materializes the merged buckets BEFORE the
        # dynamic overwrite touches the directories being read (Spark
        # refuses a lazy plan that reads the path it is overwriting).
        (
            merged.drop("__gen")
            .localCheckpoint()
            .repartition(F.col("__bucket"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__bucket")
            .parquet(path)
        )

    return fn


# --- snapshot-isolated upsert (manifest-swap commit protocol) ---------------

MANIFEST_NAME = "_MANIFEST.json"
MANIFESTS_DIR = "_manifests"  # archived per-version manifests (time travel)
COMMIT_LOCK_NAME = "_COMMIT.lock"
MAX_COMMIT_RETRIES = 3
VACUUM_RETAIN_VERSIONS = 3  # snapshots a default vacuum keeps readable
VACUUM_GRACE_S = 600.0  # reader lease: min seconds between tombstone & purge
TOMBSTONES_NAME = "_TOMBSTONES.json"  # gen dir -> first-seen-unreferenced ts


def _read_manifest(path: str) -> dict:
    return _read_manifest_versioned(path)[0]


def _read_manifest_versioned(path: str) -> tuple[dict, int]:
    """(bucket -> generation dir, manifest version). Version 0 for a
    missing manifest and for pre-r10 manifests written without the
    field; every commit bumps it — the optimistic-concurrency token the
    CAS commit section compares."""
    import json

    mpath = os.path.join(path, MANIFEST_NAME)
    if not os.path.exists(mpath):
        return {}, 0
    with open(mpath) as f:
        doc = json.load(f)
    return (
        {int(k): v for k, v in doc["buckets"].items()},
        int(doc.get("version", 0)),
    )


class _PosixFS:
    """The MVCC commit protocol's ENTIRE filesystem contract (r12
    verdict #7 seam, made concrete in r13). Every metadata-plane
    filesystem touch — lock arbitration, manifest/tombstone swap,
    generation/manifest listing, physical delete — goes through these
    five operations; an object-store port swaps this ONE object
    (see SCALE.md "MVCC commit protocol: the POSIX boundary"):

    - ``create_exclusive``  -> S3/GCS conditional PUT (If-None-Match:*)
    - ``replace``           -> catalog pointer CAS / metastore swap
    - ``listdir``           -> LIST with prefix
    - ``unlink``            -> DELETE object
    - ``rmtree``            -> batched DELETE under prefix

    The data plane (parquet generation writes/reads) stays Spark's own
    Hadoop-FS path and needs no seam.
    """

    @staticmethod
    def create_exclusive(path: str, payload: str) -> None:
        """Create-if-absent with payload; raises FileExistsError when
        another creator won (the CAS primitive)."""
        fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        os.write(fd, payload.encode())
        os.close(fd)

    @staticmethod
    def replace(src: str, dst: str) -> None:
        os.replace(src, dst)  # atomic on POSIX

    @staticmethod
    def listdir(path: str) -> list[str]:
        return os.listdir(path)

    @staticmethod
    def unlink(path: str) -> None:
        os.unlink(path)

    @staticmethod
    def rmtree(path: str) -> None:
        import shutil

        shutil.rmtree(path, ignore_errors=True)


_fs = _PosixFS()


def _acquire_commit_lock(path: str, timeout_s: float = 30.0) -> str:
    """Take the table's commit lock via ``_fs.create_exclusive`` — the
    portable CAS primitive (exactly-one creator wins; NFS-safe where
    plain flock is not). The lock guards only the SHORT commit section
    (re-read version, swap manifest), never the merge/write work, so
    writers stay parallel except for the few-ms critical section. A
    production lake format does the same arbitration with a conditional
    PUT on the object store (the ``_PosixFS`` seam maps each op)."""
    import time

    lock = os.path.join(path, COMMIT_LOCK_NAME)
    deadline = time.monotonic() + timeout_s
    while True:
        try:
            _fs.create_exclusive(lock, str(os.getpid()))
            return lock
        except FileExistsError:
            if time.monotonic() >= deadline:
                raise TimeoutError(
                    f"upsert commit lock held past {timeout_s}s: {lock} "
                    "(crashed writer? remove the lock file after confirming)"
                )
            time.sleep(0.05)


def _read_buckets(spark, path: str, manifest: dict, buckets) -> DataFrame | None:
    """Union of the manifest-resolved per-bucket dirs for ``buckets``,
    grouped per generation dir so partition inference sees a clean
    ``basePath/gen/__bucket=N`` layout (``__bucket`` column preserved).
    Bounded work: <= n_buckets path groups, schema merged across
    generations (the ALTER-then-UPSERT evolution shape). A pointer at
    a nonexistent ``__bucket=N`` dir (a pre-r12 manifest committed by
    a bucket-emptying delete) is treated as an empty bucket rather
    than raising PATH_NOT_FOUND — O(buckets) stat calls, bounded."""
    by_gen: dict[str, list[int]] = {}
    for b in buckets:
        if b in manifest and os.path.isdir(
            os.path.join(path, manifest[b], f"__bucket={b}")
        ):
            by_gen.setdefault(manifest[b], []).append(b)
    out = None
    for gen, bs in sorted(by_gen.items()):
        base = os.path.join(path, gen)
        part = (
            spark.read.option("mergeSchema", "true")
            .option("basePath", base)
            .parquet(*[os.path.join(base, f"__bucket={b}") for b in sorted(bs)])
        )
        out = part if out is None else out.unionByName(
            part, allowMissingColumns=True
        )
    return out


def read_upsert_snapshot(
    spark, path: str, version: int | None = None
) -> DataFrame | None:
    """MVCC reader for :func:`upsert_sink_snapshot` tables: resolves the
    manifest ONCE, then reads exactly the generation directories it
    names — a commit that lands after the manifest read is invisible,
    so every read is a consistent snapshot (the property the plain
    dynamic-overwrite sink documents away).

    TIME TRAVEL (r10): pass ``version=N`` to read the table exactly as
    of its N-th commit — every commit archives its manifest under
    ``_manifests/vN.json`` (generation dirs are immutable, so an old
    manifest IS the old table). Raises if that version was never
    written or has been vacuumed past (:func:`vacuum_upsert_snapshot`
    retention)."""
    if version is None:
        manifest = _read_manifest(path)
    else:
        import json

        vpath = os.path.join(path, MANIFESTS_DIR, f"v{version}.json")
        if not os.path.exists(vpath):
            raise ValueError(
                f"snapshot version {version} not available at {path} "
                "(never committed, or vacuumed past the retention window)"
            )
        with open(vpath) as f:
            manifest = {
                int(k): v for k, v in json.load(f)["buckets"].items()
            }
    if not manifest:
        return None
    df = _read_buckets(spark, path, manifest, sorted(manifest))
    return None if df is None else df.drop("__bucket")


def upsert_sink_snapshot(
    keys: list[str],
    order_col: str,
    path: str,
    n_buckets: int = N_UPSERT_BUCKETS,
):
    """Snapshot-isolated twin of :func:`upsert_sink` — same bucketed
    O(touched) MERGE, but committed via an ATOMIC MANIFEST SWAP instead
    of overwriting partition directories in place (the mini-Delta commit
    protocol; at 100 TB you'd swap this file for a Delta/Iceberg commit
    log, keeping the identical layout):

    - data lives in immutable generation dirs
      ``gen-<batch>/__bucket=N/``; a batch WRITES new dirs for its
      touched buckets and never mutates existing files;
    - ``_MANIFEST.json`` maps bucket -> generation dir; the commit is
      one ``_fs.replace`` (atomic POSIX rename here; an HDFS rename or
      an S3 conditional put in production — every metadata-plane fs op
      routes through the :class:`_PosixFS` seam, the single object an
      object-store port swaps), so a reader resolves either the
      whole old snapshot or the whole new one — NEVER the torn
      mid-overwrite state ``test_upsert_reader_during_inflight_rewrite``
      pins for the plain sink;
    - untouched buckets keep their manifest pointer: zero IO, and old
      generations stay on disk serving in-flight readers until
      :func:`vacuum_upsert_snapshot` drops the unreferenced ones;
    - CONCURRENT WRITERS are arbitrated with optimistic concurrency
      (r10, replacing the old documented single-writer contract): the
      manifest carries a monotonically increasing ``version``; a writer
      merges and writes its generation dir lock-free, then enters the
      CAS commit section (``O_CREAT|O_EXCL`` lock file,
      :func:`_acquire_commit_lock`) where it RE-READS the version — if
      another commit landed since its merge began, the writer LOSES,
      releases the lock, and retries the whole merge against the fresh
      manifest (its orphaned generation dir is unreferenced and
      vacuumable), so a racing writer can never silently last-write-wins
      away the other's buckets. ``MAX_COMMIT_RETRIES`` exhaustion
      raises — never a quiet lost update. The two-writer interleave is
      pinned by ``test_upsert_snapshot_two_writer_race``.
    """

    def fn(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        from ..operators.dedup import keep_latest

        incoming = batch.withColumn("__gen", F.lit(batch_id + 1)).withColumn(
            "__bucket", bucket_of(keys, n_buckets)
        )
        touched = [r[0] for r in incoming.select("__bucket").distinct().collect()]
        if not touched:
            return

        def build_merged(manifest: dict):
            # touched is manifest-independent here (it comes from the
            # incoming batch's own keys), so every attempt returns the
            # same list; the delete path, whose touched set depends on
            # the manifest, recomputes it per attempt.
            current = _read_buckets(spark, path, manifest, touched)
            if current is not None:
                return (
                    keep_latest(
                        current.withColumn("__gen", F.lit(0)).unionByName(
                            incoming, allowMissingColumns=True
                        ),
                        keys,
                        [order_col, "__gen"],
                    ).drop("__gen"),
                    touched,
                )
            return (
                keep_latest(incoming, keys, [order_col, "__gen"]).drop("__gen"),
                touched,
            )

        _commit_generation_cas(spark, path, str(batch_id), build_merged)

    return fn


def upsert_sink_snapshot_agg(
    keys: list[str],
    sum_cols: list[str],
    path: str,
    n_buckets: int = N_UPSERT_BUCKETS,
):
    """ADDITIVE MERGE sink (r11) — the counter-table primitive: per
    micro-batch, ``MERGE INTO table USING batch ON keys WHEN MATCHED
    UPDATE SET col = col + inc`` over the same bucketed
    immutable-generation MVCC layout as :func:`upsert_sink_snapshot`.
    Last-writer-wins cannot express this (a counter needs the OLD value;
    the online sketch/feature-count shape every streaming aggregation
    pipeline ends in), and unlike LWW the additive merge is NOT
    idempotent under at-least-once ``foreachBatch`` redelivery — so the
    manifest carries a ``last_batch`` watermark and a replayed batch id
    <= the committed one is skipped WHOLESALE. The guard is evaluated
    per CAS attempt against the then-current manifest (``skip_if``), so
    even a duplicate racing a concurrent commit cannot double-apply:
    the loser retries, re-reads, and skips. Requires monotonically
    increasing batch ids per table — exactly Spark's checkpointed
    foreachBatch contract.

    Per batch: one partial-combining pre-aggregation of the incoming
    rows (map-side combine to <= |keys| rows), then O(touched buckets)
    read + re-sum + fresh generation dir. State per table beyond the
    data: one integer in the manifest."""

    def fn(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession

        inc = (
            batch.withColumn("__bucket", bucket_of(keys, n_buckets))
            .groupBy("__bucket", *keys)
            .agg(*[F.sum(c).alias(c) for c in sum_cols])
        )
        # Bounded collect: <= n_buckets ints.
        touched = [r[0] for r in inc.select("__bucket").distinct().collect()]
        if not touched:
            return

        def build_merged(manifest: dict):
            current = _read_buckets(
                spark, path, manifest, [b for b in touched if b in manifest]
            )
            both = (
                inc
                if current is None
                else current.select(inc.columns).unionByName(inc)
            )
            return (
                both.groupBy("__bucket", *keys).agg(
                    *[F.sum(c).alias(c) for c in sum_cols]
                ),
                touched,
            )

        _commit_generation_cas(
            spark,
            path,
            str(batch_id),
            build_merged,
            extra_meta={"last_batch": batch_id},
            skip_if=lambda doc: int(doc.get("last_batch", -1)) >= batch_id,
        )

    return fn


def _read_manifest_doc(path: str) -> dict:
    """The raw manifest document ({} if missing) — buckets + version +
    any sink-specific metadata (e.g. the additive sink's
    ``last_batch`` idempotence watermark)."""
    import json

    mpath = os.path.join(path, MANIFEST_NAME)
    if not os.path.exists(mpath):
        return {}
    with open(mpath) as f:
        return json.load(f)


def _commit_generation_cas(
    spark,
    path: str,
    batch_tag: str,
    build_merged,
    extra_meta: dict | None = None,
    skip_if=None,
) -> bool:
    """The CAS commit section shared by the MERGE sink and the keyed
    DELETE: ``build_merged(manifest) -> (DataFrame with __bucket,
    touched bucket list)`` re-derives BOTH the merged view and the
    touched-bucket set from the CURRENT manifest on every attempt (a
    CAS loser's concurrent winner may have added manifest buckets the
    first attempt never saw — r11, per the advisor's retry-staleness
    note), writes the touched buckets to a fresh immutable generation
    dir, then commits under the O_EXCL lock iff the manifest version is
    unmoved — a loser re-merges from the fresh snapshot (orphaned gen
    dirs stay vacuumable); retry exhaustion raises, never a quiet lost
    update.

    ``skip_if(doc)`` (r11): an idempotence precondition evaluated
    against the manifest document at the start of EVERY attempt — if it
    returns True the commit is abandoned (returns False) without
    writing. The additive sink passes its replayed-batch guard here; a
    racing duplicate that commits between our merge and our lock bumps
    the version, we retry, and the precondition catches it on the
    re-read — a replay can never double-apply. ``extra_meta`` is merged
    into the committed document (unknown fields from the previous
    document are preserved). Returns True iff a commit landed."""
    import json
    import tempfile

    for attempt in range(MAX_COMMIT_RETRIES):
        doc0 = _read_manifest_doc(path)
        if skip_if is not None and skip_if(doc0):
            return False
        manifest = {int(k): v for k, v in doc0.get("buckets", {}).items()}
        version = int(doc0.get("version", 0))
        merged, touched = build_merged(manifest)
        if not touched:
            return False  # nothing this writer can affect exists
        gen_dir = (
            f"gen-{batch_tag}" if attempt == 0 else f"gen-{batch_tag}-r{attempt}"
        )
        if os.path.exists(os.path.join(path, gen_dir)):
            # NEVER overwrite an existing generation — they are immutable
            # by contract. This happens on crash-recovery replay of an
            # already-committed foreachBatch id (at-least-once delivery):
            # the old gen may still be referenced by archived manifests
            # and mid-scan readers, so the replay's re-merge goes to a
            # fresh dir and commits by manifest repoint like any other
            # write (the overwritten-in-place variant tore exactly like
            # the constant-tag delete bug this mirrors).
            from uuid import uuid4

            gen_dir = f"gen-{batch_tag}-rp{uuid4().hex[:8]}"
        (
            merged.localCheckpoint()
            .repartition(F.col("__bucket"))
            .write.mode("overwrite")
            .partitionBy("__bucket")
            .parquet(os.path.join(path, gen_dir))
        )
        # partitionBy writes NO __bucket=N subdir for a bucket whose
        # merged output is empty (a delete that erased every row of a
        # touched bucket): repointing such a bucket would leave the
        # manifest referencing a nonexistent path and break every
        # subsequent read (r12 advisor fix). List what the write
        # actually produced (our own immutable dir — no race) and DROP
        # emptied buckets from the manifest instead of repointing them.
        written_buckets = {
            int(d.split("=", 1)[1])
            for d in _fs.listdir(os.path.join(path, gen_dir))
            if d.startswith("__bucket=")
        }
        lock = _acquire_commit_lock(path)
        try:
            _, cur_version = _read_manifest_versioned(path)
            if cur_version != version:
                # another writer committed since our merge read the
                # manifest: our merged view may be stale — lose,
                # release, re-merge from the fresh snapshot.
                continue
            for b in touched:
                if b in written_buckets:
                    manifest[b] = gen_dir
                else:
                    manifest.pop(b, None)  # bucket emptied by this commit
            doc = {
                k: v
                for k, v in doc0.items()
                if k not in ("version", "buckets")
            }  # preserve sink metadata fields across commits
            doc.update(
                version=version + 1,
                buckets={str(k): v for k, v in manifest.items()},
            )
            if extra_meta:
                doc.update(extra_meta)
            fd, tmp = tempfile.mkstemp(dir=path, suffix=".manifest")
            with os.fdopen(fd, "w") as f:
                json.dump(doc, f)
            # Archive the per-version manifest FIRST (time travel):
            # a crash between archive and swap leaves only an
            # unreferenced vN file — harmless; the reverse order
            # could commit a version that can never be time-traveled.
            os.makedirs(os.path.join(path, MANIFESTS_DIR), exist_ok=True)
            with open(
                os.path.join(path, MANIFESTS_DIR, f"v{version + 1}.json"),
                "w",
            ) as f:
                json.dump(doc, f)
            _fs.replace(tmp, os.path.join(path, MANIFEST_NAME))  # THE commit
            return True
        finally:
            _fs.unlink(lock)
    raise RuntimeError(
        f"snapshot commit: lost the manifest race "
        f"{MAX_COMMIT_RETRIES} times at {path} (batch {batch_tag}) — "
        "pathological writer contention; no partial state was committed"
    )


def delete_from_upsert_snapshot(
    spark,
    path: str,
    keys: list[str],
    keys_df: DataFrame,
    n_buckets: int = N_UPSERT_BUCKETS,
) -> int:
    """Keyed DELETE on the MVCC table (the right-to-be-forgotten
    primitive): anti-join the requested keys out of exactly their own
    buckets and commit a new generation through the same CAS section as
    the MERGE sink — O(touched buckets) IO, concurrent-writer safe, and
    snapshot-consistent for readers.

    Erasure nuance a real compliance pipeline must respect: the delete
    commits a NEW VERSION — time travel still reproduces pre-delete
    snapshots until :func:`vacuum_upsert_snapshot` retention drops
    them. TRUE erasure = delete + vacuum past every retained pre-delete
    version (pinned by ``test_upsert_snapshot_delete_and_purge``).

    ``keys_df`` values are CAST to the table's own key column types
    before hashing (murmur3 is type-dependent — the
    :func:`read_upsert_snapshot_lookup` lesson: a bigint probe against
    an int column silently selects the wrong bucket). The key types
    come from ONE manifest-resolved bucket dir (a parquet-footer read),
    never a full-table scan: key columns are hash-stable across
    generations by construction — evolved key types would break every
    reader's bucket routing, not just this probe.

    Returns the number of rows deleted, counted via a ``left_semi``
    over the touched buckets only — the whole call reads O(touched
    buckets), never O(table) (r11, replacing two full-table ``count()``
    scans). Each delete commits a FRESH uuid-tagged immutable
    generation dir (r11): a constant tag would let a second delete
    ``mode=overwrite`` a generation that archived manifests still
    reference, tearing time travel. The touched-bucket set is
    recomputed per CAS attempt against the then-current manifest, so a
    concurrent upsert landing a probed key in a new bucket between
    attempts cannot survive the delete silently.
    """
    from uuid import uuid4

    manifest0, _ = _read_manifest_versioned(path)
    if not manifest0:
        return 0
    # First bucket whose dir exists on disk (a pre-r12 manifest may
    # carry a dangling pointer from a bucket-emptying delete).
    b0 = next(
        (
            b
            for b in sorted(manifest0)
            if os.path.isdir(
                os.path.join(path, manifest0[b], f"__bucket={b}")
            )
        ),
        None,
    )
    if b0 is None:
        return 0  # every pointer dangles: the table is empty
    sample = spark.read.parquet(
        os.path.join(path, manifest0[b0], f"__bucket={b0}")
    )
    types = {f.name: f.dataType for f in sample.schema.fields}
    probe = keys_df.select(
        *[F.col(k).cast(types[k]).alias(k) for k in keys]
    ).distinct()
    # Bounded collect: <= n_buckets ints — every bucket a probe key CAN
    # hash to; fixed across CAS attempts (the probe itself never moves).
    probe_buckets = {
        r[0]
        for r in probe.withColumn("__bucket", bucket_of(keys, n_buckets))
        .select("__bucket")
        .distinct()
        .collect()
    }
    n_deleted = {"n": 0}

    def build_merged(manifest: dict):
        # Intersect against THIS attempt's manifest, not manifest0: a
        # concurrent writer may have added buckets since; and a probe
        # key hashing to a never-written bucket must not commit a
        # manifest pointer at an (empty) generation dir.
        touched = sorted(probe_buckets & set(manifest))
        if not touched:
            return None, []
        current = _read_buckets(spark, path, manifest, touched)
        n_deleted["n"] = current.join(probe, keys, "left_semi").count()
        return current.join(probe, keys, "left_anti"), touched

    _commit_generation_cas(
        spark, path, f"del-{uuid4().hex[:12]}", build_merged
    )
    return n_deleted["n"]


def export_upsert_snapshot(
    spark,
    path: str,
    out_dir: str,
    version: int | None = None,
    sort_by: str | None = None,
    n_files: int | None = None,
) -> dict:
    """Cross-format interop export (the handoff move real lakes do):
    materialize ONE committed MVCC snapshot to PLAIN parquet plus a
    JSON manifest (``_EXPORT.json``) so any engine without this
    module's manifest resolver — DuckDB, Trino, bare
    ``spark.read.parquet`` — reads exactly that version.

    Consistency is by construction, not by locking: the source manifest
    DOCUMENT is read ONCE — bucket map and version come from the same
    read (r12; two separate reads could label version-N data with a
    racing commit's N+1) — and generation dirs are immutable, so a
    writer committing mid-export changes nothing the export reads. The export is inherently O(table) — one
    distributed scan + write, nothing driver-side; the manifest's row
    count is a parquet-footer sum over the exported files (metadata
    read, no second data scan). Returns the manifest dict. Raises on a
    never-written table or an unavailable version (same contract as the
    reader).

    ZONE MAPS (r11): the live table is hash-bucketed on its key, so
    every bucket spans the full value range of every column — honest
    zone maps are impossible there by construction. The export is where
    clustering happens (Delta's OPTIMIZE move): ``sort_by`` range
    partitions + sorts the export on that column, producing files with
    DISJOINT value ranges, and the manifest records each file's
    [min, max] (read from the parquet footers — no extra data scan)
    under ``zone_maps``. Any engine can then skip non-overlapping files
    from the manifest alone; :func:`read_export_pruned` is the Spark
    reader that does. ``n_files`` sizes the range partitioning
    (default: the session's shuffle partitioning)."""
    import json

    if version is None:
        # Resolve buckets AND version from ONE manifest read — a commit
        # landing between two separate reads would label version-N data
        # as version N+1 in the export manifest (r12 advisor fix).
        mmap, version = _read_manifest_versioned(path)
        df = (
            None
            if not mmap
            else _read_buckets(spark, path, mmap, sorted(mmap))
        )
        df = None if df is None else df.drop("__bucket")
    else:
        # Explicit versions resolve via the immutable archived manifest
        # (_manifests/vN.json) — no race by construction.
        df = read_upsert_snapshot(spark, path, version)
    if df is None:
        raise ValueError(f"nothing to export: no committed snapshot at {path}")
    if sort_by is not None:
        df = (
            df.repartitionByRange(n_files, F.col(sort_by))
            if n_files
            else df.repartitionByRange(F.col(sort_by))
        ).sortWithinPartitions(sort_by)
    df.write.mode("overwrite").parquet(out_dir)
    files = sorted(
        f for f in _fs.listdir(out_dir) if f.endswith(".parquet")
    )
    # true footer-metadata sum (no Spark job, no column decode); O(files)
    # driver-side footer reads — bounded by the export's partitioning
    import pyarrow.parquet as pq

    n_rows = sum(
        pq.ParquetFile(os.path.join(out_dir, f)).metadata.num_rows
        for f in files
    )
    manifest = {
        "source_path": os.path.abspath(path),
        "source_version": version,
        "files": files,
        "n_rows": n_rows,
    }
    if sort_by is not None:
        manifest["zone_maps"] = {
            sort_by: _footer_zone_maps(out_dir, files, sort_by)
        }
    with open(os.path.join(out_dir, "_EXPORT.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def _footer_zone_maps(out_dir: str, files: list[str], col: str) -> dict:
    """Per-file [min, max] of ``col`` from parquet footer statistics —
    a metadata read (no row decode). Files whose footer carries no
    stats for the column map to None (readers must keep them)."""
    import pyarrow.parquet as pq

    zm: dict = {}
    for name in files:
        md = pq.ParquetFile(os.path.join(out_dir, name)).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        if col not in idx:
            zm[name] = None
            continue
        lo = hi = None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx[col]).statistics
            if st is None or not st.has_min_max:
                lo = hi = None
                break
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        zm[name] = None if lo is None else [lo, hi]
    return zm


def zonemap_candidates(manifest: dict, col: str, lo, hi) -> list[str]:
    """Files an export reader must touch for ``col BETWEEN lo AND hi``:
    those whose zone map overlaps the range, plus any without stats.
    Pure manifest arithmetic — no IO; the skipping decision any engine
    could make from ``_EXPORT.json`` alone."""
    zm = manifest.get("zone_maps", {}).get(col)
    if zm is None:
        return list(manifest["files"])  # no maps: full scan
    return sorted(
        name
        for name, rng in zm.items()
        if rng is None or not (hi < rng[0] or rng[1] < lo)
    )


def read_export_pruned(spark, out_dir: str, col: str, lo, hi) -> DataFrame:
    """Manifest-pruned range scan over a sorted export: select the
    overlapping files from the zone maps (driver-side manifest
    arithmetic over a bounded file list — no IO on skipped files), read
    ONLY those, and apply the residual filter (zone maps are
    file-granular; the predicate still trims inside boundary files). At
    100 TB this is the standard sorted-layout read: IO scales with the
    selected range, not the table."""
    import json

    with open(os.path.join(out_dir, "_EXPORT.json")) as f:
        manifest = json.load(f)
    keep = zonemap_candidates(manifest, col, lo, hi)
    if not keep:
        if not manifest["files"]:
            raise ValueError(
                f"export at {out_dir} holds no data files (empty snapshot "
                "was exported); no schema to shape an empty result"
            )
        # no overlapping file: empty frame with the export's schema
        any_file = os.path.join(out_dir, manifest["files"][0])
        return spark.read.parquet(any_file).filter(F.lit(False))
    return spark.read.parquet(
        *[os.path.join(out_dir, f) for f in keep]
    ).filter(F.col(col).between(lo, hi))


def vacuum_upsert_snapshot(
    path: str,
    retain_versions: int = VACUUM_RETAIN_VERSIONS,
    grace_s: float = VACUUM_GRACE_S,
) -> list[str]:
    """Retention-aware vacuum (the Delta VACUUM contract): keep every
    generation dir referenced by the CURRENT manifest or by any of the
    last ``retain_versions`` archived manifests — those snapshot
    versions stay time-travel-readable — and drop everything older.
    Archived manifests past retention are unlinked immediately, so a
    NEW ``read_upsert_snapshot(version=N)`` raises the clear
    not-available error rather than resolving a snapshot about to lose
    its data.

    READER LEASE (r11): a generation dir that falls out of retention is
    not removed on sight — it is first TOMBSTONED (``_TOMBSTONES.json``
    records when this vacuum first saw it unreferenced) and only
    deleted by a vacuum running at least ``grace_s`` seconds later.
    The lease contract this enforces: a reader that resolved a manifest
    while its version was still retained has ``grace_s`` seconds to
    finish scanning; within the lease its generation dirs cannot
    disappear mid-scan. A reader that outlives the lease FAILS LOUDLY —
    Spark's default ``spark.sql.files.ignoreMissingFiles=false`` turns
    the missing dir into an error, never a silently partial frame
    (pinned by ``test_vacuum_reader_lease``). This is exactly Delta's
    ``deletedFileRetentionDuration``: retention must exceed the longest
    reader, and ``grace_s=0`` (purge now — both phases in one call) is
    the explicit compliance override the erasure test uses. Returns the
    removed generation dir names.

    CONCURRENCY (r11, narrowed r12): the retention math, tombstone
    clocking, and expired-dir selection run under the table's commit
    lock — serialized against writers' commit sections (no listing a
    manifest mid-swap) and against other vacuums (the tombstone file is
    read-modify-write; two unserialized vacuums could lose each other's
    lease clocks). The ``rmtree`` of the selected dirs runs AFTER the
    lock is released (they are unreferenced and their tombstones were
    popped inside the lock, so no reader nor rival vacuum can reach
    them) — a long physical delete can no longer starve writers into
    the 30 s lock timeout. A writer's in-flight generation
    dir written BEFORE its commit is outside the lock and can be seen
    unreferenced here; the grace window is what protects it (it gets
    tombstoned, the writer commits, the next vacuum un-tombstones it as
    live) — one more reason ``grace_s=0`` is a stop-the-world
    compliance override, not a running-system default."""
    lock = _acquire_commit_lock(path)
    try:
        removed = _vacuum_locked(path, retain_versions, grace_s)
    finally:
        _fs.unlink(lock)
    # The rmtree runs OUTSIDE the lock (r12 advisor fix): deleting many
    # large generation dirs can exceed the 30 s lock timeout and fail
    # healthy concurrent writers with a misleading "crashed writer"
    # error. Safe unlocked: every dir in ``removed`` was tombstoned,
    # lease-expired, and unreferenced by any retained manifest when the
    # locked section popped its tombstone — no new reader can resolve
    # it. A crash here leaves the dir on disk untombstoned; the next
    # vacuum simply re-tombstones it and purges after a fresh lease.
    for d in removed:
        _fs.rmtree(os.path.join(path, d))
    return removed


def _vacuum_locked(path: str, retain_versions: int, grace_s: float) -> list[str]:
    """Locked phase of the vacuum: retention math, tombstone clocking,
    and selection of lease-expired dirs. Returns the dirs the CALLER
    must rmtree (after releasing the lock); their tombstones are popped
    here so a concurrent vacuum cannot double-select them."""
    import json
    import tempfile
    import time

    _, cur_version = _read_manifest_versioned(path)
    live = set(_read_manifest(path).values())
    floor = cur_version - retain_versions + 1
    mdir = os.path.join(path, MANIFESTS_DIR)
    if os.path.isdir(mdir):
        for m in sorted(_fs.listdir(mdir)):
            v = int(m[1:-5])  # v{N}.json
            mp = os.path.join(mdir, m)
            if v >= floor:
                with open(mp) as f:
                    live |= set(json.load(f)["buckets"].values())
            else:
                _fs.unlink(mp)
    tpath = os.path.join(path, TOMBSTONES_NAME)
    tombs: dict[str, float] = {}
    if os.path.exists(tpath):
        with open(tpath) as f:
            tombs = json.load(f)
    now = time.time()
    removed = []
    for d in sorted(_fs.listdir(path)):
        if not d.startswith("gen-"):
            continue
        if d in live:
            tombs.pop(d, None)  # re-referenced (defensive; shouldn't happen)
        elif d not in tombs and grace_s > 0:
            tombs[d] = now  # phase 1: start this dir's reader lease
        elif now - tombs.get(d, now) >= grace_s:
            tombs.pop(d, None)  # phase 2: lease expired — caller rmtrees
            removed.append(d)
    # Atomic tombstone commit (r12 advisor fix): mkstemp + os.replace,
    # matching the manifest commit — a crash mid-write must never leave
    # truncated JSON that fails every later vacuum at json.load.
    fd, tmp = tempfile.mkstemp(dir=path, suffix=".tombstones")
    with os.fdopen(fd, "w") as f:
        json.dump(tombs, f)
    _fs.replace(tmp, tpath)
    return removed


def read_upsert_snapshot_lookup(
    spark,
    path: str,
    keys: list[str],
    key_values: list,
    n_buckets: int = N_UPSERT_BUCKETS,
    version: int | None = None,
) -> DataFrame | None:
    """POINT LOOKUP on the MVCC table — the serving-path read: hash the
    requested key to its bucket (same murmur3 ``bucket_of`` the writer
    used, evaluated on a one-row literal frame so driver and executors
    can never disagree on the hash), resolve the manifest pointer for
    THAT bucket only, and scan one ``gen-*/__bucket=N`` directory —
    O(|table| / n_buckets) IO however large the table, the key-value-
    store access pattern on the same snapshot-isolated layout (an
    equality filter on the key columns is still applied for hash
    collisions within the bucket). ``version`` composes with time
    travel. Returns None for an empty table; a key that was never
    written yields an empty frame."""
    import json

    from pyspark.sql import Row

    if version is None:
        manifest = _read_manifest(path)
    else:
        vpath = os.path.join(path, MANIFESTS_DIR, f"v{version}.json")
        if not os.path.exists(vpath):
            raise ValueError(
                f"snapshot version {version} not available at {path}"
            )
        with open(vpath) as f:
            manifest = {int(k): v for k, v in json.load(f)["buckets"].items()}
    if not manifest:
        return None
    # murmur3 is TYPE-dependent (hash(5::int) != hash(5::bigint)), and
    # createDataFrame infers Python ints as bigint — cast the probe to
    # the TABLE's key types (one parquet footer read) or the bucket
    # would silently differ from the writer's.
    any_gen = os.path.join(path, next(iter(sorted(set(manifest.values())))))
    types = {
        f.name: f.dataType for f in spark.read.parquet(any_gen).schema.fields
    }
    probe = spark.createDataFrame(
        [Row(**dict(zip(keys, key_values)))]
    ).select(*[F.col(k).cast(types[k]).alias(k) for k in keys])
    bucket = probe.select(
        bucket_of(keys, n_buckets).alias("b")
    ).collect()[0].b
    df = _read_buckets(spark, path, manifest, [bucket])
    if df is None:
        # the key's bucket was never written: an empty frame in the
        # TABLE's schema (read above for the type cast), so callers can
        # union/select without special-casing the miss
        empty = spark.read.parquet(any_gen).limit(0)
        return empty.drop("__bucket") if "__bucket" in empty.columns else empty
    cond = None
    for k, v in zip(keys, key_values):
        c = F.col(k) == F.lit(v)
        cond = c if cond is None else cond & c
    return df.filter(cond).drop("__bucket")
