"""One benchmark run inside its own Spark process.

Started by ``run.py`` with a pinned environment; writes one JSON record
to ``--out``. The workloads drive the program only through its public
surface: ``api.QUERIES``/``api.ORACLES``, the ``sources.cdc``/``sources.logs``
caches, ``streaming.core.read_stream`` and
``streaming.stateful.first_per_day_stream``. With ``--trace 1`` the
layer entry points are wrapped from here (the program is not edited) to
record spans, and engine progress and status-store counters are read.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import probes  # noqa: E402
from spans import Tracer, backlog_max, self_times, tail_percentile  # noqa: E402

SETUP_REPEATS = 3
RUN_BUDGET_S = 160.0  # the parent kills the run at 170 s
REPLAY_OPS = [
    # Largest output first, so row-weighted freshness percentiles sit far
    # from a step between two ops.
    "streaming_order_pre_process",
    "streaming_order_info_upsert",
    "streaming_pay_detail_suc",
]
REPLAY_BRANCHES = [
    "order_detail",
    "order_info",
    "order_detail_activity",
    "order_detail_coupon",
    "payment_info",
]
SPINE_PREFIXES = ("dwd_", "dim_", "dws_")
# A file renamed in later than this after its due time means the generator
# did not offer the load on schedule, which invalidates the run.
LIVE_LATE_LIMIT_S = 0.25
# The live reader takes every file that has arrived, as a consumer of a
# live topic does; one file per trigger would cap the job at one period
# per batch.
LIVE_MAX_FILES = 1000


class OpFailed(Exception):
    pass


class Run:
    """State of one run: session, tracer, probes, op accounting."""

    def __init__(self, args):
        self.args = args
        self.t_child0 = float(os.environ["PERFBENCH_T0"])
        self.data = os.path.join(args.work, "data")
        self.tracer = Tracer(bool(args.trace))
        self.deadline = time.time() + RUN_BUDGET_S
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.ops: list[dict] = []
        self.layers: dict[str, float] = {}
        self.memo_builds = 0

        from flink_realtime_datawarehouse_v3_spark import api
        from flink_realtime_datawarehouse_v3_spark.session import get_spark

        self.api = api
        self.spark = get_spark("perfbench")
        self.spark.range(1).count()
        self.session_start_s = time.time() - self.t_child0
        self.engine = probes.Engine(self.spark)
        self.progress = None
        if args.trace:
            self.progress = probes.ProgressLog()
            self.spark.streams.addListener(self.progress)
            self._wrap_layers()

    # -- op accounting -----------------------------------------------------

    def op(self, name: str, fn, limit_s: float):
        """Run ``fn`` as one op under a deadline; a timeout or exception
        marks it failed and the run goes on."""
        self.attempted += 1
        budget = min(limit_s, self.deadline - time.time())
        fired = threading.Event()

        def on_deadline():
            fired.set()
            for q in self.spark.streams.active:
                try:
                    q.stop()
                except Exception:  # noqa: BLE001 - best effort unblock
                    pass
            self.spark.sparkContext.cancelAllJobs()

        timer = threading.Timer(max(budget, 0.0), on_deadline)
        timer.start()
        t0 = time.perf_counter()
        try:
            with self.tracer.span("op", trace=name, op=name):
                result = fn()
            if fired.is_set():
                raise OpFailed("deadline")
            ok = True
        except Exception as exc:  # noqa: BLE001 - counted, reported, run goes on
            why = "timeout" if fired.is_set() else f"{type(exc).__name__}: {exc}"
            self.failures.append(f"{name}: {why}"[:300])
            self.failed += 1
            traceback.print_exc()
            result, ok = None, False
        finally:
            timer.cancel()
        self.ops.append(
            {"name": name, "wall_s": time.perf_counter() - t0, "ok": ok, "end": time.perf_counter()}
        )
        return result

    def fail(self, name: str, why: str) -> None:
        self.failures.append(f"{name}: {why}"[:300])
        for rec in self.ops:
            if rec["name"] == name and rec["ok"]:
                rec["ok"] = False
                self.failed += 1

    # -- traced-run wrappers ---------------------------------------------

    def _wrap_layers(self) -> None:
        from flink_realtime_datawarehouse_v3_spark.registry import _core
        from flink_realtime_datawarehouse_v3_spark.sources import cdc
        from flink_realtime_datawarehouse_v3_spark.streaming import pipelines, stateful

        tr = self.tracer

        def spanned(name, orig):
            def wrapper(*a, **kw):
                with tr.span(name):
                    return orig(*a, **kw)

            return wrapper

        orig_memo = _core._memo_df

        def memo(spark, name, sf_dir, build):
            if (*cdc.ctx_key(spark), name, sf_dir) in _core._MATERIALIZED:
                return orig_memo(spark, name, sf_dir, build)
            if not tr.enabled:
                return orig_memo(spark, name, sf_dir, build)
            with tr.span("memo_build", memo=name):
                df = orig_memo(spark, name, sf_dir, build)
                df.count()  # fill the persisted memo inside its own span
            self.memo_builds += 1
            return df

        orig_read_upsert = stateful.read_upsert_table

        def read_upsert(spark, path):
            with tr.span("sink_drain"):
                return orig_read_upsert(spark, path).localCheckpoint()

        _replace(orig_memo, memo)
        _replace(pipelines._write_replay, spanned("replay_write", pipelines._write_replay))
        _replace(pipelines.read_stream, spanned("query_run", pipelines.read_stream))
        _replace(pipelines.run_to_memory, spanned("query_run", pipelines.run_to_memory))
        _replace(pipelines.run_foreach_batch, spanned("query_run", pipelines.run_foreach_batch))
        _replace(orig_read_upsert, read_upsert)

    # -- shared steps ------------------------------------------------------

    def reset_caches(self) -> None:
        self.api.reset_session_caches()
        self.api.unpersist_orphans()

    def warm_sources(self, branches: list[str], logs_too: bool) -> dict[str, float]:
        """Cold caches, then the ODS (and log) warm a job start pays."""
        from flink_realtime_datawarehouse_v3_spark.sources import cdc, logs

        self.reset_caches()
        t0 = time.perf_counter()
        with self.tracer.span("ods_warm"):
            for b in branches:
                cdc._branch_parsed(self.spark, self.data, b).count()
            cdc._dirty_parsed(self.spark, self.data).count()
        t1 = time.perf_counter()
        if logs_too:
            with self.tracer.span("log_warm"):
                logs.topic_log_json_cached(self.spark, self.data).count()
        return {"ods": t1 - t0, "log": time.perf_counter() - t1}

    def end_timed(self) -> dict:
        """Close the timed part of the run: read what the session still
        holds; later work (the output checks) records no spans."""
        c = self.counters()
        self.tracer.enabled = False
        self.heap_retained_mb = self.engine.retained_heap_mb()
        return c

    def counters(self) -> dict:
        return {
            "cpu": probes.process_cpu(self.engine.jvm_pid),
            "gc": self.engine.gc_s(),
            "stage": self.engine.max_stage_id() if self.args.trace else -1,
            "t": time.perf_counter(),
        }


def _replace(orig, new) -> None:
    """Point every program module attribute bound to ``orig`` at ``new``."""
    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith("flink_realtime_datawarehouse_v3_spark"):
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, attr, new)


# --- output checks --------------------------------------------------------


def canon_rows(pdf) -> list[str]:
    """Order-insensitive canonical form of a pandas frame: columns sorted
    by name, each row joined as strings, rows sorted."""
    import math

    cols = sorted(pdf.columns)

    def s(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "NULL"
        if isinstance(v, float):
            return repr(v)
        return str(v)

    return sorted("|".join(s(v) for v in row) for row in zip(*(pdf[c].tolist() for c in cols)))


def same_rows(a, b) -> bool:
    return sorted(a.columns) == sorted(b.columns) and canon_rows(a) == canon_rows(b)


def duck(data_dir: str):
    import duckdb

    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(
                f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{data_dir}/{f}')"
            )
    return con


# --- workloads ------------------------------------------------------------


def row_freshness(run: Run, t_start: float, rows: dict[str, int]) -> list[float]:
    """Catch-up freshness: every output row was due when the work began
    and became visible when its op's output had been drained."""
    out = []
    for rec in run.ops:
        n = rows.get(rec["name"], 0)
        out.extend([(rec["end"] - t_start) * 1000.0] * n)
    return out


def replay_join(run: Run) -> dict:
    """Catch-up of three restarted jobs draining a full topic."""
    api = run.api
    warms = [run.warm_sources(REPLAY_BRANCHES, False) for _ in range(SETUP_REPEATS)]
    run.layers["sources.ods_warm_s"] = statistics.median(w["ods"] for w in warms)
    run.layers["sources.cached_mb"] = run.engine.cached_mb()
    c0 = run.counters()
    outs = {}
    for name in REPLAY_OPS:

        def replay(name=name):
            df = api.QUERIES[name](run.spark, run.data)
            with run.tracer.span("sink_drain"):
                df.write.format("noop").mode("overwrite").save()
            return df

        outs[name] = run.op(name, replay, 90.0)
    c1 = run.end_timed()
    wall = c1["t"] - c0["t"]

    # Untimed checks: each replay against its batch twin.
    from flink_realtime_datawarehouse_v3_spark.sources import cdc

    con = duck(run.data)
    twins = {
        "streaming_order_pre_process": lambda: api.QUERIES["dwd_trade_order_pre_process"](
            run.spark, run.data
        ).toPandas(),
        "streaming_pay_detail_suc": lambda: api.QUERIES["dwd_trade_pay_detail_suc"](
            run.spark, run.data
        ).toPandas(),
        # The upsert's batch twin is its registered keep-latest oracle.
        "streaming_order_info_upsert": lambda: con.sql(
            api.ORACLES["streaming_order_info_upsert"]
        ).df(),
    }
    rows = {}
    for name in REPLAY_OPS:
        if outs.get(name) is None:
            continue
        got = outs[name].toPandas()
        rows[name] = len(got)
        if not same_rows(got, twins[name]()):
            run.fail(name, "output differs from its batch twin")

    def n(tables):
        return cdc.topic_db_parsed(run.spark, run.data, only=tables).count()

    od = api.QUERIES["dwd_trade_order_detail"](run.spark, run.data).count()
    events = n(REPLAY_BRANCHES[:4]) + n(["order_info"]) + od + n(["payment_info"])
    return {
        "setup_s": run.session_start_s + statistics.median(w["ods"] for w in warms),
        "wall_s": wall,
        "events": events,
        "fresh_ms": row_freshness(run, c0["t"], rows),
        "counters": (c0, c1),
        "aliases": {"catchup_events_per_s": (events / wall, "1/s")},
    }


def batch_spine(run: Run) -> dict:
    """One refresh of the DWD/DIM/DWS spine from cold memos."""
    api = run.api
    spine = [n for n in api.DEFINITION_ORDER if n.startswith(SPINE_PREFIXES)]
    from flink_realtime_datawarehouse_v3_spark.sources import cdc

    warms = [run.warm_sources(list(cdc.BUILDERS), True) for _ in range(SETUP_REPEATS)]
    run.layers["sources.ods_warm_s"] = statistics.median(w["ods"] for w in warms)
    run.layers["sources.log_warm_s"] = statistics.median(w["log"] for w in warms)
    run.layers["sources.cached_mb"] = run.engine.cached_mb()
    c0 = run.counters()
    for name in spine:

        def refresh(name=name):
            with run.tracer.span("plan_build"):
                df = api.QUERIES[name](run.spark, run.data)
            with run.tracer.span("plan_exec"):
                df.write.format("noop").mode("overwrite").save()

        run.op(name, refresh, 60.0)
    c1 = run.end_timed()
    wall = c1["t"] - c0["t"]
    for rec in run.ops:
        run.layers[f"spine.{rec['name']}_s"] = rec["wall_s"]

    con = duck(run.data)
    rows = {}
    for name in spine:
        if run.deadline - time.time() < 5:
            run.fail(name, "no time left to check")
            continue
        try:
            got = api.QUERIES[name](run.spark, run.data).toPandas()
        except Exception as exc:  # noqa: BLE001 - a failed check is a failed op
            run.fail(name, f"check: {type(exc).__name__}")
            continue
        rows[name] = len(got)
        sql = api.ORACLES.get(name)
        if sql is not None and not same_rows(got, con.sql(sql).df()):
            run.fail(name, "output differs from its oracle")
    events = sum(
        cdc.topic_db_parsed(run.spark, run.data, only=[b]).count() for b in cdc.BUILDERS
    )
    return {
        "setup_s": run.session_start_s
        + statistics.median(w["ods"] + w["log"] for w in warms),
        "wall_s": wall,
        "events": events,
        "fresh_ms": row_freshness(run, c0["t"], rows),
        "counters": (c0, c1),
        "aliases": {"spine_wall_s": (wall, "s")},
    }


class LiveSink:
    """The benchmark's own foreachBatch sink: keeps every emitted row and
    the wall time at which its batch was seen."""

    def __init__(self):
        self.batches: list[tuple[int, float, object]] = []  # (id, seen, rows)

    def __call__(self, df, batch_id: int) -> None:
        pdf = df.toPandas()
        self.batches.append((batch_id, time.time(), pdf))


def live_uv(run: Run) -> dict:
    """Open-loop page log into the live unique-visitor job."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from flink_realtime_datawarehouse_v3_spark.plans import dwd_traffic
    from flink_realtime_datawarehouse_v3_spark.streaming import core, stateful

    spark = run.spark
    schema = StructType(
        [
            StructField(f.name, LongType() if str(f.type) == "int64" else StringType())
            for f in gen.LIVE_SCHEMA
        ]
    )

    def start(k: int):
        d = os.path.join(run.args.work, f"live{k}")
        in_dir, stage = os.path.join(d, "in"), os.path.join(d, "stage")
        os.makedirs(in_dir)
        os.makedirs(stage)
        staged = os.path.join(stage, gen.live_file_name(-1))
        pq.write_table(gen.live_file(run.args.seed, -1), staged)
        os.rename(staged, os.path.join(in_dir, gen.live_file_name(-1)))
        sink = LiveSink()
        t0 = time.perf_counter()
        s = (
            core.read_stream(spark, in_dir, schema=schema, files_per_trigger=LIVE_MAX_FILES)
            .filter(F.col("last_page_id").isNull())
            .withColumn("dt", F.date_format(F.timestamp_millis(F.col("ts")), "yyyy-MM-dd"))
        )
        out = stateful.first_per_day_stream(s, key="mid", dt_col="dt")
        q = (
            out.writeStream.foreachBatch(sink)
            .option("checkpointLocation", os.path.join(d, "ckpt"))
            .start()
        )
        while not sink.batches:
            if time.time() > run.deadline or not q.isActive:
                raise OpFailed("live query did not process its warm-up file")
            time.sleep(0.01)
        return d, in_dir, stage, sink, q, time.perf_counter() - t0

    setups = []
    for k in range(SETUP_REPEATS):
        d, in_dir, stage, sink, q, took = start(k)
        setups.append(took)
        if k < SETUP_REPEATS - 1:
            q.stop()

    c0 = run.counters()
    manifest = os.path.join(d, "manifest.json")
    t_start = time.time() + 1.0
    gen_cmd = [
        sys.executable, os.path.join(HERE, "gen.py"), "live",
        "--out-dir", in_dir, "--stage-dir", stage, "--seed", str(run.args.seed),
        "--seconds", str(run.args.seconds), "--t-start", repr(t_start),
        "--manifest", manifest,
    ]
    n_files = max(1, int(round(run.args.seconds / gen.LIVE_PERIOD_S)))
    per_file = gen.LIVE_ROWS_PER_FILE
    rows_by_batch: dict[int, int] = {}
    with run.tracer.span("live"):
        proc = subprocess.Popen(gen_cmd)
        try:
            proc.wait(timeout=max(1.0, run.deadline - time.time()))
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
        with run.tracer.span("query_run"):
            # Done once the warm-up file and every generated file are in.
            while q.isActive and time.time() < run.deadline:
                for pr in q.recentProgress:
                    rows_by_batch[pr.batchId] = pr.numInputRows
                if sum(rows_by_batch.values()) >= (n_files + 1) * per_file:
                    break
                time.sleep(0.05)
            q.stop()
    c1 = run.end_timed()
    if q.exception() is not None:
        run.failures.append(f"live query: {q.exception()}"[:300])
        run.failed += 1

    with open(manifest) as f:
        files = json.load(f)["files"]
    due = {x["index"]: x["due"] for x in files}
    run.attempted += len(files)
    late = [x["late_s"] for x in files]
    n_late = sum(1 for s in late if s > LIVE_LATE_LIMIT_S)
    if n_late:
        run.failures.append(f"generator: {n_late} files later than {LIVE_LATE_LIMIT_S}s")
        run.failed += n_late
    # Files are read in order, so file i is in once the batches so far
    # have taken (i + 2) files' rows (the warm-up file came first).
    seen_by_batch = {b: t for b, t, _ in sink.batches}
    done_at, cum = {}, 0
    for b in sorted(rows_by_batch):
        cum += rows_by_batch[b]
        for i in due:
            if i not in done_at and cum >= (i + 2) * per_file and b in seen_by_batch:
                done_at[i] = seen_by_batch[b]
    missing = [i for i in due if i not in done_at]
    if missing:
        run.failures.append(f"live: {len(missing)} files never processed")
        run.failed += len(missing)

    import pandas as pd

    fresh, emitted = [], []
    for _, seen, pdf in sink.batches:
        emitted.append(pdf)
        for e in pdf["event_id"].tolist():
            i = gen.file_of_event(int(e))
            if i >= 0:
                fresh.append((seen - due[i]) * 1000.0)
    got = pd.concat(emitted).drop(columns=["dt"])
    page = spark.read.schema(schema).parquet(in_dir)
    want = dwd_traffic.unique_visitor_detail(page).toPandas()
    if not same_rows(got, want):
        run.failures.append("live: output differs from the batch unique-visitor plan")
        run.failed = run.attempted

    last_seen = done_at.get(n_files - 1, time.time())
    wall = last_seen - due[0]
    run.layers.update(
        {
            "core.query_run_s": c1["t"] - c0["t"],
            "live.distinct_keys": float(got["mid"].nunique()),
            "gen.events": float(sum(x["rows"] for x in files)),
            "gen.files": float(len(files)),
            "gen.late_p99_ms": tail_percentile([s * 1000 for s in late], 99.0)[1],
            "live.backlog_files_max": float(
                backlog_max(
                    [x["due"] + x["late_s"] for x in files],
                    list(done_at.values()),
                )
            ),
        }
    )
    return {
        "setup_s": run.session_start_s + statistics.median(setups),
        "wall_s": wall,
        "events": sum(x["rows"] for x in files),
        "fresh_ms": fresh,
        "counters": (c0, c1),
        "aliases": {"drain_s": (last_seen - due[n_files - 1], "s")},
    }


WORKLOADS = {"replay_join": replay_join, "live_uv": live_uv, "batch_spine": batch_spine}


# --- per-layer metrics from engine progress and the status store --------


def stream_layers(run: Run, t_offset: float, c0: dict, c1: dict) -> dict[str, float]:
    """Micro-batch and state-store metrics from the progress reports of
    the timed part of the run; also adds one span per micro-batch under
    the query run that holds it."""
    run.progress.wait_all_terminated()
    batches = [
        p
        for p in run.progress.progress
        if p.get("numInputRows", 0) > 0
        and c0["t"] <= probes.iso_to_epoch(p["timestamp"]) - t_offset <= c1["t"]
    ]
    dur = [p.get("durationMs", {}) for p in batches]
    trig = sorted(float(d.get("triggerExecution", 0)) for d in dur)
    ops = [o for p in batches for o in p.get("stateOperators", [])]

    def total(key):
        return float(sum(d.get(key, 0) for d in dur))

    def op_total(key):
        return float(sum(o.get(key, 0) for o in ops))

    mem = [sum(o.get("memoryUsedBytes", 0) for o in p.get("stateOperators", [])) for p in batches]
    last_by_query = {}
    for p, m in zip(batches, mem):
        last_by_query[p["id"]] = m
    out = {
        "stream.batches": float(len(batches)),
        "stream.trigger_ms": total("triggerExecution"),
        "stream.add_batch_ms": total("addBatch"),
        "stream.planning_ms": total("queryPlanning"),
        "stream.offsets_ms": total("latestOffset") + total("getBatch"),
        "stream.commit_ms": total("walCommit") + total("commitOffsets"),
        "stream.batch_p50_ms": tail_percentile(trig, 50.0)[1] if trig else 0.0,
        "stream.batch_p90_ms": tail_percentile(trig, 90.0)[1] if trig else 0.0,
        "state.rows_updated": op_total("numRowsUpdated"),
        "state.rows_removed": op_total("numRowsRemoved"),
        "state.update_ms": op_total("allUpdatesTimeMs"),
        "state.remove_ms": op_total("allRemovalsTimeMs"),
        "state.commit_ms": op_total("commitTimeMs"),
        "state.memory_peak_mb": max(mem, default=0) / 2**20,
        "state.memory_end_mb": sum(last_by_query.values()) / 2**20,
    }
    runs = [i for i, s in enumerate(run.tracer.spans) if s.name == "query_run"]
    for p in batches:
        start = probes.iso_to_epoch(p["timestamp"]) - t_offset
        end = start + float(p["durationMs"].get("triggerExecution", 0)) / 1000.0
        parent = next(
            (i for i in runs if run.tracer.spans[i].start <= start <= run.tracer.spans[i].end),
            None,
        )
        if parent is not None:
            run.tracer.add("micro_batch", start, min(end, run.tracer.spans[parent].end), parent)
    return out


def plan_layers(run: Run, c0: dict) -> dict[str, float]:
    stages = [s for s in run.engine.stages() if s["id"] > c0["stage"]]
    return {
        "plans.tasks": float(sum(s["tasks"] for s in stages)),
        "plans.shuffle_write_mb": sum(s["shuffle_write"] for s in stages) / 2**20,
        "plans.shuffle_read_mb": sum(s["shuffle_read"] for s in stages) / 2**20,
        "plans.task_busy_s": sum(s["run_ms"] for s in stages) / 1000.0,
    }


def traced_layers(run: Run, res: dict, t_offset: float) -> dict[str, float]:
    """Every per-layer metric; layers a workload leaves idle read 0."""
    c0, c1 = res["counters"]
    cpu0, cpu1 = c0["cpu"], c1["cpu"]
    spans = run.tracer.spans

    def spent(name):
        return sum(s.duration for s in spans if s.name == name)

    layers = {
        "session.start_s": run.session_start_s,
        "sources.ods_warm_s": 0.0,
        "sources.cached_mb": 0.0,
        "registry.memo_builds": float(run.memo_builds),
        "registry.memo_build_s": spent("memo_build"),
        "core.replay_write_s": spent("replay_write"),
        "core.query_run_s": spent("query_run"),
        "core.sink_drain_s": spent("sink_drain"),
        "core.sink_tables_alive": float(run.engine.sink_tables_alive()),
        "pyworkers.busy_s": probes.workers_delta(cpu0["workers"], cpu1["workers"]),
        "live.distinct_keys": 0.0,
        "gen.events": 0.0,
        "gen.files": 0.0,
        "gen.late_p99_ms": 0.0,
        "live.backlog_files_max": 0.0,
    }
    layers.update(plan_layers(run, c0))
    layers.update(stream_layers(run, t_offset, c0, c1))
    layers.update(run.layers)
    elapsed = c1["t"] - c0["t"]
    layers["jvm.peak_rss_mb"] = probes.vm_hwm_mb(run.engine.jvm_pid)
    layers["jvm.busy_s"] = cpu1["jvm"] - cpu0["jvm"]
    layers["jvm.gc_s"] = c1["gc"] - c0["gc"]
    busy = (
        cpu1["jvm"] - cpu0["jvm"]
        + cpu1["driver"] - cpu0["driver"]
        + layers["pyworkers.busy_s"]
    )
    layers["cpu.util"] = busy / (elapsed * (os.cpu_count() or 1))
    layers["trace.wall_s"] = res["wall_s"]
    # Share of each op's wall that no layer span accounts for.
    selfs = self_times(spans)
    layers["trace.unattributed_pct"] = max(
        (100.0 * t / s.duration for s, t in zip(spans, selfs) if s.name == "op" and s.duration > 0),
        default=0.0,
    )
    return layers


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--work", required=True)
    p.add_argument("--out", required=True)
    args = p.parse_args()

    t_offset = time.time() - time.perf_counter()
    run = Run(args)
    record = {"workload": args.workload, "seed": args.seed}
    try:
        res = WORKLOADS[args.workload](run)
    except Exception as exc:  # noqa: BLE001 - the parent reports a failed run
        traceback.print_exc()
        run.failures.append(f"{args.workload}: {type(exc).__name__}: {exc}"[:300])
        record.update(correct=False, attempted=max(1, run.attempted), failed=max(1, run.attempted),
                      failures=run.failures, ops=[{k: v for k, v in o.items() if k != "end"} for o in run.ops])
        with open(args.out, "w") as f:
            json.dump(record, f)
        return
    fresh = res["fresh_ms"] or [res["wall_s"] * 1000.0]
    p50 = tail_percentile(fresh, 50.0)
    tail = tail_percentile(fresh, 90.0)
    attempted = max(1, run.attempted)
    record.update(
        {
            "correct": not run.failures,
            "attempted": attempted,
            "failed": min(attempted, run.failed),
            "failures": run.failures,
            "end_to_end": {
                "setup_s": res["setup_s"],
                "wall_s": res["wall_s"],
                "events_per_s": res["events"] / res["wall_s"],
                "fresh_p50_ms": p50[1],
                "fresh_p90_ms": tail[1],
                "heap_retained_mb": run.heap_retained_mb,
            },
            "per_layer": traced_layers(run, res, t_offset) if args.trace else {},
            "fresh": {"p50": p50, "tail": tail},
            "aliases": res["aliases"],
            "ops": [{k: v for k, v in o.items() if k != "end"} for o in run.ops],
            "spans": run.tracer.dump() if args.trace else [],
        }
    )
    with open(args.out, "w") as f:
        json.dump(record, f)
    run.spark.stop()


if __name__ == "__main__":
    main()
