"""End-to-end streaming twins of the batch pipelines (stream==batch).

Each twin replays the synthesized topic through the file-stream harness
(:mod:`.core`), applies the pipeline under ``trigger(availableNow=True)``,
and returns the streamed result as a batch DataFrame for comparison against
the batch pipeline (tests/test_streaming.py). Where the batch entry is
split into stages, the twin calls the same stages and puts its watermark
between them, so both run one query body.

Most twins are one :func:`.core.replay` call: the replayed frame, its
event-time order, the query over the stream and the output mode; flush
waves come from :func:`.core.flush_waves`. These twins stay explicit,
because their shape is not "one replay into the parquet sink":

- :func:`stream_pay_detail_suc` joins two replays; the second runs
  through ``replay`` while the first one's input is a stream read of its
  own scratch directory;
- :func:`stream_checkpoint_recovery` stops and restarts a checkpointed
  file-sink query;
- the ``foreachBatch`` twins (:func:`stream_order_info_upsert`,
  :func:`stream_dim_app`, :func:`stream_dim_coupon_scd2`,
  :func:`stream_dim_user_info_evolve`, :func:`stream_heavy_hitters_cms`,
  :func:`stream_ivf_search`) write their own sink table (a MERGE table,
  per-dim tables, query results) instead of the runner's parquet output.

Every directory a twin writes comes from :func:`..session.scratch_dir`,
so the frame a twin returns reads its sink lazily until the session's
next reset.

:mod:`..registry.m11_streaming` lists every twin under its registry name,
paired with the batch entry whose oracle it shares.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import timeseries
from ..operators.windows import rt_from_ms
from ..plans import dwd_simple, dws, joins
from ..session import scratch_dir
from ..sources import cdc, logs, tables
from . import stateful, upsert_table
# run_to_memory stays bound here: perfbench wraps pipelines.run_to_memory.
from .core import (  # noqa: F401
    FLUSH_EPOCH_S,
    FLUSH_TIMES_S,
    N_FILES,
    _write_replay,
    flush_waves,
    read_stream,
    replay,
    run_foreach_batch,
    run_to_memory,
)
from .dim_app import dim_router, read_dim_table

# Output at or after the flush epoch belongs to the flush waves.
_FLUSH_MS = FLUSH_EPOCH_S * 1000
_FLUSH_STT = time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(FLUSH_EPOCH_S))


def stream_favor_add(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateless DWD pipeline under streaming: raw JSON -> P1 parse ->
    favor-add filter/projection."""
    raw = cdc.topic_db_json(spark, sf_dir, only=["favor_info"])
    return replay(
        raw, None, lambda s: dwd_simple.dwd_interaction_favor_add(cdc.parse_topic_db(s))
    )


def _page_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-synthesized DWD page log (the stream input for DWS jobs —
    in production this is the dwd_traffic_page topic)."""
    from ..api import QUERIES

    return QUERIES["dwd_traffic_page_log"](spark, sf_dir)


SENTINEL_WORD = "zzsentinelflush"


def _page_sentinels(page: DataFrame) -> list[DataFrame]:
    """The two flush waves of a page-log replay: one heartbeat page event
    at each of :data:`.core.FLUSH_TIMES_S` (Flink's end-of-input
    Long.MAX watermark flush, for bounded replay).

    The row is shaped to SURVIVE the pipelines' filters (search page with a
    sentinel keyword): Catalyst pushes deterministic filters below the
    EventTimeWatermark operator, so a row that a filter drops never advances
    the watermark. Consumers drop the sentinel's output by window time or
    by its ``__sentinel__`` mid.
    """
    return flush_waves(
        page,
        "ts",
        at=lambda t: F.lit(t * 1000),
        mid="__sentinel__",
        page_id="search",
        item_type="keyword",
        item=SENTINEL_WORD,
    )


def _late_page(page: DataFrame) -> DataFrame:
    """The earliest 50 page events re-sent with renamed mids, so they
    would inflate the keyword counts if a closed window accepted them."""
    return (
        page.orderBy("ts", "event_id")
        .limit(50)
        .withColumn("mid", F.concat(F.lit("late_"), F.col("mid")))
    )


def _keyword_twin(
    spark: SparkSession, sf_dir: str, words_of, late: bool = False
) -> DataFrame:
    """The keyword-window twins' one body: the batch words stage
    ``words_of``, a 2 s watermark on ``rt``, then the batch count stage
    :func:`..plans.dws.keyword_window_counts` in append mode (windows emit
    exactly once, on watermark passage). ``late`` replays
    :func:`_late_page` between the two flush waves."""
    page = _page_log(spark, sf_dir)
    first, second = _page_sentinels(page)
    waves = [first, _late_page(page), second] if late else [first, second]

    def counts(s: DataFrame) -> DataFrame:
        words = words_of(s).withWatermark("rt", "2 seconds")
        return dws.keyword_window_counts(words)

    out = replay(page, ["ts"], counts, sentinels=waves)
    return out.filter(F.col("stt") < _FLUSH_STT)


def stream_keyword_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 as a native streaming windowed aggregation: 10 s tumbling count
    per keyword."""
    return _keyword_twin(spark, sf_dir, dws.source_keyword_words)


def stream_keyword_cjk_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1+A1 with the dictionary-FMM CJK segmenter (an Arrow-batched
    Pandas UDF) running INSIDE the watermarked streaming window — proves
    the segmenter plug point holds under micro-batch execution, not just
    batch. The sentinel rows are segmented like any search row; their
    windows fall after the flush epoch and are dropped."""
    return _keyword_twin(spark, sf_dir, dws.cjk_keyword_words)


def stream_keyword_window_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W12 on the driver board: the keyword window replay with LATE
    duplicates (:func:`_late_page`) in a trailing micro-batch AFTER the
    first flush wave pushed the watermark past end-of-data. The entry
    shares the NORMAL batch oracle: the hash can only match if every late
    row is discarded (the reference has no allowed-lateness or late
    side-output — default watermark semantics, SURVEY.md W12)."""
    return _keyword_twin(spark, sf_dir, dws.source_keyword_words, late=True)


def stream_unique_visitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 UV dedup with per-mid date state."""

    def first_visits(s: DataFrame) -> DataFrame:
        s = s.filter(F.col("last_page_id").isNull()).withColumn(
            "dt", F.date_format(F.timestamp_millis(F.col("ts")), "yyyy-MM-dd")
        )
        return stateful.first_per_day_stream(s, key="mid", dt_col="dt")

    # The 8-partition replay default: the bucketed operator's
    # per-batch cost is the stateful-stage floor (store open/commit x
    # partitions), so fewer partitions win; an A/B of wide against 8
    # at sf0.1 read 5.9 -> 4.2 s min-of-3 (8 won all three pairs).
    return replay(_page_log(spark, sf_dir), ["ts"], first_visits).drop("dt")


def stream_jump_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5 bounce detection with event-time timeout."""
    page = _page_log(spark, sf_dir)

    def bounces(s: DataFrame) -> DataFrame:
        s = s.withColumn("rt", rt_from_ms(F.col("ts")))
        return stateful.jump_detect_stream(s).filter(F.col("mid") != "__sentinel__")

    # The 8-partition replay default, as in stream_unique_visitor: an
    # A/B of wide against 8 at sf0.1 read 11.8 -> 9.2 s min-of-3.
    return replay(page, ["ts"], bounces, sentinels=_page_sentinels(page))


def stream_traffic_union_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 3-stream union window job (A2/A4 + O1 + W1's 14 s watermark,
    RT/app/dws/DwsTrafficVcChArIsNewPageViewWindow.java:60-185) with
    CHAINED stateful operators: one replayed page stream fans into the
    batch entry's page shaping (:func:`..plans.dws.vc_page_rows`) and one
    keyed operator emitting the D1 first-per-day UV and D5 bounce
    contributions; the union flows through a single 14 s watermark into
    the batch entry's window sums (:func:`..plans.dws.vc_window_sums`).

    Sentinel rows must reach every watermark node, so they are NOT
    filtered pre-union (a mid filter would be pushed below the
    EventTimeWatermark and starve it); their windows, after the flush
    epoch, are dropped from the output. Bounce timeout emissions are
    never late to the window layer: a bounce at event time T flushes once
    the watermark passes T+10 s, while its window only closes at
    window_end + 14 s > T + 14 s. Spark allows a single
    applyInPandasWithState per query, so the UV and bounce state machines
    run as ONE keyed operator (stateful.uv_jump_contrib_stream).
    """
    page = _page_log(spark, sf_dir)

    def window_sums(s: DataFrame) -> DataFrame:
        contrib = stateful.uv_jump_contrib_stream(
            s.withColumn("rt", rt_from_ms(F.col("ts"))).withColumn(
                "dt", F.date_format(F.timestamp_millis(F.col("ts")), "yyyy-MM-dd")
            )
        )
        unioned = (
            dws.vc_page_rows(s)
            .unionByName(contrib.withColumn("rt", rt_from_ms(F.col("ts"))).drop("ts"))
            .withWatermark("rt", "14 seconds")
        )
        return dws.vc_window_sums(unioned)

    # Spark's static checker rejects ANY stateful op above another
    # stateful op that can emit watermark-old rows. Here the pattern
    # is provably safe: a bounce at event time T is flushed when the
    # watermark passes T + 10 s (the CEP timeout), while its target
    # window only closes at window_end + 14 s >= T + 14 s — every
    # timeout emission lands 4+ s before its window's cutoff. Disable
    # the check for this query only (documented Spark escape hatch).
    chk = "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"
    saved = spark.conf.get(chk)
    spark.conf.set(chk, "false")
    # With the check disabled Spark still WARN-logs the full analyzed
    # plan + AnalysisException text from UnsupportedOperationChecker
    # at every query start — noise once the safety argument above
    # holds. Quiet exactly that logger for the run.
    _uoc = "org.apache.spark.sql.catalyst.analysis.UnsupportedOperationChecker"
    _jvm = spark._jvm
    _saved_lvl = _jvm.org.apache.logging.log4j.LogManager.getLogger(_uoc).getLevel()
    _jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        _uoc, _jvm.org.apache.logging.log4j.Level.ERROR
    )
    try:
        out = replay(page, ["ts"], window_sums, sentinels=_page_sentinels(page))
    finally:
        spark.conf.set(chk, saved)
        _jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            _uoc, _saved_lvl
        )
    return out.filter(F.col("stt") < _FLUSH_STT)


def _order_info_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The order_info changelog as flat (id, order_status, operate_time,
    ts) rows, ts in epoch seconds: the K3 upsert and D4 keep-latest
    replays' input."""
    return cdc.topic_db_parsed(spark, sf_dir, ["order_info"]).select(
        F.col("data").getItem("id").alias("id"),
        F.col("data").getItem("order_status").alias("order_status"),
        F.col("data").getItem("operate_time").alias("operate_time"),
        F.col("ts").cast("long").alias("ts"),
    )


def stream_order_info_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 keyed upsert sink: order_info changelog MERGEd to one row per id
    (last writer wins)."""
    d = scratch_dir(spark, "order_info_upsert")
    path, out_path = os.path.join(d, "in"), os.path.join(d, "sink")
    _write_replay(_order_info_changes(spark, sf_dir), path, order_by=["ts"])
    run_foreach_batch(
        read_stream(spark, path), upsert_table.upsert_sink(["id"], "ts", out_path)
    )
    return upsert_table.read_upsert_table(spark, out_path)


_PRE_TABLES = [
    "order_detail",
    "order_info",
    "order_detail_activity",
    "order_detail_coupon",
]


def _pre_sentinel(spark: SparkSession, ts: int) -> DataFrame:
    """One structured CDC row per order_pre_process branch at event time
    ``ts``: each passes its branch filter (so its watermark operator sees
    it — Catalyst pushes the deterministic table/type filters below the
    EventTimeWatermark node) but joins nothing (keys are unmatched
    sentinels), so the output needs no scrubbing."""

    def row(table: str, data: dict) -> tuple:
        return ("gmall_0105", table, "insert", data, None, str(ts), ts)

    rows = [
        # source_type must be NON-NULL: the inner base_dic join makes
        # Catalyst infer isnotnull(source_type) and push it below the od
        # branch's EventTimeWatermark, so a null-source_type sentinel would
        # never advance that branch's watermark (and the global min-policy
        # watermark would stall at end-of-data, leaving final state
        # unflushed). An unmatched code keeps it out of the inner-join
        # output.
        row(
            "order_detail",
            {"id": "sent_od", "order_id": "sent_od_order", "source_type": "sent_code"},
        ),
        row("order_info", {"id": "sent_oi"}),
        row("order_detail_activity", {"id": "sent_oa", "order_detail_id": "sent_oa_od"}),
        row("order_detail_coupon", {"id": "sent_oc", "order_detail_id": "sent_oc_od"}),
    ]
    return spark.createDataFrame(
        rows,
        "database string, `table` string, type string, "
        "data map<string,string>, old map<string,string>, ts string, "
        "__order long",
    )


def stream_order_pre_process(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/J2 under Structured Streaming: the flagship 5-table wide-row job
    (RT/app/dwd/DwdTradeOrderPreProcess.java) as a genuine stream-stream
    join — four branches of one replayed topic_db stream, watermarked
    per-branch; inner od x oi join (unbounded state, declared changelog
    semantics); two LEFT joins with the +/- 5 s event-time bound standing
    in for the reference's 5 s idle-state TTL (W5); stream-static
    broadcast base_dic join (J3). Unmatched left rows flush when the
    trailing sentinels push every branch watermark past end-of-input.

    The replay carries STRUCTURED topic rows (like stream_dim_app): the
    4-branch join plan scans its source once per branch, so a JSON replay
    would re-parse every micro-batch 4x for no coverage gain — the
    P1 JSON-parse-under-streaming path is asserted by stream_favor_add
    and stream_base_log. (The reference's 4 Kafka consumers equally
    re-read the serialized topic; parse placement is an engine detail,
    not query semantics.)"""
    from ..plans import dwd_trade
    from ..sources import dic

    structured = cdc.topic_db_parsed(spark, sf_dir, _PRE_TABLES).withColumn(
        "__order", F.col("ts").cast("long")
    )
    # n_files=2: fewer real-data micro-batches for the heaviest
    # replay. Measured effect is modest (input write + join-state work
    # dominate, ~37 s either way at sf0.01) but semantics are
    # unaffected — flush order is driven by the trailing sentinels,
    # not by how many files carry the real rows.
    return replay(
        structured,
        ["__order"],
        lambda s: dwd_trade.order_pre_process(
            s.drop("__order"), dic.base_dic(spark), event_time=True
        ),
        sentinels=[_pre_sentinel(spark, t) for t in FLUSH_TIMES_S],
        n_files=2,
    )


_PAGE_FIELDS = ["page_id", "last_page_id", "item", "item_type", "during_time"]


def stream_base_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entry point A (BaseLogApp, RT/app/dwd/BaseLogApp.java:49-195) under
    streaming: raw log JSON replay -> P2 parse/dirty-drop -> P8 per-mid
    is_new repair via applyInPandasWithState -> page-branch split (P7).

    The repair runs over ALL events (start events included) BEFORE the
    split, exactly like the reference's keyBy(mid) stage — filtering to
    the page branch first would change which event fixes the per-mid
    first-visit state. The stateful frame is flattened to scalar columns
    (structs don't round-trip through the Arrow state channel); the page
    struct fields ride along as nullable scalars.
    """
    from ..plans.dwd_traffic import _COMMON

    raw = logs.topic_log_json_cached(spark, sf_dir).select(
        "value",
        F.coalesce(
            F.get_json_object("value", "$.ts").cast("long"), F.lit(0)
        ).alias("__order"),
    )

    def page_branch(s: DataFrame) -> DataFrame:
        parsed = logs.parse_topic_log(s.select("value"))
        flat = parsed.select(
            "event_id",
            "ts",
            *[F.col(f"common.{c}").alias(c) for c in _COMMON],
            F.date_format(F.timestamp_millis(F.col("ts")), "yyyy-MM-dd").alias("dt"),
            F.col("start").isNotNull().alias("is_start"),
            *[F.col(f"page.{p}").alias(p) for p in _PAGE_FIELDS],
        )
        repaired = stateful.is_new_repair_stream(flat, key="mid", dt_col="dt")
        return repaired.filter(~F.col("is_start")).select(
            *_COMMON, "event_id", "ts", *_PAGE_FIELDS
        )

    return replay(raw, ["__order"], page_branch)


def stream_pay_detail_suc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 under Structured Streaming: payment_info CDC stream x the
    MATERIALIZED dwd_trade_order_detail stream x broadcast base_dic
    (RT/app/dwd/DwdTradePayDetailSuc.java:39,90-119).

    Two genuinely independent replayed file streams (the reference
    consumes the upstream job's Kafka topic dwd_trade_order_detail_0105 —
    here its batch-computed parquet replay stands in for that topic).

    The reference bounds join state with a 905 s PROCESSING-time idle TTL
    sized for the 15-min payment SLA — an arrival-proximity assumption
    that only holds live. On event-time replay, payment (order date
    + 30 min) and detail rows (ship date, days later) are far apart, so
    a 905 s event-time bound would drop nearly every match the job is
    meant to produce. As with the order pre-process inner join, state is
    kept unbounded: the declared join semantics rather than the TTL's
    accidental-loss behavior; batch==stream parity is the test.
    """
    from ..api import QUERIES
    from ..plans import dwd_trade
    from ..sources import dic

    od = scratch_dir(spark, "order_detail")
    _write_replay(
        QUERIES["dwd_trade_order_detail"](spark, sf_dir), od, order_by=["create_time"]
    )
    od_stream = read_stream(spark, od)
    pi_raw = cdc.topic_db_parsed(spark, sf_dir, ["payment_info"]).select(
        F.to_json(F.struct("database", "table", "type", "data", "old", "ts")).alias("value")
    )
    return replay(
        pi_raw,
        None,
        lambda pi: dwd_trade.pay_detail_suc(
            cdc.parse_topic_db(pi), od_stream, dic.base_dic(spark)
        ),
    )


def stream_order_info_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4/W6 keep-latest with processing-time debounce timer
    (RT/app/dws/DwsTradePaymentSucWindow.java:85-121): order_info CDC
    replay -> buffer best row per id in keyed state -> emit on timer.

    A key whose updates are further apart than the 5 s debounce emits
    once per burst — exactly the reference's behavior when events arrive
    slower than its timer (downstream jobs re-deduplicate). The parity
    test collapses emissions with the batch keep-latest operator.
    Trailing sentinels push the watermark past the last anchor + 5 s so
    every open timer fires before availableNow terminates; their key is
    filtered here.
    """
    flat = _order_info_changes(spark, sf_dir)

    def latest(s: DataFrame) -> DataFrame:
        s = s.withColumn("rt", F.to_timestamp(F.from_unixtime("ts")))
        return stateful.keep_latest_stream(s, keys=["id"], order_col="ts").filter(
            F.col("id") != "__sentinel__"
        )

    # n_files=2 (see stream_order_pre_process; same modest effect):
    # emission grouping per batch varies by design and the parity
    # collapses it; the timer flush rides the sentinels. The 8-partition
    # replay default is enough: the bucketed operator makes Python cheap
    # (a widened replay read 10.2 vs 9.7 s min-of-3, a wash).
    waves = flush_waves(flat, "ts", id="__sentinel__")
    return replay(flat, ["ts"], latest, sentinels=waves, n_files=2)


def stream_checkpoint_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2/W11 as a driver-checked round trip: run the favor-add DWD
    pipeline through a CHECKPOINTED parquet sink, kill the query after its
    first committed micro-batch (mid-stream crash), restart from the same
    checkpoint, and return the sink contents — offset tracking + idempotent
    batch writes must leave every row exactly once, so the recovered sink
    hashes against the ordinary batch oracle.

    The Structured Streaming equivalent of the reference's
    transactional-Kafka + checkpoint config (RT/utils/MyKafkaUtil.java:61-73,
    RT/app/dim/DimApp.java:36-45). If the first run drains all batches
    before the kill lands, the restart is a no-op and the result is
    unchanged — the kill timing affects which code path proves the
    guarantee, never the output.
    """
    d = scratch_dir(spark, "checkpoint_recovery")
    path, ckpt, sink = (os.path.join(d, n) for n in ("in", "ckpt", "sink"))
    _write_replay(cdc.topic_db_json(spark, sf_dir, only=["favor_info"]), path, order_by=None)

    def start():
        s = cdc.parse_topic_db(read_stream(spark, path))
        out = dwd_simple.dwd_interaction_favor_add(s)
        return (
            out.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    for _ in range(400):
        time.sleep(0.25)
        p = q.lastProgress
        if p is not None and p["batchId"] >= 1:
            break
    q.stop()
    q.awaitTermination(60)
    q2 = start()
    if not q2.awaitTermination(300):
        q2.stop()
        raise TimeoutError("checkpoint recovery run did not finish")
    # The entry is registered as sink_checkpoint_recovery, whose batch
    # plan (a checkpointed scan) is pinned in PLAN_FP_BASELINE.json.
    return spark.read.parquet(sink).localCheckpoint()


def stream_dim_app(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """J10 config-routed DIM layer: replay the full topic, route per batch,
    MERGE into per-dim parquet tables; returns the final dim tables."""
    from ..plans.dim import DIM_CONFIG

    d = scratch_dir(spark, "dim_app")
    path, out_dir = os.path.join(d, "in"), os.path.join(d, "dims")
    # Structured topic rows, time-range split so arrival order == CDC
    # order across micro-batches (the JSON parse path is exercised by
    # stream_favor_add; ts is a fixed-width epoch-seconds string, so
    # string range-partitioning preserves numeric order).
    structured = cdc.topic_db_parsed(spark, sf_dir, [c.source_table for c in DIM_CONFIG])
    _write_replay(structured, path, order_by=["ts"])
    run_foreach_batch(read_stream(spark, path), dim_router(out_dir))
    return {
        cfg.sink_table: read_dim_table(spark, out_dir, cfg.sink_table)
        for cfg in DIM_CONFIG
    }


def _events_twin(e: DataFrame, agg, start_col: str) -> DataFrame:
    """Replay event rows ``e`` (``ts`` a timestamp) with the two flush
    waves, run ``agg`` over the stream watermarked 2 s on ``ts`` in append
    mode, and drop the waves' output by its window start ``start_col``
    (epoch ms). The wave rows are null but for ``ts``."""
    waves = flush_waves(e, "ts", at=lambda t: F.timestamp_seconds(F.lit(t)))
    out = replay(
        e, ["ts"], lambda s: agg(s.withWatermark("ts", "2 seconds")), sentinels=waves
    )
    return out.filter(F.col(start_col) < _FLUSH_MS)


def stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows under streaming: watermarked native
    ``session_window`` gap-merge in append mode — each (user, session)
    emits exactly once, when the watermark passes its close (last event
    + gap). The tumbling windows cover W1-W3; this is the other
    first-class Flink window type (EventTimeSessionWindows.withGap) under
    Spark's native operator, replayed file-per-micro-batch so sessions
    MERGE across micro-batches (a session spanning two files is held in
    state until the gap expires, then emitted once). The replay carries
    the batch entry's shaped input (``shape_events``) and the twin runs
    the batch aggregation ``session_agg``."""
    from ..operators.sessionize import session_agg, shape_events

    e = shape_events(tables.load(spark, sf_dir, "events"))
    return _events_twin(e, session_agg, "session_start_ms")


def stream_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hypertable-style continuous aggregate as a LIVE streaming
    query: watermarked 1-minute tumbling windows per user in append mode,
    with first/last via min_by/max_by inside the streaming agg — i.e. the
    materialized-rollup job a time-series warehouse runs continuously,
    emitting each (user, bucket) exactly once on watermark passage.

    Shares the batch oracle of ``events_time_rollup`` (window.start ==
    the arithmetic bucket, both epoch-aligned). The twin keeps its own
    ``window()`` aggregation: append mode needs its grouping to be a
    window over the watermarked column, and the batch form groups by a
    bucket computed with floor arithmetic on epoch ms."""
    e = tables.load(spark, sf_dir, "events").select("user_id", "ts", "value")

    def rollup(s: DataFrame) -> DataFrame:
        return (
            s.groupBy(F.window("ts", "1 minute").alias("w"), "user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,2)"))
                .cast("double")
                .alias("value_sum"),
                F.min_by("value", "ts").alias("first_value"),
                F.max_by("value", "ts").alias("last_value"),
                F.min("value").alias("min_value"),
                F.max("value").alias("max_value"),
            )
            .select(
                "user_id",
                F.unix_millis(F.col("w.start")).alias("bucket_ms"),
                "n_events",
                "value_sum",
                "first_value",
                "last_value",
                "min_value",
                "max_value",
            )
        )

    return _events_twin(e, rollup, "bucket_ms")


def stream_hop_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) windows live: the batch
    :func:`..operators.timeseries.hop_window_counts` (10-min windows
    sliding by 5 min per event_type) over the watermarked stream in
    append mode — each pane emits exactly once on watermark passage, and
    every event lands in window/slide = 2 panes. Shares the batch oracle
    of ``events_hop_window``."""
    e = tables.load(spark, sf_dir, "events").select("event_type", "ts", "value")
    return _events_twin(e, timeseries.hop_window_counts, "ws_ms")


def stream_dim_coupon_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 history maintained LIVE: replay the coupon_use CDC topic and
    per micro-batch append the batch's versions + re-derive intervals for
    the touched keys only (streaming/dim_app.py scd2_sink). The final
    table must equal the batch scd2_history — i.e. the oracle of
    ``dim_coupon_use_scd2`` — proving the incremental maintenance
    converges to the one-shot window computation."""
    from ..plans.dim import DIM_CONFIG
    from .dim_app import scd2_sink

    cfg = DIM_CONFIG[1]
    d = scratch_dir(spark, "dim_coupon_scd2")
    path, out_dir = os.path.join(d, "in"), os.path.join(d, "dims")
    structured = cdc.topic_db_parsed(spark, sf_dir, [cfg.source_table])
    _write_replay(structured, path, order_by=["ts"])
    run_foreach_batch(read_stream(spark, path), scd2_sink(out_dir, cfg))
    return spark.read.parquet(os.path.join(out_dir, cfg.sink_table + "_scd2")).drop(
        "__bucket"
    )


def stream_dim_user_info_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime schema evolution UNDER STREAMING (J10 + the reference's
    checkTable ALTER path, RT/app/func/TableProcessFunction.java:84-106):
    the broadcast config changes between micro-batches — replay files are
    split at the v2 config's effective_ts, the per-batch provider serves
    the v1 column list for the early batches and the widened v2 list
    (+phone_num) after, and the router's allowMissingColumns merge gives
    rows upserted before the change NULL in the new column. Final table
    must hash-match the batch era-split oracle
    (``dim_user_info_schema_evolve``)."""
    from ..plans.dim import USER_INFO_EVOLUTION

    v1, v2 = USER_INFO_EVOLUTION
    t_switch = v2.effective_ts
    d = scratch_dir(spark, "dim_user_info_evolve")
    path, out_dir = os.path.join(d, "in"), os.path.join(d, "dims")
    structured = cdc.topic_db_parsed(spark, sf_dir, ["user_info"])
    early = structured.filter(F.col("ts").cast("long") < t_switch)
    late = structured.filter(F.col("ts").cast("long") >= t_switch)
    # Early era as the N_FILES range files; the late era rides the
    # trailing-file mechanism so the config flip lands exactly on the
    # era boundary (batch ids 0..N_FILES-1 = v1, >= N_FILES = v2).
    _write_replay(early, path, order_by=["ts"], sentinels=[late])
    provider = lambda batch_id: [  # noqa: E731
        (v1 if batch_id < N_FILES else v2).cfg
    ]
    run_foreach_batch(read_stream(spark, path), dim_router(out_dir, provider))
    return read_dim_table(spark, out_dir, "dim_user_info").select(
        "id", "name", "phone_num", "create_time"
    )


def stream_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPLETE output mode — the third Structured Streaming output form
    beside the append-mode windows and the foreachBatch/update-style
    MERGEs: a running global histogram whose sink directory holds the
    latest full snapshot each micro-batch, so after availableNow the table equals
    the batch histogram exactly. No watermark: complete mode retains every
    group, bounded here by the bin space — the production contract for
    complete-mode aggregations (state = O(groups), never O(rows))."""
    from ..operators.profiling import value_histogram

    e = tables.load(spark, sf_dir, "events").select(
        "event_type", F.unix_millis(F.col("ts")).alias("ts_ms"), "value"
    )
    return replay(e, ["ts_ms"], value_histogram, output_mode="complete")


def stream_activity_coupon_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 as a WATERMARKED STREAM-STREAM FULL OUTER join — the join mode
    Spark gates hardest: matched rows emit immediately, unmatched rows
    only when BOTH sides\' watermarks pass the join bound. Matching
    activity/coupon rows share their CDC ts exactly (verified max delta
    0), so the ±5 s band is lossless and the result hash-matches the
    batch J8 oracle.

    Both tables ride ONE replayed topic_db stream split into two
    watermarked branches (the reference\'s actual topology — one Kafka
    topic, per-job filters; same shape as stream_order_pre_process): with
    a single ts-ordered file source the branches co-advance through event
    time, whereas two independently range-partitioned sources drift apart
    at file boundaries and the global watermark late-drops the slower
    side (measured: ~half the rows lost). Sentinels carry one row PER
    TABLE per wave so each branch\'s pushed-down filter lets its watermark
    advance; the per-wave activity and coupon sentinels share an
    order_detail_id and ts, so they match EACH OTHER in the join — the
    coalesced id keeps its __sent_ prefix and the output-side prefix
    filter drops the joined row. The branches are the batch J8's
    (:func:`..plans.joins.activity_coupon_branches`) with their event-time
    columns."""
    tables_ = ["order_detail_activity", "order_detail_coupon"]

    def _sent(h: int, ts: int) -> DataFrame:
        return spark.createDataFrame(
            [("gmall", t, "insert", {"order_detail_id": f"__sent_{h}"},
              None, str(ts)) for t in tables_],
            "database string, `table` string, type string, "
            "data map<string,string>, old map<string,string>, ts string",
        )

    def band_join(s: DataFrame) -> DataFrame:
        oa, oc = joins.activity_coupon_branches(s, event_time=True)
        oa = oa.withWatermark("a_detail_id_et", "5 seconds")
        oc = oc.withWatermark("c_detail_id_et", "5 seconds")
        band = F.expr("INTERVAL 5 SECONDS")
        return oa.join(
            oc,
            (F.col("a_detail_id") == F.col("c_detail_id"))
            & (F.col("c_detail_id_et") >= F.col("a_detail_id_et") - band)
            & (F.col("c_detail_id_et") <= F.col("a_detail_id_et") + band),
            "full_outer",
        ).select(
            F.coalesce("a_detail_id", "c_detail_id").alias("order_detail_id"),
            *joins.J8_COLS,
        )

    raw = cdc.topic_db_parsed(spark, sf_dir, tables_).withColumn(
        "__order", F.col("ts").cast("long")
    )
    out = replay(
        raw,
        ["__order"],
        band_join,
        sentinels=[_sent(h, t) for h, t in enumerate(FLUSH_TIMES_S, 1)],
    )
    return out.filter(~F.col("order_detail_id").startswith("__sent_"))


def stream_type_counts_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPLETE-mode global sort+limit: Structured Streaming allows ORDER
    BY (and LIMIT after it) only in complete mode, where every trigger
    re-emits the full sorted snapshot; after availableNow the sink
    directory holds exactly the batch top-k. State is O(groups) (6 event types),
    never O(rows)."""
    from ..operators.analytics import type_counts_top

    e = tables.load(spark, sf_dir, "events").select(
        "event_type", F.unix_millis(F.col("ts")).alias("ts_ms")
    )
    return replay(e, ["ts_ms"], type_counts_top, output_mode="complete")


def stream_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The count-min sketch maintained ONLINE: events replayed in
    micro-batches; each batch explodes to its d (row_i, bucket)
    increments and the ADDITIVE MERGE sink
    (:func:`..streaming.upsert_table.upsert_sink_agg`) folds them
    into the persistent counter table — counter = counter + inc through
    the MVCC commit protocol with idempotent batch replay. Counters are
    additive, so the streamed table equals the one-pass batch build
    EXACTLY, and the final estimate (batch min-over-rows join against
    exact per-key counts) shares the batch entry's oracle verbatim —
    the production shape: sketch maintained on ingest, queried offline.
    State beyond the counter table itself: one integer (last_batch) in
    the manifest."""
    from ..operators import analytics

    e = tables.load(spark, sf_dir, "events").select(
        "user_id", F.unix_millis(F.col("ts")).alias("ts_ms")
    )
    d = scratch_dir(spark, "heavy_hitters_cms")
    path, sink = os.path.join(d, "in"), os.path.join(d, "cms")
    _write_replay(e, path, order_by=["ts_ms"])
    inc = read_stream(spark, path).select(
        F.explode(analytics.cms_slot_array()).alias("rb")
    ).select(F.col("rb.row_i"), F.col("rb.bucket"), F.lit(1).alias("counter"))
    run_foreach_batch(
        inc, upsert_table.upsert_sink_agg(["row_i", "bucket"], ["counter"], sink)
    )
    counters = upsert_table.read_upsert_table(spark, sink)
    counts = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("c"))
    return analytics.cms_estimate_topk(counts, counters, analytics.CMS_TOP_K)


def stream_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-time dedup LIVE: the incoming half of the corpus replayed
    as a document stream; each micro-batch flags its docs against the
    static base corpus — a stream-static left join on the md5 hash (the
    base ships only (hash, min doc_id), never text) plus a stream-static
    near-pair lookup — and appends verdicts to the sink. This is the
    new-crawl-vs-corpus pass exactly as it runs at ingestion: batch-size
    x lookup cost per trigger, the base never self-joins.

    The base stays frozen across the replay so stream == batch == oracle
    (the batch contract deliberately ignores intra-batch pairs; an
    evolving base would reclassify later in-stream clones of earlier
    'new' docs). The evolving-base keyed-MERGE mechanics are separately
    proven by stream_order_info_upsert / stream_dim_coupon_scd2.
    The base-hash, near-pair and flag stages are the batch entry's
    (:func:`..operators.text_dedup.dedup_incremental`).
    """
    from ..operators import text_dedup as td

    # Late import: api is fully initialized by the time any entry runs;
    # reusing its memos shares the corpus + pair materializations with the
    # batch entry instead of re-paying the shingle self-join here.
    from .. import api

    corpus = api._corpus(spark, sf_dir)
    base_h = td.incremental_base_hashes(corpus)
    near = td.incremental_near_pairs(api._ngram_pairs(spark, sf_dir))
    inc = corpus.filter(F.col("doc_id") >= td.INCREMENTAL_BASE_MAX)
    return replay(
        inc.select("doc_id", "text"),
        ["doc_id"],
        lambda s: td.incremental_flags(s, base_h, near),
    )


def stream_sample_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-policy enforcement at INGESTION: the (lang, sample_ppm)
    policy table — a static artifact computed once from the corpus the
    weights were fit against — rides a stream-static broadcast join over
    the replayed document stream; each micro-batch keeps its share via
    the same hash threshold as the batch entry. Stateless append: no
    watermark, no state store — exactly how a sampling policy runs live.
    stream == batch == oracle (same policy, same hash keep-set)."""
    from ..operators import text_analysis as ta

    docs = tables.load(spark, sf_dir, "documents")
    # Pin the policy table as a LITERAL: a lazy rates plan would re-run
    # the full per-lang corpus agg on every micro-batch of the
    # stream-static join; the collected artifact is |langs| rows.
    rates = spark.createDataFrame(
        ta.mixture_rates(docs).collect(), "lang string, sample_ppm bigint"
    )
    return replay(
        docs.select("doc_id", "lang", "n_chars"),
        ["doc_id"],
        lambda s: ta.apply_mixture(s, rates),
    )


def stream_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination at INGESTION: candidate docs replayed as
    a document stream, each micro-batch's shingles tested against the
    STATIC held-out benchmark shingle set — the pass a crawl pipeline
    runs before anything reaches the training corpus, live.

    The benchmark set is pinned as a collected literal DataFrame (eval
    sets are bounded artifacts, orders of magnitude smaller than the
    corpus — the same broadcast posture as the batch entry; a lazy plan
    would re-run the benchmark shingle agg every micro-batch). The
    per-doc overlap count is a stream-static broadcast LEFT join over
    the exploded shingles + a COMPLETE-mode count (a doc's shingles all
    arrive in its one input row, so the count is exact at every
    snapshot). stream == batch == oracle (decontaminate_ngram's).
    """
    from .. import api
    from ..operators import text_dedup as td

    corpus = api._corpus(spark, sf_dir)
    is_bench = (F.col("doc_id") % td.BENCH_MOD == 0) & (
        F.col("doc_id") < 1_000_000
    )
    bench = spark.createDataFrame(
        td.shingles_exploded(corpus.filter(is_bench), n=td.DECON_N)
        .select("shingle")
        .distinct()
        .collect(),
        "shingle string",
    ).withColumn("hit", F.lit(1))

    def overlap(s: DataFrame) -> DataFrame:
        marked = td.shingles_exploded(s, n=td.DECON_N).join(
            F.broadcast(bench), "shingle", "left"
        )
        return (
            marked.groupBy("doc_id")
            .agg(F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_overlap"))
            .select(
                "doc_id",
                F.col("n_overlap").cast("bigint").alias("n_overlap"),
                (F.col("n_overlap") > 0).cast("int").alias("contaminated"),
            )
        )

    cand = corpus.filter(~is_bench).select("doc_id", "text")
    return replay(cand, ["doc_id"], overlap, output_mode="complete")


def stream_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation gate at INGESTION: the composed Gopher-rules +
    quality-score keep/drop decision applied to each micro-batch of the
    replayed document stream — the stateless filter a crawl pipeline
    runs inline before anything is materialized. Pure projection (no
    state, no watermark, append mode): the gate column set is built by
    the SAME shared builders as the batch entry, so stream == batch ==
    oracle by construction."""
    from ..operators import text_analysis as ta

    docs = tables.load(spark, sf_dir, "documents")
    return replay(docs.select("doc_id", "text", "lang"), ["doc_id"], ta.quality_gate)


def stream_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode at INGESTION: the Arrow-batched mapInPandas
    feature stage applied to each micro-batch of the replayed media
    stream (binary payload + metadata struct). Stateless append — the
    Python stage sees the same Arrow record-batch contract per
    micro-batch as in batch mode, so stream == batch == oracle by
    construction; metadata-only predicates stay Catalyst-side ahead of
    Python exactly as in the batch plan."""
    from ..operators import multimodal
    from ..sources import corpus as corpus_mod

    media = multimodal.with_binary_payload(corpus_mod.corpus(spark, sf_dir))
    return replay(media, ["doc_id"], multimodal.decode_features)


def stream_value_trailing_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trailing-hour per-user feature ONLINE: watermark-correct
    keyed-state trailing window (see ``stateful.trailing_window_stream``)
    over the replayed events stream. Emission waits for the watermark to
    pass each event's timestamp, so every RANGE-frame member (peers
    included) has arrived and the output equals the batch
    ``events_value_trailing_window`` row-for-row — the registry entry
    shares the batch SQL oracle. The two flush waves flush the final
    frames; their synthetic user is dropped from the materialized
    output."""
    e = tables.load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.expr("unix_millis(ts) DIV 1000").alias("ts_s"),
        F.round(F.col("value") * 1e6).cast("bigint").alias("v_micro"),
    )

    def trailing(s: DataFrame) -> DataFrame:
        s = s.withColumn("rt", F.timestamp_seconds(F.col("ts_s")))
        return stateful.trailing_window_stream(s, timeseries.TRAIL_WINDOW_SEC)

    waves = flush_waves(e, "ts_s", user_id=-1, event_id=-1, v_micro=0)
    out = replay(e, ["ts_s"], trailing, sentinels=waves)
    return out.filter(F.col("user_id") >= 0)


def stream_multimodal_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual fingerprinting at INGESTION: the dHash Arrow stage
    applied per micro-batch of the replayed image stream — the
    fingerprint-on-arrival half of the perceptual dedup pipeline (the
    banded pair join stays a batch/periodic job over the accumulated
    fingerprint table, exactly how a production near-dup system splits
    online/offline). Stateless append; the metadata format predicate
    stays Catalyst-side ahead of Python; stream == batch fingerprints
    row-for-row (pinned in test_streaming; registry rows-only — the
    byte-grid hash has no single-SQL DuckDB twin)."""
    from ..operators import multimodal
    from ..sources import corpus as corpus_mod

    media = multimodal.with_binary_payload(corpus_mod.corpus(spark, sf_dir))
    return replay(media, ["doc_id"], multimodal.dhash_fingerprints)


def stream_ivf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online ANN SERVING: the IVF index (centroids + assignments) is
    built ONCE at job start from the static corpus and persisted; the
    query stream replays file-per-micro-batch and each batch probes the
    index via the stream-static bucket equi-join + per-query rank
    (foreachBatch, because rank windows are batch-semantics per request
    set — the request/response shape of a vector-search service). Each
    query id arrives exactly once, so appending per-batch results is
    exact: the final table must equal the batch ivf_topk output
    row-for-row (pinned in test_streaming; registry rows-only)."""
    from pyspark.sql import Window

    from ..operators import simsearch

    emb = tables.load(spark, sf_dir, "embeddings")
    cen, assigned = simsearch.ivf_index(emb)
    assigned = assigned.persist()  # the served index, materialized once
    try:
        d = scratch_dir(spark, "ivf_search")
        path, out = os.path.join(d, "in"), os.path.join(d, "results")
        _write_replay(simsearch._queries(emb, 100), path, order_by=["q_id"])

        def serve(batch: DataFrame, batch_id: int) -> None:
            scored = simsearch._ivf_candidates(batch, cen, assigned)
            w = Window.partitionBy("q_id").orderBy(
                F.col("cosine_sim").desc(), F.col("neighbor_id")
            )
            (
                scored.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= 10)
                .select("q_id", "neighbor_id", "rank", "cosine_sim")
                .write.mode("append")
                .parquet(out)
            )

        run_foreach_batch(read_stream(spark, path), serve)
        return spark.read.parquet(out)
    finally:
        assigned.unpersist()


def stream_fasttext_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The train-offline / apply-online classifier split: the model is
    fit ONCE on the static corpus (the bounded (weights, bias) artifact —
    exactly what a production scorer loads at job start) and each
    micro-batch of the replayed document stream is scored by the same
    zero-shuffle projection as the batch entry. Stateless append; stream
    == batch == oracle because the model literal and the scoring
    expression are shared verbatim."""
    from ..operators import text_analysis as ta

    docs = tables.load(spark, sf_dir, "documents")
    model = ta.fit_model(docs)  # offline fit, bounded artifact
    return replay(
        docs.select("doc_id", "text", "lang"),
        ["doc_id"],
        lambda s: ta.fasttext_score_trained(s, model),
    )


def stream_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-health monitoring at INGESTION: the per-label squared-
    norm min/mean/max report maintained live over the replayed embedding
    stream (the drift check an indexing pipeline alerts on). COMPLETE
    mode: one hash aggregation keyed on label — state is O(|labels|),
    never O(rows) — and after availableNow the snapshot equals the batch
    entry exactly (same micro-unit fold, same oracle)."""
    from ..operators import simsearch as ss

    emb = tables.load(spark, sf_dir, "embeddings")
    return replay(
        emb.select("vec_id", "embedding", "label"),
        ["vec_id"],
        ss.norm_stats,
        output_mode="complete",
    )


def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-least-once redelivery absorption with BOUNDED state: the feed
    re-delivers every 5th event (identical payload, identical event
    time — the broker-retry pathology exactly-once sinks exist for) and
    the stream drops the copies with
    ``dropDuplicatesWithinWatermark(["event_id"])`` — Spark's
    watermark-evicted dedup. The plain ``dropDuplicates`` keeps one
    state row per key FOREVER (unbounded at 1e12 events/day);
    WithinWatermark evicts a key's fingerprint once the watermark
    passes its event time + delay, so state tracks the redelivery
    horizon (here 10 s), not the stream's lifetime — the documented
    contract being that a duplicate is only absorbed if it arrives
    within the watermark delay of the first copy, which is what broker
    retries look like. Output is the deduped append stream itself;
    oracle = the original events (copies are byte-identical, so
    whichever copy survives, the ROWS equal the originals)."""
    e = tables.load(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    feed = e.unionByName(e.filter(F.col("event_id") % 5 == 0))

    def dedup(s: DataFrame) -> DataFrame:
        deduped = s.withWatermark("ts", "10 seconds").dropDuplicatesWithinWatermark(
            ["event_id"]
        )
        return deduped.select(
            "event_id",
            F.unix_millis("ts").alias("ts_ms"),
            "event_type",
            "value",
        )

    return replay(feed, ["ts"], dedup)


def stream_order_status_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flink's updating-stream aggregate as a LIVE retract fold: the
    order_info CDC replay parses per micro-batch, every event becomes
    +/-1 deltas against its (province, status) group (the retraction
    comes from the envelope's ``old`` image — no per-order state), and
    a complete-mode SUM holds the running counts. Aggregate state is
    one counter per GROUP (provinces x statuses), not per order — the
    reason a retract aggregate survives 1e9 keys where keep-latest
    carries one state row per key. Snapshot equals the batch entry and
    shares its latest-state-per-id oracle."""
    raw = cdc.topic_db_json(spark, sf_dir, only=["order_info"])

    def counts(s: DataFrame) -> DataFrame:
        deltas = dws.order_status_count_deltas(cdc.parse_topic_db(s))
        return dws.order_status_counts_from_deltas(deltas)

    return replay(raw, None, counts, output_mode="complete")


def stream_er_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution on arrival: the dirty customer variants replay
    as a stream and each micro-batch rides the SAME two blocking
    equi-joins (stream-static, stateless) and verify predicate as the
    batch `er_resolve_customers`; the best-match cut is a keyed
    complete-mode MIN aggregate (state = one struct per variant — the
    output's own size). The final snapshot shares the batch entry's
    oracle row-for-row. No watermark needed: nothing here is
    event-time-windowed, so bounded replay terminates without sentinel
    flush rows."""
    from ..operators import linkage

    customer = tables.load(spark, sf_dir, "customer")
    variants = linkage.inject_noisy_customers(customer)
    snap = replay(
        variants,
        ["variant_key"],
        lambda s: linkage.resolve_online(s, customer),
        output_mode="complete",
    )
    return linkage.finish_online(snap)


def stream_expectation_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The acceptance suite as a LIVE quality monitor: the same
    conditional-count rule aggregate runs as a streaming COMPLETE-mode
    aggregation (state = ONE group of counters whatever the stream
    volume — the cheapest stateful shape there is), so each micro-batch
    the sink directory holds the suite's cumulative verdict; after
    availableNow the unpivoted snapshot equals the batch
    events_expectation_check row-for-row and shares its SQL oracle. The
    unpivot runs on the 1-row SINK table, not inside the stream
    (Generate after a streaming aggregation is not a supported
    streaming shape — and needn't be: the report is constant-size)."""
    from ..operators.analytics import expectation_agg, expectation_unpivot

    e = tables.load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value", "ts"
    )
    snap = replay(e, ["ts"], expectation_agg, output_mode="complete")
    return expectation_unpivot(snap)
