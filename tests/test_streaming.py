"""Stream==batch parity for the Structured Streaming layer.

Each streaming pipeline replays the synthesized topic through the
file-stream harness (one micro-batch per file, availableNow) and must
reproduce the batch pipeline's rows exactly (SURVEY.md §7.1 batch/stream
duality; the batch forms are themselves oracle-checked in the other test
files, so transitively stream == batch == DuckDB).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_realtime_datawarehouse_v3_spark import api
from flink_realtime_datawarehouse_v3_spark.operators.dedup import keep_latest
from flink_realtime_datawarehouse_v3_spark.plans import dim as dim_plan
from flink_realtime_datawarehouse_v3_spark.sources import cdc
from flink_realtime_datawarehouse_v3_spark.streaming import pipelines as sp

from .conftest import SF_SMOKE, normalize


def _same(stream_df, batch_df, name):
    s_cols = sorted(stream_df.columns)
    b_cols = sorted(batch_df.columns)
    assert s_cols == b_cols, f"{name}: columns {s_cols} != {b_cols}"
    _, s = normalize(stream_df.columns, [tuple(r) for r in stream_df.collect()])
    _, b = normalize(batch_df.columns, [tuple(r) for r in batch_df.collect()])
    assert len(s) == len(b), f"{name}: rows stream={len(s)} batch={len(b)}"
    bad = [(x, y) for x, y in zip(s, b) if x != y]
    assert not bad, f"{name}: first mismatches {bad[:3]}"


def _manifest(path):
    """bucket -> generation dir in an upsert table's committed manifest."""
    from flink_realtime_datawarehouse_v3_spark.streaming import upsert_table

    doc = upsert_table._read_manifest_doc(path)
    return {int(k): v for k, v in doc.get("buckets", {}).items()}


def test_stream_favor_add(spark):
    stream = sp.stream_favor_add(spark, SF_SMOKE)
    batch = api.QUERIES["dwd_interaction_favor_add"](spark, SF_SMOKE)
    _same(stream, batch, "favor_add")


def test_stream_keyword_window(spark):
    stream = sp.stream_keyword_window(spark, SF_SMOKE)
    batch = api.QUERIES["dws_traffic_source_keyword_page_view_window"](
        spark, SF_SMOKE
    )
    _same(stream, batch, "keyword_window")


def test_stream_keyword_cjk_window(spark):
    """The Arrow-batched CJK FMM segmenter under the watermarked window
    must reproduce the batch CJK keyword window exactly."""
    stream = sp.stream_keyword_cjk_window(spark, SF_SMOKE)
    batch = api.QUERIES["dws_traffic_keyword_cjk_window"](spark, SF_SMOKE)
    _same(stream, batch, "keyword_cjk_window")


def test_stream_type_counts_top(spark):
    """COMPLETE-mode ORDER BY/LIMIT: the final snapshot equals the batch
    top-k (sorting is only legal in complete mode — this is the one
    streaming query allowed to sort)."""
    stream = sp.stream_type_counts_top(spark, SF_SMOKE)
    batch = api.QUERIES["events_type_counts_top"](spark, SF_SMOKE)
    _same(stream, batch, "type_counts_top")


def test_stream_dedup_incremental(spark):
    """Ingestion-time dedup live: incoming docs streamed against the
    static base must flag exactly what the batch cross-corpus pass
    flags (stream == batch == oracle transitively)."""
    stream = sp.stream_dedup_incremental(spark, SF_SMOKE)
    batch = api.QUERIES["dedup_incremental"](spark, SF_SMOKE)
    _same(stream, batch, "dedup_incremental")


def test_stream_decontaminate(spark):
    """Decontamination at ingestion: the static benchmark shingle set
    joined per micro-batch must flag exactly what the batch semi-join
    pass flags (stream == batch == oracle transitively)."""
    stream = sp.stream_decontaminate(spark, SF_SMOKE)
    batch = api.QUERIES["decontaminate_ngram"](spark, SF_SMOKE)
    _same(stream, batch, "decontaminate")


def test_stream_sample_mixture(spark):
    """Mixture policy at ingestion: the static rate table applied per
    micro-batch keeps exactly the batch entry's hash keep-set."""
    stream = sp.stream_sample_mixture(spark, SF_SMOKE)
    batch = api.QUERIES["corpus_sample_mixture"](spark, SF_SMOKE)
    _same(stream, batch, "sample_mixture")


def test_stream_unique_visitor(spark):
    stream = sp.stream_unique_visitor(spark, SF_SMOKE)
    batch = api.QUERIES["dwd_traffic_unique_visitor_detail"](spark, SF_SMOKE)
    _same(stream, batch, "unique_visitor")


def test_stream_jump_detail(spark):
    stream = sp.stream_jump_detail(spark, SF_SMOKE)
    batch = api.QUERIES["dwd_traffic_user_jump_detail"](spark, SF_SMOKE)
    _same(stream, batch, "jump_detail")


def test_stream_sessionize(spark):
    stream = sp.stream_sessionize(spark, SF_SMOKE)
    batch = api.QUERIES["sessionize_events"](spark, SF_SMOKE)
    _same(stream, batch, "sessionize")


def test_stream_checkpoint_recovery_entry(spark):
    """The driver-board K2 entry: kill+resume through a checkpointed sink
    must equal the plain batch pipeline row-for-row (exactly once)."""
    stream = sp.stream_checkpoint_recovery(spark, SF_SMOKE)
    batch = api.QUERIES["dwd_interaction_favor_add"](spark, SF_SMOKE)
    _same(stream, batch, "checkpoint_recovery")


def test_stream_order_info_upsert(spark):
    stream = sp.stream_order_info_upsert(spark, SF_SMOKE)
    flat = cdc.topic_db(spark, SF_SMOKE, only=["order_info"]).select(
        F.col("data").getItem("id").alias("id"),
        F.col("data").getItem("order_status").alias("order_status"),
        F.col("data").getItem("operate_time").alias("operate_time"),
        F.col("ts").cast("long").alias("ts"),
    )
    batch = keep_latest(flat, ["id"], ["ts"])
    _same(stream, batch, "order_info_upsert")


def test_stream_value_trailing_window(spark):
    """Watermark-correct online trailing window == batch RANGE frame
    row-for-row (emission gated on watermark passage, so peers and
    stragglers inside the frame have provably arrived)."""
    stream = sp.stream_value_trailing_window(spark, SF_SMOKE)
    batch = api.QUERIES["events_value_trailing_window"](spark, SF_SMOKE)
    _same(stream, batch, "value_trailing_window")


def test_stream_multimodal_dhash(spark):
    """Ingest-time dHash fingerprints must equal the batch stage
    row-for-row (stream == batch; the registry entry is rows-only)."""
    from flink_realtime_datawarehouse_v3_spark.operators import multimodal
    from flink_realtime_datawarehouse_v3_spark.sources import corpus as corpus_mod

    stream = sp.stream_multimodal_dhash(spark, SF_SMOKE)
    batch = multimodal.dhash_fingerprints(
        multimodal.with_binary_payload(corpus_mod.corpus(spark, SF_SMOKE))
    )
    _same(stream, batch, "multimodal_dhash")


def test_stream_order_info_upsert_snapshot():
    """Both upsert entry names run the one upsert program, whose
    last-writer-wins output test_stream_order_info_upsert checks
    row-for-row (the sink has one commit protocol)."""
    assert api.QUERIES["streaming_order_info_upsert_snapshot"] is (
        sp.stream_order_info_upsert
    )
    assert api.QUERIES["streaming_order_info_upsert"] is sp.stream_order_info_upsert


def test_stream_order_pre_process(spark):
    stream = sp.stream_order_pre_process(spark, SF_SMOKE)
    batch = api.QUERIES["dwd_trade_order_pre_process"](spark, SF_SMOKE)
    _same(stream, batch, "order_pre_process")


def test_stream_traffic_union_window(spark):
    stream = sp.stream_traffic_union_window(spark, SF_SMOKE)
    batch = api.QUERIES["dws_traffic_vc_ch_ar_is_new_page_view_window"](
        spark, SF_SMOKE
    )
    _same(stream, batch, "traffic_union_window")


def test_stream_base_log(spark):
    stream = sp.stream_base_log(spark, SF_SMOKE)
    batch = api.QUERIES["dwd_traffic_page_log"](spark, SF_SMOKE)
    _same(stream, batch, "base_log")


def test_stream_order_info_latest(spark):
    """D4 debounce emits once per quiet period; collapsing emissions with
    the batch keep-latest must reproduce the batch result exactly."""
    stream = sp.stream_order_info_latest(spark, SF_SMOKE)
    flat = cdc.topic_db(spark, SF_SMOKE, only=["order_info"]).select(
        F.col("data").getItem("id").alias("id"),
        F.col("data").getItem("order_status").alias("order_status"),
        F.col("data").getItem("operate_time").alias("operate_time"),
        F.col("ts").cast("long").alias("ts"),
    )
    batch = keep_latest(flat, ["id"], ["ts"])
    n_stream, n_keys, n_input = stream.count(), batch.count(), flat.count()
    assert n_keys <= n_stream <= n_input, (n_stream, n_keys, n_input)
    _same(keep_latest(stream, ["id"], ["ts"]), batch, "order_info_latest")


def test_stream_pay_detail_suc(spark):
    stream = sp.stream_pay_detail_suc(spark, SF_SMOKE)
    batch = api.QUERIES["dwd_trade_pay_detail_suc"](spark, SF_SMOKE)
    _same(stream, batch, "pay_detail_suc")


def test_late_rows_dropped_by_watermark(spark):
    """W1/W12: rows arriving after the watermark passed their window are
    DISCARDED (the reference has no allowed-lateness or late side-output;
    default watermark semantics). The late twin replays the page log,
    then a trailing file that re-sends the EARLIEST search events after
    the first flush wave advanced the watermark past end-of-stream: its
    windows must equal the batch result computed WITHOUT the late
    duplicates, row for row."""
    page = sp._page_log(spark, SF_SMOKE)
    late = sp._late_page(page)
    n_late_search = late.filter(
        (F.col("page_id") == "search") & F.col("item").isNotNull()
    ).count()
    assert n_late_search > 0, "vacuous: late file carries no keyword events"
    stream = sp.stream_keyword_window_late(spark, SF_SMOKE)
    batch = api.QUERIES["dws_traffic_source_keyword_page_view_window"](
        spark, SF_SMOKE
    )
    _same(stream, batch, "keyword_window_late")


def test_replay_directory_contract(spark, tmp_path):
    """The replay directory format the writer and read_stream share: part
    files stamped in name order, each trailing wave one file followed by
    ``fpb - 1`` zero-row pads (``fpb`` = files per trigger chunk, recorded
    in ``_replay_meta.json``), and an availableNow read of the directory
    making one micro-batch per range group plus one per wave."""
    import glob
    import json
    import os

    import pyarrow.parquet as pq

    from flink_realtime_datawarehouse_v3_spark.streaming import core

    n_files = 2
    path = str(tmp_path / "in")
    df = spark.range(40).select(F.col("id").alias("ts"), (F.col("id") * 2).alias("v"))
    waves = core.flush_waves(df, "ts", v=-1)
    for k, w in enumerate(waves):
        assert w.schema == df.schema
        assert w.collect() == [(core.FLUSH_TIMES_S[k], -1)]
    sp._write_replay(df, path, order_by=["ts"], sentinels=waves, n_files=n_files)

    with open(os.path.join(path, "_replay_meta.json")) as f:
        fpb = json.load(f)["files_per_trigger"]
    par = spark.sparkContext.defaultParallelism
    assert fpb == max(1, min(8, par // n_files))

    parts = sorted(glob.glob(os.path.join(path, "part-*.parquet")))
    assert len(parts) == n_files * fpb
    part_mtimes = [os.path.getmtime(f) for f in parts]
    assert part_mtimes == sorted(set(part_mtimes)), "part mtimes not in name order"

    tail = sorted(
        (f for f in glob.glob(os.path.join(path, "*.parquet")) if f not in parts),
        key=os.path.getmtime,
    )
    assert min(os.path.getmtime(f) for f in tail) > part_mtimes[-1]
    assert len(tail) == 2 * fpb
    for k in range(2):
        chunk = tail[k * fpb:(k + 1) * fpb]
        rows = [pq.ParquetFile(f).metadata.num_rows for f in chunk]
        assert rows == [1] + [0] * (fpb - 1), (k, rows)
        assert pq.read_table(chunk[0]).column("ts").to_pylist() == [
            core.FLUSH_TIMES_S[k]
        ]

    q = (
        core.read_stream(spark, path)
        .writeStream.format("memory")
        .queryName("replay_contract")
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(180)
        progress = q.recentProgress
    finally:
        q.stop()
        spark.catalog.dropTempView("replay_contract")
    batches = {p["batchId"]: p["numInputRows"] for p in progress}
    assert len(batches) == n_files + 2, batches
    assert sum(batches.values()) == 42
    assert [batches[i] for i in sorted(batches)][-2:] == [1, 1]


def _split_invariant_emissions(spark, tmp_path, df, sentinels, op, n_files):
    """Sorted emissions of ``op`` over ``df`` replayed as ``n_files``
    micro-batches plus the trailing ``sentinels``; ``op`` derives its
    event-time column and drops the sentinel rows."""
    from flink_realtime_datawarehouse_v3_spark.streaming.core import (
        read_stream,
        run_to_memory,
    )

    path = str(tmp_path / f"in{n_files}")
    sp._write_replay(df, path, order_by=["ts"], sentinels=sentinels, n_files=n_files)
    out = op(read_stream(spark, path))
    return sorted(
        tuple("" if v is None else str(v) for v in r)
        for r in run_to_memory(out, output_mode="append").collect()
    )


def test_debounce_emissions_split_invariant(spark, tmp_path):
    """The D4 debounce's oracle registration rests on determinism: the
    emission multiset must not depend on how the replay splits into
    micro-batches. Re-run the same input as 2 files and as 6 and compare."""
    from pyspark.sql import functions as F

    from flink_realtime_datawarehouse_v3_spark.sources import cdc
    from flink_realtime_datawarehouse_v3_spark.streaming.stateful import (
        keep_latest_stream,
    )

    flat = cdc.topic_db(spark, SF_SMOKE, only=["order_info"]).select(
        F.col("data").getItem("id").alias("id"),
        F.col("data").getItem("order_status").alias("order_status"),
        F.col("ts").cast("long").alias("ts"),
    )
    mx = flat.agg(F.max("ts")).collect()[0][0]
    sents = [
        spark.createDataFrame(
            [("__sentinel__", None, mx + dt)],
            "id string, order_status string, ts long",
        )
        for dt in (3600, 7200)
    ]

    def op(s):
        s = s.withColumn("rt", F.to_timestamp(F.from_unixtime("ts")))
        return keep_latest_stream(s, keys=["id"], order_col="ts").filter(
            F.col("id") != "__sentinel__"
        )

    assert _split_invariant_emissions(spark, tmp_path, flat, sents, op, 2) == (
        _split_invariant_emissions(spark, tmp_path, flat, sents, op, 6)
    )


def test_jump_emissions_split_invariant(spark, tmp_path):
    """The D5 bounce detector's timer sweep must not depend on how the
    replay splits into micro-batches either: the same page log plus its
    flush sentinels, replayed as 2 files and as 6, emits the same
    bounces (some by in-stream closure, the rest by the event-time timer
    sweep)."""
    from pyspark.sql import functions as F

    from flink_realtime_datawarehouse_v3_spark.operators.windows import rt_from_ms
    from flink_realtime_datawarehouse_v3_spark.streaming.stateful import (
        jump_detect_stream,
    )

    page = sp._page_log(spark, SF_SMOKE)
    sents = sp._page_sentinels(page)

    def op(s):
        return jump_detect_stream(s.withColumn("rt", rt_from_ms(F.col("ts")))).filter(
            F.col("mid") != "__sentinel__"
        )

    two = _split_invariant_emissions(spark, tmp_path, page, sents, op, 2)
    assert two and two == _split_invariant_emissions(spark, tmp_path, page, sents, op, 6)


def test_debounce_anchor_semantics_typed_state(spark, tmp_path):
    """Pin the burst-ANCHOR debounce semantics through the r13 typed-state
    hot path: the 5 s timer anchors at the burst's FIRST row (a row >5 s
    after the anchor closes the burst), NOT at the last row (session-gap
    semantics would merge a 0 s/3 s/6 s chain into one burst). Also
    exercises None values round-tripping through the typed state columns
    (the JSON-blob encoding this replaced stringified them)."""
    from pyspark.sql import functions as F

    from flink_realtime_datawarehouse_v3_spark.streaming.core import (
        read_stream,
        run_to_memory,
    )
    from flink_realtime_datawarehouse_v3_spark.streaming.stateful import (
        keep_latest_stream,
    )

    base = 1_700_000_000
    rows = [
        # key a: rows at +0s, +3s, +6s. Anchor at +0 -> +6 exceeds the
        # 5s debounce from the ANCHOR, so burst1={0,3} (keep-latest: +3),
        # burst2={6}. Session-gap semantics would emit only one row.
        ("a", "s0", None, base + 0),
        ("a", None, "op3", base + 3),
        ("a", "s6", None, base + 6),
        # key b: single row, None payloads survive the typed state.
        ("b", None, None, base + 1),
    ]
    df = spark.createDataFrame(
        rows, "id string, order_status string, operate_time string, ts long"
    )
    sent = spark.createDataFrame(
        [("__sentinel__", None, None, base + 7200)],
        "id string, order_status string, operate_time string, ts long",
    )
    sp._write_replay(df.union(sent), str(tmp_path / "in"), order_by=["ts"], n_files=2)
    s = read_stream(spark, str(tmp_path / "in")).withColumn(
        "rt", F.to_timestamp(F.from_unixtime("ts"))
    )
    out = keep_latest_stream(s, keys=["id"], order_col="ts").filter(
        F.col("id") != "__sentinel__"
    )
    got = sorted(
        ((r.id, r.order_status, r.operate_time, r.ts)
         for r in run_to_memory(out, output_mode="append").collect()),
        key=lambda t: tuple("" if v is None else str(v) for v in t),
    )
    assert got == [
        ("a", None, "op3", base + 3),   # burst1 survivor (latest of 0,3)
        ("a", "s6", None, base + 6),    # burst2 opened by the +6s row
        ("b", None, None, base + 1),
    ]


def test_run_to_memory_leaves_no_sink_table(spark, tmp_path):
    """run_to_memory keeps no sink in the session: its append and complete
    results are parquet reads of scratch directories that read back in
    full, no memory-sink table exists, and a reset deletes the
    directories."""
    import os
    from urllib.parse import urlparse

    from flink_realtime_datawarehouse_v3_spark import session
    from flink_realtime_datawarehouse_v3_spark.streaming import core

    path = str(tmp_path / "in")
    spark.range(20).withColumn("k", F.col("id") % 3).repartition(4).write.parquet(path)
    appended = core.run_to_memory(core.read_stream(spark, path))
    # One input file per micro-batch: complete mode must keep only the
    # last batch's full table, not every batch's.
    counted = core.run_to_memory(
        core.read_stream(spark, path).groupBy("k").count(), output_mode="complete"
    )
    assert [t.name for t in spark.catalog.listTables() if t.name.startswith("mem_")] == []
    assert sorted((r.id, r.k) for r in appended.collect()) == [(i, i % 3) for i in range(20)]
    assert appended.filter(F.col("k") == 0).count() == 7
    assert sorted(map(tuple, counted.toPandas().itertuples(index=False))) == [
        (0, 7),
        (1, 7),
        (2, 6),
    ]
    dirs = {
        os.path.dirname(urlparse(f).path) for df in (appended, counted) for f in df.inputFiles()
    }
    assert dirs and all(os.path.isdir(d) for d in dirs)
    session.reset_session_tables()
    assert not any(os.path.exists(d) for d in dirs)


def test_checkpoint_recovery_exactly_once(spark, tmp_path):
    """K2/W11: kill a checkpointed query mid-stream, restart from the same
    checkpoint, and the parquet sink holds every input row exactly once —
    offset tracking + idempotent batch writes give end-to-end
    exactly-once, the Structured Streaming equivalent of the reference's
    transactional-Kafka + checkpoint config (RT/utils/MyKafkaUtil.java:61-73,
    RT/app/dim/DimApp.java:36-45, commented out there, real here)."""
    import time

    from pyspark.sql import functions as F

    from flink_realtime_datawarehouse_v3_spark.sources import cdc
    from flink_realtime_datawarehouse_v3_spark.streaming import pipelines as sp_mod
    from flink_realtime_datawarehouse_v3_spark.streaming.core import read_stream

    raw = cdc.topic_db_json(spark, SF_SMOKE, only=["favor_info"])
    sp_mod._write_replay(raw, str(tmp_path / "in"), order_by=None)
    ckpt, sink = str(tmp_path / "ckpt"), str(tmp_path / "sink")

    def start():
        s = cdc.parse_topic_db(read_stream(spark, str(tmp_path / "in")))
        return (
            s.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    # Kill after the first committed batch (mid-stream crash).
    for _ in range(200):
        time.sleep(0.25)
        p = q.lastProgress
        if p is not None and p["batchId"] >= 1:
            break
    q.stop()
    q.awaitTermination(60)
    # Restart from the same checkpoint; availableNow drains the rest.
    q2 = start()
    assert q2.awaitTermination(300), "recovery run did not finish"

    got = spark.read.parquet(sink)
    want = cdc.topic_db(spark, SF_SMOKE, only=["favor_info"])
    assert got.count() == want.count(), "duplicate or lost rows after recovery"
    assert (
        got.select(F.col("data").getItem("id").alias("id"))
        .exceptAll(want.select(F.col("data").getItem("id").alias("id")))
        .count()
        == 0
    )


def test_dim_router_dynamic_column_add(spark, tmp_path):
    """J10/K5 runtime-DDL parity (RT/app/func/TableProcessFunction.java:84-106):
    a config row that grows its sinkColumns mid-stream must schema-merge —
    rows upserted before the change read NULL in the new column; rows seen
    after carry the value; re-upserted keys adopt the new shape."""
    from flink_realtime_datawarehouse_v3_spark.plans.dim import TableProcess
    from flink_realtime_datawarehouse_v3_spark.streaming.core import (
        read_stream,
        run_foreach_batch,
        stamp_file_order,
    )
    from flink_realtime_datawarehouse_v3_spark.streaming.dim_app import dim_router

    schema = (
        "database string, `table` string, type string, "
        "data map<string,string>, old map<string,string>, ts string"
    )

    def row(i: int, ts: int, email: str):
        return (
            "gmall_0105",
            "user_info",
            "insert",
            {"id": str(i), "name": f"u{i}", "email": email},
            None,
            str(ts),
        )

    batch0 = spark.createDataFrame([row(1, 10, "a@x"), row(2, 11, "b@x")], schema)
    batch1 = spark.createDataFrame([row(2, 20, "b2@x"), row(3, 21, "c@x")], schema)

    v1 = [TableProcess("user_info", "dim_user_info", "id,name")]
    v2 = [TableProcess("user_info", "dim_user_info", "id,name,email")]

    import glob
    import os

    # one file per micro-batch => deterministic config generations
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir, exist_ok=True)
    files = []
    for i, b in enumerate((batch0, batch1)):
        b.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / f"tmp{i}"))
        (src,) = glob.glob(os.path.join(str(tmp_path / f"tmp{i}"), "part-*.parquet"))
        dest = os.path.join(in_dir, f"b{i}.parquet")
        os.replace(src, dest)
        files.append(dest)
    stamp_file_order(in_dir, files)
    s = read_stream(spark, in_dir)
    out_dir = str(tmp_path / "dims")
    run_foreach_batch(
        s, dim_router(out_dir, lambda batch_id: v1 if batch_id == 0 else v2)
    )
    got = {
        r["id"]: (r["name"], r["email"])
        for r in spark.read.parquet(
            os.path.join(out_dir, "dim_user_info")
        ).collect()
    }
    assert got == {
        "1": ("u1", None),      # pre-change row: new column NULL
        "2": ("u2", "b2@x"),    # re-upserted after the change: value present
        "3": ("u3", "c@x"),     # post-change row
    }


def test_stream_dim_app(spark):
    streamed = sp.stream_dim_app(spark, SF_SMOKE)
    batch = dim_plan.dim_tables(cdc.topic_db(spark, SF_SMOKE))
    assert set(streamed) == set(batch)
    for sink_table, sdf in streamed.items():
        _same(sdf, batch[sink_table], f"dim_app:{sink_table}")


def test_stream_time_rollup(spark):
    stream = sp.stream_time_rollup(spark, SF_SMOKE)
    batch = api.QUERIES["events_time_rollup"](spark, SF_SMOKE)
    _same(stream, batch, "time_rollup")


def test_stream_hop_window(spark):
    stream = sp.stream_hop_window(spark, SF_SMOKE)
    batch = api.QUERIES["events_hop_window"](spark, SF_SMOKE)
    _same(stream, batch, "hop_window")


def test_stream_dim_coupon_scd2(spark):
    """Incremental SCD2 maintenance converges to the one-shot history."""
    stream = sp.stream_dim_coupon_scd2(spark, SF_SMOKE)
    batch = api.QUERIES["dim_coupon_use_scd2"](spark, SF_SMOKE)
    _same(stream, batch, "dim_coupon_scd2")


def test_stream_dim_user_info_evolve(spark):
    """Config widens mid-stream: rows routed before the switch carry NULL
    in the added column; final table == batch era-split router."""
    stream = sp.stream_dim_user_info_evolve(spark, SF_SMOKE)
    batch = api.QUERIES["dim_user_info_schema_evolve"](spark, SF_SMOKE)
    _same(stream, batch, "dim_user_info_evolve")
    rows = stream.collect()
    assert any(r.phone_num is None for r in rows), "no pre-switch era rows"
    assert any(r.phone_num is not None for r in rows), "no post-switch rows"


def test_stream_value_histogram_complete_mode(spark):
    stream = sp.stream_value_histogram(spark, SF_SMOKE)
    batch = api.QUERIES["events_value_histogram"](spark, SF_SMOKE)
    _same(stream, batch, "value_histogram")


def test_stream_activity_coupon_full_outer(spark):
    """Watermarked stream-stream FULL OUTER join == the BANDED batch full
    outer (the contract bounded streaming state can produce: a same-key
    pair outside the +/-5 s band is two unmatched rows; sf0.001 carries
    one such colliding detail id ~3 years apart, split by design)."""
    stream = sp.stream_activity_coupon_full_outer(spark, SF_SMOKE)
    from flink_realtime_datawarehouse_v3_spark.sources import cdc as cdc_mod

    d = F.col("data")
    oa = cdc_mod.topic_db_parsed(spark, SF_SMOKE, only=["order_detail_activity"]).select(
        d.getItem("order_detail_id").alias("a_detail_id"),
        d.getItem("activity_id").alias("activity_id"),
        d.getItem("activity_rule_id").alias("activity_rule_id"),
        F.col("ts").cast("long").alias("a_ts"),
    )
    oc = cdc_mod.topic_db_parsed(spark, SF_SMOKE, only=["order_detail_coupon"]).select(
        d.getItem("order_detail_id").alias("c_detail_id"),
        d.getItem("coupon_id").alias("coupon_id"),
        d.getItem("coupon_use_id").alias("coupon_use_id"),
        F.col("ts").cast("long").alias("c_ts"),
    )
    batch = (
        oa.join(
            oc,
            (oa.a_detail_id == oc.c_detail_id)
            & (F.abs(oa.a_ts - oc.c_ts) <= 5),
            "full_outer",
        )
        .select(
            F.coalesce("a_detail_id", "c_detail_id").alias("order_detail_id"),
            "activity_id", "activity_rule_id", "coupon_id", "coupon_use_id",
        )
    )
    _same(stream, batch, "activity_coupon_full_outer")


def test_stream_quality_gate(spark):
    """Curation gate at ingestion: the stateless per-batch projection
    must reproduce the batch gate's keep/drop decisions exactly
    (stream == batch == oracle transitively)."""
    stream = sp.stream_quality_gate(spark, SF_SMOKE)
    batch = api.QUERIES["corpus_quality_gate"](spark, SF_SMOKE)
    _same(stream, batch, "quality_gate")


def test_stream_norm_stats(spark):
    """Drift monitor at ingestion: the complete-mode per-label norm
    report must equal the batch entry after availableNow drains."""
    stream = sp.stream_norm_stats(spark, SF_SMOKE)
    batch = api.QUERIES["embedding_norm_stats"](spark, SF_SMOKE)
    _same(stream, batch, "norm_stats")


def test_upsert_sink_untouched_buckets_byte_identical(spark, tmp_path, monkeypatch):
    """The bucketed MERGE contract: a micro-batch writes a new generation
    for ONLY the bucket its keys hash into — every file already on disk
    survives byte-identical (same path, same content), untouched buckets
    keep their manifest pointer, and the merge reads only the touched
    bucket's files, so per-batch merge IO is O(touched buckets), not
    O(table)."""
    import hashlib
    import os

    from flink_realtime_datawarehouse_v3_spark.streaming import upsert_table

    path = str(tmp_path / "upsert_tbl")
    fn = upsert_table.upsert_sink(["id"], "ts", path)
    df1 = spark.createDataFrame(
        [(i, f"v{i}", 10) for i in range(64)], "id int, val string, ts long"
    )
    fn(df1, 0)

    buckets = {
        r.id: r.b
        for r in df1.select(
            "id", upsert_table.bucket_of(["id"]).alias("b")
        ).collect()
    }
    assert len(set(buckets.values())) > 1, "need >1 bucket for the test"
    target = buckets[0]
    upd_ids = [i for i, b in buckets.items() if b == target][:3]

    def snap():
        out = {}
        for root, _, files in os.walk(path):
            for f in files:
                if f.startswith(("_", ".")):
                    continue
                fp = os.path.join(root, f)
                out[fp] = hashlib.md5(open(fp, "rb").read()).hexdigest()
        return out

    # the merge's current-table read: spy on every bucket read so the
    # files it can reach are known
    merge_reads = []
    orig_read = upsert_table._read_buckets

    def spy(spark_, path_, manifest, bs):
        df = orig_read(spark_, path_, manifest, bs)
        merge_reads.append(df)
        return df

    before = snap()
    m_before = _manifest(path)
    df2 = spark.createDataFrame(
        [(i, "upd", 99) for i in upd_ids], "id int, val string, ts long"
    )
    monkeypatch.setattr(upsert_table, "_read_buckets", spy)
    fn(df2, 1)
    monkeypatch.setattr(upsert_table, "_read_buckets", orig_read)
    after = snap()

    touched_dir = f"__bucket={target}"
    assert len(before) > len([fp for fp in before if touched_dir in fp]), (
        "every bucket touched — test is vacuous"
    )
    for fp, h in before.items():
        assert after.get(fp) == h, f"committed file changed: {fp}"
    new_files = set(after) - set(before)
    assert new_files and all(
        os.path.join("gen-1", touched_dir) in fp for fp in new_files
    ), new_files
    m_after = _manifest(path)
    assert m_after[target] == "gen-1"
    assert {b: g for b, g in m_after.items() if b != target} == {
        b: g for b, g in m_before.items() if b != target
    }

    rows = {
        r.id: (r.val, r.ts)
        for r in upsert_table.read_upsert_table(spark, path).collect()
    }
    assert len(rows) == 64
    for i in upd_ids:
        assert rows[i] == ("upd", 99)
    missed = next(i for i in range(64) if i not in upd_ids)
    assert rows[missed] == (f"v{missed}", 10)

    # READ-side pruning: the merge read only files under the touched
    # bucket dir of the generation the manifest named for it.
    files = {f for df in merge_reads for f in df.inputFiles()}
    assert files and all(
        os.path.join(m_before[target], touched_dir) in f for f in files
    ), files


def test_rocksdb_state_store_active(spark, tmp_path):
    """The production state-store posture: every stateful streaming query
    in this session runs on the RocksDB provider (bounded executor memory,
    disk-backed keyed state), not the default in-memory HDFS-backed store.
    Asserts both the session conf and the live query's state-operator
    metrics — the conf alone could be silently ignored."""
    import os

    from flink_realtime_datawarehouse_v3_spark.streaming import core, stateful

    assert "RocksDBStateStoreProvider" in spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass"
    )
    df = spark.createDataFrame(
        [
            (f"m{i % 5}", f"2024-01-0{1 + i % 3}", 1000 + i, f"e{i}")
            for i in range(40)
        ],
        "mid string, dt string, ts long, event_id string",
    )
    sp._write_replay(df, str(tmp_path / "in"), order_by=["ts"], n_files=3)
    s = core.read_stream(spark, str(tmp_path / "in"))
    out = stateful.first_per_day_stream(s)
    q = (
        out.writeStream.format("memory")
        .queryName("rocksdb_gate")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(180)
        lp = q.lastProgress
    finally:
        q.stop()
    metrics = lp["stateOperators"][0]["customMetrics"]
    rocks = [k for k in metrics if k.lower().startswith("rocksdb")]
    assert rocks, f"no rocksdb state-store metrics in {sorted(metrics)[:8]}"
    assert spark.table("rocksdb_gate").count() > 0


def test_stream_ivf_search(spark):
    """Online ANN serving == batch index scan: the per-micro-batch
    probed results appended by the serving loop must equal the batch
    ivf_topk output row-for-row (same index artifact, same rank cut)."""
    from flink_realtime_datawarehouse_v3_spark.operators import simsearch
    from flink_realtime_datawarehouse_v3_spark.sources import tables

    stream = sp.stream_ivf_search(spark, SF_SMOKE)
    batch = simsearch.ivf_topk(tables.load(spark, SF_SMOKE, "embeddings"))
    _same(stream, batch, "ivf_search_serving")


def test_upsert_sink_redelivery_idempotent(spark, tmp_path):
    """Checkpoint-recovery contract: re-delivering the SAME micro-batch
    (same batch_id, same rows — what foreachBatch replays after a crash
    between sink write and offset commit) must leave the table
    byte-level equal in content: the merge keys on (order_col, __gen)
    which are both pure functions of the delivered batch."""
    from flink_realtime_datawarehouse_v3_spark.streaming import upsert_table

    path = str(tmp_path / "tbl")
    fn = upsert_table.upsert_sink(["id"], "ts", path)
    b0 = spark.createDataFrame(
        [(i, f"v{i}", 10) for i in range(20)], "id int, val string, ts long"
    )
    b1 = spark.createDataFrame(
        [(i, "u", 20) for i in range(0, 20, 3)], "id int, val string, ts long"
    )
    fn(b0, 0)
    fn(b1, 1)
    before = sorted(
        tuple(r) for r in upsert_table.read_upsert_table(spark, path).collect()
    )
    fn(b1, 1)  # redelivery of the last committed batch
    after = sorted(
        tuple(r) for r in upsert_table.read_upsert_table(spark, path).collect()
    )
    assert before == after


def test_stream_multimodal_decode(spark):
    """The Arrow mapInPandas feature stage under streaming must equal the
    batch decode row-for-row (same record-batch contract per micro-batch)."""
    stream = sp.stream_multimodal_decode(spark, SF_SMOKE)
    batch = api.QUERIES["multimodal_decode"](spark, SF_SMOKE)
    _same(stream, batch, "multimodal_decode")


def test_upsert_reader_during_inflight_rewrite(spark, tmp_path, monkeypatch):
    """No torn read: a reader that runs while a commit is in flight —
    the new generation dir fully written, the manifest not yet swapped —
    sees the whole old snapshot (all 64 rows, old values), never a
    missing, duplicated or mixed-generation bucket. After the swap it
    sees the whole new snapshot."""
    import os

    from flink_realtime_datawarehouse_v3_spark.streaming import upsert_table

    path = str(tmp_path / "upsert_tbl")
    fn = upsert_table.upsert_sink(["id"], "ts", path)
    old = {(i, f"v{i}", 10) for i in range(64)}
    fn(spark.createDataFrame(list(old), "id int, val string, ts long"), 0)

    real_acquire = upsert_table._acquire_commit_lock
    inflight = {}

    def read_before_swap(p, timeout_s=30.0):
        # gen-1 is on disk; the manifest still names gen-0 everywhere
        inflight["gen_written"] = os.path.isdir(os.path.join(path, "gen-1"))
        inflight["rows"] = {
            (r.id, r.val, r.ts)
            for r in upsert_table.read_upsert_table(spark, path).collect()
        }
        return real_acquire(p, timeout_s)

    monkeypatch.setattr(
        upsert_table, "_acquire_commit_lock", read_before_swap
    )
    fn(
        spark.createDataFrame(
            [(i, "new", 20) for i in range(64)], "id int, val string, ts long"
        ),
        1,
    )
    assert inflight["gen_written"]
    assert inflight["rows"] == old
    assert {
        (r.id, r.val, r.ts)
        for r in upsert_table.read_upsert_table(spark, path).collect()
    } == {(i, "new", 20) for i in range(64)}


def test_stateful_hot_key_bounded_state(spark, tmp_path):
    """Streaming skew posture: one mid carries ~30% of all events through
    first_per_day_stream (multi-batch replay on RocksDB). Asserts the
    three things a planted hot key must not break:

    - completion: the replay drains within the timeout (the hot key costs
      one task's CPU for its event share, never a wedged query);
    - bounded state: state volume is O(1) per DISTINCT KEY — since the
      r14 bucketed-grouping rewrite the store holds one row per
      occupied hash BUCKET (a pickled dict of per-key entries), so the
      row count equals the number of distinct buckets the keys hash to
      (<= |keys|, independent of how many events the hot key
      contributes; see SCALE.md 'Streaming skew posture' for the
      salting recipe for operators whose state grows with events);
    - correctness: output equals the batch first-per-(key, day) answer.
    """
    from flink_realtime_datawarehouse_v3_spark.streaming import core, stateful

    n = 12_000
    hot = int(n * 0.3)
    rows = []
    # dt monotone with ts (the operator's day-ordered arrival contract —
    # state is the last seen day, the reference's Kafka-time assumption)
    for i in range(hot):  # one hot mid: 30% of all events
        rows.append(
            ("mid_hot", f"2024-01-{1 + i * 9 // hot:02d}", 1_000_000 + i, f"h{i}")
        )
    for i in range(n - hot):  # 200 cold keys share the rest
        rows.append(
            (
                f"mid_{i % 200}",
                f"2024-01-{1 + i * 9 // (n - hot):02d}",
                1_000_000 + i,
                f"c{i}",
            )
        )
    df = spark.createDataFrame(
        rows, "mid string, dt string, ts long, event_id string"
    )
    sp._write_replay(df, str(tmp_path / "in"), order_by=["ts"], n_files=4)
    s = core.read_stream(spark, str(tmp_path / "in"))
    # This gate asserts the state ROW COUNT via the numRowsTotal metric,
    # which RocksDB only maintains under trackTotalNumberOfRows — the
    # session default is false (write-path perf, r13); pin it true for
    # this query (read at query start) and restore after.
    _track_conf = "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows"
    _track_saved = spark.conf.get(_track_conf, "false")
    spark.conf.set(_track_conf, "true")
    q = (
        stateful.first_per_day_stream(s)
        .writeStream.format("memory")
        .queryName("hot_key_gate")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(300), "hot-key replay did not drain"
        lp = q.lastProgress
    finally:
        q.stop()
        spark.conf.set(_track_conf, _track_saved)
    n_keys = 201  # mid_hot + mid_0..mid_199
    # one state row per OCCUPIED bucket (r14 bucketed grouping), computed
    # from the keys with the operator's own bucket expression
    n_buckets_occupied = (
        df.select(
            F.pmod(F.xxhash64(F.col("mid")), F.lit(256)).alias("b")
        )
        .distinct()
        .count()
    )
    assert n_buckets_occupied <= n_keys
    assert lp["stateOperators"][0]["numRowsTotal"] == n_buckets_occupied
    got = {
        (r.mid, r.dt)
        for r in spark.table("hot_key_gate").collect()
    }
    want = {(r.mid, r.dt) for r in df.groupBy("mid", "dt").count().collect()}
    assert got == want  # exactly one emission per (key, day)
    assert spark.table("hot_key_gate").count() == len(want)


def test_upsert_snapshot_sink_mvcc(spark, tmp_path):
    """The manifest-swap upsert closes the read-isolation gap the plain
    dynamic-overwrite sink documents: commits are one atomic manifest
    replace over immutable generation dirs, so a reader resolves either
    the whole old snapshot or the whole new one — never the torn state.
    Pins: (1) merge correctness across batches, (2) a pre-commit reader
    (old manifest) sees the prior snapshot exactly even after the new
    generation's files land, (3) untouched buckets keep their manifest
    pointer (zero IO), (4) every generation dir on disk is referenced."""
    import json
    import os

    from flink_realtime_datawarehouse_v3_spark.streaming import upsert_table

    path = str(tmp_path / "snap_tbl")
    fn = upsert_table.upsert_sink(["id"], "ts", path)

    df1 = spark.createDataFrame(
        [(i, f"v{i}", 10) for i in range(64)], "id int, val string, ts long"
    )
    fn(df1, 0)
    snap1 = {(r.id, r.val, r.ts) for r in
             upsert_table.read_upsert_table(spark, path).collect()}
    assert snap1 == {(i, f"v{i}", 10) for i in range(64)}
    manifest_v1 = open(os.path.join(path, upsert_table.MANIFEST_NAME)).read()

    # batch 2: update 3 keys (newer ts) + one stale row that must lose
    df2 = spark.createDataFrame(
        [(1, "new1", 20), (2, "new2", 20), (3, "new3", 20), (4, "stale", 5)],
        "id int, val string, ts long",
    )
    fn(df2, 1)
    snap2 = {(r.id, r.val, r.ts) for r in
             upsert_table.read_upsert_table(spark, path).collect()}
    want2 = {(i, f"v{i}", 10) for i in range(64) if i not in (1, 2, 3)} | {
        (1, "new1", 20), (2, "new2", 20), (3, "new3", 20)
    }
    assert snap2 == want2

    # untouched buckets keep their generation pointer (zero rewrite IO)
    m1 = {int(k): v for k, v in json.loads(manifest_v1)["buckets"].items()}
    m2 = _manifest(path)
    touched = {r[0] for r in df2.select(
        upsert_table.bucket_of(["id"])).distinct().collect()}
    for b, gen in m1.items():
        if b not in touched:
            assert m2[b] == gen, f"untouched bucket {b} repointed"
    assert any(m2[b] != m1[b] for b in touched)

    # MVCC: restore the v1 manifest (a reader that resolved it pre-commit)
    # -> the OLD snapshot reads back exactly; gen-1 files on disk are
    # invisible to it.
    cur = open(os.path.join(path, upsert_table.MANIFEST_NAME)).read()
    with open(os.path.join(path, upsert_table.MANIFEST_NAME), "w") as f:
        f.write(manifest_v1)
    assert {(r.id, r.val, r.ts) for r in
            upsert_table.read_upsert_table(spark, path).collect()} == snap1
    with open(os.path.join(path, upsert_table.MANIFEST_NAME), "w") as f:
        f.write(cur)

    # no orphan: both commits won, so the manifest references every
    # generation dir on disk; the table still reads whole
    gens = {d for d in os.listdir(path) if d.startswith("gen-")}
    assert set(_manifest(path).values()) == gens == {"gen-0", "gen-1"}
    assert {(r.id, r.val, r.ts) for r in
            upsert_table.read_upsert_table(spark, path).collect()} == snap2


@pytest.mark.parametrize("seed", [7, 23, 91])
def test_trailing_window_stream_randomized(spark, tmp_path, seed):
    """Randomized stream==batch equivalence for the watermark-gated
    trailing window: random timestamps WITH duplicates (peer groups),
    random values (negative included — truncating division), random
    batch splits. The watermark gate must make arrival order invisible."""
    import random

    from flink_realtime_datawarehouse_v3_spark.operators import timeseries
    from flink_realtime_datawarehouse_v3_spark.streaming import core, stateful

    rng = random.Random(seed)
    w = 100  # small window so frames vary
    rows = [
        (
            rng.randrange(5),                      # user_id
            i,                                     # event_id
            1_000_000 + rng.randrange(400),        # ts_s: dense -> peers
            rng.randrange(-500, 500),              # v_micro (negatives!)
        )
        for i in range(300)
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts_s long, v_micro long"
    )
    # batch truth: RANGE frame over ts_s
    from pyspark.sql import Window

    bw = Window.partitionBy("user_id").orderBy("ts_s").rangeBetween(-w, 0)
    batch = df.select(
        "user_id",
        "event_id",
        "ts_s",
        "v_micro",
        F.count(F.lit(1)).over(bw).cast("bigint").alias("trail_n"),
        F.sum("v_micro").over(bw).cast("bigint").alias("trail_sum_micro"),
    ).withColumn("trail_avg_micro", F.expr("trail_sum_micro DIV trail_n"))

    path = str(tmp_path / "in")
    # trailing sentinel batches flush the final frames (ts far future)
    sent = spark.createDataFrame(
        [(-1, -1, 1_001_000 + k * 1000, 0) for k in range(2)],
        "user_id long, event_id long, ts_s long, v_micro long",
    )
    sp._write_replay(
        df,
        path,
        order_by=["ts_s"],
        sentinels=[sent.filter(F.col("ts_s") == 1_001_000 + j * 1000) for j in range(2)],
        n_files=5,
    )

    s = core.read_stream(spark, path).withColumn(
        "rt", F.timestamp_seconds(F.col("ts_s"))
    )
    q = (
        stateful.trailing_window_stream(s, w)
        .filter(F.col("user_id") >= 0)
        .writeStream.format("memory")
        .queryName(f"trail_rand_{seed}")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(300)
    finally:
        q.stop()
    stream_df = spark.table(f"trail_rand_{seed}")
    _same(stream_df, batch, f"trailing_rand_{seed}")


def test_upsert_snapshot_two_writer_race(spark, tmp_path, monkeypatch):
    """CAS arbitration on the MVCC sink (r10, replacing the documented
    single-writer contract): writer B commits while writer A sits
    between its merge and its commit — the exact interleave that
    last-write-wins'd the manifest before. A must DETECT the version
    bump inside the O_EXCL commit section, lose, and re-merge from the
    fresh snapshot, so the final table contains BOTH writers' updates
    (B's disjoint-bucket row survives A's commit; the key both touched
    resolves by order_col). Also pins: the loser deletes its abandoned
    generation dir, the commit lock is released, and the manifest version
    counts every commit."""
    import os

    from flink_realtime_datawarehouse_v3_spark.streaming import upsert_table

    path = str(tmp_path / "race_tbl")
    fn_a = upsert_table.upsert_sink(["id"], "ts", path)
    fn_b = upsert_table.upsert_sink(["id"], "ts", path)

    base = spark.createDataFrame(
        [(i, f"v{i}", 10) for i in range(64)], "id int, val string, ts long"
    )
    fn_a(base, 0)  # version 1

    # B: update ids 1 and 5.  A: update id 1 (newer than B) and id 9.
    df_b = spark.createDataFrame(
        [(1, "b1", 20), (5, "b5", 20)], "id int, val string, ts long"
    )
    df_a = spark.createDataFrame(
        [(1, "a1", 30), (9, "a9", 30)], "id int, val string, ts long"
    )

    real_acquire = upsert_table._acquire_commit_lock
    injected = {"done": False}

    def acquire_with_interleaved_commit(p, timeout_s=30.0):
        # First acquisition = writer A's first commit attempt: let B run
        # a FULL merge+commit first (A's merge already read the old
        # manifest), then hand A the lock — the classic racing-writer
        # interleave, deterministic.
        if not injected["done"]:
            injected["done"] = True
            fn_b(df_b, 1)
        return real_acquire(p, timeout_s)

    monkeypatch.setattr(
        upsert_table, "_acquire_commit_lock", acquire_with_interleaved_commit
    )
    fn_a(df_a, 2)

    got = {(r.id, r.val, r.ts) for r in
           upsert_table.read_upsert_table(spark, path).collect()}
    want = {(i, f"v{i}", 10) for i in range(64) if i not in (1, 5, 9)} | {
        (1, "a1", 30),   # both touched it; A's is newer by order_col
        (5, "b5", 20),   # B-only bucket: MUST survive A's commit
        (9, "a9", 30),
    }
    assert got == want, f"lost update: {sorted(want - got)[:5]}"

    version = upsert_table._read_manifest_doc(path)["version"]
    assert version == 3  # base + B + A's retried commit
    assert not os.path.exists(os.path.join(path, upsert_table.COMMIT_LOCK_NAME))
    # A's first (conflicted) attempt wrote gen-2, which no manifest ever
    # named: the loser deletes it, and the manifest references A's retry
    # (gen-2-r1).
    live = set(_manifest(path).values())
    assert not os.path.exists(os.path.join(path, "gen-2"))
    assert "gen-2-r1" in live, live


def test_stateful_restart_under_rescaled_shuffle_partitions(spark, tmp_path):
    """State-rescale replay (r9 verdict stretch): kill a STATEFUL query
    (dropDuplicates keyed state) mid-stream, restart from the same
    checkpoint under a DIFFERENT spark.sql.shuffle.partitions — the
    weekly operational move on a real cluster (resize, then resume from
    checkpoint). Output must be exactly the batch answer with no
    duplicate and no lost emission across the restart.

    This also pins the MECHANISM Spark guarantees it with: the state
    partition count is FROZEN in the checkpoint at first start (offset
    log carries the original conf; the state/ dir keeps its partition
    layout), so a resized session transparently keeps the old state
    partitioning — executors rescale freely underneath because tasks >>
    executors, but the conf change does NOT re-shard state (that needs
    an offline state-rebalance job). If a Spark upgrade ever changed
    this silently, the assertions below go red."""
    import glob
    import json
    import os
    import time

    from flink_realtime_datawarehouse_v3_spark.sources import tables
    from flink_realtime_datawarehouse_v3_spark.streaming import pipelines as sp_mod
    from flink_realtime_datawarehouse_v3_spark.streaming.core import (
        _StreamShufflePartitions,
        read_stream,
    )

    ev = tables.load(spark, SF_SMOKE, "events").select(
        "user_id", "event_type", "ts"
    )
    sp_mod._write_replay(ev, str(tmp_path / "in"), order_by=["ts"])
    ckpt, sink = str(tmp_path / "ckpt"), str(tmp_path / "sink")

    def start():
        s = read_stream(spark, str(tmp_path / "in")).dropDuplicates(["user_id"])
        return (
            s.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    with _StreamShufflePartitions(spark, 8):
        q = start()
        for _ in range(200):  # kill after the first committed batch
            time.sleep(0.25)
            p = q.lastProgress
            if p is not None and p["batchId"] >= 1:
                break
        q.stop()
        q.awaitTermination(60)

    with _StreamShufflePartitions(spark, 3):  # the rescaled restart
        q2 = start()
        assert q2.awaitTermination(300), "rescaled recovery did not finish"

    got = spark.read.parquet(sink)
    assert got.count() == ev.select("user_id").distinct().count(), (
        "duplicate or lost first-per-key emission across the rescaled restart"
    )
    # Mechanism: the checkpoint pinned the ORIGINAL partition count —
    # the last offset written by the rescaled run still records 8,
    # and the keyed-state store kept its 8-way directory layout.
    last_off = max(
        (f for f in glob.glob(os.path.join(ckpt, "offsets", "*"))
         if os.path.basename(f).isdigit()),
        key=lambda f: int(os.path.basename(f)),
    )
    meta = next(
        json.loads(ln)
        for ln in open(last_off)
        if ln.startswith("{") and "conf" in ln
    )
    assert meta["conf"]["spark.sql.shuffle.partitions"] == "8", meta
    state_parts = [
        p for p in os.listdir(os.path.join(ckpt, "state", "0"))
        if p.isdigit()
    ]
    assert len(state_parts) == 8, sorted(state_parts)


def test_stream_er_resolve(spark):
    """Resolve-on-arrival == batch blocked ER: the stream-static
    blocking joins + keyed complete-mode min must reproduce the batch
    window's best-match rows exactly (state is one struct per variant)."""
    stream = sp.stream_er_resolve(spark, SF_SMOKE)
    batch = api.QUERIES["er_resolve_customers"](spark, SF_SMOKE)
    _same(stream, batch, "er_resolve")


def test_stream_order_status_counts_retract(spark):
    """The retract aggregate's live fold == the batch delta fold == the
    latest-state oracle: every update's -1 must land exactly once even
    though the replay does not preserve per-key event order (SUM
    commutes; the final snapshot is exact)."""
    stream = sp.stream_order_status_counts(spark, SF_SMOKE)
    batch = api.QUERIES["dws_order_status_counts_retract"](spark, SF_SMOKE)
    _same(stream, batch, "order_status_counts_retract")


def test_upsert_snapshot_schema_evolution(spark, tmp_path):
    """ALTER-then-UPSERT on the MVCC table: a later batch arrives with a
    NEW column. The merge unions old and new schemas
    (allowMissingColumns), the new generation carries the wide schema,
    and the reader merges schemas across generations — old rows surface
    the new column as NULL."""
    from flink_realtime_datawarehouse_v3_spark.streaming import upsert_table

    path = str(tmp_path / "evolve_tbl")
    fn = upsert_table.upsert_sink(["id"], "ts", path)

    fn(
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 10)], "id int, val string, ts long"
        ),
        0,
    )  # v1: narrow schema
    fn(
        spark.createDataFrame(
            [(2, "b2", 20, "emea"), (3, "c", 20, "apac")],
            "id int, val string, ts long, region string",
        ),
        1,
    )  # v2: adds region

    now = upsert_table.read_upsert_table(spark, path)
    assert "region" in now.columns
    got = {(r.id, r.val, r.ts, r.region) for r in now.collect()}
    assert got == {
        (1, "a", 10, None),   # pre-evolution row: new column is NULL
        (2, "b2", 20, "emea"),
        (3, "c", 20, "apac"),
    }


def test_stream_dedup_within_watermark(spark):
    """The redelivered feed really contains duplicates, the plan carries
    the watermark-evicted dedup operator (bounded state — not the
    keep-forever dropDuplicates), and the surviving rows equal the
    original events exactly."""
    from flink_realtime_datawarehouse_v3_spark.sources import tables

    e = tables.load(spark, SF_SMOKE, "events")
    n, n_dup = e.count(), e.filter("event_id % 5 = 0").count()
    assert n_dup > 0  # the demo is non-vacuous: redeliveries exist
    out = sp.stream_dedup_within_watermark(spark, SF_SMOKE)
    assert out.count() == n
    assert out.select("event_id").distinct().count() == n


def test_observed_metrics_ride_the_stream(spark, tmp_path):
    """Data-quality counters as OBSERVED METRICS: ``df.observe`` rides
    the acceptance-gate counters on the stream itself — computed inside
    the running plan (no second scan, no extra sink) and surfaced per
    micro-batch through StreamingQueryProgress. The per-batch metrics
    must sum to the batch-computed truth: the zero-cost in-flight form
    of the expectation suite (at 100 TB this is how a pipeline alerts
    without re-reading anything)."""
    import time as _time

    from pyspark.sql import functions as F

    from flink_realtime_datawarehouse_v3_spark.sources import tables
    from flink_realtime_datawarehouse_v3_spark.streaming.core import read_stream
    from flink_realtime_datawarehouse_v3_spark.streaming.pipelines import (
        _write_replay,
    )

    e = tables.load(spark, SF_SMOKE, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    want_rows = e.count()
    want_neg = e.filter(F.col("value") < 0).count()
    want_null_type = e.filter(F.col("event_type").isNull()).count()

    _write_replay(e, str(tmp_path / "in"), order_by=["ts"])
    s = read_stream(spark, str(tmp_path / "in"))
    obs = s.observe(
        "gate",
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.when(F.col("value") < 0, 1).otherwise(0)).alias(
            "neg_values"
        ),
        F.sum(
            F.when(F.col("event_type").isNull(), 1).otherwise(0)
        ).alias("null_types"),
    )
    q = (
        obs.writeStream.format("noop")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    # progress events land asynchronously after termination
    deadline = _time.monotonic() + 30
    got = {"rows": 0, "neg_values": 0, "null_types": 0}
    while _time.monotonic() < deadline:
        got = {"rows": 0, "neg_values": 0, "null_types": 0}
        for p in q.recentProgress:
            m = (p.observedMetrics or {}).get("gate")
            if m is not None:
                got["rows"] += m["rows"]
                got["neg_values"] += m["neg_values"]
                got["null_types"] += m["null_types"]
        if got["rows"] == want_rows:
            break
        _time.sleep(0.5)
    assert got == {
        "rows": want_rows,
        "neg_values": want_neg,
        "null_types": want_null_type,
    }


def test_statestore_reader_inspects_checkpointed_state(spark, tmp_path):
    """Operational state inspection: the `statestore` data source reads a
    checkpointed query's keyed state directly from the checkpoint — the
    move an operator makes when a production aggregation misbehaves
    (inspect state without stopping the query or adding debug sinks).
    Pinned: the retract fold's state read back from its checkpoint
    equals the query's own output, and the state rows live in the
    shuffle partitions the group keys hash to (RocksDB-backed keyed
    state, not a single blob)."""
    import os

    from pyspark.sql import functions as F

    from flink_realtime_datawarehouse_v3_spark.plans import dws
    from flink_realtime_datawarehouse_v3_spark.sources import cdc, tables
    from flink_realtime_datawarehouse_v3_spark.streaming.core import read_stream
    from flink_realtime_datawarehouse_v3_spark.streaming.pipelines import (
        _write_replay,
    )

    raw = cdc.topic_db_json(spark, SF_SMOKE, only=["order_info"])
    _write_replay(raw, str(tmp_path / "in"), order_by=None)
    ev = cdc.parse_topic_db(read_stream(spark, str(tmp_path / "in")))
    deltas = dws.order_status_count_deltas(ev)
    agg = deltas.groupBy("province_id", "order_status").agg(
        F.sum("delta").cast("bigint").alias("n_orders")
    )
    chk = str(tmp_path / "chk")
    name = "statestore_probe"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    out = {
        (r.province_id, r.order_status): r.n_orders
        for r in spark.table(name).collect()
    }
    st = spark.read.format("statestore").load(chk)
    # state-row field names are the operator's internal buffer names;
    # access positionally (key = the grouping tuple, value = the one
    # sum buffer)
    state = {
        (r.key[0], r.key[1]): r.value[0] for r in st.collect()
    }
    assert state == out and len(state) > 0
    n_parts = st.select("partition_id").distinct().count()
    assert n_parts > 1, "keyed state should spread across partitions"
    # The retract fold's MEASURED scale claim: state is one row per
    # (province, status) GROUP, far below one per order key — the
    # keep-latest formulation would checkpoint a row per order.
    n_orders = (
        cdc.topic_db_parsed(spark, SF_SMOKE, only=["order_info"])
        .select(F.col("data")["id"])
        .distinct()
        .count()
    )
    assert len(state) * 5 < n_orders, (len(state), n_orders)


def test_pyds_stream_offset_recovery(spark, tmp_path):
    """The custom Python DataSource's offset contract survives restart:
    a checkpointed drain of the first half commits its offset; a second
    query on the SAME checkpoint with the feed extended resumes from
    the committed index — no re-read, no gap (the Kafka-shaped recovery
    semantics, proven on the extension-API source)."""
    import os

    from flink_realtime_datawarehouse_v3_spark.sources import pyds

    pyds.ensure_registered(spark)
    chk = str(tmp_path / "chk")
    out_dir = str(tmp_path / "out")

    def drain(n_rows: int) -> None:
        s = (
            spark.readStream.format(pyds.SOURCE_NAME)
            .option("n_rows", n_rows)
            .load()
        )
        q = (
            s.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    drain(2500)
    first = spark.read.parquet(out_dir)
    assert first.count() == 2500
    drain(5000)  # extended feed, same checkpoint
    final = spark.read.parquet(out_dir)
    assert final.count() == 5000  # resumed at 2500: no re-read, no gap
    assert final.select("event_id").distinct().count() == 5000


def test_pyds_sink_commit_protocol_isolates_uncommitted_attempts(spark, tmp_path):
    """Writer commit protocol: a task attempt that stages rows but never
    reaches the driver's commit (speculative duplicate, retried task)
    must stay INVISIBLE to readers — staged files only become part of
    the table via the driver-side publish, and the commit manifest
    accounts for exactly the published rows."""
    import json
    import os

    from flink_realtime_datawarehouse_v3_spark.sources import pyds

    pyds.ensure_registered(spark)
    pyds.ensure_writer_registered(spark)
    path = str(tmp_path / "tbl")
    df = (
        spark.read.format(pyds.SOURCE_NAME).option("n_rows", 500).load()
    )
    df.write.format("jsonl_commit").option("path", path).mode(
        "append"
    ).save()
    # simulate the failed/speculative attempt: staged, never committed
    class _R:
        def __init__(self, i):
            self._d = {"event_id": 10_000 + i}
        def asDict(self):
            return self._d
    pyds._stage_rows(path, [_R(i) for i in range(7)])

    visible = [
        f for f in os.listdir(path)
        if f.endswith(".jsonl") and not f.startswith("_")
    ]
    n_visible = sum(
        1 for f in visible for _ in open(os.path.join(path, f))
    )
    assert n_visible == 500  # the orphaned attempt's rows are invisible
    staged = os.listdir(os.path.join(path, "_staging"))
    assert len(staged) == 1  # ...but still on disk, vacuumable
    commits = [
        json.loads(l) for l in open(os.path.join(path, "_commits.jsonl"))
    ]
    assert sum(f["rows"] for c in commits for f in c["files"]) == 500


def test_pyds_stream_writer_commits_per_batch(spark, tmp_path):
    """The custom sink's STREAMING path: per-micro-batch driver-side
    publish through the same staged-commit protocol, with the commit
    manifest recording each batch. Two availableNow runs on the same
    checkpoint (feed extended between them) force TWO distinct batches
    — each run drains [committed, n_rows) in one batch, the Python
    DataSource API's admission shape — so the manifest must show two
    batch ids with exact per-batch row accounting and the table must
    equal the final feed with no re-writes of run-1 rows."""
    import json
    import os

    from flink_realtime_datawarehouse_v3_spark.sources import pyds

    pyds.ensure_registered(spark)
    pyds.ensure_writer_registered(spark)
    path = str(tmp_path / "tbl")

    def drain(n_rows: int) -> None:
        s = (
            spark.readStream.format(pyds.SOURCE_NAME)
            .option("n_rows", n_rows)
            .load()
        )
        q = (
            s.writeStream.format("jsonl_commit")
            .option("path", path)
            .option("checkpointLocation", str(tmp_path / "chk"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    drain(500)
    drain(800)  # same checkpoint: resumes at 500, second batch = 300 rows
    commits = [
        json.loads(l) for l in open(os.path.join(path, "_commits.jsonl"))
    ]
    per_batch = {
        c["batch"]: sum(f["rows"] for f in c["files"]) for c in commits
    }
    assert per_batch == {0: 500, 1: 300}, per_batch
    back = (
        spark.read.schema(pyds.SCHEMA)
        .option("pathGlobFilter", "part-*.jsonl")
        .json(path)
    )
    assert back.count() == 800
    assert back.select("event_id").distinct().count() == 800


def test_mvcc_export_cross_engine(spark, tmp_path):
    """r11 interop export: a committed MVCC snapshot materialized to
    plain parquet + manifest must be readable by an engine with NO
    knowledge of the manifest resolver (DuckDB here), match the source
    snapshot exactly, and record the snapshot's manifest version. The
    manifest's row count and file list must describe exactly what
    landed."""
    import json
    import os

    import duckdb

    from flink_realtime_datawarehouse_v3_spark.streaming import upsert_table

    path = str(tmp_path / "exp_tbl")
    fn = upsert_table.upsert_sink(["id"], "ts", path)
    fn(
        spark.createDataFrame(
            [(i, "old", 10) for i in range(30)], "id int, val string, ts long"
        ),
        0,
    )  # version 1
    fn(
        spark.createDataFrame(
            [(i, "new", 20) for i in range(0, 30, 2)],
            "id int, val string, ts long",
        ),
        1,
    )  # version 2: evens updated

    out = str(tmp_path / "export_cur")
    man = upsert_table.export_upsert_snapshot(spark, path, out)
    assert man["source_version"] == 2 and man["n_rows"] == 30
    assert man["files"] and all(f.endswith(".parquet") for f in man["files"])
    disk = json.load(open(os.path.join(out, "_EXPORT.json")))
    assert disk == man
    # cross-engine: DuckDB reads the export with zero resolver knowledge
    rows = duckdb.sql(
        f"SELECT id, val FROM '{out}/*.parquet' ORDER BY id"
    ).fetchall()
    want = [(i, "new" if i % 2 == 0 else "old") for i in range(30)]
    assert rows == want


def test_mvcc_export_zone_maps_prune(spark, tmp_path):
    """r11 zone maps: a sorted export's files carry DISJOINT [min,max]
    ranges in the manifest; the pruned reader touches only overlapping
    files (a strict subset for a narrow range) and returns exactly the
    full-scan filter's rows; an out-of-domain range reads nothing and
    keeps the schema."""
    import json
    import os

    from flink_realtime_datawarehouse_v3_spark.streaming import upsert_table

    path = str(tmp_path / "zm_tbl")
    fn = upsert_table.upsert_sink(["id"], "ts", path)
    fn(
        spark.createDataFrame(
            [(i, f"v{i}", 1000 + i) for i in range(400)],
            "id int, val string, ts long",
        ),
        0,
    )
    out = str(tmp_path / "zm_export")
    man = upsert_table.export_upsert_snapshot(
        spark, path, out, sort_by="ts", n_files=4
    )
    zm = man["zone_maps"]["ts"]
    spans = sorted(r for r in zm.values() if r)
    assert len(spans) >= 3  # range partitioning actually split
    for (alo, ahi), (blo, bhi) in zip(spans, spans[1:]):
        assert ahi < blo  # disjoint: sorted layout, honest maps
    # narrow range: strict subset of files, exact rows
    lo, hi = 1050, 1120
    cand = upsert_table.zonemap_candidates(man, "ts", lo, hi)
    assert 0 < len(cand) < len(man["files"]), (cand, man["files"])
    got = {
        (r.id, r.ts)
        for r in upsert_table.read_export_pruned(spark, out, "ts", lo, hi).collect()
    }
    assert got == {(i, 1000 + i) for i in range(50, 121)}
    # out-of-domain range: zero files, empty frame, schema intact
    assert upsert_table.zonemap_candidates(man, "ts", 5000, 6000) == []
    empty = upsert_table.read_export_pruned(spark, out, "ts", 5000, 6000)
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == ["id", "val", "ts"]
    # manifest on disk round-trips
    disk = json.load(open(os.path.join(out, "_EXPORT.json")))
    assert disk["zone_maps"] == {"ts": zm}


def test_upsert_snapshot_agg_sink_additive_and_idempotent(spark, tmp_path):
    """r11 additive MERGE sink: counter = counter + inc per batch
    through the MVCC commit protocol, with the last_batch manifest
    watermark making at-least-once redelivery safe — a replayed batch
    id (same or older) is skipped WHOLESALE, never double-added; new
    batch ids keep accumulating."""
    from flink_realtime_datawarehouse_v3_spark.streaming import upsert_table

    path = str(tmp_path / "agg_tbl")
    fn = upsert_table.upsert_sink_agg(["k"], ["v"], path)

    b0 = spark.createDataFrame([(1, 10), (2, 5), (1, 3)], "k int, v long")
    fn(b0, 0)
    snap = lambda: {  # noqa: E731
        r.k: r.v
        for r in upsert_table.read_upsert_table(spark, path).collect()
    }
    assert snap() == {1: 13, 2: 5}

    fn(b0, 0)  # at-least-once redelivery of the SAME batch
    assert snap() == {1: 13, 2: 5}, "replayed batch double-applied"

    b1 = spark.createDataFrame([(2, 1), (3, 7)], "k int, v long")
    fn(b1, 1)
    assert snap() == {1: 13, 2: 6, 3: 7}

    fn(b0, 0)  # stale batch id arriving after a newer commit
    fn(b1, 1)  # and a replay of the latest
    assert snap() == {1: 13, 2: 6, 3: 7}

    doc = upsert_table._read_manifest_doc(path)
    assert doc["last_batch"] == 1 and doc["version"] == 2


def test_agg_sink_duplicate_batch_race_applies_once(spark, tmp_path, monkeypatch):
    """r11 additive sink, the concurrency claim in its docstring: a
    DUPLICATE of the same batch racing a concurrent commit cannot
    double-apply. Writer B commits batch 1 while writer A sits between
    its merge of batch 1 and its commit — A must lose the CAS on the
    version bump, retry, and be caught by the last_batch precondition
    on the re-read: the increment lands exactly once."""
    import os

    from flink_realtime_datawarehouse_v3_spark.streaming import upsert_table

    path = str(tmp_path / "agg_race_tbl")
    fn_a = upsert_table.upsert_sink_agg(["k"], ["v"], path)
    fn_b = upsert_table.upsert_sink_agg(["k"], ["v"], path)

    fn_a(spark.createDataFrame([(1, 10)], "k int, v long"), 0)
    dup = spark.createDataFrame([(1, 7)], "k int, v long")

    real_acquire = upsert_table._acquire_commit_lock
    injected = {"done": False}

    def acquire_with_duplicate_commit(p, timeout_s=30.0):
        if not injected["done"]:
            injected["done"] = True
            fn_b(dup, 1)  # the duplicate lands first, in full
        return real_acquire(p, timeout_s)

    monkeypatch.setattr(
        upsert_table, "_acquire_commit_lock", acquire_with_duplicate_commit
    )
    fn_a(dup, 1)  # racing duplicate of the SAME batch
    monkeypatch.setattr(upsert_table, "_acquire_commit_lock", real_acquire)

    snap = {
        r.k: r.v
        for r in upsert_table.read_upsert_table(spark, path).collect()
    }
    assert snap == {1: 17}, f"duplicate batch double-applied: {snap}"
    doc = upsert_table._read_manifest_doc(path)
    assert doc["last_batch"] == 1 and doc["version"] == 2
    assert not os.path.exists(os.path.join(path, upsert_table.COMMIT_LOCK_NAME))


def test_lww_sink_replay_never_overwrites_committed_generation(spark, tmp_path):
    """Crash-recovery replay of an ALREADY-COMMITTED foreachBatch id
    (at-least-once delivery: sink committed, stream commit-log entry
    lost) must not rewrite gen-{id} in place — mid-scan readers may
    still resolve it. The replay's re-merge goes to a fresh suffixed
    generation and commits by manifest repoint; the original dir stays
    byte-identical and the table reads back unchanged."""
    import os

    from flink_realtime_datawarehouse_v3_spark.streaming import upsert_table

    path = str(tmp_path / "replay_tbl")
    fn = upsert_table.upsert_sink(["id"], "ts", path)
    b0 = spark.createDataFrame(
        [(i, f"v{i}", 10) for i in range(20)], "id int, val string, ts long"
    )
    fn(b0, 0)  # version 1 -> gen-0

    def fingerprint(d):
        return {
            (root.replace(path, ""), f, os.stat(os.path.join(root, f)).st_mtime_ns)
            for root, _, fs in os.walk(os.path.join(path, d))
            for f in fs
        }

    before = fingerprint("gen-0")
    fn(b0, 0)  # the replay (same batch id, same content)
    assert fingerprint("gen-0") == before, "committed generation rewritten"
    gens = [g for g in os.listdir(path) if g.startswith("gen-0")]
    assert len(gens) == 2 and any("-rp" in g for g in gens), gens
    # replay re-commits (LWW re-merge is content-idempotent): version 2,
    # table unchanged
    assert upsert_table._read_manifest_doc(path)["version"] == 2
    live = {
        (r.id, r.val)
        for r in upsert_table.read_upsert_table(spark, path).collect()
    }
    assert live == {(i, f"v{i}") for i in range(20)}
