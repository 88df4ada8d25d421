"""SparkSession factory with engine-pinned defaults.

The reference pins ``table.local-time-zone`` to GMT+8 (reference:
RT/app/dwd/DwdUserRegister.java:29, RT/utils/DateFormatUtil.java:32). We pin
UTC instead so timestamp values hash-match the DuckDB oracle (DuckDB
timestamps are UTC-naive); the GMT+8 rendering of the reference is a display
concern only and is documented as a deliberate divergence.

Scale posture: these defaults are written for a real cluster (AQE on,
skew-join handling on, broadcast threshold tuned); on local[N] they are
simply inherited by the single JVM.

Session-scoped resources live here too. The reference's jobs read topics
that already exist when a job starts (e.g. dwd_trade_order_detail_0105,
RT/app/dws/DwsTradeUserSpuOrderWindow.java:69-71); we model those topics,
and other per-session artifacts, as entries of tables declared with
:func:`session_table` and filled through :func:`get_or_build`.
:func:`reset_session_tables` releases and forgets all of them at once.
"""

from __future__ import annotations

import gc
import os
from collections.abc import Callable
from typing import Any

from pyspark.sql import SparkSession

_TABLES: list[tuple[dict, Callable[[Any], None] | None]] = []


def ctx_key(spark: SparkSession) -> tuple:
    """Context-unique session-cache key component. ``id(sparkContext)``
    (the pre-r14 key) can be RECYCLED by the allocator after a context is
    stopped and collected, letting a new context read a persisted
    DataFrame bound to the dead one (r13 advisory); (applicationId,
    startTime) cannot recur."""
    sc = spark.sparkContext
    return (sc.applicationId, sc.startTime)


def session_table(release: Callable[[Any], None] | None = None) -> dict:
    """Declare a session-scoped table: a plain dict whose values
    :func:`reset_session_tables` passes to ``release`` before clearing."""
    table: dict = {}
    _TABLES.append((table, release))
    return table


def get_or_build(table: dict, spark: SparkSession, key: tuple, build: Callable[[], Any]):
    """``table[(*ctx_key(spark), *key)]``, calling ``build()`` to fill it
    on first use in this session."""
    full = (*ctx_key(spark), *key)
    if full not in table:
        table[full] = build()
    return table[full]


def reset_session_tables() -> None:
    """Release and forget every session-table entry, then collect: the
    iterative operators localCheckpoint per round, and those RDDs stay
    persisted until Python drops the references and the ContextCleaner
    runs."""
    for table, release in _TABLES:
        if release is not None:
            for value in table.values():
                release(value)
        table.clear()
    gc.collect()


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(app_name: str = "flink_realtime_datawarehouse_v3_spark") -> SparkSession:
    """Build (or reuse) the engine session.

    Settings that matter at 100 TB:
    - AQE + coalescePartitions + skewJoin: runtime re-planning; skewed CDC
      keys (hot ``table`` values, hot users) get split automatically.
    - autoBroadcastJoinThreshold 64m: every dim table in this warehouse
      (base_dic, sku/spu/trademark/category, province) is far below this, so
      star joins become broadcast hash joins instead of shuffles.
    - shuffle.partitions: sized to cores locally; on a cluster AQE coalesces
      from an intentionally high initial number.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.master(
            os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
        )
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # events.parquet carries TIMESTAMP(NANOS) which Spark cannot read
        # natively; read as long (ns) and convert in the loader.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # local[32]: the "driver" heap IS the executors' heap — all 32
        # worker threads, the block manager (cached ODS branches,
        # localCheckpoints), AND streaming state share it. 8g survived
        # either bench lane alone at sf0.1 but OOMed running batch THEN
        # streaming in one session (r11 freeze,
        # BENCH_LOCAL_r11_failed.json); 24g on this 128 GiB box is the
        # honest local-mode envelope. On a real cluster this maps to
        # executor memory — the per-executor working set, not a
        # driver-side accumulation (driver artifacts stay bounded:
        # centroids, codebooks, manifests).
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.spill.compress", "true")
    )
    spark = builder.getOrCreate()
    # ANSI mode follows the correctness driver's session (Spark 4
    # default: ON).  Rounds 4 and 5 each shipped a failure visible ONLY
    # to the driver because the local harness pinned ansi=false (r5: a
    # BIGINT sum-of-hashes overflow that wraps silently non-ANSI but
    # throws ANSI-on).  All production paths are written ANSI-clean
    # (missing map keys via try_element_at-safe shapes, bounded
    # element_at indexes, overflow-safe decimal sums); set
    # SPARK_GRAFT_ANSI=false only to reproduce legacy behavior. A runtime
    # SQL conf, set on every call so a reused session (pytest, check_all
    # multi-SF sweeps) honors the env flag.
    spark.conf.set("spark.sql.ansi.enabled", os.environ.get("SPARK_GRAFT_ANSI", "true"))
    # Streaming keyed state lives in RocksDB, not the default in-memory
    # HDFSBackedStateStore: at 100 TB the live D1/D4/D5 state (one entry
    # per mid/order key) exceeds executor heap, and RocksDB spills to
    # local disk with bounded memory — the reference's bounded-state
    # intent (state TTL, RT/app/dwd/DwdTrafficUniqueVisitorDetail.java:83-87)
    # under Spark's production provider. Read at query start, so every
    # stateful replay in this repo runs on RocksDB (asserted by
    # tests/test_streaming.py::test_rocksdb_state_store_active).
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    # RocksDB numRows tracking does a point-lookup per put/delete purely to
    # keep the numRowsTotal METRIC exact; the stream-stream join stores put
    # every input row, so the lookup is pure write-path overhead (Spark
    # tuning guide documents false as the write-heavy setting). r13
    # optimization round, interleaved A/B on the 3-join order_pre_process
    # replay at sf0.1: +25.0/+20.7/-14.9 s per pair under ambient host
    # noise — net positive, and the sporadic 90 s+ slow modes disappeared.
    # Tests that assert numRowsTotal pin this back to true for their own
    # query (conf is read at query start).
    spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows", "false"
    )
    # Stream-stream join state format v3 (r14 optimization round): ONE
    # RocksDB store with virtual column families per join partition
    # instead of FOUR instances (keyToNumValues/keyWithIndexToValue x 2
    # sides) — 4x fewer per-batch store commits and maintenance units.
    # RocksDB-only by Spark's own contract, which the provider above is.
    # Interleaved A/B with per-batch metrics on the 3-join
    # streaming_order_pre_process replay at sf0.1 (3 pairs, one session):
    # summed commitTimeMs 80.4-114.7 s -> 42.2-49.3 s (halved), wall
    # 70.0/59.8/44.9 -> 47.2/49.0/39.5 s (v3 won every pair). State
    # format is an on-disk layout choice read at query start; results
    # are byte-identical (full 38-entry streaming hash sweep re-run).
    spark.conf.set("spark.sql.streaming.join.stateFormatVersion", "3")
    spark.sparkContext.setLogLevel("WARN")
    return spark
