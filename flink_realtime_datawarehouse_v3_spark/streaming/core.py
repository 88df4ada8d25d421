"""Streaming harness: finite-input replay + availableNow runners.

The reference's jobs consume unbounded Kafka topics; the driver's data is
finite parquet. The replay harness makes a faithful finite stream out of
any batch DataFrame, and this module owns its directory format (the part
files, the flush-wave files and ``_replay_meta.json``) on both sides:

- :func:`_write_replay` writes a batch DataFrame as ``n_files``
  time-ordered micro-batch groups of parquet files, then one file per
  trailing wave, and records the trigger chunking in ``_replay_meta.json``;
  :func:`stamp_file_order` pins the file order;
- :func:`read_stream` re-reads the directory one group per trigger, so
  each group becomes its own micro-batch: state, watermarks and timers
  advance across real micro-batch boundaries exactly as they would on
  Kafka.

One flush protocol serves every event-time twin: two sentinel waves at
the fixed times :data:`FLUSH_TIMES_S`, past every fixture's event time,
advance the watermark so closing windows and timers flush before
``availableNow`` terminates (Flink's job-end Long.MAX watermark does the
same on bounded input). Twins drop the sentinels' own output by its
window time (anything at or after :data:`FLUSH_EPOCH_S`) or by their
sentinel key.

:func:`flush_waves` builds those two waves for any replay frame: one
row each, in the frame's schema, at the flush times.

Runners execute a streaming DataFrame to a memory sink or through
``foreachBatch`` and block until completion. The memory sink's temp view
is dropped as soon as its result is resolved, so no sink outlives the
DataFrame that reads it. :func:`replay` is the one memory-sink runner the
twins call: it writes the replay into a temp directory, reads it back as
a stream, runs the twin's query over it through :func:`run_to_memory` and
returns the sink's rows. A twin whose output lives in a ``foreachBatch``
sink directory manages that directory itself, since the sink has to
outlive the query until it is read back.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import tempfile
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

N_FILES = 4  # real-data micro-batches per replay
REPLAY_META = "_replay_meta.json"

# 2100-01-01 00:00:00 UTC, past the largest event time of every fixture.
# The two flush waves sit 1 h and 2 h after it: the watermark computed
# from wave k takes effect in batch k+1, so wave 1's batch closes every
# real window/timer and wave 2's batch emits them.
FLUSH_EPOCH_S = 4_102_444_800
FLUSH_TIMES_S = (FLUSH_EPOCH_S + 3600, FLUSH_EPOCH_S + 7200)


def flush_waves(like: DataFrame, time_col: str, at=F.lit, **fixed) -> list[DataFrame]:
    """The two flush waves for a replay of ``like``: one single-row frame
    per :data:`FLUSH_TIMES_S`, in ``like``'s schema. ``time_col`` holds
    ``at(t)`` for flush time ``t`` (epoch seconds), each ``fixed`` column
    its given literal, and every other column null."""

    def value(name: str, t: int):
        if name == time_col:
            return at(t)
        return F.lit(fixed[name]) if name in fixed else F.lit(None)

    spark = like.sparkSession
    return [
        spark.range(1).select(
            *[value(f.name, t).cast(f.dataType).alias(f.name) for f in like.schema.fields]
        )
        for t in FLUSH_TIMES_S
    ]


def stamp_file_order(path: str, extra_files: list[str] | None = None) -> None:
    """Give the directory's part files strictly increasing mtimes in name
    order (then ``extra_files``, e.g. sentinel batches, after them). The
    file-stream source picks files up in (mtime, path) order and a
    parallel write finishes tasks in RANDOM order, so without the
    re-stamp a replay can feed batches last-range-first."""
    files = sorted(glob.glob(os.path.join(path, "part-*.parquet")))
    files.extend(extra_files or [])
    base = 1_600_000_000  # fixed epoch: deterministic across runs
    for i, f in enumerate(files):
        os.utime(f, (base + i * 10, base + i * 10))


def _pad_empty_like(src_file: str, dest: str) -> None:
    """Write a ZERO-ROW parquet file with ``src_file``'s schema (a pyarrow
    footer-only write, no Spark job)."""
    import pyarrow.parquet as pq

    pq.write_table(pq.ParquetFile(src_file).read().slice(0, 0), dest)


def _write_replay(
    df: DataFrame,
    path: str,
    order_by: list[str] | None,
    sentinels: list[DataFrame] | None = None,
    n_files: int = N_FILES,
) -> None:
    """Write ``df`` to ``path`` as a replay directory: ``n_files``
    time-range micro-batch groups, then one micro-batch per frame in
    ``sentinels`` (the flush waves, or any trailing file such as late
    data or a second era), in list order.

    Each group holds ``files_per_trigger`` (``fpb``) range-contiguous
    part files, so the write job runs ``n_files * fpb`` tasks instead of
    ``n_files``; ``fpb`` goes into ``_replay_meta.json`` for
    :func:`read_stream`, which reads one group per trigger. Batch
    boundaries in event time and the batch count are the same as with
    one file per batch, which is what ``fpb == 1`` gives when
    ``SPARK_GRAFT_CPUS`` <= ``n_files``. Each trailing frame is one file
    padded with ``fpb - 1`` zero-row files to a full trigger chunk, so
    the chunked reader never merges two waves into one batch.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    fpb = max(1, min(8, par // n_files))
    total = n_files * fpb
    if order_by:
        df = df.repartitionByRange(total, *[F.col(c) for c in order_by])
    else:
        df = df.repartition(total)
    df.write.mode("overwrite").parquet(path)
    sent_files = []
    for i, sdf in enumerate(sentinels or []):
        tmp = f"{path}__sent{i}"
        # repartition(1), NOT coalesce(1): a coalesced single task over a
        # parallelized local relation inherits its parent's preferred
        # locations and waits through the scheduler's locality ladder,
        # measured 5.8 s per 1-row sentinel vs 0.7 s through the
        # 1-partition shuffle.
        sdf.repartition(1).write.mode("overwrite").parquet(tmp)
        (src,) = glob.glob(os.path.join(tmp, "part-*.parquet"))
        dest = os.path.join(path, f"zzz-sentinel-{i}.parquet")
        os.replace(src, dest)
        sent_files.append(dest)
        for j in range(fpb - 1):
            pad = os.path.join(path, f"zzz-sentinel-{i}-pad{j}.parquet")
            _pad_empty_like(dest, pad)
            sent_files.append(pad)
    stamp_file_order(path, sent_files)
    with open(os.path.join(path, REPLAY_META), "w") as f:
        json.dump({"files_per_trigger": fpb}, f)


def read_stream(
    spark: SparkSession, path: str, schema=None, files_per_trigger: int | None = None
) -> DataFrame:
    """Re-read a replay directory as a file stream, one micro-batch per
    ``files_per_trigger`` files.

    ``files_per_trigger=None`` (default) takes the chunking
    :func:`_write_replay` recorded in ``_replay_meta.json``, falling back
    to one file per batch for a directory without it."""
    if files_per_trigger is None:
        meta = os.path.join(path, REPLAY_META)
        files_per_trigger = 1
        if os.path.exists(meta):
            with open(meta) as f:
                files_per_trigger = int(json.load(f)["files_per_trigger"])
    if schema is None:
        schema = spark.read.parquet(path).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(path)
    )


class _StreamShufflePartitions:
    """Temporarily lower ``spark.sql.shuffle.partitions`` while a streaming
    query is planned/started.

    The number of state-store instances per stateful operator equals the
    shuffle-partition count frozen at query start; at test scale 32
    partitions x N join operators is pure per-micro-batch overhead (each
    instance snapshots to the checkpoint dir every batch).  8 keeps the
    multi-partition code path honest while making multi-operator replays
    run in seconds.  Batch queries planned after restore are unaffected.
    """

    def __init__(self, spark: SparkSession, n: int = 8):
        self.spark = spark
        self.n = n
        self.saved: str | None = None

    def __enter__(self):
        self.saved = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set("spark.sql.shuffle.partitions", str(self.n))
        return self

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self.saved)


def _await_or_raise(q, timeout_s: int) -> None:
    """Block until the availableNow query finishes; raise on timeout.

    Silently stopping an unfinished availableNow query truncates the
    output mid-stream (the final watermark-flush batches never run, losing
    exactly the rows nearest the stream's end), so a timeout must be loud.
    """
    try:
        finished = q.awaitTermination(timeout_s)
        if not finished:
            raise TimeoutError(
                f"streaming query did not finish within {timeout_s}s; "
                "output would be truncated mid-stream"
            )
    finally:
        q.stop()


def run_to_memory(
    sdf: DataFrame, output_mode: str = "append", timeout_s: int = 600
) -> DataFrame:
    """Run a streaming DataFrame to completion (availableNow) into a memory
    sink; return the sink contents as a batch DataFrame.

    The sink's temp view is dropped once resolved: the returned frame
    keeps the sink's plan and reads the same rows, and the sink's memory
    goes with that frame instead of living for the whole session."""
    name = f"mem_{uuid.uuid4().hex[:12]}"
    with _StreamShufflePartitions(sdf.sparkSession):
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
    _await_or_raise(q, timeout_s)
    result = sdf.sparkSession.table(name)
    sdf.sparkSession.catalog.dropTempView(name)
    return result


def run_foreach_batch(
    sdf: DataFrame, fn: Callable[[DataFrame, int], None], timeout_s: int = 600
) -> None:
    """Run a streaming DataFrame through ``foreachBatch(fn)`` to completion."""
    with _StreamShufflePartitions(sdf.sparkSession):
        q = (
            sdf.writeStream.foreachBatch(fn)
            .trigger(availableNow=True)
            .start()
        )
    _await_or_raise(q, timeout_s)


def replay(
    df: DataFrame,
    order_by: list[str] | None,
    query: Callable[[DataFrame], DataFrame],
    output_mode: str = "append",
    sentinels: list[DataFrame] | None = None,
    n_files: int = N_FILES,
) -> DataFrame:
    """Replay ``df`` as a file stream (:func:`_write_replay` with
    ``order_by``, ``sentinels`` and ``n_files``), run ``query`` over the
    stream to the memory sink in ``output_mode``, and return the sink's
    rows. The replay directory is deleted once the query has finished;
    the returned frame reads the sink, not the directory."""
    # The three steps are looked up as module globals at call time, so a
    # tracer that rebinds them (perfbench's layer spans) sees every replay.
    with TempStreamDir() as d:
        path = d.sub("in")
        _write_replay(df, path, order_by, sentinels=sentinels, n_files=n_files)
        stream = read_stream(df.sparkSession, path)
        return run_to_memory(query(stream), output_mode=output_mode)


class TempStreamDir:
    """Context manager for a throwaway checkpoint/input directory."""

    def __init__(self, prefix: str = "spark_stream_"):
        self.path = tempfile.mkdtemp(prefix=prefix)

    def sub(self, name: str) -> str:
        return os.path.join(self.path, name)

    def __enter__(self) -> "TempStreamDir":
        return self

    def __exit__(self, *exc) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
