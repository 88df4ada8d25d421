"""Streaming harness: finite-input replay + availableNow runners.

The reference's jobs consume unbounded Kafka topics; the driver's data is
finite parquet. The replay harness makes a faithful finite stream out of
any batch DataFrame:

- ``pipelines._write_replay`` materializes a batch DataFrame as ``n_files``
  time-ordered micro-batch groups of parquet files, with
  :func:`stamp_file_order` pinning the file order;
- :func:`read_stream` re-reads them one group per trigger, so each group
  becomes its own micro-batch — state, watermarks and timers advance
  across real micro-batch boundaries exactly as they would on Kafka;
- ``sentinel`` rows far past the last event time can be appended as the
  final batches, advancing the watermark so that closing windows / timers
  flush before ``availableNow`` terminates (Flink's job-end watermark+Long.MAX
  flush does the same on bounded input).

Runners execute a streaming DataFrame to a memory sink or through
``foreachBatch`` and block until completion. The memory sink's temp view
is dropped as soon as its result is resolved, so no sink outlives the
DataFrame that reads it.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def stamp_file_order(path: str, extra_files: list[str] | None = None) -> None:
    """Give the directory's part files strictly increasing mtimes in name
    order (then ``extra_files``, e.g. sentinel batches, after them). The
    file-stream source picks files up in (mtime, path) order and a
    parallel write finishes tasks in RANDOM order, so without the
    re-stamp a replay can feed batches last-range-first — the round-9
    batch-order bug."""
    import glob as _glob

    files = sorted(_glob.glob(os.path.join(path, "part-*.parquet")))
    files.extend(extra_files or [])
    base = 1_600_000_000  # fixed epoch: deterministic across runs
    for i, f in enumerate(files):
        os.utime(f, (base + i * 10, base + i * 10))


def read_stream(
    spark: SparkSession, path: str, schema=None, files_per_trigger: int | None = None
) -> DataFrame:
    """Re-read a replay directory as a file stream, one micro-batch per
    ``files_per_trigger`` files.

    ``files_per_trigger=None`` (default) honors the ``_replay_meta.json``
    marker the parallel replay writer leaves beside the part files (the
    writer decides the trigger chunking that reproduces its intended
    micro-batch boundaries — see ``pipelines._write_replay``), falling
    back to the classic one-file-per-batch replay."""
    if files_per_trigger is None:
        meta = os.path.join(path, "_replay_meta.json")
        files_per_trigger = 1
        if os.path.exists(meta):
            import json

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
