"""Custom connector surface: a Python DataSource (Spark 4 extension
API) for the reference's mock event producer.

The reference feeds its ODS layer from a mock log generator pumping
into Kafka (`RT/` mock producer + MyKafkaUtil); this repo replays
deterministic parquet instead (TESTDATA contract). This module closes
the remaining CONNECTOR gap with the modern Spark extension point: a
`pyspark.sql.datasource.DataSource` exposing the same deterministic
event arithmetic as BOTH a batch reader (partition-parallel generation;
`partitions()` -> N independent splits, no driver materialization) and
a streaming reader with REAL offset management (`initialOffset` /
`latestOffset` / `partitions(start, end)` / `commit` — the Kafka-shaped
contract, so micro-batch planning, restart, and availableNow
bounded-drain all work against it).

Determinism contract: every row derives from its index by pure integer
arithmetic (no RNG, no clock) and is rendered identically by the DuckDB
oracle over `generate_series` — the custom source is value-hash-gated
like every other source in the repo.

Scale posture: generation is embarrassingly parallel (each partition
materializes only its own index range, rows are yielded lazily), and
the streaming side's state is the offset dict alone. A production
adaptation swaps the arithmetic for a poll of the real system; the
offset/partition plumbing is the part this module proves.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

SOURCE_NAME = "mock_events"
DEFAULT_ROWS = 5000
DEFAULT_PARTS = 8
TS_BASE_MS = 1_640_995_200_000  # 2022-01-01T00:00:00Z
TS_STEP_MS = 250
EVENT_TYPES = ["view", "click", "cart", "favor", "order"]

SCHEMA = (
    "event_id bigint, ts_ms bigint, user_id bigint, "
    "event_type string, value_cents bigint"
)


def _row(i: int) -> tuple:
    """Pure-integer row derivation — mirrored verbatim in the oracle."""
    return (
        i,
        TS_BASE_MS + i * TS_STEP_MS,
        (i * 2654435761) % 997,
        EVENT_TYPES[i % len(EVENT_TYPES)],
        (i * 37) % 10_000,
    )


def oracle_sql_rows(n_rows: int = DEFAULT_ROWS) -> str:
    """DuckDB twin of :func:`_row` over generate_series."""
    types = ", ".join(f"'{t}'" for t in EVENT_TYPES)
    return f"""SELECT CAST(i AS BIGINT) AS event_id,
       CAST({TS_BASE_MS} + i * {TS_STEP_MS} AS BIGINT) AS ts_ms,
       CAST((i * 2654435761) % 997 AS BIGINT) AS user_id,
       ([{types}])[CAST(i % {len(EVENT_TYPES)} AS INT) + 1] AS event_type,
       CAST((i * 37) % 10000 AS BIGINT) AS value_cents
FROM generate_series(0, {n_rows - 1}) t(i)"""


class _RangePartition(InputPartition):
    def __init__(self, start: int, end: int):
        self.start, self.end = start, end


class _MockBatchReader(DataSourceReader):
    def __init__(self, options):
        self.n_rows = int(options.get("n_rows", DEFAULT_ROWS))
        self.n_parts = int(options.get("n_parts", DEFAULT_PARTS))

    def partitions(self) -> Sequence[InputPartition]:
        step = -(-self.n_rows // self.n_parts)
        return [
            _RangePartition(s, min(s + step, self.n_rows))
            for s in range(0, self.n_rows, step)
        ]

    def read(self, partition: _RangePartition) -> Iterator[tuple]:
        for i in range(partition.start, partition.end):
            yield _row(i)


class _MockStreamReader(DataSourceStreamReader):
    """Offset-managed streaming form. ``latestOffset`` reports the true
    log end (all ``n_rows`` of the bounded mock feed are available the
    moment the query starts — the Kafka-broker analogy), so one
    availableNow run drains everything NEW since the checkpointed
    offset in a single micro-batch. Per-poll admission capping (Kafka's
    ``maxOffsetsPerTrigger`` / ReadLimit) is NOT exposed by the Python
    DataSource API — ``latestOffset()`` takes no start/limit arguments
    and a freshly restarted reader is never told the committed offset
    before its first poll, so a reader-side cap cannot be made
    restart-safe (it would either re-admit from zero or deadlock at its
    own first poll). Multi-batch progress therefore happens ACROSS
    runs: each run's batch covers [committed, n_rows), proven by
    ``test_pyds_stream_offset_recovery`` (drain, extend the feed,
    resume from the committed index — no re-read, no gap) and the
    per-run commit accounting in
    ``test_pyds_stream_writer_commits_per_batch``."""

    def __init__(self, options):
        self.n_rows = int(options.get("n_rows", DEFAULT_ROWS))
        self.n_parts = int(options.get("n_parts", DEFAULT_PARTS))

    def initialOffset(self) -> dict:
        return {"index": 0}

    def latestOffset(self) -> dict:
        return {"index": self.n_rows}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        lo, hi = start["index"], end["index"]
        if hi <= lo:
            return [_RangePartition(lo, lo)]
        step = max(1, -(-(hi - lo) // self.n_parts))
        return [
            _RangePartition(s, min(s + step, hi)) for s in range(lo, hi, step)
        ]

    def read(self, partition: _RangePartition) -> Iterator[tuple]:
        for i in range(partition.start, partition.end):
            yield _row(i)

    def commit(self, end: dict) -> None:
        pass


class MockEventsDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return SOURCE_NAME

    def schema(self) -> str:
        return SCHEMA

    def reader(self, schema) -> DataSourceReader:
        return _MockBatchReader(self.options)

    def streamReader(self, schema) -> DataSourceStreamReader:
        return _MockStreamReader(self.options)


from ..session import get_or_build, session_table  # noqa: E402

# (session, "reader"|"writer") -> None: the data sources registered so far
_REGISTERED: dict = session_table()


def ensure_registered(spark) -> None:
    get_or_build(
        _REGISTERED, spark, ("reader",), lambda: spark.dataSource.register(MockEventsDataSource)
    )


# --- Writer half of the connector surface -----------------------------------
# Task-attempt staging + driver-side atomic publish: each task writes its
# rows to a uniquely-named staging file and returns the name as its commit
# message; only the DRIVER's commit() publishes staged files into the
# table directory (rename), so a speculative/retried task attempt that
# never reaches commit() leaves only an unreferenced temp file — the
# exactly-once-per-task contract every serious sink implements
# (FileCommitProtocol / Iceberg's manifest commit, in miniature).

import json as _json
import os as _os
import uuid as _uuid

from pyspark.sql.datasource import (  # noqa: E402
    DataSourceStreamWriter,
    DataSourceWriter,
    WriterCommitMessage,
)


class _StagedFile(WriterCommitMessage):
    def __init__(self, name: str, n_rows: int):
        self.name, self.n_rows = name, n_rows


def _stage_rows(path: str, rows) -> _StagedFile:
    _os.makedirs(_os.path.join(path, "_staging"), exist_ok=True)
    name = f"part-{_uuid.uuid4().hex}.jsonl"
    n = 0
    with open(_os.path.join(path, "_staging", name), "w") as f:
        for row in rows:
            f.write(_json.dumps(row.asDict()) + "\n")
            n += 1
    return _StagedFile(name, n)


def _publish(path: str, messages, batch_id=None) -> None:
    """Driver-side commit: rename every staged file into the table dir
    (atomic per file; one manifest line records the commit). Files from
    attempts that never reached commit stay in _staging — vacuumable,
    never visible."""
    published = []
    for m in messages:
        if m is None:
            continue
        src = _os.path.join(path, "_staging", m.name)
        dst = _os.path.join(path, m.name)
        _os.replace(src, dst)
        published.append({"file": m.name, "rows": m.n_rows})
    with open(_os.path.join(path, "_commits.jsonl"), "a") as f:
        f.write(_json.dumps({"batch": batch_id, "files": published}) + "\n")


class _JsonlWriter(DataSourceWriter):
    def __init__(self, options):
        self.path = options["path"]

    def write(self, iterator) -> _StagedFile:
        return _stage_rows(self.path, iterator)

    def commit(self, messages) -> None:
        _publish(self.path, messages)

    def abort(self, messages) -> None:
        pass  # staged files are invisible; vacuum reclaims them


class _JsonlStreamWriter(DataSourceStreamWriter):
    def __init__(self, options):
        self.path = options["path"]

    def write(self, iterator) -> _StagedFile:
        return _stage_rows(self.path, iterator)

    def commit(self, messages, batchId=None) -> None:
        _publish(self.path, messages, batchId)

    def abort(self, messages, batchId=None) -> None:
        pass


class JsonlCommitDataSource(DataSource):
    """`jsonl_commit` — a sink with the staged-publish commit protocol,
    usable as df.write.format("jsonl_commit").option("path", ...) and as
    a streaming sink with per-batch commits."""

    @classmethod
    def name(cls) -> str:
        return "jsonl_commit"

    def writer(self, schema, overwrite: bool) -> DataSourceWriter:
        return _JsonlWriter(self.options)

    def streamWriter(self, schema, overwrite: bool) -> DataSourceStreamWriter:
        return _JsonlStreamWriter(self.options)


def ensure_writer_registered(spark) -> None:
    get_or_build(
        _REGISTERED, spark, ("writer",), lambda: spark.dataSource.register(JsonlCommitDataSource)
    )
