"""Query catalog: the driver-facing surface.

``QUERIES`` maps query name -> callable(spark, sf_dir) -> DataFrame (the
Spark pipeline, end-to-end from the parquet tables through ODS synthesis).
``ORACLES`` maps the same names to DuckDB SQL over the pre-registered views
(region nation customer supplier part orders lineitem events documents
embeddings) computing the identical result. Names without an oracle entry
are non-SQL-expressible ops (driver records a rows-only check).

Column names are aligned on both sides (the driver sorts columns by name
before value-hashing).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .. import oracle
from ..plans import dwd_simple, dwd_trade
from ..session import get_or_build, reset_session_tables, session_table
from ..sources import cdc, dic

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

# Pytest-only recall fixtures: EXACT brute-force baselines whose plans are
# unbounded cross products by construction (|Q| x |V|). They are NOT part
# of the registered surface — the registry ships zero cartesians
# (tests/test_plans.py::test_registry_no_cartesian, empty whitelist) —
# but stay oracle-checked in pytest (tests/test_training_ops.py) because
# they are the recall oracles the registered ANN twins
# (simsearch_ivf_topk / simsearch_ivfpq_topk / simsearch_hard_negatives_ivf)
# are gated against.
FIXTURE_QUERIES: dict[str, QueryFn] = {}
FIXTURE_ORACLES: dict[str, str] = {}


def register(name: str, fn: QueryFn, oracle_sql: str | None = None) -> None:
    QUERIES[name] = fn
    if oracle_sql is not None:
        ORACLES[name] = oracle_sql


def register_fixture(name: str, fn: QueryFn, oracle_sql: str | None = None) -> None:
    FIXTURE_QUERIES[name] = fn
    if oracle_sql is not None:
        FIXTURE_ORACLES[name] = oracle_sql


def _cdc(spark: SparkSession, sf_dir: str, only: list[str]) -> DataFrame:
    return cdc.topic_db_parsed(spark, sf_dir, only=only)


# DWD facts are materialized once per session, like the reference's DWD
# layer: every DWS job there consumes the dwd_* KAFKA TOPIC produced by one
# DWD job (e.g. dwd_trade_order_detail_0105, RT/app/dws/DwsTradeUserSpuOrderWindow.java:69-71)
# — it never recomputes the upstream join. Re-deriving the wide order row
# per query would be both slower and architecturally unfaithful.
_MATERIALIZED: dict[tuple, DataFrame] = session_table(DataFrame.unpersist)


def _memo_df(spark: SparkSession, name: str, sf_dir: str, build) -> DataFrame:
    return get_or_build(_MATERIALIZED, spark, (name, sf_dir), lambda: build().persist())


def reset_session_caches() -> None:
    """Release and forget every session-scoped resource (see
    :func:`..session.reset_session_tables`), the scratch directories
    included.

    The memos model topics/tables that pre-exist a job run, so within one
    driver sweep they are correct to keep; a LONG-LIVED session iterating
    over multiple SF dirs would otherwise accumulate persisted DataFrames
    and scratch output without bound. Call between sweeps
    (tools/check_all.py does, between SF dirs): a frame returned before
    the reset may read a scratch directory the reset deleted."""
    reset_session_tables()


def unpersist_orphans() -> int:
    """Blanket-unpersist every RDD still cached in the active session —
    the foreachBatch MERGE sinks and the iterative operators
    localCheckpoint per micro-batch or round, and the asynchronous
    ContextCleaner can lag (r9: a two-SF sweep showed 7 stragglers right
    after gc). The streaming twins' results are parquet reads of scratch
    directories, not locally-checkpointed RDDs, so this never drops a
    twin's output. ONLY safe at a sweep boundary where the caller holds
    no live DataFrame from a previous sweep: unpersisting a
    locally-checkpointed RDD someone still references drops its blocks
    with no lineage to recompute them. tools/check_all.py calls this
    between SF dirs, right after :func:`reset_session_caches`; mid-
    session callers (the pytest plans fixture) must NOT. Returns the
    number of RDDs dropped."""
    spark = SparkSession.getActiveSession()
    if spark is None:
        return 0
    dropped = 0
    for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        jrdd.unpersist()
        dropped += 1
    return dropped
