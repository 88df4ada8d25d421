"""Referential-integrity audit + Python DataSource connector entries.

Split out of the monolithic api.py in round 12 — REGISTRATION ORDER
is preserved by the import order in registry/__init__.py; the
order-drift and driver-window gates (tests/test_driver_order.py)
verify it.
"""

from __future__ import annotations

from ..session import get_or_build, session_table
from ._core import (  # noqa: F401
    DataFrame,
    SparkSession,
    cdc,
    oracle,
    register,
)
from .m03_joins import profiling_op  # noqa: F401
from .m06_training_text import _tmp_sink_path  # noqa: F401

# --- Referential-integrity audit (operators/profiling.py) --------------------
# One row per star-schema FK edge: child rows, null FKs, LEFT-ANTI
# orphans. The join-property complement of the row-local acceptance
# suite; zero orphans on this corpus is the proven contract.
_FK_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{c}.{fk}->{p}.{pk}' AS edge,
       CAST(count(*) AS BIGINT) AS n_child_rows,
       CAST(sum(CASE WHEN {fk} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null_fk,
       CAST(sum(CASE WHEN {fk} IS NOT NULL
                      AND {fk} NOT IN (SELECT {pk} FROM {p})
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
FROM {c}"""
    for c, fk, p, pk in [
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("customer", "c_nationkey", "nation", "n_nationkey"),
        ("supplier", "s_nationkey", "nation", "n_nationkey"),
        ("nation", "n_regionkey", "region", "r_regionkey"),
    ]
)

register(
    "audit_fk_orphans",
    lambda spark, sf: profiling_op.fk_orphan_audit(spark, sf),
    _FK_ORACLE,
)


# --- Python DataSource connector (sources/pyds.py) ---------------------------
# Spark 4 extension surface: the reference's mock event producer as a
# registered custom DataSource — batch reader (partition-parallel index
# ranges) and offset-managed streaming reader share one deterministic
# integer row derivation, value-hash-gated like every other source.
from ..sources import pyds as pyds_src  # noqa: E402

def _pyds_batch(spark: SparkSession, sf: str) -> DataFrame:
    pyds_src.ensure_registered(spark)
    return spark.read.format(pyds_src.SOURCE_NAME).load()


def _pyds_stream(spark: SparkSession, sf: str) -> DataFrame:
    from ..streaming.core import run_to_memory

    pyds_src.ensure_registered(spark)
    return run_to_memory(
        spark.readStream.format(pyds_src.SOURCE_NAME).load()
    )


register("source_pyds_events", _pyds_batch, pyds_src.oracle_sql_rows())
register("streaming_pyds_events", _pyds_stream, pyds_src.oracle_sql_rows())


def _pyds_sink_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Writer half: mock events through the `jsonl_commit` custom sink
    (task-attempt staging + driver-side atomic publish — the
    FileCommitProtocol shape in miniature) and back via schema'd JSON
    read; the rows must survive the commit protocol byte-exactly."""
    import shutil

    pyds_src.ensure_registered(spark)
    pyds_src.ensure_writer_registered(spark)
    base = _tmp_sink_path("pyds_jsonl_commit", sf)
    shutil.rmtree(base, ignore_errors=True)
    df = spark.read.format(pyds_src.SOURCE_NAME).load()
    df.write.format("jsonl_commit").option("path", base).mode("append").save()
    # pathGlobFilter over the real dir, not a glob path: a glob path
    # trips FileStreamSink's metadata probe into logging a WARN with a
    # full stacktrace (dirty bench/correctness tails); underscore names
    # (_staging/, _commits.jsonl) are hidden from the file index anyway.
    return (
        spark.read.schema(pyds_src.SCHEMA)
        .option("pathGlobFilter", "part-*.jsonl")
        .json(base)
    )


register(
    "sink_pyds_jsonl_commit_roundtrip",
    _pyds_sink_roundtrip,
    pyds_src.oracle_sql_rows(),
)




# (session, sf) -> shared MVCC export demo-table path
_MVCC_DEMO: dict[tuple, str] = session_table()


def _mvcc_demo_table(spark: SparkSession, sf: str) -> str:
    """The order_info changelog MERGEd through the snapshot-isolated
    sink in three deterministic ts%3 batches — built ONCE per (sf,
    session) like the ODS branch caches, shared by both export entries
    (bench attributes the build to the first toucher; any deterministic
    batch split works because keep-latest orders on (ts, batch) and a
    given id's CDC events have distinct ts in this corpus). Returns the
    table path."""
    import os as _os2
    import shutil

    from pyspark.sql import functions as F

    from ..streaming import stateful as _st

    def build() -> str:
        base = _tmp_sink_path("mvcc_demo", sf)
        shutil.rmtree(base, ignore_errors=True)
        tbl = _os2.path.join(base, "tbl")
        _os2.makedirs(tbl)
        # r13 optimization round (guide §1.2, same argument as the
        # streaming replays' ODS-served input): serve the order_info
        # envelope from the session's per-branch ODS parse cache instead
        # of re-deriving the CDC builder per touch — the builders emit
        # only insert/update envelopes and the JSON round-trip is
        # lossless, so the rows are identical (proven by this entry's
        # value-hash gate).
        flat = cdc.topic_db_parsed(spark, sf, only=["order_info"]).select(
            F.col("data").getItem("id").alias("id"),
            F.col("data").getItem("order_status").alias("order_status"),
            F.col("data").getItem("operate_time").alias("operate_time"),
            F.col("ts").cast("long").alias("ts"),
        )
        fn = _st.upsert_sink_snapshot(["id"], "ts", tbl)
        for k in range(3):
            fn(flat.filter(F.col("ts") % 3 == k), k)
        return tbl

    return get_or_build(_MVCC_DEMO, spark, (sf,), build)


def _mvcc_export_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-format MVCC interop (r11): EXPORT the committed snapshot of
    the shared demo table to plain parquet + manifest
    (`export_upsert_snapshot` — the handoff move real lakes do), and
    return the exported files read back with bare spark.read.parquet —
    no manifest resolver anywhere on the read path. Hash-gated against
    the same last-writer-wins oracle as the streaming upsert entries:
    the export must preserve the merged state byte-for-byte."""
    import os as _os2
    import shutil

    from ..streaming import stateful as _st

    tbl = _mvcc_demo_table(spark, sf)
    exp = _os2.path.join(_tmp_sink_path("mvcc_export", sf), "export")
    shutil.rmtree(exp, ignore_errors=True)
    _st.export_upsert_snapshot(spark, tbl, exp)
    return spark.read.parquet(exp)


def _mvcc_zonemap_scan(spark: SparkSession, sf: str) -> DataFrame:
    """Zone-mapped range scan over a SORTED export (r11): the live MVCC
    table is hash-bucketed (every bucket spans every value range — no
    honest skipping there), so clustering happens at export:
    sort_by='ts' range partitions the export into files with DISJOINT
    ts ranges and records per-file [min,max] in the manifest (parquet
    footer stats, no extra scan). The read then touches ONLY the files
    whose zone map overlaps [q1, median) of the ts domain — IO scales
    with the selected range, not the table. Hash-gated: the pruned scan
    must equal the oracle's latest-state + WHERE, value-for-value (a
    file wrongly skipped loses rows; one wrongly kept double-counts)."""
    import os as _os2
    import shutil

    from ..streaming import stateful as _st

    tbl = _mvcc_demo_table(spark, sf)
    exp = _os2.path.join(_tmp_sink_path("mvcc_zonemap", sf), "export")
    shutil.rmtree(exp, ignore_errors=True)
    man = _st.export_upsert_snapshot(spark, tbl, exp, sort_by="ts", n_files=8)
    # bounds from the manifest's own zone maps (bounded driver
    # artifact: <= n_files pairs) — integer arithmetic mirrored in the
    # oracle's min/max subquery
    spans = [r for r in man["zone_maps"]["ts"].values() if r]
    mn = min(r[0] for r in spans)
    mx = max(r[1] for r in spans)
    lo, hi = mn + (mx - mn) // 4, mn + (mx - mn) // 2
    return _st.read_export_pruned(spark, exp, "ts", lo, hi)


register(
    "sink_mvcc_export_zonemap_scan",
    _mvcc_zonemap_scan,
    oracle.sql(
        """, latest AS (
               SELECT id, order_status, operate_time, ts FROM (
                   SELECT id, order_status, operate_time,
                          CAST(ts AS BIGINT) AS ts,
                          row_number() OVER (
                              PARTITION BY id
                              ORDER BY CAST(ts AS BIGINT) DESC) AS rn
                   FROM order_info_cdc) WHERE rn = 1),
             b AS (SELECT min(ts) AS mn, max(ts) AS mx FROM latest)
        SELECT l.id, l.order_status, l.operate_time, l.ts
        FROM latest l, b
        WHERE l.ts BETWEEN b.mn + (b.mx - b.mn) // 4
                       AND b.mn + (b.mx - b.mn) // 2""",
        "order_info_cdc",
    ),
)


# Same last-writer-wins oracle as streaming_order_info_upsert (that
# entry registers later, in _register_streaming, so the SQL is stated
# here rather than shared by lookup).
register(
    "sink_mvcc_export_parquet",
    _mvcc_export_roundtrip,
    oracle.sql(
        """SELECT id, order_status, operate_time, ts FROM (
               SELECT id, order_status, operate_time,
                      CAST(ts AS BIGINT) AS ts,
                      row_number() OVER (
                          PARTITION BY id
                          ORDER BY CAST(ts AS BIGINT) DESC) AS rn
               FROM order_info_cdc) WHERE rn = 1""",
        "order_info_cdc",
    ),
)


