"""Bucketed (pre-shuffled) fact tables for co-located joins.

The order-wide join (order_detail x order_info, SURVEY.md J1) is
fact-fact: at 100 TB neither side broadcasts, so every query pays a full
shuffle of both facts on ``order_id``. The warehouse answer is to pay
that shuffle ONCE at write time: store both facts bucketed by the join
key with the same bucket count, and every subsequent join (and any
aggregation keyed on the bucket column) reads co-located buckets with NO
Exchange in the plan — the Spark equivalent of the co-partitioned Kafka
topics the reference relies on (its ``keyBy`` parallelism == topic
partition count, RT/app/dim/DimApp.java:34).

Local stand-in: datasource tables with ``bucketBy(n, key).sortBy(key)``
under a session scratch directory; at cluster scale the identical API writes to the
metastore. ``tests/test_plans.py`` pins the no-Exchange plan shape.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import get_or_build, scratch_dir, session_table
from . import tables

N_BUCKETS = 8


def _drop(ready: tuple[str, str, str]) -> None:
    """Release hook: drop both tables. Their directory is a scratch
    directory, deleted with the session's scratch root."""
    *names, _ = ready
    spark = SparkSession.getActiveSession()
    if spark is not None:
        for name in names:
            spark.sql(f"DROP TABLE IF EXISTS {name}")


# (session, sf_dir) -> (detail table, info table, their directory)
_READY: dict[tuple, tuple[str, str, str]] = session_table(_drop)


def _tag(sf_dir: str) -> str:
    return os.path.basename(sf_dir.rstrip("/")).replace(".", "_")


def order_fact_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Create (once per session+sf) the bucketed order facts; return the
    two table names: (detail side, info side), both bucketed N_BUCKETS by
    ``order_key``."""
    return get_or_build(_READY, spark, (sf_dir,), lambda: _write_tables(spark, sf_dir))[:2]


def _write_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str, str]:
    tag = _tag(sf_dir)
    od_name, oi_name = f"bkt_order_detail_{tag}", f"bkt_order_info_{tag}"
    base = scratch_dir(spark, f"bucketed_{tag}")

    od = tables.load(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("order_key"),
        F.col("l_partkey").alias("sku_key"),
        F.col("l_extendedprice").cast("decimal(18,2)").alias("price"),
    )
    oi = (
        tables.load(spark, sf_dir, "orders")
        .join(
            F.broadcast(
                tables.load(spark, sf_dir, "customer").select(
                    "c_custkey", "c_nationkey"
                )
            ),
            F.col("o_custkey") == F.col("c_custkey"),
            "left",
        )
        .select(
            F.col("o_orderkey").alias("order_key"),
            F.col("c_nationkey").alias("province_key"),
        )
    )
    for name, df in ((od_name, od), (oi_name, oi)):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            df.write.mode("overwrite")
            .bucketBy(N_BUCKETS, "order_key")
            .sortBy("order_key")
            .option("path", os.path.join(base, name))
            .saveAsTable(name)
        )
    return od_name, oi_name, base


def province_revenue_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per province through the bucketed co-located join: the only
    Exchange in the plan is the final small aggregation on province_key."""
    od_name, oi_name = order_fact_tables(spark, sf_dir)
    od, oi = spark.table(od_name), spark.table(oi_name)
    return (
        od.join(oi, "order_key")
        .groupBy("province_key")
        .agg(
            F.count("*").alias("line_ct"),
            # double for the driver-facing contract (see plans/dws.py header)
            F.sum("price").cast("double").alias("revenue"),
        )
    )
