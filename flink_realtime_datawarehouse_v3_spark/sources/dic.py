"""``base_dic`` dictionary dimension.

Reference: RT/utils/MysqlUtil.java:10-35 — a MySQL JDBC lookup table
``base_dic(dic_code PK, dic_name, parent_code, create_time, operate_time)``
with a 10-row/1 h lookup cache, joined ``FOR SYSTEM_TIME AS OF`` everywhere
(RT/app/dwd/DwdTradeCartAdd.java:88-89 etc.).

In the Spark rebuild it is a tiny inline DataFrame built with
``spark.createDataFrame(list)``. In classic PySpark that is a pickled Python
RDD (``Scan ExistingRDD``) with no size statistics, so Catalyst does NOT
broadcast it in a static plan: every ``base_dic`` join plans as a
SortMergeJoin with a shuffle. Batch queries can get a broadcast only when AQE
re-plans at runtime; streaming micro-batches never do, and each one re-runs
Python workers to unpickle the rows. A relation Catalyst can size (e.g. a
SQL ``VALUES`` list) would plan the intended broadcast hash join; that fix
is ROADMAP direction 3, still to be measured op by op.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# (dic_code, dic_name, parent_code) — value domains used by the DWD pipelines:
# source_type 24xx, payment_type 11xx, appraise 12xx, refund_reason 13xx,
# coupon_status 14xx, refund_type 15xx, payment/refund status 16xx.
ROWS: list[tuple[str, str, str]] = [
    ("1101", "alipay", "11"),
    ("1102", "wechat", "11"),
    ("1103", "unionpay", "11"),
    ("1201", "good", "12"),
    ("1202", "medium", "12"),
    ("1203", "bad", "12"),
    ("1204", "auto", "12"),
    ("1301", "quality issue", "13"),
    ("1302", "description mismatch", "13"),
    ("1303", "other reason", "13"),
    ("1401", "coupon unused", "14"),
    ("1402", "coupon used", "14"),
    ("1501", "money only", "15"),
    ("1502", "goods and money", "15"),
    ("1601", "pending payment", "16"),
    ("1602", "payment success", "16"),
    ("2401", "user query", "24"),
    ("2402", "promotion recommend", "24"),
    ("2403", "smart recommend", "24"),
    ("2404", "activity recommend", "24"),
]


def base_dic(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        ROWS, schema="dic_code string, dic_name string, parent_code string"
    )


def base_dic_values_sql() -> str:
    """DuckDB ``(VALUES ...)`` relation mirroring :func:`base_dic`."""
    rows = ", ".join(f"('{c}', '{n}', '{p}')" for c, n, p in ROWS)
    return f"(VALUES {rows}) AS base_dic(dic_code, dic_name, parent_code)"
