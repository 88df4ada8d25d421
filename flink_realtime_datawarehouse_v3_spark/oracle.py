"""DuckDB oracle mirror of the ODS synthesizers.

Every CTE here replicates, in ANSI/DuckDB SQL over the driver's parquet
views (region nation customer supplier part orders lineitem events documents
embeddings), the exact rows produced by
:mod:`flink_realtime_datawarehouse_v3_spark.sources.cdc` and
:mod:`...sources.logs` — but flattened (the ``data``/``old`` maps become
columns, since every pipeline only reads specific keys). Pipeline oracles
compose these CTEs; the driver executes them side-by-side with the Spark
pipelines and compares row counts, schemas and value hashes.

Parity rules (see sources/cdc.py docstring): money = DECIMAL(18,2) casts of
2-decimal doubles or integer-valued decimals; timestamps formatted
'%Y-%m-%d %H:%M:%S' (Spark session pinned to UTC); CDC ts = epoch seconds.
"""

from __future__ import annotations

from .sources.dic import base_dic_values_sql

_FMT = "%Y-%m-%d %H:%M:%S"


def _f(expr: str) -> str:
    return f"strftime({expr}, '{_FMT}')"


def _dec2(expr: str) -> str:
    return f"CAST(CAST({expr} AS DECIMAL(18,2)) AS VARCHAR)"


def _epoch_s(expr: str) -> str:
    return f"CAST(CAST(epoch({expr}) AS BIGINT) AS VARCHAR)"


DETAIL_ID = (
    "CAST(l_orderkey AS VARCHAR) || '_' || CAST(l_linenumber AS VARCHAR)"
    " || '_' || CAST(l_partkey AS VARCHAR) || '_' || CAST(l_suppkey AS VARCHAR)"
)

_FINAL_STATUS = """
    CASE WHEN o_orderstatus = 'F' THEN
        CASE o_orderkey % 10 WHEN 0 THEN '1003' WHEN 1 THEN '1005'
             WHEN 2 THEN '1006' ELSE '1004' END
    WHEN o_orderstatus = 'P' THEN '1002' ELSE '1001' END
"""

_ORDER_INFO_COMMON = f"""
    CAST(o_orderkey AS VARCHAR) AS id,
    'c_' || CAST(o_custkey AS VARCHAR) AS consignee,
    '137' || CAST(o_orderkey % 100000000 AS VARCHAR) AS consignee_tel,
    {_dec2('o_totalprice')} AS total_amount,
    CAST(o_custkey AS VARCHAR) AS user_id,
    '3501' AS payment_way,
    'addr_' || CAST(c_nationkey AS VARCHAR) AS delivery_address,
    CAST(NULL AS VARCHAR) AS order_comment,
    'trade_no_' || CAST(o_orderkey AS VARCHAR) AS out_trade_no,
    'body_' || CAST(o_orderkey AS VARCHAR) AS trade_body,
    {_f('o_orderdate')} AS create_time,
    {_f("o_orderdate + INTERVAL 15 MINUTE")} AS expire_time,
    CAST(NULL AS VARCHAR) AS process_status,
    CAST(NULL AS VARCHAR) AS tracking_no,
    CAST(NULL AS VARCHAR) AS parent_order_id,
    CAST(c_nationkey AS VARCHAR) AS province_id,
    {_dec2('o_orderkey % 50')} AS activity_reduce_amount,
    {_dec2('o_orderkey % 20')} AS coupon_reduce_amount,
    CAST(CAST(o_totalprice AS DECIMAL(18,2)) + CAST(o_orderkey % 50 AS DECIMAL(18,2))
         + CAST(o_orderkey % 20 AS DECIMAL(18,2)) AS VARCHAR) AS original_total_amount,
    {_dec2('o_orderkey % 15')} AS feight_fee,
    CAST(NULL AS VARCHAR) AS feight_fee_reduce,
    {_f("o_orderdate + INTERVAL 7 DAY")} AS refundable_time
"""

# Flat CDC relations. Column set = the keys each pipeline reads, plus
# type/ts and flattened old_* columns used in predicates.
CTES: dict[str, str] = {}

CTES["order_info_cdc"] = f"""
order_info_cdc AS (
    SELECT 'insert' AS type, {_ORDER_INFO_COMMON},
           '1001' AS order_status, CAST(NULL AS VARCHAR) AS operate_time,
           CAST(NULL AS VARCHAR) AS old_order_status,
           {_epoch_s('o_orderdate')} AS ts
    FROM orders JOIN customer ON o_custkey = c_custkey
    UNION ALL
    SELECT 'update' AS type, {_ORDER_INFO_COMMON},
           {_FINAL_STATUS} AS order_status,
           {_f("o_orderdate + INTERVAL 1 HOUR")} AS operate_time,
           '1001' AS old_order_status,
           CAST(CAST(epoch(o_orderdate) AS BIGINT) + 3600 AS VARCHAR) AS ts
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE ({_FINAL_STATUS}) <> '1001'
)
"""

_SRC_TYPE = "'240' || CAST(l_partkey % 4 + 1 AS VARCHAR)"
_SPLIT_ACT = f"CASE WHEN l_discount > 0.05 THEN {_dec2('l_suppkey % 20')} END"
_SPLIT_CPN = f"CASE WHEN l_tax > 0.04 THEN {_dec2('l_suppkey % 10')} END"
_SPLIT_TOTAL = """CAST(CAST(l_extendedprice AS DECIMAL(18,2))
    - COALESCE(CASE WHEN l_discount > 0.05 THEN CAST(l_suppkey % 20 AS DECIMAL(18,2)) END, 0)
    - COALESCE(CASE WHEN l_tax > 0.04 THEN CAST(l_suppkey % 10 AS DECIMAL(18,2)) END, 0)
    AS VARCHAR)"""

CTES["order_detail_cdc"] = f"""
order_detail_cdc AS (
    SELECT 'insert' AS type,
           {DETAIL_ID} AS id,
           CAST(l_orderkey AS VARCHAR) AS order_id,
           CAST(l_partkey AS VARCHAR) AS sku_id,
           'sku_' || CAST(l_partkey AS VARCHAR) AS sku_name,
           {_dec2('l_extendedprice')} AS order_price,
           CAST(CAST(l_quantity AS INT) AS VARCHAR) AS sku_num,
           {_f('l_shipdate')} AS create_time,
           {_SRC_TYPE} AS source_type,
           CAST(l_suppkey AS VARCHAR) AS source_id,
           {_SPLIT_TOTAL} AS split_total_amount,
           {_SPLIT_ACT} AS split_activity_amount,
           {_SPLIT_CPN} AS split_coupon_amount,
           {_epoch_s('l_shipdate')} AS ts
    FROM lineitem
)
"""

CTES["order_detail_activity_cdc"] = f"""
order_detail_activity_cdc AS (
    SELECT 'insert' AS type,
           'act_' || {DETAIL_ID} AS id,
           CAST(l_orderkey AS VARCHAR) AS order_id,
           {DETAIL_ID} AS order_detail_id,
           CAST(l_partkey % 5 + 1 AS VARCHAR) AS activity_id,
           CAST(l_partkey % 3 + 1 AS VARCHAR) AS activity_rule_id,
           CAST(l_partkey AS VARCHAR) AS sku_id,
           {_f('l_shipdate')} AS create_time,
           {_epoch_s('l_shipdate')} AS ts
    FROM lineitem WHERE l_discount > 0.05
)
"""

CTES["order_detail_coupon_cdc"] = f"""
order_detail_coupon_cdc AS (
    SELECT 'insert' AS type,
           'cpn_' || {DETAIL_ID} AS id,
           CAST(l_orderkey AS VARCHAR) AS order_id,
           {DETAIL_ID} AS order_detail_id,
           CAST(l_partkey % 7 + 1 AS VARCHAR) AS coupon_id,
           'cu_' || {DETAIL_ID} AS coupon_use_id,
           CAST(l_partkey AS VARCHAR) AS sku_id,
           {_f('l_shipdate')} AS create_time,
           {_epoch_s('l_shipdate')} AS ts
    FROM lineitem WHERE l_tax > 0.04
)
"""

_CART_COMMON = f"""
    'cart_' || {DETAIL_ID} AS id,
    CAST(o_custkey AS VARCHAR) AS user_id,
    CAST(l_partkey AS VARCHAR) AS sku_id,
    {_dec2('l_extendedprice')} AS cart_price,
    'sku_' || CAST(l_partkey AS VARCHAR) AS sku_name,
    {_f('l_shipdate')} AS create_time,
    '0' AS is_ordered,
    CAST(NULL AS VARCHAR) AS order_time,
    {_SRC_TYPE} AS source_type,
    CAST(l_suppkey AS VARCHAR) AS source_id
"""

CTES["cart_info_cdc"] = f"""
cart_info_cdc AS (
    SELECT 'insert' AS type, {_CART_COMMON},
           CAST(CAST(l_quantity AS INT) AS VARCHAR) AS sku_num,
           CAST(NULL AS VARCHAR) AS is_checked,
           CAST(NULL AS VARCHAR) AS operate_time,
           CAST(NULL AS VARCHAR) AS old_sku_num,
           {_epoch_s('l_shipdate')} AS ts
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_linenumber = 1
    UNION ALL
    SELECT 'update' AS type, {_CART_COMMON},
           CAST(CAST(l_quantity AS INT) + 2 AS VARCHAR) AS sku_num,
           CAST(NULL AS VARCHAR) AS is_checked,
           {_f("l_shipdate + INTERVAL 30 MINUTE")} AS operate_time,
           CAST(CAST(l_quantity AS INT) AS VARCHAR) AS old_sku_num,
           CAST(CAST(epoch(l_shipdate) AS BIGINT) + 1800 AS VARCHAR) AS ts
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_linenumber = 1 AND l_orderkey % 5 = 0
    UNION ALL
    SELECT 'update' AS type, {_CART_COMMON},
           CAST(CAST(l_quantity AS INT) AS VARCHAR) AS sku_num,
           '1' AS is_checked,
           {_f("l_shipdate + INTERVAL 30 MINUTE")} AS operate_time,
           CAST(NULL AS VARCHAR) AS old_sku_num,
           CAST(CAST(epoch(l_shipdate) AS BIGINT) + 1800 AS VARCHAR) AS ts
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_linenumber = 1 AND l_orderkey % 5 = 1
)
"""

CTES["payment_info_cdc"] = f"""
payment_info_cdc AS (
    SELECT 'update' AS type,
           CAST(o_custkey AS VARCHAR) AS user_id,
           CAST(o_orderkey AS VARCHAR) AS order_id,
           '110' || CAST(o_orderkey % 3 + 1 AS VARCHAR) AS payment_type,
           {_dec2('o_totalprice')} AS total_amount,
           {_f("o_orderdate + INTERVAL 30 MINUTE")} AS callback_time,
           {_f("o_orderdate + INTERVAL 15 MINUTE")} AS create_time,
           '1602' AS payment_status,
           '1601' AS old_payment_status,
           CAST(CAST(epoch(o_orderdate) AS BIGINT) + 1800 AS VARCHAR) AS ts
    FROM orders WHERE o_orderstatus IN ('F', 'P')
)
"""

CTES["order_refund_info_cdc"] = f"""
order_refund_info_cdc AS (
    SELECT 'insert' AS type,
           'ref_' || {DETAIL_ID} AS id,
           CAST(o_custkey AS VARCHAR) AS user_id,
           CAST(l_orderkey AS VARCHAR) AS order_id,
           CAST(l_partkey AS VARCHAR) AS sku_id,
           '150' || CAST(l_linenumber % 2 + 1 AS VARCHAR) AS refund_type,
           CAST(CAST(l_quantity AS INT) AS VARCHAR) AS refund_num,
           {_dec2('l_extendedprice')} AS refund_amount,
           '130' || CAST(l_partkey % 3 + 1 AS VARCHAR) AS refund_reason_type,
           'txt_' || CAST(l_partkey % 3 AS VARCHAR) AS refund_reason_txt,
           {_f('l_shipdate')} AS create_time,
           {_epoch_s('l_shipdate')} AS ts
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_returnflag = 'R'
)
"""

CTES["refund_payment_cdc"] = f"""
refund_payment_cdc AS (
    SELECT 'update' AS type,
           'rp_' || {DETAIL_ID} AS id,
           CAST(l_orderkey AS VARCHAR) AS order_id,
           CAST(l_partkey AS VARCHAR) AS sku_id,
           '110' || CAST(l_orderkey % 3 + 1 AS VARCHAR) AS payment_type,
           {_f("l_shipdate + INTERVAL 1 DAY")} AS callback_time,
           {_dec2('l_extendedprice')} AS total_amount,
           '1602' AS refund_status,
           CAST(CAST(epoch(l_shipdate) AS BIGINT) + 86400 AS VARCHAR) AS ts
    FROM lineitem WHERE l_returnflag = 'R'
)
"""

CTES["user_info_cdc"] = f"""
user_info_cdc AS (
    SELECT 'insert' AS type,
           CAST(c_custkey AS VARCHAR) AS id,
           c_name AS name,
           '13' || lpad(CAST(c_custkey % 1000000000 AS VARCHAR), 9, '0') AS phone_num,
           {_f("TIMESTAMP '2024-01-01 00:00:00' + (c_custkey % 30) * INTERVAL 1 DAY + (c_custkey % 86400) * INTERVAL 1 SECOND")} AS create_time,
           {_epoch_s("TIMESTAMP '2024-01-01 00:00:00' + (c_custkey % 30) * INTERVAL 1 DAY + (c_custkey % 86400) * INTERVAL 1 SECOND")} AS ts
    FROM customer
)
"""

CTES["comment_info_cdc"] = f"""
comment_info_cdc AS (
    SELECT 'insert' AS type,
           'cm_' || {DETAIL_ID} AS id,
           CAST(o_custkey AS VARCHAR) AS user_id,
           CAST(l_partkey AS VARCHAR) AS sku_id,
           CAST(l_orderkey AS VARCHAR) AS order_id,
           {_f('l_shipdate')} AS create_time,
           '120' || CAST(l_partkey % 4 + 1 AS VARCHAR) AS appraise,
           {_epoch_s('l_shipdate')} AS ts
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_linenumber = 2
)
"""

_FAVOR_COMMON = f"""
    'fav_' || {DETAIL_ID} AS id,
    CAST(o_custkey AS VARCHAR) AS user_id,
    CAST(l_partkey AS VARCHAR) AS sku_id,
    {_f('l_shipdate')} AS create_time
"""

CTES["favor_info_cdc"] = f"""
favor_info_cdc AS (
    SELECT 'insert' AS type, {_FAVOR_COMMON}, '0' AS is_cancel,
           {_epoch_s('l_shipdate')} AS ts
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey WHERE l_linenumber = 3
    UNION ALL
    SELECT 'update' AS type, {_FAVOR_COMMON}, '0' AS is_cancel,
           CAST(CAST(epoch(l_shipdate) AS BIGINT) + 60 AS VARCHAR) AS ts
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_linenumber = 3 AND l_partkey % 3 = 0
    UNION ALL
    SELECT 'update' AS type, {_FAVOR_COMMON}, '1' AS is_cancel,
           CAST(CAST(epoch(l_shipdate) AS BIGINT) + 60 AS VARCHAR) AS ts
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_linenumber = 3 AND l_partkey % 3 = 1
)
"""

_COUPON_COMMON = """
    'use_' || CAST(o_orderkey AS VARCHAR) AS id,
    CAST(o_orderkey % 7 + 1 AS VARCHAR) AS coupon_id,
    CAST(o_custkey AS VARCHAR) AS user_id,
    CAST(o_orderkey AS VARCHAR) AS order_id
"""

CTES["coupon_use_cdc"] = f"""
coupon_use_cdc AS (
    SELECT 'insert' AS type, {_COUPON_COMMON},
           '1401' AS coupon_status, {_f('o_orderdate')} AS get_time,
           CAST(NULL AS VARCHAR) AS using_time, CAST(NULL AS VARCHAR) AS used_time,
           CAST(NULL AS VARCHAR) AS old_coupon_status,
           {_epoch_s('o_orderdate')} AS ts
    FROM orders WHERE o_orderkey % 4 = 0
    UNION ALL
    SELECT 'update' AS type, {_COUPON_COMMON},
           '1402' AS coupon_status, {_f('o_orderdate')} AS get_time,
           {_f("o_orderdate + INTERVAL 10 MINUTE")} AS using_time,
           CAST(NULL AS VARCHAR) AS used_time,
           '1401' AS old_coupon_status,
           CAST(CAST(epoch(o_orderdate) AS BIGINT) + 600 AS VARCHAR) AS ts
    FROM orders WHERE o_orderkey % 8 = 0
    UNION ALL
    SELECT 'update' AS type, {_COUPON_COMMON},
           '1402' AS coupon_status, {_f('o_orderdate')} AS get_time,
           {_f("o_orderdate + INTERVAL 10 MINUTE")} AS using_time,
           {_f("o_orderdate + INTERVAL 20 MINUTE")} AS used_time,
           CAST(NULL AS VARCHAR) AS old_coupon_status,
           CAST(CAST(epoch(o_orderdate) AS BIGINT) + 1200 AS VARCHAR) AS ts
    FROM orders WHERE o_orderkey % 16 = 0
)
"""

CTES["base_dic"] = f"base_dic AS (SELECT * FROM {base_dic_values_sql()})"

# DWD order pre-process wide row (reference:
# RT/app/dwd/DwdTradeOrderPreProcess.java:141-198): detail join order_info
# (insert+update changelog) left-join activity/coupon, join base_dic.
# Requires CTEs: order_detail_cdc, order_info_cdc, order_detail_activity_cdc,
# order_detail_coupon_cdc, base_dic (list them before this one).
# Band-join -> equi-join expansion: a mixed equality + abs(ts diff) <= 5
# LEFT JOIN condition drops DuckDB to BLOCKWISE_NL_JOIN (~14 s at sf0.01
# vs ~0.1 s hash). Because ts is integral epoch seconds, each activity /
# coupon row is expanded to its 11 admissible od timestamps
# (ts - 5 .. ts + 5) and the join becomes PURE equality on
# (order_detail_id, ts) — hash-joinable, and EXACTLY the bounded-join
# semantics: an in-bound pair matches via exactly one offset, an
# out-of-bound pair via none, unmatched od rows null-extend.
CTES["dwd_order_pre"] = """
dwd_order_pre AS (
    SELECT od.id, od.order_id, od.sku_id, od.sku_name, od.order_price,
           od.sku_num, od.create_time,
           od.source_type AS source_type_id, dic.dic_name AS source_type_name,
           od.source_id, od.split_total_amount, od.split_activity_amount,
           od.split_coupon_amount,
           oi.consignee, oi.consignee_tel, oi.total_amount, oi.order_status,
           oi.user_id, oi.payment_way, oi.delivery_address, oi.order_comment,
           oi.out_trade_no, oi.trade_body, oi.operate_time, oi.expire_time,
           oi.process_status, oi.tracking_no, oi.parent_order_id,
           oi.province_id, oi.activity_reduce_amount, oi.coupon_reduce_amount,
           oi.original_total_amount, oi.feight_fee, oi.feight_fee_reduce,
           oi.refundable_time,
           oa.id AS order_detail_activity_id, oa.activity_id,
           oa.activity_rule_id,
           oc.id AS order_detail_coupon_id, oc.coupon_id, oc.coupon_use_id,
           oi.type, oi.old_order_status
    FROM (SELECT * FROM order_detail_cdc WHERE type = 'insert') od
    JOIN order_info_cdc oi ON od.order_id = oi.id
    LEFT JOIN (SELECT x.*, CAST(x.ts AS BIGINT) + g.k AS ts_probe
               FROM order_detail_activity_cdc x
               CROSS JOIN LATERAL (SELECT UNNEST(generate_series(-5, 5)) AS k) g) oa
      ON od.id = oa.order_detail_id AND CAST(od.ts AS BIGINT) = oa.ts_probe
    LEFT JOIN (SELECT x.*, CAST(x.ts AS BIGINT) + g.k AS ts_probe
               FROM order_detail_coupon_cdc x
               CROSS JOIN LATERAL (SELECT UNNEST(generate_series(-5, 5)) AS k) g) oc
      ON od.id = oc.order_detail_id AND CAST(od.ts AS BIGINT) = oc.ts_probe
    JOIN base_dic dic ON od.source_type = dic.dic_code
)
"""

PRE_CTES = (
    "order_detail_cdc",
    "order_info_cdc",
    "order_detail_activity_cdc",
    "order_detail_coupon_cdc",
    "base_dic",
    "dwd_order_pre",
)

# Columns of the DWD order-detail fact (pre-process rows with type='insert';
# reference: RT/app/dwd/DwdTradeOrderDetail.java:80-146).
ORDER_DETAIL_COLS = (
    "id, order_id, user_id, sku_id, sku_name, sku_num, order_price, "
    "province_id, activity_id, activity_rule_id, coupon_id, create_time, "
    "source_id, source_type_id, source_type_name, split_activity_amount, "
    "split_coupon_amount, split_total_amount"
)

CTES["dwd_order_detail"] = f"""
dwd_order_detail AS (
    SELECT {ORDER_DETAIL_COLS} FROM dwd_order_pre WHERE type = 'insert'
)
"""

DETAIL_CTES = PRE_CTES + ("dwd_order_detail",)


# --- app-log (topic_log) mirror ---------------------------------------------
# Mirrors sources/logs.py exactly; see its docstring for the mapping.

def _word(idx_expr: str) -> str:
    return (
        f"CASE ({idx_expr}) % 8 WHEN 0 THEN 'spark' WHEN 1 THEN 'flink' "
        "WHEN 2 THEN 'kafka' WHEN 3 THEN 'hudi' WHEN 4 THEN 'iceberg' "
        "WHEN 5 THEN 'delta' WHEN 6 THEN 'doris' ELSE 'paimon' END"
    )


CTES["log_full"] = f"""
log_full AS (
    SELECT event_id, epoch_ms(ts) AS ts_ms, user_id, event_type, value, k,
           'mid_' || CAST(user_id AS VARCHAR) AS mid,
           CAST(user_id AS VARCHAR) AS uid,
           CAST(user_id % 10 AS VARCHAR) AS ar,
           CASE k % 5 WHEN 0 THEN 'Appstore' WHEN 1 THEN 'xiaomi'
                WHEN 2 THEN 'wandoujia' WHEN 3 THEN 'oppo' ELSE 'vivo' END AS ch,
           'v2.1.' || CAST(k % 3 AS VARCHAR) AS vc,
           CASE WHEN k % 3 = 0 THEN '1' ELSE '0' END AS is_new_raw,
           'model_' || CAST(user_id % 7 AS VARCHAR) AS md,
           CASE WHEN user_id % 4 = 0 THEN 'iOS' ELSE 'Android' END AS os,
           CASE WHEN event_type = 'view' THEN
                    CASE k % 3 WHEN 0 THEN 'home' WHEN 1 THEN 'good_detail'
                         ELSE 'search' END
                WHEN event_type = 'click' THEN 'good_detail'
                WHEN event_type = 'purchase' THEN 'trade'
                WHEN event_type = 'error' THEN 'home' END AS page_id,
           CAST(round(value * 1000, 0) AS BIGINT) AS during_time,
           strftime(ts, '%Y-%m-%d') AS dt
    FROM (SELECT *, CAST(regexp_extract(props, '[0-9]+') AS INT) AS k
          FROM events)
)
"""

CTES["log_item"] = f"""
log_item AS (
    SELECT *,
           CASE WHEN page_id = 'search'
                    THEN {_word('k')} || ' ' || {_word('k + user_id')}
                WHEN page_id = 'good_detail' THEN CAST(k % 2000 AS VARCHAR)
           END AS item,
           CASE WHEN page_id = 'search' THEN 'keyword'
                WHEN page_id = 'good_detail' THEN 'sku_id' END AS item_type
    FROM log_full
)
"""

CTES["log_pages"] = """
log_pages AS (
    SELECT * EXCLUDE (prev_page, prev_ts),
           CASE WHEN prev_ts IS NOT NULL AND ts_ms - prev_ts <= 1800000
                THEN prev_page END AS last_page_id
    FROM (SELECT *, lag(page_id) OVER w AS prev_page,
                 lag(ts_ms) OVER w AS prev_ts
          FROM log_item WHERE event_type <> 'signup'
          WINDOW w AS (PARTITION BY mid ORDER BY ts_ms, event_id))
)
"""

CTES["log_repair"] = """
log_repair AS (
    SELECT event_id,
           CASE WHEN is_new_raw = '1' AND first_claim = '1' AND dt = first_dt
                THEN '1' ELSE '0' END AS is_new
    FROM (SELECT event_id, is_new_raw, dt,
                 first_value(is_new_raw) OVER w AS first_claim,
                 first_value(dt) OVER w AS first_dt
          FROM log_full
          WINDOW w AS (PARTITION BY mid ORDER BY ts_ms, event_id))
)
"""

CTES["dwd_page_log"] = """
dwd_page_log AS (
    SELECT p.ar, p.ch, r.is_new, p.md, p.mid, p.os, p.uid, p.vc,
           p.event_id, p.ts_ms AS ts, p.page_id, p.last_page_id,
           p.item, p.item_type, p.during_time, p.dt
    FROM log_pages p JOIN log_repair r USING (event_id)
)
"""

LOG_CTES = ("log_full", "log_item", "log_pages", "log_repair", "dwd_page_log")

PAGE_COLS = (
    "ar, ch, is_new, md, mid, os, uid, vc, event_id, ts, page_id, "
    "last_page_id, item, item_type, during_time"
)


# --- DWS window helpers ------------------------------------------------------
# Tumbling 10 s windows, epoch-aligned (== Spark window() == Flink TUMBLE).

def ws_from_string(ts_str_expr: str) -> str:
    return f"(CAST(epoch(CAST({ts_str_expr} AS TIMESTAMP)) AS BIGINT) // 10) * 10"


def stt_edt_sql(ws_col: str = "ws") -> str:
    return (
        f"strftime(make_timestamp({ws_col} * 1000000), '{_FMT}') AS stt, "
        f"strftime(make_timestamp(({ws_col} + 10) * 1000000), '{_FMT}') AS edt"
    )


# --- DWD fact CTEs reused by the DWS layer -----------------------------------

CTES["dwd_cart_add"] = """
dwd_cart_add AS (
    SELECT ci.id, ci.user_id, ci.sku_id, ci.cart_price,
           CASE WHEN ci.type = 'insert' THEN ci.sku_num
                ELSE CAST(CAST(ci.sku_num AS INT) - CAST(ci.old_sku_num AS INT) AS VARCHAR)
           END AS sku_num,
           ci.sku_name, ci.is_checked, ci.create_time, ci.operate_time,
           ci.is_ordered, ci.order_time,
           ci.source_type AS source_type_id,
           dic.dic_name AS source_type_name,
           ci.source_id
    FROM cart_info_cdc ci
    JOIN base_dic dic ON ci.source_type = dic.dic_code
    WHERE ci.type = 'insert'
       OR (ci.type = 'update' AND ci.old_sku_num IS NOT NULL
           AND CAST(ci.sku_num AS INT) > CAST(ci.old_sku_num AS INT))
)
"""
CART_CTES = ("cart_info_cdc", "base_dic", "dwd_cart_add")

CTES["dwd_pay_detail_suc"] = """
dwd_pay_detail_suc AS (
    SELECT od.id AS order_detail_id, od.order_id, od.user_id,
           od.sku_id, od.sku_name, od.province_id, od.activity_id,
           od.activity_rule_id, od.coupon_id,
           pi.payment_type AS payment_type_code,
           dic.dic_name AS payment_type_name,
           pi.callback_time, od.source_id, od.source_type_id,
           od.source_type_name, od.sku_num, od.order_price,
           od.split_activity_amount, od.split_coupon_amount,
           od.split_total_amount AS split_payment_amount
    FROM payment_info_cdc pi
    JOIN dwd_order_detail od ON pi.order_id = od.order_id
    JOIN base_dic dic ON pi.payment_type = dic.dic_code
    WHERE pi.type = 'update' AND pi.payment_status = '1602'
)
"""
PAY_CTES = DETAIL_CTES + ("payment_info_cdc", "dwd_pay_detail_suc")

CTES["dwd_order_refund"] = """
dwd_order_refund AS (
    SELECT ri.id, ri.user_id, ri.order_id, ri.sku_id, oi.province_id,
           strftime(CAST(ri.create_time AS TIMESTAMP), '%Y-%m-%d') AS date_id,
           ri.create_time,
           ri.refund_type AS refund_type_code,
           tdic.dic_name AS refund_type_name,
           ri.refund_reason_type AS refund_reason_type_code,
           rdic.dic_name AS refund_reason_type_name,
           ri.refund_reason_txt, ri.refund_num, ri.refund_amount, ri.ts
    FROM order_refund_info_cdc ri
    JOIN (SELECT * FROM order_info_cdc
          WHERE type = 'update' AND order_status = '1005'
            AND old_order_status IS NOT NULL) oi
      ON ri.order_id = oi.id
    JOIN base_dic tdic ON ri.refund_type = tdic.dic_code
    JOIN base_dic rdic ON ri.refund_reason_type = rdic.dic_code
    WHERE ri.type = 'insert'
)
"""
REFUND_CTES = (
    "order_refund_info_cdc",
    "order_info_cdc",
    "base_dic",
    "dwd_order_refund",
)

# --- dimension mirror (sources/dims.py) --------------------------------------

CTES["dim_sku"] = """
dim_sku AS (
    SELECT CAST(p_partkey AS VARCHAR) AS sku_id,
           'spu_' || CAST(p_partkey % 500 AS VARCHAR) AS spu_id,
           'spu_name_' || CAST(p_partkey % 500 AS VARCHAR) AS spu_name,
           p_brand AS tm_id,
           'tm_' || p_brand AS tm_name,
           p_type || '_' || CAST(p_size % 5 AS VARCHAR) AS category3_id,
           p_type || '_' || CAST(p_size % 5 AS VARCHAR) AS category3_name,
           p_type AS category2_id,
           p_type AS category2_name,
           CASE WHEN p_type IN ('ECONOMY', 'PROMO', 'SMALL') THEN 'VALUE'
                ELSE 'PREMIUM' END AS category1_id,
           CASE WHEN p_type IN ('ECONOMY', 'PROMO', 'SMALL') THEN 'VALUE'
                ELSE 'PREMIUM' END AS category1_name
    FROM part
)
"""

CTES["dim_province"] = """
dim_province AS (
    SELECT CAST(n_nationkey AS VARCHAR) AS id, n_name AS name FROM nation
)
"""

CTES["dwd_uv"] = """
dwd_uv AS (
    SELECT * FROM (SELECT *, row_number() OVER
                       (PARTITION BY mid, dt ORDER BY ts, event_id) AS rn
                   FROM dwd_page_log WHERE last_page_id IS NULL)
    WHERE rn = 1
)
"""

CTES["dwd_jump"] = """
dwd_jump AS (
    SELECT * FROM (SELECT *, lead(ts) OVER w AS next_ts,
                          lead(last_page_id) OVER w AS next_last_page
                   FROM dwd_page_log
                   WINDOW w AS (PARTITION BY mid ORDER BY ts, event_id))
    WHERE last_page_id IS NULL
      AND (next_ts IS NULL OR next_ts - ts > 10000 OR next_last_page IS NULL)
)
"""


def sql(body: str, *cte_names: str) -> str:
    """Compose ``WITH <ctes> <body>`` from named fragments."""
    if not cte_names:
        return body
    parts = ",\n".join(CTES[n].strip().rstrip() for n in cte_names)
    return f"WITH {parts}\n{body}"
