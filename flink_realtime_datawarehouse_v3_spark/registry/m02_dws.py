"""DWS registrations: windowed aggregation pipelines.

Split out of the monolithic api.py in round 12 — REGISTRATION ORDER
is preserved by the import order in registry/__init__.py; the
order-drift and driver-window gates (tests/test_driver_order.py)
verify it.
"""

from __future__ import annotations

from ._core import (  # noqa: F401
    DataFrame,
    ORACLES,
    QUERIES,
    SparkSession,
    _cdc,
    dwd_simple,
    dwd_trade,
    oracle,
    register,
)
from .m01_dwd import (  # noqa: F401
    _cart_add,
    _log,
    _pay_detail,
    _pre,
    _refund,
    dwd_traffic,
)

# --- DWS: windowed aggregation pipelines -------------------------------------

from ..plans import dws  # noqa: E402
from ..sources import dims  # noqa: E402


def _page(spark: SparkSession, sf: str) -> DataFrame:
    return dwd_traffic.page_log(_log(spark, sf))


_WS_MS = "(((ts // 1000) // 10) * 10)"


def _stt_edt(ws: str = "ws") -> str:
    return oracle.stt_edt_sql(ws)


register(
    "dws_traffic_source_keyword_page_view_window",
    lambda spark, sf: dws.traffic_source_keyword_page_view_window(_page(spark, sf)),
    oracle.sql(
        f"""SELECT 'search' AS source, {_stt_edt()}, word AS keyword,
                   count(*) AS keyword_count
            FROM (SELECT g.word, {_WS_MS} AS ws
                  FROM dwd_page_log p
                  CROSS JOIN LATERAL (SELECT UNNEST(string_split_regex(p.item, '\\s+')) AS word) g
                  WHERE p.page_id = 'search' AND p.item_type = 'keyword'
                    AND p.item IS NOT NULL AND g.word <> '')
            GROUP BY ws, word""",
        *oracle.LOG_CTES,
    ),
)

# CJK keyword window: segmentation recomputed INDEPENDENTLY on both
# engines — Spark runs the dictionary FMM Pandas UDF, DuckDB a recursive
# longest-dictionary-prefix CTE over the same bundled dict. WITH RECURSIVE
# prefixes the composed CTE chain (DuckDB allows the keyword even though
# only `seg` recurses).
from ..functions import tokenize as tokenize_mod  # noqa: E402

_CJK_DICT_VALUES = ", ".join(f"('{w}')" for w in tokenize_mod.CJK_DICT)
_CJK_PHRASE_CASE = "CASE CAST(p.ts AS BIGINT) % 4 " + " ".join(
    f"WHEN {i} THEN '{p}'" for i, p in enumerate(tokenize_mod.CJK_PHRASES[:3])
) + f" ELSE '{tokenize_mod.CJK_PHRASES[3]}' END"

register(
    "dws_traffic_keyword_cjk_window",
    lambda spark, sf: dws.traffic_keyword_cjk_window(_page(spark, sf)),
    oracle.sql(
        f"""SELECT 'search' AS source, {_stt_edt()}, tok AS keyword,
                   count(*) AS keyword_count
            FROM (SELECT {_CJK_PHRASE_CASE} AS phrase, {_WS_MS} AS ws
                  FROM dwd_page_log p
                  WHERE p.page_id = 'search' AND p.item_type = 'keyword'
                    AND p.item IS NOT NULL) src
            JOIN (
              WITH RECURSIVE cjk_dict(w) AS (
                  SELECT * FROM (VALUES {_CJK_DICT_VALUES}) t(w)
              ),
              seg(phrase, rest, tok) AS (
                  SELECT DISTINCT {_CJK_PHRASE_CASE} AS phrase,
                         {_CJK_PHRASE_CASE},
                         CAST(NULL AS VARCHAR)
                  FROM dwd_page_log p
                  WHERE p.page_id = 'search' AND p.item_type = 'keyword'
                    AND p.item IS NOT NULL
                  UNION
                  SELECT phrase, substr(rest, length(m) + 1), m
                  FROM (SELECT phrase, rest,
                               coalesce((SELECT w FROM cjk_dict
                                         WHERE starts_with(rest, w)
                                         ORDER BY length(w) DESC LIMIT 1),
                                        substr(rest, 1, 1)) AS m
                        FROM seg WHERE rest <> '')
              )
              SELECT phrase, tok FROM seg WHERE tok IS NOT NULL
            ) toks USING (phrase)
            GROUP BY ws, tok""",
        *oracle.LOG_CTES,
    ),
)

# U1 through the engine's SQL surface: the SAME keyword window written as
# one Spark SQL query invoking a registered Python UDTF via LATERAL —
# mirroring the reference's `LATERAL TABLE(SplitFunction(item))` verbatim
# (RT/app/dws/DwsTrafficSourceKeywordPageViewWindow.java:57-75). Arrow
# UDTF; the Catalyst tokenizer remains the hot path, this proves the
# registration + SQL-lateral surface. Shares the keyword-window oracle.
def _keyword_window_udtf_sql(spark: SparkSession, sf: str) -> DataFrame:
    tokenize_mod.register_split_udtf(spark)
    # DataFrame passed as a SQL template arg (PySpark >= 3.4): no
    # createOrReplaceTempView, so the shared session's catalog is never
    # mutated and no global view name can collide across entries.
    return spark.sql(
        """
        SELECT 'search' AS source,
               date_format(window.start, 'yyyy-MM-dd HH:mm:ss') AS stt,
               date_format(window.end, 'yyyy-MM-dd HH:mm:ss') AS edt,
               word AS keyword,
               count(*) AS keyword_count
        FROM (
            SELECT s.word, timestamp_millis(p.ts) AS rt
            FROM {page_log} p, LATERAL split_function(p.item) s
            WHERE p.page_id = 'search' AND p.item_type = 'keyword'
                  AND p.item IS NOT NULL
        )
        GROUP BY window(rt, '10 seconds'), word
        """,
        page_log=_page(spark, sf),
    )


register(
    "dws_keyword_window_udtf_sql",
    _keyword_window_udtf_sql,
    ORACLES["dws_traffic_source_keyword_page_view_window"],
)

register(
    "dws_traffic_vc_ch_ar_is_new_page_view_window",
    lambda spark, sf: dws.traffic_vc_ch_ar_is_new_page_view_window(
        _page(spark, sf),
        dwd_traffic.unique_visitor_detail(_page(spark, sf)),
        dwd_traffic.user_jump_detail(_page(spark, sf)),
    ),
    oracle.sql(
        f"""SELECT {_stt_edt()}, vc, ch, ar, is_new,
                   CAST(sum(uv) AS BIGINT) AS uv_ct,
                   CAST(sum(sv) AS BIGINT) AS sv_ct,
                   CAST(sum(pv) AS BIGINT) AS pv_ct,
                   CAST(sum(dur) AS BIGINT) AS dur_sum,
                   CAST(sum(uj) AS BIGINT) AS uj_ct
            FROM (
              SELECT vc, ch, ar, is_new, {_WS_MS} AS ws,
                     0 AS uv,
                     CASE WHEN last_page_id IS NULL THEN 1 ELSE 0 END AS sv,
                     1 AS pv, during_time AS dur, 0 AS uj
              FROM dwd_page_log
              UNION ALL
              SELECT vc, ch, ar, is_new, {_WS_MS}, 1, 0, 0, 0, 0 FROM dwd_uv
              UNION ALL
              SELECT vc, ch, ar, is_new, {_WS_MS}, 0, 0, 0, 0, 1 FROM dwd_jump
            )
            GROUP BY ws, vc, ch, ar, is_new""",
        *oracle.LOG_CTES,
        "dwd_uv",
        "dwd_jump",
    ),
)

register(
    "dws_traffic_page_view_window",
    lambda spark, sf: dws.traffic_page_view_window(_page(spark, sf)),
    oracle.sql(
        f"""SELECT {_stt_edt()},
                   CAST(sum(CASE WHEN page_id = 'home' THEN 1 ELSE 0 END) AS BIGINT) AS home_uv_ct,
                   CAST(sum(CASE WHEN page_id = 'good_detail' THEN 1 ELSE 0 END) AS BIGINT) AS good_detail_uv_ct
            FROM (SELECT page_id, {_WS_MS} AS ws, row_number() OVER
                      (PARTITION BY mid, page_id, dt ORDER BY ts, event_id) AS rn
                  FROM dwd_page_log WHERE page_id IN ('home', 'good_detail'))
            WHERE rn = 1
            GROUP BY ws""",
        *oracle.LOG_CTES,
    ),
)

register(
    "dws_user_user_login_window",
    lambda spark, sf: dws.user_user_login_window(_page(spark, sf)),
    oracle.sql(
        f"""SELECT {_stt_edt()},
                   CAST(sum(CASE WHEN prev_dt IS NOT NULL AND
                            date_diff('day', CAST(prev_dt AS DATE), CAST(dt AS DATE)) >= 8
                       THEN 1 ELSE 0 END) AS BIGINT) AS back_ct,
                   count(*) AS uu_ct
            FROM (SELECT *, lag(dt) OVER (PARTITION BY uid ORDER BY dt) AS prev_dt
                  FROM (SELECT uid, dt, {_WS_MS} AS ws, row_number() OVER
                            (PARTITION BY uid, dt ORDER BY ts, event_id) AS rn
                        FROM dwd_page_log
                        WHERE uid IS NOT NULL
                          AND (last_page_id IS NULL OR last_page_id = 'login'))
                  WHERE rn = 1)
            GROUP BY ws""",
        *oracle.LOG_CTES,
    ),
)

register(
    "dws_user_user_register_window",
    lambda spark, sf: dws.user_user_register_window(
        dwd_simple.dwd_user_register(_cdc(spark, sf, ["user_info"]))
    ),
    oracle.sql(
        f"""SELECT {_stt_edt()}, count(*) AS register_ct
            FROM (SELECT {oracle.ws_from_string('create_time')} AS ws
                  FROM user_info_cdc WHERE type = 'insert')
            GROUP BY ws""",
        "user_info_cdc",
    ),
)

register(
    "dws_trade_cart_add_uu_window",
    lambda spark, sf: dws.trade_cart_add_uu_window(_cart_add(spark, sf)),
    oracle.sql(
        f"""SELECT {_stt_edt()}, count(*) AS cart_add_uu_ct
            FROM (SELECT user_id, dt, ws, row_number() OVER
                      (PARTITION BY user_id, dt ORDER BY rt, id) AS rn
                  FROM (SELECT id, user_id,
                               CAST(COALESCE(operate_time, create_time) AS TIMESTAMP) AS rt,
                               strftime(CAST(COALESCE(operate_time, create_time) AS TIMESTAMP), '%Y-%m-%d') AS dt,
                               {oracle.ws_from_string('COALESCE(operate_time, create_time)')} AS ws
                        FROM dwd_cart_add))
            WHERE rn = 1
            GROUP BY ws""",
        *oracle.CART_CTES,
    ),
)

register(
    "dws_trade_payment_suc_window",
    lambda spark, sf: dws.trade_payment_suc_window(_pay_detail(spark, sf)),
    oracle.sql(
        f"""SELECT {_stt_edt()},
                   count(*) AS payment_suc_unique_user_count,
                   CAST(sum(CASE WHEN rne = 1 THEN 1 ELSE 0 END) AS BIGINT) AS payment_suc_new_user_count
            FROM (SELECT ws, row_number() OVER
                      (PARTITION BY user_id, dt ORDER BY rt, order_detail_id) AS rnd,
                  row_number() OVER
                      (PARTITION BY user_id ORDER BY rt, order_detail_id) AS rne
                  FROM (SELECT *, CAST(callback_time AS TIMESTAMP) AS rt,
                               strftime(CAST(callback_time AS TIMESTAMP), '%Y-%m-%d') AS dt,
                               {oracle.ws_from_string('callback_time')} AS ws
                        FROM (SELECT *, row_number() OVER
                                  (PARTITION BY order_detail_id
                                   ORDER BY callback_time DESC NULLS LAST,
                                            payment_type_code DESC NULLS LAST) AS rl
                              FROM dwd_pay_detail_suc)
                        WHERE rl = 1))
            WHERE rnd = 1
            GROUP BY ws""",
        *oracle.PAY_CTES,
    ),
)

register(
    "dws_trade_order_window",
    lambda spark, sf: dws.trade_order_window(
        dwd_trade.order_detail(_pre(spark, sf))
    ),
    oracle.sql(
        f"""SELECT {_stt_edt()},
                   CAST(sum(CASE WHEN rnd = 1 THEN 1 ELSE 0 END) AS BIGINT) AS order_unique_user_count,
                   CAST(sum(CASE WHEN rne = 1 THEN 1 ELSE 0 END) AS BIGINT) AS order_new_user_count,
                   CAST(sum(COALESCE(CAST(split_activity_amount AS DECIMAL(18,2)), 0)) AS DOUBLE) AS order_activity_reduce_amount,
                   CAST(sum(COALESCE(CAST(split_coupon_amount AS DECIMAL(18,2)), 0)) AS DOUBLE) AS order_coupon_reduce_amount,
                   CAST(sum(CAST(sku_num AS INT) * CAST(order_price AS DECIMAL(18,2))) AS DOUBLE) AS order_original_total_amount
            FROM (SELECT *, row_number() OVER
                      (PARTITION BY user_id, dt ORDER BY rt, id) AS rnd,
                  row_number() OVER (PARTITION BY user_id ORDER BY rt, id) AS rne
                  FROM (SELECT *, CAST(create_time AS TIMESTAMP) AS rt,
                               strftime(CAST(create_time AS TIMESTAMP), '%Y-%m-%d') AS dt,
                               {oracle.ws_from_string('create_time')} AS ws
                        FROM (SELECT *, row_number() OVER
                                  (PARTITION BY id
                                   ORDER BY create_time NULLS FIRST,
                                            activity_rule_id NULLS FIRST,
                                            coupon_id NULLS FIRST) AS rf
                              FROM dwd_order_detail)
                        WHERE rf = 1))
            GROUP BY ws""",
        *oracle.DETAIL_CTES,
    ),
)

_SPU_KEYS = (
    "user_id, spu_id, spu_name, tm_id, tm_name, category1_id, category1_name, "
    "category2_id, category2_name, category3_id, category3_name"
)

register(
    "dws_trade_user_spu_order_window",
    lambda spark, sf: dws.trade_user_spu_order_window(
        dwd_trade.order_detail(_pre(spark, sf)), dims.dim_sku_full(spark, sf)
    ),
    oracle.sql(
        f"""SELECT {_stt_edt()}, user_id, spu_id, spu_name,
                   tm_id AS trademark_id, tm_name AS trademark_name,
                   category1_id, category1_name, category2_id, category2_name,
                   category3_id, category3_name,
                   count(DISTINCT order_id) AS order_count,
                   CAST(sum(CAST(split_total_amount AS DECIMAL(18,2))) AS DOUBLE) AS order_amount
            FROM (SELECT d.*, {oracle.ws_from_string('d.create_time')} AS ws,
                         s.spu_id, s.spu_name, s.tm_id, s.tm_name,
                         s.category1_id, s.category1_name, s.category2_id,
                         s.category2_name, s.category3_id, s.category3_name
                  FROM (SELECT * FROM (SELECT *, row_number() OVER
                            (PARTITION BY id
                             ORDER BY create_time NULLS FIRST,
                                      activity_rule_id NULLS FIRST,
                                      coupon_id NULLS FIRST) AS rf
                        FROM dwd_order_detail) WHERE rf = 1) d
                  JOIN dim_sku s ON d.sku_id = s.sku_id)
            GROUP BY ws, {_SPU_KEYS}""",
        *oracle.DETAIL_CTES,
        "dim_sku",
    ),
)

# K4: the ClickHouse-sink-layout equivalent as a driver-checked round
# trip — write the window result through the dt-partitioned DWS sink,
# read every partition back, and hash against the SAME oracle as the
# in-memory form (proves the sink is lossless and the layout carries the
# full contract; partition pruning is plan-gated in tests/test_plans.py).
_SINK_MONTH = "1995-03"


def _sink_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..operators import sinks
    from ..session import scratch_dir

    base = scratch_dir(spark, "dws_sink_rt")
    df = QUERIES["dws_trade_cart_add_uu_window"](spark, sf).filter(
        F.col("stt").startswith(_SINK_MONTH)
    )
    sinks.write_dws(df, base)
    return spark.read.parquet(base).select("stt", "edt", "cart_add_uu_ct")


register(
    "sink_dws_partitioned_roundtrip",
    _sink_roundtrip,
    f"SELECT * FROM ({ORACLES['dws_trade_cart_add_uu_window']})"
    f" WHERE stt LIKE '{_SINK_MONTH}%'",
)

# A5 scale path: HyperLogLog++ sketch instead of the exact distinct set —
# declared approximation (rsd 2 %), rows-only in the driver contract; the
# tolerance gate lives in tests/test_dws.py.
register(
    "dws_trade_province_order_window_approx",
    lambda spark, sf: dws.trade_province_order_window(
        dwd_trade.order_detail(_pre(spark, sf)),
        dims.dim_base_province(spark, sf),
        approx_distinct=True,
    ),
)

register(
    "dws_trade_province_order_window",
    lambda spark, sf: dws.trade_province_order_window(
        dwd_trade.order_detail(_pre(spark, sf)), dims.dim_base_province(spark, sf)
    ),
    oracle.sql(
        f"""SELECT {_stt_edt()}, province_id, p.name AS province_name,
                   count(DISTINCT order_id) AS order_count,
                   CAST(sum(CAST(split_total_amount AS DECIMAL(18,2))) AS DOUBLE) AS order_amount
            FROM (SELECT *, {oracle.ws_from_string('create_time')} AS ws
                  FROM (SELECT *, row_number() OVER
                            (PARTITION BY id
                             ORDER BY create_time DESC NULLS LAST,
                                      activity_rule_id DESC NULLS LAST,
                                      coupon_id DESC NULLS LAST) AS rl
                        FROM dwd_order_detail)
                  WHERE rl = 1) d
            JOIN dim_province p ON d.province_id = p.id
            GROUP BY ws, province_id, p.name""",
        *oracle.DETAIL_CTES,
        "dim_province",
    ),
)

# ADS rollup lattice: (province, source_type) + per-province + grand total
# in one ROLLUP pass; level = grouping_id, identical bit semantics to
# DuckDB's GROUPING(province_name, source_type_name).
register(
    "dws_trade_province_source_rollup",
    lambda spark, sf: dws.trade_province_source_rollup(
        dwd_trade.order_detail(_pre(spark, sf)), dims.dim_base_province(spark, sf)
    ),
    oracle.sql(
        """SELECT p.name AS province_name, source_type_name,
                  GROUPING(p.name, source_type_name) AS level,
                  count(DISTINCT order_id) AS order_count,
                  CAST(sum(CAST(split_total_amount AS DECIMAL(18,2))) AS DOUBLE) AS order_amount
           FROM (SELECT * FROM (SELECT *, row_number() OVER
                     (PARTITION BY id
                      ORDER BY create_time DESC NULLS LAST,
                               activity_rule_id DESC NULLS LAST,
                               coupon_id DESC NULLS LAST) AS rl
                 FROM dwd_order_detail) WHERE rl = 1) d
           JOIN dim_province p ON d.province_id = p.id
           GROUP BY ROLLUP(p.name, source_type_name)""",
        *oracle.DETAIL_CTES,
        "dim_province",
    ),
)

_TM_KEYS = (
    "tm_id, tm_name, category1_id, category1_name, category2_id, "
    "category2_name, category3_id, category3_name, user_id"
)

register(
    "dws_trade_trademark_category_user_refund_window",
    lambda spark, sf: dws.trade_trademark_category_user_refund_window(
        _refund(spark, sf), dims.dim_sku_full(spark, sf)
    ),
    oracle.sql(
        f"""SELECT {_stt_edt()},
                   tm_id AS trademark_id, tm_name AS trademark_name,
                   category1_id, category1_name, category2_id, category2_name,
                   category3_id, category3_name, user_id,
                   count(DISTINCT order_id) AS refund_count
            FROM (SELECT r.*, {oracle.ws_from_string('r.create_time')} AS ws,
                         s.tm_id, s.tm_name, s.category1_id, s.category1_name,
                         s.category2_id, s.category2_name, s.category3_id,
                         s.category3_name
                  FROM dwd_order_refund r
                  JOIN dim_sku s ON r.sku_id = s.sku_id)
            GROUP BY ws, {_TM_KEYS}""",
        *oracle.REFUND_CTES,
        "dim_sku",
    ),
)


