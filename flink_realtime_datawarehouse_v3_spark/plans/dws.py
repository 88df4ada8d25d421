"""DWS layer: the 11 windowed-aggregation pipelines (SURVEY.md §2.5-2.6).

Every job is: event-time extraction -> (stateful dedup/flags) -> 10 s
tumbling window -> field-wise sums / exact count-distinct -> stt/edt
stamping; trade jobs add broadcast star joins against the dims
(SURVEY.md J11 — replacing the reference's async Redis/Phoenix chain).

The keyword windows and the union window are split into stages that
their streaming twins (``streaming/pipelines.py``) call too: a words
stage (:func:`source_keyword_words`, :func:`cjk_keyword_words`) and the
one 10 s count stage :func:`keyword_window_counts`; the page shaping
:func:`vc_page_rows` and the window sums :func:`vc_window_sums`. A twin
puts its watermark between the stages; the batch entry composes them
directly, so both run the same query body.

The reference's emit-time ``ts`` (System.currentTimeMillis) is omitted —
nondeterministic, excluded from hashes (FIXTURES.md F5).

Money sums accumulate decimal(18,2)-exact (matching the CDC contract), then
the FINAL column is cast to double: the reference's beans carry these
metrics as java ``Double`` (e.g. RT/bean/TradeOrderBean.java), and double is
the one numeric type every consumer (pandas, DuckDB, ClickHouse Float64)
renders identically. The cast of an exact decimal total is correctly
rounded on both the JVM (BigDecimal.doubleValue) and DuckDB (CAST AS
DOUBLE), so engine and oracle agree bit-for-bit.

Scale notes: one shuffle per window agg (partial/final hash agg does the
map-side combine the reference hand-wrote as incremental ``reduce``); dedup
windows shuffle on high-cardinality keys; all dim joins broadcast.
``countDistinct`` matches the reference's exact HashSet semantics (A5) — at
true 100 TB scale swap for approx_count_distinct per-query if an approximate
answer is acceptable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.tokenize import tokenize
from ..operators import dedup
from ..operators.windows import rt_from_ms, rt_from_string, stt_edt, tumble


def _dt(rt: Column) -> Column:
    return F.date_format(rt, "yyyy-MM-dd")


def _dec(c: Column) -> Column:
    return c.cast("decimal(18,2)")


# --- traffic -----------------------------------------------------------------


def source_keyword_words(page: DataFrame, segmenter=None) -> DataFrame:
    """Words stage of A1 + U1: search keywords tokenized to ``(word, rt)``
    rows, one per token.

    Reference: RT/app/dws/DwsTrafficSourceKeywordPageViewWindow.java:57-89.
    Divergence (documented): the reference filters ``last_page_id='search'``
    (gmall logs keywords on the page *after* a search); our synthetic
    instrumentation carries keywords on the search page itself, so the
    filter is ``page_id='search'`` — operator shape (filter -> UDTF explode
    -> windowed count) is identical.

    ``segmenter`` swaps the tokenizer (the reference's pluggable
    SplitFunction): any ``Column -> Column`` producing ``array<string>`` —
    the Catalyst whitespace tokenizer by default (hot path), or an
    Arrow-batched Pandas UDF (``functions.tokenize.tokenize_pandas_udf`` /
    ``segment_bpe_pandas_udf``) when segmentation needs real Python.
    """
    tok = segmenter if segmenter is not None else tokenize
    filtered = page.filter(
        (F.col("page_id") == "search")
        & (F.col("item_type") == "keyword")
        & F.col("item").isNotNull()
    ).select("item", rt_from_ms(F.col("ts")).alias("rt"))
    return filtered.select(F.explode(tok(F.col("item"))).alias("word"), "rt")


def cjk_keyword_words(page: DataFrame) -> DataFrame:
    """Words stage of U1 with the CJK segmenter plugged in: dictionary FMM
    segmentation (IK-Analyzer's core mechanism,
    RT/utils/KeywordUtil.java:18-37) via the Arrow-batched plug point.

    The synthetic log carries latin keywords, so the search rows are
    deterministically mapped onto the bundled CJK phrase list
    (``ts % len(CJK_PHRASES)``) — the oracle applies the same mapping and
    segments with a recursive longest-dictionary-prefix CTE, so the
    segmentation itself is independently recomputed, not hard-coded.
    The UDF is Arrow-batched and purely per-row.
    """
    from ..functions.tokenize import CJK_PHRASES, segment_cjk_pandas_udf

    phrases = F.array(*[F.lit(p) for p in CJK_PHRASES])
    filtered = page.filter(
        (F.col("page_id") == "search")
        & (F.col("item_type") == "keyword")
        & F.col("item").isNotNull()
    ).select(
        F.element_at(
            phrases,
            (F.col("ts").cast("bigint") % len(CJK_PHRASES) + 1).cast("int"),
        ).alias("item"),
        rt_from_ms(F.col("ts")).alias("rt"),
    )
    return filtered.select(
        F.explode(segment_cjk_pandas_udf(F.col("item"))).alias("word"), "rt"
    )


def keyword_window_counts(words: DataFrame) -> DataFrame:
    """Count stage shared by both keyword windows: ``(word, rt)`` rows
    counted per word per 10 s tumbling window, stamped stt/edt.

    The batch entries compose a words stage with this one directly; the
    streaming twins put their watermark on ``rt`` between the two, so
    stream and batch run one query body."""
    return tumble(words, F.col("rt"), "word").agg(
        F.count(F.lit(1)).alias("keyword_count")
    ).select(
        F.lit("search").alias("source"),
        *stt_edt(),
        F.col("word").alias("keyword"),
        "keyword_count",
    )


def traffic_source_keyword_page_view_window(
    page: DataFrame, segmenter=None
) -> DataFrame:
    """A1 + U1: tokenize search keywords, count per word per 10 s window."""
    return keyword_window_counts(source_keyword_words(page, segmenter))


def traffic_keyword_cjk_window(page: DataFrame) -> DataFrame:
    """U1 with the CJK segmenter: the keyword window over Chinese search
    phrases."""
    return keyword_window_counts(cjk_keyword_words(page))


VC_KEYS = ["vc", "ch", "ar", "is_new"]


def _vc_rows(df: DataFrame, uv_v, sv: Column, pv_v, dur: Column, uj_v) -> DataFrame:
    return df.select(
        *VC_KEYS,
        rt_from_ms(F.col("ts")).alias("rt"),
        F.lit(uv_v).cast("long").alias("uv"),
        sv.cast("long").alias("sv"),
        F.lit(pv_v).cast("long").alias("pv"),
        dur.cast("long").alias("dur"),
        F.lit(uj_v).cast("long").alias("uj"),
    )


def vc_page_rows(page: DataFrame) -> DataFrame:
    """The page branch of the union window, shaped as contribution rows
    ``(vc, ch, ar, is_new, rt, uv, sv, pv, dur, uj)``: pv=1, sv=1 on a
    session start, dur=during_time."""
    return _vc_rows(
        page,
        0,
        F.when(F.col("last_page_id").isNull(), 1).otherwise(0),
        1,
        F.col("during_time"),
        0,
    )


def vc_window_sums(contrib: DataFrame) -> DataFrame:
    """Sum the union's contribution rows per (vc, ch, ar, is_new) per 10 s
    window; shared by the batch entry and its streaming twin."""
    return tumble(contrib, F.col("rt"), *VC_KEYS).agg(
        F.sum("uv").alias("uv_ct"),
        F.sum("sv").alias("sv_ct"),
        F.sum("pv").alias("pv_ct"),
        F.sum("dur").alias("dur_sum"),
        F.sum("uj").alias("uj_ct"),
    ).select(*stt_edt(), *VC_KEYS, "uv_ct", "sv_ct", "pv_ct", "dur_sum", "uj_ct")


def traffic_vc_ch_ar_is_new_page_view_window(
    page: DataFrame, uv: DataFrame, jump: DataFrame
) -> DataFrame:
    """A2/A4 + O1: 3-stream union aggregated per (vc, ch, ar, is_new).

    Reference: RT/app/dws/DwsTrafficVcChArIsNewPageViewWindow.java:60-185
    (page -> pv/sv/dur, UV topic -> uv_ct, jump topic -> uj_ct, union,
    keyed 10 s window, field-wise sums).
    """
    z = F.lit(0)
    return vc_window_sums(
        vc_page_rows(page)
        .unionByName(_vc_rows(uv, 1, z, 0, z, 0))
        .unionByName(_vc_rows(jump, 0, z, 0, z, 1))
    )


def traffic_page_view_window(page: DataFrame) -> DataFrame:
    """A3 + D1 (two parallel states): home / good_detail daily UV per window.

    Reference: RT/app/dws/DwsTrafficPageViewWindow.java:75-175.
    """
    hd = page.filter(F.col("page_id").isin("home", "good_detail")).withColumn(
        "rt", rt_from_ms(F.col("ts"))
    )
    firsts = dedup.first_per_day(
        hd, ["mid", "page_id"], _dt(F.col("rt")), ["ts", "event_id"]
    )
    flagged = firsts.select(
        "rt",
        F.when(F.col("page_id") == "home", 1).otherwise(0).cast("long").alias("hu"),
        F.when(F.col("page_id") == "good_detail", 1)
        .otherwise(0)
        .cast("long")
        .alias("du"),
    )
    return tumble(flagged, F.col("rt")).agg(
        F.sum("hu").alias("home_uv_ct"),
        F.sum("du").alias("good_detail_uv_ct"),
    ).select(*stt_edt(), "home_uv_ct", "good_detail_uv_ct")


# --- user --------------------------------------------------------------------


def user_user_login_window(page: DataFrame) -> DataFrame:
    """D2 (7-day-returning variant) + A3.

    Reference: RT/app/dws/DwsUserUserLoginWindow.java:67-150 — login rows =
    uid present and (session start or last_page_id='login'); uu on first
    row of the user's day; back when the previous active day is >= 8 days
    older (intended semantics of the buggy line :119 — see operators/dedup).
    """
    logins = page.filter(
        F.col("uid").isNotNull()
        & (F.col("last_page_id").isNull() | (F.col("last_page_id") == "login"))
    ).withColumn("rt", rt_from_ms(F.col("ts")))
    flagged = dedup.uu_new_flags(
        logins, "uid", _dt(F.col("rt")), ["ts", "event_id"], back_days=8
    ).filter(F.col("uu") == 1)
    return tumble(flagged, F.col("rt")).agg(
        F.sum("back").alias("back_ct"),
        F.sum("uu").alias("uu_ct"),
    ).select(*stt_edt(), "back_ct", "uu_ct")


def user_user_register_window(register: DataFrame) -> DataFrame:
    """A3: registrations per 10 s window
    (reference: RT/app/dws/DwsUserUserRegisterWindow.java:60-100; event time
    from create_time)."""
    r = register.withColumn("rt", rt_from_string(F.col("create_time")))
    return tumble(r, F.col("rt")).agg(
        F.count(F.lit(1)).cast("long").alias("register_ct")
    ).select(*stt_edt(), "register_ct")


# --- trade -------------------------------------------------------------------


def trade_cart_add_uu_window(cart: DataFrame) -> DataFrame:
    """D1 + A3 + W3: daily-unique cart-add users per window.

    Reference: RT/app/dws/DwsTradeCartAddUuWindow.java:60-145 — event time =
    operate_time if present else create_time; ValueState last-cart-date.
    """
    c = cart.withColumn(
        "rt",
        F.coalesce(
            rt_from_string(F.col("operate_time")), rt_from_string(F.col("create_time"))
        ),
    )
    firsts = dedup.first_per_day(c, ["user_id"], _dt(F.col("rt")), ["rt", "id"])
    return tumble(firsts, F.col("rt")).agg(
        F.count(F.lit(1)).cast("long").alias("cart_add_uu_ct")
    ).select(*stt_edt(), "cart_add_uu_ct")


def trade_payment_suc_window(pay: DataFrame) -> DataFrame:
    """D4 + D2 + A3: payment-success unique / first-ever users per window.

    Reference: RT/app/dws/DwsTradePaymentSucWindow.java:70-200 — keep-latest
    per order_detail_id (5 s debounce timer), then per-user last-payment-date
    state; only uu rows reach the window.
    """
    # Tie-break: among duplicate order_detail_id rows (changelog replays of
    # the same payment), the distinguishing columns are the payment_info
    # legs — callback_time then payment_type_code give a total order, so the
    # winner is independent of partitioning (the partition key itself would
    # be a vacuous tie-break).
    deduped = dedup.keep_latest(
        pay, ["order_detail_id"], ["callback_time", "payment_type_code"]
    ).withColumn("rt", rt_from_string(F.col("callback_time")))
    flagged = dedup.uu_new_flags(
        deduped, "user_id", _dt(F.col("rt")), ["rt", "order_detail_id"]
    ).filter(F.col("uu") == 1)
    return tumble(flagged, F.col("rt")).agg(
        F.sum("uu").alias("payment_suc_unique_user_count"),
        F.sum("new").alias("payment_suc_new_user_count"),
    ).select(
        *stt_edt(), "payment_suc_unique_user_count", "payment_suc_new_user_count"
    )


def trade_order_window(detail: DataFrame) -> DataFrame:
    """D3 + D2 + A3 + A6: global order metrics per window.

    Reference: RT/app/dws/DwsTradeOrderWindow.java:60-220 — keep-first per
    detail id, per-user flags, sums of null-coalesced reduce amounts and
    sku_num * order_price.
    """
    # Tie-break: duplicate detail ids can only differ via the activity /
    # coupon left-join legs (one od x one oi insert row), so
    # (create_time, activity_rule_id, coupon_id) totally orders every
    # non-identical duplicate — the winner is partitioning-independent.
    deduped = dedup.keep_first(
        detail, ["id"], ["create_time", "activity_rule_id", "coupon_id"]
    ).withColumn("rt", rt_from_string(F.col("create_time")))
    flagged = dedup.uu_new_flags(deduped, "user_id", _dt(F.col("rt")), ["rt", "id"])
    zero = F.lit(0).cast("decimal(18,2)")
    return tumble(flagged, F.col("rt")).agg(
        F.sum("uu").alias("order_unique_user_count"),
        F.sum("new").alias("order_new_user_count"),
        F.sum(F.coalesce(_dec(F.col("split_activity_amount")), zero))
        .cast("double")
        .alias("order_activity_reduce_amount"),
        F.sum(F.coalesce(_dec(F.col("split_coupon_amount")), zero))
        .cast("double")
        .alias("order_coupon_reduce_amount"),
        F.sum(F.col("sku_num").cast("int") * _dec(F.col("order_price")))
        .cast("double")
        .alias("order_original_total_amount"),
    ).select(
        *stt_edt(),
        "order_unique_user_count",
        "order_new_user_count",
        "order_activity_reduce_amount",
        "order_coupon_reduce_amount",
        "order_original_total_amount",
    )


def trade_user_spu_order_window(detail: DataFrame, dim_sku: DataFrame) -> DataFrame:
    """D3 + A4 + A5 + J11: per (user, spu, trademark, cat3) order metrics.

    Reference: RT/app/dws/DwsTradeUserSpuOrderWindow.java:69-285 — keep-first
    dedup, async sku join *before* the window (rollup keys come from sku),
    10 s window with merged order-id sets, then 5 more name joins. Here the
    whole 6-hop chain is one broadcast join against the flattened sku dim
    (same values, no async machinery); countDistinct == |orderIdSet|.
    """
    # Tie-break rationale: see trade_order_window.
    deduped = dedup.keep_first(
        detail, ["id"], ["create_time", "activity_rule_id", "coupon_id"]
    ).withColumn("rt", rt_from_string(F.col("create_time")))
    enriched = deduped.join(
        F.broadcast(dim_sku), deduped.sku_id == dim_sku.sku_id, "inner"
    )
    keys = [
        "user_id",
        "spu_id",
        "spu_name",
        "tm_id",
        "tm_name",
        "category1_id",
        "category1_name",
        "category2_id",
        "category2_name",
        "category3_id",
        "category3_name",
    ]
    return tumble(enriched, F.col("rt"), *keys).agg(
        F.countDistinct("order_id").alias("order_count"),
        F.sum(_dec(F.col("split_total_amount"))).cast("double").alias("order_amount"),
    ).select(
        *stt_edt(),
        "user_id",
        "spu_id",
        "spu_name",
        F.col("tm_id").alias("trademark_id"),
        F.col("tm_name").alias("trademark_name"),
        "category1_id",
        "category1_name",
        "category2_id",
        "category2_name",
        "category3_id",
        "category3_name",
        "order_count",
        "order_amount",
    )


def trade_province_order_window(
    detail: DataFrame, dim_province: DataFrame, approx_distinct: bool = False
) -> DataFrame:
    """D4 + A4 + A5: per-province order metrics.

    Reference: RT/app/dws/DwsTradeProvinceOrderWindow.java:60-200 —
    keep-latest per detail id, province-keyed 10 s window with order-id set,
    province-name dim join after the agg.

    ``approx_distinct=True`` is the declared A5 scale path (SURVEY.md
    §2.5): the reference's merged ``HashSet<String> orderIdSet`` is an
    exact distinct whose state grows with the id universe; at 100 TB the
    HyperLogLog++ sketch (``approx_count_distinct``, rsd 2 %) keeps the
    accumulator constant-size and mergeable. Flagged as an approximation —
    the exact form stays the oracle-checked default.
    """
    # Tie-break rationale: see trade_order_window (keep-latest direction).
    deduped = dedup.keep_latest(
        detail, ["id"], ["create_time", "activity_rule_id", "coupon_id"]
    ).withColumn("rt", rt_from_string(F.col("create_time")))
    count_expr = (
        F.approx_count_distinct("order_id", 0.02)
        if approx_distinct
        else F.countDistinct("order_id")
    )
    agged = tumble(deduped, F.col("rt"), "province_id").agg(
        count_expr.alias("order_count"),
        F.sum(_dec(F.col("split_total_amount"))).cast("double").alias("order_amount"),
    ).select(*stt_edt(), "province_id", "order_count", "order_amount")
    return agged.join(
        F.broadcast(dim_province), agged.province_id == dim_province.id, "inner"
    ).select(
        "stt",
        "edt",
        "province_id",
        F.col("name").alias("province_name"),
        "order_count",
        "order_amount",
    )


def trade_trademark_category_user_refund_window(
    refund: DataFrame, dim_sku: DataFrame
) -> DataFrame:
    """A4 + A5 + J11: refunds per (trademark, category3, user).

    Reference: RT/app/dws/DwsTradeTrademarkCategoryUserRefundWindow.java:60-190
    — sku join before the window for rollup keys, 10 s window merging
    order-id sets, name joins after.
    """
    r = refund.withColumn("rt", rt_from_string(F.col("create_time")))
    enriched = r.join(F.broadcast(dim_sku), r.sku_id == dim_sku.sku_id, "inner")
    keys = [
        "tm_id",
        "tm_name",
        "category1_id",
        "category1_name",
        "category2_id",
        "category2_name",
        "category3_id",
        "category3_name",
        "user_id",
    ]
    return tumble(enriched, F.col("rt"), *keys).agg(
        F.countDistinct("order_id").alias("refund_count")
    ).select(
        *stt_edt(),
        F.col("tm_id").alias("trademark_id"),
        F.col("tm_name").alias("trademark_name"),
        "category1_id",
        "category1_name",
        "category2_id",
        "category2_name",
        "category3_id",
        "category3_name",
        "user_id",
        "refund_count",
    )


def trade_province_source_rollup(
    detail: DataFrame, dim_province: DataFrame
) -> DataFrame:
    """ADS-layer rollup: order metrics at (province, source_type), per
    province, and grand-total levels in ONE aggregation pass.

    The reference materializes each ADS rollup level as a separate
    ClickHouse query over the DWS table; Spark expresses the whole lattice
    as a single ``ROLLUP`` plan — Catalyst expands the grouping sets and
    the partial aggregation is shared map-side, so the three levels cost
    one shuffle, not three. ``grouping_id()`` disambiguates levels exactly
    like DuckDB/ANSI ``GROUPING(a, b)``.
    """
    deduped = dedup.keep_latest(
        detail, ["id"], ["create_time", "activity_rule_id", "coupon_id"]
    )
    enriched = deduped.join(
        F.broadcast(dim_province), deduped.province_id == dim_province.id, "inner"
    ).select(
        F.col("name").alias("province_name"),
        "source_type_name",
        "order_id",
        _dec(F.col("split_total_amount")).alias("amt"),
    )
    return (
        enriched.rollup("province_name", "source_type_name")
        .agg(
            F.grouping_id().alias("level"),
            F.countDistinct("order_id").alias("order_count"),
            F.sum("amt").cast("double").alias("order_amount"),
        )
        .select(
            "province_name", "source_type_name", "level",
            "order_count", "order_amount",
        )
    )


def order_status_count_deltas(order_info_events: DataFrame) -> DataFrame:
    """Changelog (retract) algebra for a keyed COUNT over an UPDATING
    stream — the Flink-native aggregate semantics the upsert/debounce
    entries sidestep by keeping latest-per-key first. Each CDC event is
    turned into +/-1 deltas against the (province_id, order_status)
    group: an insert is +1 to its status group; an update is +1 to the
    new status AND -1 to the old one (the retraction, straight from the
    Maxwell-style partial ``old`` image — Flink derives the same
    retraction from operator state; the envelope hands it to us).

    Why this beats latest-per-key-then-count at 100 TB: the keep-latest
    form carries state per ORDER (1e9+ keys); the delta form's
    aggregate state is one counter per GROUP (provinces x statuses —
    hundreds), and each micro-batch touches only the groups its events
    name. The group key must be immutable or present in ``old``
    (province never changes here — documented envelope contract).
    """
    ev = order_info_events.filter(F.col("table") == "order_info")
    # insert / bootstrap-insert / update assert the event's own status;
    # a delete asserts nothing (its row leaves the table).
    plus = ev.filter(F.col("type") != "delete").select(
        F.col("data")["province_id"].alias("province_id"),
        F.col("data")["order_status"].alias("order_status"),
        F.lit(1).alias("delta"),
    )
    # Retractions: an update retracts the PRIOR status; a delete
    # retracts the row's last asserted state (Maxwell delete events
    # carry the full final data image). Maxwell omits UNCHANGED fields
    # from ``old``, so an update that did not change the status must
    # still retract, and it retracts the group it re-asserts (net
    # zero) — hence the coalesce; without it an update touching only
    # e.g. operate_time double-counts its order (caught by
    # test_retract_fold_equals_latest_state_random_chains). NOTE: the
    # registered feed routes through the P1 parse, which drops deletes
    # (reference parity — DimApp keeps insert/update/bootstrap-insert);
    # the delete arm is exercised by the property test's raw envelopes.
    minus = ev.filter(F.col("type").isin("update", "delete")).select(
        F.col("data")["province_id"].alias("province_id"),
        F.when(
            F.col("type") == "delete", F.col("data")["order_status"]
        )
        .otherwise(
            F.coalesce(
                F.col("old")["order_status"],
                F.col("data")["order_status"],
            )
        )
        .alias("order_status"),
        F.lit(-1).alias("delta"),
    )
    return plus.unionByName(minus)


def order_status_counts_from_deltas(deltas: DataFrame) -> DataFrame:
    """Fold the +/-1 deltas into the live per-group counts; groups whose
    count returns to zero vanish, matching the latest-state oracle
    (a COUNT can't be negative — a residual negative would mean a
    retraction for an insert we never saw, which the parse-level type
    filter makes impossible on this feed)."""
    return (
        deltas.groupBy("province_id", "order_status")
        .agg(F.sum("delta").cast("bigint").alias("n_orders"))
        .filter(F.col("n_orders") > 0)
        .select(
            F.col("province_id").cast("bigint").alias("province_id"),
            "order_status",
            "n_orders",
        )
    )
