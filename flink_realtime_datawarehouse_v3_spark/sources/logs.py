"""Deterministic app-log (``topic_log``) synthesis from the ``events`` table.

The reference consumes nested JSON app events (shape at
RT/app/dwd/BaseLogApp.java:112-166):

``{common:{ar,ch,is_new,md,mid,os,uid,vc}, page:{page_id,last_page_id,item,
item_type,during_time}, displays:[...], actions:[...], err:{...},
start:{...}, ts}``

Here each ``events`` parquet row becomes one log event, derived entirely from
(event_id, ts, user_id, event_type, value, k) where ``k`` is the integer in
``props``. The mapping (mirrored in DuckDB by :mod:`..oracle`):

- signup   -> start event (no page)
- view     -> page event, page_id in {home, good_detail, search} by k%3;
              search pages carry a keyword ``item``
- click    -> good_detail page with 1+k%3 display entries
- purchase -> trade page with 1+k%2 action entries
- error    -> home page carrying an ``err`` struct (err + page coexist,
              as in the reference)

``last_page_id`` is sessionized: previous page event of the same mid within
30 minutes, else NULL (a session start). ``event_id`` is carried in the JSON
for deterministic ordering (divergence from the reference, which relies on
arrival order).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import get_or_build, session_table
from . import tables

WORDS = ["spark", "flink", "kafka", "hudi", "iceberg", "delta", "doris", "paimon"]

CHANNELS = ["Appstore", "xiaomi", "wandoujia", "oppo", "vivo"]

SESSION_GAP_MS = 30 * 60 * 1000


def _k() -> Column:
    return F.regexp_extract(F.col("props"), "[0-9]+", 0).cast("int")


def _word(idx: Column) -> Column:
    return F.element_at(F.array(*[F.lit(w) for w in WORDS]), (idx + 1).cast("int"))


def enriched_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event derived columns (pre-JSON). Window over mid provides the
    sessionized last_page_id; page events = every type except signup."""
    e = tables.load(spark, sf_dir, "events").withColumn("k", _k())
    e = (
        e.withColumn("ts_ms", F.unix_millis(F.col("ts")))
        .withColumn("mid", F.concat(F.lit("mid_"), F.col("user_id")))
        .withColumn("uid", F.col("user_id").cast("string"))
        .withColumn("ar", (F.col("user_id") % 10).cast("string"))
        .withColumn(
            "ch", F.element_at(F.array(*[F.lit(c) for c in CHANNELS]), (F.col("k") % 5) + 1)
        )
        .withColumn("vc", F.concat(F.lit("v2.1."), F.col("k") % 3))
        .withColumn("is_new_raw", F.when(F.col("k") % 3 == 0, "1").otherwise("0"))
        .withColumn("md", F.concat(F.lit("model_"), F.col("user_id") % 7))
        .withColumn("os", F.when(F.col("user_id") % 4 == 0, "iOS").otherwise("Android"))
        .withColumn(
            "page_id",
            F.when(
                F.col("event_type") == "view",
                F.when(F.col("k") % 3 == 0, "home")
                .when(F.col("k") % 3 == 1, "good_detail")
                .otherwise("search"),
            )
            .when(F.col("event_type") == "click", F.lit("good_detail"))
            .when(F.col("event_type") == "purchase", F.lit("trade"))
            .when(F.col("event_type") == "error", F.lit("home")),
        )
        .withColumn("during_time", F.round(F.col("value") * 1000, 0).cast("long"))
        .withColumn(
            "item",
            F.when(
                F.col("page_id") == "search",
                F.concat(
                    _word(F.col("k") % 8),
                    F.lit(" "),
                    _word((F.col("k") + F.col("user_id")) % 8),
                ),
            ).when(F.col("page_id") == "good_detail", (F.col("k") % 2000).cast("string")),
        )
        .withColumn(
            "item_type",
            F.when(F.col("page_id") == "search", "keyword").when(
                F.col("page_id") == "good_detail", "sku_id"
            ),
        )
    )
    # Sessionized last_page_id over page-bearing events (everything but signup).
    from pyspark.sql import Window

    pw = Window.partitionBy("mid").orderBy("ts_ms", "event_id")
    pages = e.filter(F.col("event_type") != "signup")
    pages = (
        pages.withColumn("prev_page", F.lag("page_id").over(pw))
        .withColumn("prev_ts", F.lag("ts_ms").over(pw))
        .withColumn(
            "last_page_id",
            F.when(
                F.col("prev_ts").isNotNull()
                & (F.col("ts_ms") - F.col("prev_ts") <= SESSION_GAP_MS),
                F.col("prev_page"),
            ),
        )
        .drop("prev_page", "prev_ts")
    )
    starts = e.filter(F.col("event_type") == "signup").withColumn(
        "last_page_id", F.lit(None).cast("string")
    )
    return pages.unionByName(starts)


def _displays() -> Column:
    n = (F.col("k") % 3) + 1
    return F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.struct(
            F.element_at(
                F.array(F.lit("promotion"), F.lit("query"), F.lit("recommend")),
                ((F.col("k") + i) % 3) + 1,
            ).alias("display_type"),
            ((F.col("k") * 31 + i) % 2000).cast("string").alias("item"),
            F.lit("sku_id").alias("item_type"),
            i.cast("int").alias("pos_id"),
        ),
    )


def _actions() -> Column:
    n = (F.col("k") % 2) + 1
    return F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.struct(
            F.element_at(
                F.array(F.lit("cart_add"), F.lit("favor_add")), ((F.col("k") + i) % 2) + 1
            ).alias("action_id"),
            ((F.col("k") * 17 + i) % 2000).cast("string").alias("item"),
            F.lit("sku_id").alias("item_type"),
            (F.col("ts_ms") + i.cast("bigint") * 1000).alias("ts"),
        ),
    )


_RAW_LOG_CACHE: dict[tuple, DataFrame] = session_table(DataFrame.unpersist)


def topic_log_json_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`topic_log_json` synthesized + persisted ONCE per (session,
    sf_dir) — the log-topic analogue of the CDC side's per-branch ODS
    parse cache (``cdc._branch_parsed``): the topic pre-exists a job run,
    so every consumer re-paying the events-parquet scan + struct
    synthesis + ``to_json`` render (~2.7 s at sf0.1) was redundant work
    (r13 optimization round, guide §1.2). Consumers: the repaired-log
    memo build, the dirty-log complement, and the streaming base-log
    replay writer. A session table (:mod:`..session`); pre-warmed (and
    the cost reported) by bench.py's warm loop."""
    def build() -> DataFrame:
        par = spark.sparkContext.defaultParallelism
        return topic_log_json(spark, sf_dir).repartition(par).persist()

    return get_or_build(_RAW_LOG_CACHE, spark, (sf_dir,), build)


def topic_log_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``topic_log`` as raw JSON strings + deterministic dirty rows."""
    e = enriched_events(spark, sf_dir)
    common = F.struct(
        F.col("ar"),
        F.col("ch"),
        F.col("is_new_raw").alias("is_new"),
        F.col("md"),
        F.col("mid"),
        F.col("os"),
        F.col("uid"),
        F.col("vc"),
    )
    page = F.when(
        F.col("event_type") != "signup",
        F.struct(
            F.col("page_id"),
            F.col("last_page_id"),
            F.col("item"),
            F.col("item_type"),
            F.col("during_time"),
        ),
    )
    start = F.when(
        F.col("event_type") == "signup",
        F.struct(
            F.when(F.col("k") % 2 == 0, "icon").otherwise("notice").alias("entry"),
            (F.col("k") % 2000).alias("loading_time"),
            (F.col("k") % 20).alias("open_ad_id"),
            (F.col("k") % 1000).alias("open_ad_ms"),
            (F.col("k") % 100).alias("open_ad_skip_ms"),
        ),
    )
    err = F.when(
        F.col("event_type") == "error",
        F.struct(
            (F.lit(2000) + F.col("k") % 10).alias("error_code"),
            F.concat(F.lit("err_"), F.col("k") % 10).alias("msg"),
        ),
    )
    displays = F.when(F.col("event_type") == "click", _displays())
    actions = F.when(F.col("event_type") == "purchase", _actions())
    good = e.select(
        F.to_json(
            F.struct(
                F.col("event_id"),
                common.alias("common"),
                page.alias("page"),
                start.alias("start"),
                err.alias("err"),
                displays.alias("displays"),
                actions.alias("actions"),
                F.col("ts_ms").alias("ts"),
            )
        ).alias("value")
    )
    dirty = (
        tables.load(spark, sf_dir, "events")
        .filter(F.col("event_id") % 101 == 0)
        .select(F.concat(F.lit("#dirty-log#"), F.col("event_id")).alias("value"))
    )
    return good.unionByName(dirty)


LOG_SCHEMA = """
    event_id bigint,
    common struct<ar:string, ch:string, is_new:string, md:string, mid:string,
                  os:string, uid:string, vc:string>,
    page struct<page_id:string, last_page_id:string, item:string,
                item_type:string, during_time:bigint>,
    start struct<entry:string, loading_time:int, open_ad_id:int,
                 open_ad_ms:int, open_ad_skip_ms:int>,
    err struct<error_code:int, msg:string>,
    displays array<struct<display_type:string, item:string, item_type:string,
                          pos_id:int>>,
    actions array<struct<action_id:string, item:string, item_type:string,
                         ts:bigint>>,
    ts bigint
"""


def parse_topic_log(raw: DataFrame) -> DataFrame:
    """P2: JSON parse keeping only clean rows (reference:
    RT/app/dwd/BaseLogApp.java:54-69). The dirty branch is
    :func:`dirty_topic_log` — two independent single-parse plans over the
    same input with complement filters, together exactly the reference's
    main-output/side-output split (OutputTag at BaseLogApp.java:56); a
    consumer wanting both sides in one scan persists the parsed input and
    applies both filters to it."""
    parsed = raw.select(F.from_json(F.col("value"), LOG_SCHEMA).alias("j"))
    return parsed.filter(F.col("j").isNotNull() & F.col("j.common").isNotNull()).select(
        "j.*"
    )


def dirty_topic_log(raw: DataFrame) -> DataFrame:
    """P2/W7 side output: the rows :func:`parse_topic_log` rejects, raw.

    Reference: RT/app/dwd/BaseLogApp.java:54-69 — malformed JSON goes to a
    ``OutputTag<String>("Dirty")`` stream for ingestion debugging; here it is
    a first-class query over the same input (the complement filter of the
    clean branch, so clean + dirty partitions the input exactly)."""
    parsed = raw.select(F.col("value"), F.from_json(F.col("value"), LOG_SCHEMA).alias("j"))
    return parsed.filter(F.col("j").isNull() | F.col("j.common").isNull()).select("value")
