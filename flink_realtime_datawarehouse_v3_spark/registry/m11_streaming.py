"""Structured Streaming twin registrations (SURVEY.md §2.10).

Split out of the monolithic api.py in round 12 — REGISTRATION ORDER
is preserved by the import order in registry/__init__.py; the
order-drift and driver-window gates (tests/test_driver_order.py)
verify it.
"""

from __future__ import annotations

from ._core import ORACLES, oracle, register  # noqa: F401

# --- Structured Streaming forms (SURVEY.md §2.10) ----------------------------
# Each replays the finite input through the file-stream harness (one
# micro-batch per file, availableNow) and must reproduce the SAME rows as
# its batch form — so it shares the batch oracle SQL and the driver
# hash-checks stream == DuckDB directly. Covered mechanisms: P1 parse
# (favor_add), D1 keyed-state dedup (unique_visitor), A1 watermarked
# 10 s tumbling window (keyword_window), J1/J2/J3+W5 bounded stream-stream
# joins (order_pre_process), J5 two-independent-stream join
# (pay_detail_suc).

def _register_streaming() -> None:
    from ..streaming import pipelines as _sp

    pairs = {
        "streaming_favor_add": ("stream_favor_add", "dwd_interaction_favor_add"),
        "streaming_base_log": ("stream_base_log", "dwd_traffic_page_log"),
        "streaming_unique_visitor": (
            "stream_unique_visitor",
            "dwd_traffic_unique_visitor_detail",
        ),
        # D5/W10 standalone CEP bounce detection with event-time timeout
        # (also exercised inside streaming_traffic_union_window's combined
        # stateful operator).
        "streaming_jump_detail": (
            "stream_jump_detail",
            "dwd_traffic_user_jump_detail",
        ),
        "streaming_keyword_window": (
            "stream_keyword_window",
            "dws_traffic_source_keyword_page_view_window",
        ),
        # U1 CJK: the Arrow-batched dictionary-FMM segmenter inside the
        # watermarked window; shares the recursive-CTE batch oracle.
        "streaming_keyword_cjk_window": (
            "stream_keyword_cjk_window",
            "dws_traffic_keyword_cjk_window",
        ),
        "streaming_order_pre_process": (
            "stream_order_pre_process",
            "dwd_trade_order_pre_process",
        ),
        "streaming_traffic_union_window": (
            "stream_traffic_union_window",
            "dws_traffic_vc_ch_ar_is_new_page_view_window",
        ),
        "streaming_pay_detail_suc": (
            "stream_pay_detail_suc",
            "dwd_trade_pay_detail_suc",
        ),
        # Count-min sketch maintained ONLINE through the additive MERGE
        # sink (counter = counter + inc, idempotent batch replay);
        # counters are additive so the streamed table equals the batch
        # build exactly — shares the batch CMS oracle.
        "streaming_heavy_hitters_cms": (
            "stream_heavy_hitters_cms",
            "events_heavy_hitters_cms",
        ),
        # Session windows (gap-merge) under watermarked append mode —
        # the non-tumbling Flink window type; shares the batch oracle.
        "streaming_sessionize": ("stream_sessionize", "sessionize_events"),
        # Continuous aggregate (1-min rollup with min_by/max_by first/
        # last) under watermarked append mode; shares the batch oracle.
        "streaming_time_rollup": ("stream_time_rollup", "events_time_rollup"),
        # Hopping windows live: every event in 2 panes, each pane emitted
        # once on watermark passage; shares the batch oracle.
        "streaming_hop_window": ("stream_hop_window", "events_hop_window"),
        # SCD2 history maintained incrementally per micro-batch (touched
        # keys only); final table == the one-shot batch history.
        "streaming_dim_coupon_scd2": (
            "stream_dim_coupon_scd2",
            "dim_coupon_use_scd2",
        ),
        # W12 late-data discard: late duplicates injected post-watermark;
        # the hash matches the normal oracle only if they are dropped.
        "streaming_keyword_window_late": (
            "stream_keyword_window_late",
            "dws_traffic_source_keyword_page_view_window",
        ),
        # Runtime schema evolution live: the broadcast config widens the
        # dim between micro-batches; shares the batch era-split oracle.
        "streaming_dim_user_info_evolve": (
            "stream_dim_user_info_evolve",
            "dim_user_info_schema_evolve",
        ),
        # COMPLETE output mode: running global histogram, final snapshot
        # == the batch histogram oracle.
        "streaming_value_histogram": (
            "stream_value_histogram",
            "events_value_histogram",
        ),
        # COMPLETE-mode global sort+limit: ORDER BY/LIMIT are only legal
        # in complete mode; final snapshot == the batch top-k oracle.
        "streaming_type_counts_top": (
            "stream_type_counts_top",
            "events_type_counts_top",
        ),
        # Ingestion-time dedup live: incoming docs streamed against the
        # static base (stream-static hash join + pair lookup per
        # micro-batch); shares the batch cross-corpus oracle.
        "streaming_dedup_incremental": (
            "stream_dedup_incremental",
            "dedup_incremental",
        ),
        # Mixture policy enforced at ingestion: static (lang, ppm) rate
        # table over the replayed doc stream, stateless append.
        "streaming_sample_mixture": (
            "stream_sample_mixture",
            "corpus_sample_mixture",
        ),
        # Benchmark decontamination at ingestion: static bench shingle
        # set (bounded eval-set artifact) broadcast-joined per
        # micro-batch, COMPLETE-mode per-doc overlap count.
        "streaming_decontaminate": (
            "stream_decontaminate",
            "decontaminate_ngram",
        ),
        # Curation keep/drop gate applied per micro-batch: stateless
        # append projection via the SAME shared rule builders as the
        # batch entry (no state store — the live filter shape).
        "streaming_quality_gate": (
            "stream_quality_gate",
            "corpus_quality_gate",
        ),
        # Embedding-health drift monitor: COMPLETE-mode per-label norm
        # stats over the replayed embedding stream (state = O(|labels|)).
        "streaming_norm_stats": (
            "stream_norm_stats",
            "embedding_norm_stats",
        ),
        # Live acceptance gate (r10): the declarative rule suite as a
        # COMPLETE-mode 1-group counter aggregation; the final snapshot
        # unpivots to the batch report and shares its oracle.
        "streaming_expectation_check": (
            "stream_expectation_check",
            "events_expectation_check",
        ),
        # Entity resolution on arrival (r10): stream-static blocking
        # joins + verify, keyed complete-mode MIN best-match; snapshot
        # shares the batch ER oracle.
        "streaming_er_resolve": (
            "stream_er_resolve",
            "er_resolve_customers",
        ),
        # Retract aggregate (r10): per-group +/- delta fold over the
        # updating order_info stream; complete-mode snapshot shares the
        # batch latest-state oracle.
        "streaming_order_status_counts": (
            "stream_order_status_counts",
            "dws_order_status_counts_retract",
        ),
    }
    pairs.update({
        # Train-offline / apply-online classifier: the (weights, bias)
        # artifact fit on the static corpus, each micro-batch scored by
        # the shared zero-shuffle projection. Stateless append.
        "streaming_fasttext_score": (
            "stream_fasttext_score",
            "text_fasttext_score_trained",
        ),
        # Multimodal decode at ingestion: the Arrow mapInPandas feature
        # stage per micro-batch (stateless append; binary + metadata
        # columns ride the replay files).
        "streaming_multimodal_decode": (
            "stream_multimodal_decode",
            "multimodal_decode",
        ),
    })
    for name, (fn_name, batch_name) in pairs.items():
        fn = getattr(_sp, fn_name)
        register(name, fn, ORACLES.get(batch_name))

    # Bounded-state redelivery dedup (r10): dropDuplicatesWithinWatermark
    # absorbs the duplicated feed; the surviving rows equal the original
    # events, so the oracle is a plain projection of the events table
    # (no batch twin to pair with — the API itself is the subject).
    register(
        "streaming_dedup_within_watermark",
        _sp.stream_dedup_within_watermark,
        """SELECT event_id, epoch_ms(ts) AS ts_ms, event_type, value
           FROM events""",
    )

    # Online ANN serving: static IVF index probed per query micro-batch
    # (stream-static bucket equi-join inside foreachBatch). Each query
    # id arrives exactly once and appends its ranked results, so the
    # drained table equals the batch ivf_topk output row-for-row —
    # HASH-GREEN since r13 against the same IVF-replay oracle
    # (simsearch.ivf_candidates_sql; stream == batch additionally
    # pinned in test_streaming).
    from .m08_training_embed import _IVF_TOPK_SQL as _ivf_topk_sql

    register("streaming_ivf_search", _sp.stream_ivf_search, _ivf_topk_sql)

    # Perceptual fingerprinting at ingestion: the dHash Arrow stage per
    # micro-batch (the online half of the near-dup pipeline; the banded
    # pair join stays a periodic batch job). Rows-only: the byte-grid
    # hash has no single-SQL twin; stream == batch fingerprints pinned
    # in test_streaming.
    # HASH-GREEN since r13: the ASCII synthetic payload gives the
    # byte-grid dHash an exact SQL twin (multimodal.dhash_sql); the
    # stream appends one fingerprint row per image exactly once, so the
    # drained table equals the batch fingerprints the oracle computes.
    from ..operators import multimodal as _mm
    from ..sources import corpus as _corpus_mod

    register(
        "streaming_multimodal_dhash",
        _sp.stream_multimodal_dhash,
        f"WITH {_corpus_mod.CORPUS_SQL.strip()}{_mm.dhash_sql()}\n"
        "SELECT doc_id, fmt, dhash FROM dsig",
    )

    # Watermark-correct ONLINE trailing time-window (the feature-store
    # "activity in the last hour" shape): emission waits for the
    # watermark to pass each event, so every RANGE-frame member has
    # arrived and the stream equals the batch entry exactly — shares its
    # SQL oracle.
    register(
        "streaming_value_trailing_window",
        _sp.stream_value_trailing_window,
        ORACLES.get("events_value_trailing_window"),
    )

    # J10/K5 config-routed DIM layer under streaming: the full topic_db
    # replay routed per micro-batch by the broadcast config, MERGEd into
    # per-dim tables; the user_info dim is checked against the batch dim
    # oracle (test_stream_dim_app covers every routed table at sf0.001).
    register(
        "streaming_dim_user_info",
        lambda spark, sf: _sp.stream_dim_app(spark, sf)["dim_user_info"],
        ORACLES.get("dim_user_info"),
    )

    # J8 live: watermarked stream-stream FULL OUTER join — outer rows emit
    # only when both watermarks pass the join bound, so the contract is
    # the BANDED full outer (its own oracle): a same-key pair further
    # apart than the band is two unmatched rows, exactly what bounded
    # streaming state can ever produce. At sf0.01/sf0.1 every same-key
    # pair has delta 0 and the banded result equals the unbanded J8; the
    # sf0.001 fixture carries one colliding detail id ~3 years apart,
    # which the band correctly splits.
    register(
        "streaming_activity_coupon_full_outer",
        _sp.stream_activity_coupon_full_outer,
        oracle.sql(
            """SELECT coalesce(a.order_detail_id, c.order_detail_id) AS order_detail_id,
                      a.activity_id, a.activity_rule_id,
                      c.coupon_id, c.coupon_use_id
               FROM order_detail_activity_cdc a
               FULL OUTER JOIN order_detail_coupon_cdc c
                 ON a.order_detail_id = c.order_detail_id
                AND abs(CAST(a.ts AS BIGINT) - CAST(c.ts AS BIGINT)) <= 5""",
            "order_detail_activity_cdc",
            "order_detail_coupon_cdc",
        ),
    )

    # K2/W11 exactly-once: checkpointed parquet sink, killed after the
    # first committed batch and resumed from the same checkpoint; the
    # recovered sink must hash against the plain batch oracle (any lost or
    # duplicated row fails the driver's value hash).
    register(
        "sink_checkpoint_recovery",
        _sp.stream_checkpoint_recovery,
        ORACLES.get("dwd_interaction_favor_add"),
    )

    # K3 upsert-kafka-equivalent sink: per-batch keyed MERGE, last writer
    # wins; final table = argmax-ts row per id (ties impossible: insert
    # and update ts differ by 1 h in the synthesized stream).
    register(
        "streaming_order_info_upsert",
        _sp.stream_order_info_upsert,
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

    # The same program under a second name; both names are in the driver
    # contract.
    register(
        "streaming_order_info_upsert_snapshot",
        _sp.stream_order_info_upsert,
        ORACLES.get("streaming_order_info_upsert"),
    )

    # D4/W6 keep-latest with 5 s event-time debounce: deterministic —
    # one emission per (id, 5 s burst). In the synthesized order_info
    # stream every CDC event is its own burst (insert and update are 1 h
    # apart), so the exact expected multiset is the raw CDC projection.
    register(
        "streaming_order_info_debounce",
        _sp.stream_order_info_latest,
        oracle.sql(
            "SELECT id, order_status, operate_time, "
            "CAST(ts AS BIGINT) AS ts FROM order_info_cdc",
            "order_info_cdc",
        ),
    )


_register_streaming()


