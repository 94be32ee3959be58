"""Reference-job parity map (SURVEY.md §2.12 — the 23 Flink jobs + ADS).

Each entry names one runnable program of the reference and the catalog
queries / streaming operators that reproduce its computation here. The
batch queries are the DuckDB-checked truth; the ``streaming`` column
names the streaming-mode implementation where the job is stateful
(tests assert stream≡batch convergence).

``run_job(spark, sf_dir, job)`` executes every batch query a job maps
to — the "switch from the reference" entry point: a user picks their
job, gets the same outputs from the fixtures.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from flink_spark.registry import all_queries


@dataclass(frozen=True)
class JobParity:
    """One reference program and what reproduces it in this engine."""

    ref: str                                  # reference class (file under rt/)
    queries: tuple[str, ...]                  # batch catalog queries
    streaming: tuple[str, ...] = field(default_factory=tuple)  # streaming ops
    notes: str = ""


JOBS: dict[str, JobParity] = {
    # --- DIM -----------------------------------------------------------
    "DimApp": JobParity(
        ref="rt/app/dim/DimApp.java",
        queries=("r_config_routing", "p_split_counts"),
        streaming=("sinks.dim_app", "sinks.routed_dim_sink",
                   "sources.JdbcCdcCapture"),
        notes="CDC parse + dirty split + broadcast config routing + routed "
              "dim writes; dim_app wires the LIVE config path (JDBC-CDC "
              "captured table_process driving per-batch rules)",
    ),
    # --- DWD log -------------------------------------------------------
    "BaseLogApp": JobParity(
        ref="rt/app/dwd/log/BaseLogApp.java",
        queries=("p_split_counts", "s_new_vs_returning"),
        streaming=("state.is_new_correction_stream", "sinks.routed_dim_sink"),
        notes="tolerant parse, is_new correction, 1→5 split, per-branch kafka sinks",
    ),
    "DwdTrafficUniqueVisitorDetail": JobParity(
        ref="rt/app/dwd/log/DwdTrafficUniqueVisitorDetail.java",
        queries=("s_daily_unique_users",),
        streaming=("state.daily_unique_stream",),
    ),
    "DwdTrafficUserJumpDetail": JobParity(
        ref="rt/app/dwd/log/DwdTrafficUserJumpDetail.java",
        queries=("s_cep_jump", "s_cep_browse_buy"),
        streaming=("state.cep_jump_stream", "cep.pattern_stream"),
        notes="CEP via declarative SeqPattern (plans/cep.py): the jump is "
        "the timeout side of a 2-step pattern; browse_buy proves a second "
        "pattern is a declaration, not a new state machine",
    ),
    # --- DWD db --------------------------------------------------------
    "DwdTradeCartAdd": JobParity(
        ref="rt/app/dwd/db/DwdTradeCartAdd.java",
        queries=("p_conditional_delta", "p_cdc_map_projection", "j_broadcast_dim_join"),
        notes="CDC map projection, insert/update delta, dic lookup join",
    ),
    "DwdTradeOrderPreProcess": JobParity(
        ref="rt/app/dwd/db/DwdTradeOrderPreProcess.java",
        queries=(
            "j_wide_order_5way",
            "j_left_outer_enrich",
            "j_left_outer_interval",
            "j_two_key_join",
            "p_cdc_map_projection",
            "sql_dwd_topic_db",
        ),
        streaming=(
            "jobs.interval_join_stream",
            "jobs.left_outer_interval_join_stream",
            "sinks.upsert_sink",
        ),
        notes="5-way stream join + upsert-kafka changelog (final-table "
        "equivalent; left-outer null-pads at watermark, J2→K3→A5); "
        "j_wide_order_5way composes the full od⋈oi⟕act⟕cou⋈dic wide row; "
        "sql_dwd_topic_db is the job as pure SQL strings (getTopicDb DDL)",
    ),
    "DwdTradeOrderDetail": JobParity(
        ref="rt/app/dwd/db/DwdTradeOrderDetail.java",
        queries=("p_projection_filter",),
        notes="insert-only filter of the pre-processed stream",
    ),
    "DwdTradeCancelDetail": JobParity(
        ref="rt/app/dwd/db/DwdTradeCancelDetail.java",
        queries=("p_conditional_delta",),
        notes="old-image status-transition predicate",
    ),
    "DwdTradePayDetailSuc": JobParity(
        ref="rt/app/dwd/db/DwdTradePayDetailSuc.java",
        queries=("j_two_key_join", "j_broadcast_dim_join"),
        streaming=("jobs.interval_join_stream", "sinks.upsert_sink"),
    ),
    "DwdTradeOrderRefund": JobParity(
        ref="rt/app/dwd/db/DwdTradeOrderRefund.java",
        queries=("j_broadcast_dim_join", "p_json_extract"),
        notes="refund ⋈ order ⋈ dic×2 (same dim under two keys)",
    ),
    "DwdTradeRefundPaySuc": JobParity(
        ref="rt/app/dwd/db/DwdTradeRefundPaySuc.java",
        queries=("j_two_key_join",),
        notes="two-column join key",
    ),
    "DwdToolCoupon*": JobParity(
        ref="rt/app/dwd/db/DwdToolCouponGet/Order/Pay.java",
        queries=("p_conditional_delta", "p_projection_filter"),
        notes="coupon_use status transitions",
    ),
    "DwdInteractionComment": JobParity(
        ref="rt/app/dwd/db/DwdInteractionComment.java",
        queries=("j_broadcast_dim_join",),
    ),
    "DwdInteractionFavorAdd": JobParity(
        ref="rt/app/dwd/db/DwdInteractionFavorAdd.java",
        queries=("p_projection_filter",),
    ),
    "DwdUserRegister": JobParity(
        ref="rt/app/dwd/db/DwdUserRegister.java",
        queries=("f_scalar_datetime",),
        notes="insert filter + date_id derivation",
    ),
    # --- DWS -----------------------------------------------------------
    "DwsTrafficSourceKeywordPageViewWindow": JobParity(
        ref="rt/app/dws/DwsTrafficSourceKeywordPageViewWindow.java",
        queries=("w_keyword_tumble", "t_keyword_counts", "t_cjk_keyword_counts"),
        streaming=("jobs.keyword_tumble_stream",),
        notes="F1 tokenizer UDTF (CJK bigrams ≈ IK segmentation) + "
              "LATERAL TABLE + TUMBLE count",
    ),
    "DwsTrafficVcChArIsNewPageViewWindow": JobParity(
        ref="rt/app/dws/DwsTrafficVcChArIsNewPageViewWindow.java",
        queries=("w_tumble_10s_keyed", "u_union_metrics"),
        streaming=("jobs.tumble_stream",),
        notes="3-stream union + keyed 10 s reduce",
    ),
    "DwsTrafficPageViewWindow": JobParity(
        ref="rt/app/dws/DwsTrafficPageViewWindow.java",
        queries=("w_tumble_10s_global", "s_daily_unique_users"),
        streaming=("state.daily_unique_stream", "jobs.tumble_stream"),
    ),
    "DwsUserUserLoginWindow": JobParity(
        ref="rt/app/dws/DwsUserUserLoginWindow.java",
        queries=("s_returning_users_7d", "w_tumble_10s_global"),
        streaming=("state.returning_users_stream",),
        notes="7-day back-flow rule (intended semantics; ref has precedence bug)",
    ),
    "DwsUserUserRegisterWindow": JobParity(
        ref="rt/app/dws/DwsUserUserRegisterWindow.java",
        queries=("w_tumble_10s_global",),
    ),
    "DwsTradeCartAddUuWindow": JobParity(
        ref="rt/app/dws/DwsTradeCartAddUuWindow.java",
        queries=("w_event_time_fallback", "s_daily_unique_users"),
        notes="operate_time ?? create_time event-time chain",
    ),
    "DwsTradeOrderWindow": JobParity(
        ref="rt/app/dws/DwsTradeOrderWindow.java",
        queries=("s_new_vs_returning", "w_tumble_10s_global"),
        streaming=("state.is_new_correction_stream",),
    ),
    "DwsTradePaymentSucWindow": JobParity(
        ref="rt/app/dws/DwsTradePaymentSucWindow.java",
        queries=("s_new_vs_returning", "w_event_time_fallback"),
    ),
    "DwsTradeSkuOrderWindow": JobParity(
        ref="rt/app/dws/DwsTradeSkuOrderWindow.java",
        queries=("s_dedup_latest", "w_agg_distinct_users", "q5_local_supplier_volume"),
        streaming=("sinks.upsert_sink", "jobs.distinct_users_tumble_stream",
                   "changelog.changelog_agg_stream"),
        notes="changelog dedup + exact distinct (dedup→window chained "
              "stateful ops) + snowflake broadcast enrichment; "
              "changelog_agg_stream is the upsert-topic CONSUMER side "
              "(DwsTradeSkuOrderWindow.java:81-111): folds -U/+U retraction "
              "pairs into incrementally-maintained per-group sums",
    ),
    "DwsTradeProvinceOrderWindow": JobParity(
        ref="rt/app/dws/DwsTradeProvinceOrderWindow.java",
        queries=("w_tumble_10s_keyed", "j_broadcast_dim_join"),
    ),
    "DwsTradeTrademarkCategoryUserRefundWindow": JobParity(
        ref="rt/app/dws/DwsTradeTrademarkCategoryUserRefundWindow.java",
        queries=("j_broadcast_dim_join", "w_tumble_10s_keyed"),
        notes="dim join placed before the window (group key needs dim fields)",
    ),
    # --- ADS -----------------------------------------------------------
    # 1:1 @Select parity, mapper by mapper (pub22 = gmall-publisher-2022
    # /src/main/java/com/atguigu/gmall/publisher/mapper):
    #   UserStatsMapper.java:12-53 selectUvByPage,
    #     :38-53 selectUserChangeCtPerType, :55-66 selectTradeUserCt
    #     → ads_funnel_union (labeled UNION of UV counts; single-scan
    #       stack rewrite, oracle keeps UNION ALL form)
    #   CommodityStatsMapper.java:15-37 selectTrademarkStats
    #     → j_full_outer_metrics (single-key order⟗refund)
    #   CommodityStatsMapper.java:39-44 selectTmOrderAmtPieGra,
    #     :119-120 selectGmvByTm → ads_gmv_topk_brand
    #   CommodityStatsMapper.java:52-91 selectCategoryStats
    #     → ads_category_fullouter (composite-key ⟗)
    #   CommodityStatsMapper.java:93-99 selectSpuStats
    #     → ads_province_stats (group by (id,name), ct+amount rollup)
    #   CouponStatsMapper.java:10-17, ActivityStatsMapper.java:10-17
    #     → ads_subsidy_rate (round(round(x,5)/round(y,5),20))
    #   TrafficKeywordsMapper.java:10-21 → ads_keyword_score
    #     (keyword × source multiIf weights)
    #   TradeStatsMapper.java:12-16 selectTotalAmount
    #     → sql_revenue_forecast (scalar rollup)
    #   TradeStatsMapper.java:18-38 selectTradeStats
    #     → u_union_metrics + ads_funnel_union (labeled metric union
    #       incl. count-distinct legs)
    #   TradeStatsMapper.java:33-53 selectTradeProvinceOrderCt /
    #     selectTradeProvinceOrderAmount → ads_province_stats
    #     (incl. the name IS NOT NULL AND != '' guard)
    #   TrafficVisitorStatsMapper.java:11-21 selectVisitorTypeStats
    #     → s_new_vs_returning + ads_channel_stats
    #   TrafficVisitorStatsMapper.java:23-31 selectVisitorStatsPerHr
    #     → ads_hourly_stats (toYYYYMMDD/toHour + if(is_new) leg)
    #   TrafficChannelStatsMapper.java:11-49 selectUvCt/selectSvCt/
    #     selectPvPerSession/selectDurPerSession/selectUjRate
    #     → ads_channel_stats (per-channel sums + ratio metrics)
    #   pub/mapper/UvMapper.java:11-12 → ads_topk_users
    "ADS (pub22 + pub mappers)": JobParity(
        ref="pub22/mapper/*.java, pub/mapper/*.java",
        queries=(
            "ads_channel_stats",
            "ads_conditional_score",
            "ads_hourly_stats",
            "ads_topk_users",
            "ads_funnel_union",
            "ads_category_fullouter",
            "ads_gmv_topk_brand",
            "ads_subsidy_rate",
            "ads_keyword_score",
            "ads_province_stats",
            "j_full_outer_metrics",
            "u_union_metrics",
            "q1_pricing_summary",
            "q3_shipping_priority",
            "q10_returned_items",
            "sql_revenue_forecast",
        ),
        notes="all 22 @Select queries across the 8 pub22 mappers + pub "
        "UvMapper mapped 1:1 (see comment above for the per-mapper map)",
    ),
}


# SURVEY.md §2 operator-code → implementation evidence. Each entry:
# (implementation site, catalog queries and/or tests exercising it).
OPERATOR_COVERAGE: dict[str, tuple[str, tuple[str, ...]]] = {
    "S1": ("streaming/sources.py:kafka_source", ()),
    "S2": ("streaming/sources.py:kafka_json_source", ("sql_dwd_topic_db",)),
    "S3": ("streaming/sources.py:cdc_envelope_schema", ("p_cdc_map_projection", "sql_dwd_topic_db")),
    "S4": ("streaming/sources.py:cdc_envelope_source (Debezium→Kafka topic)", ()),
    "S5": ("sources/__init__.py:jdbc_dim (real Derby-embedded test)", ("j_broadcast_dim_join", "tests/test_jdbc.py::test_jdbc_dim_partitioned_read_and_broadcast_join")),
    "S6": ("streaming/sources.py:socket_source (real TCP test)", ("tests/test_streaming.py::test_socket_source_word_count",)),
    "K1": ("streaming/sinks.py:kafka_payload", ("tests/test_streaming.py::test_kafka_payload_roundtrip",)),
    "K2": ("streaming/sinks.py:kafka_payload", ()),
    "K3": ("streaming/sinks.py:upsert_sink", ("s_dedup_latest", "tests/test_streaming.py::test_upsert_sink_latest_row")),
    "K4": ("streaming/sinks.py:foreach_batch_sink (at-least-once, the reference's ReplacingMergeTree contract) + jdbc_exactly_once_sink (staged transaction + epoch ledger for targets without a dedup engine); real Derby-embedded tests", ("tests/test_jdbc.py::test_jdbc_foreach_batch_sink_appends", "tests/test_jdbc.py::test_jdbc_exactly_once_sink_survives_replay")),
    "K5": ("streaming/sinks.py:routed_dim_sink", ("tests/test_streaming.py::test_routed_dim_sink",)),
    "K6": ("streaming/sinks.py:console_sink", ()),
    "P1": ("plans/routing.py:split_events", ("p_split_counts", "tests/test_routing.py::test_split_dirty_side_output")),
    "P2": ("plans/routing.py:p_cdc_map_projection", ("p_cdc_map_projection",)),
    "P3": ("plans/relational.py (when/cast arithmetic)", ("p_conditional_delta",)),
    "P4": ("plans/relational.py (old-image predicate)", ("p_conditional_delta",)),
    "P5": ("plans/routing.py:split_events", ("p_split_counts", "tests/test_routing.py::test_split_partitions_input")),
    "P6": ("explode", ("t_keyword_counts", "w_keyword_tumble")),
    "P7": ("map_filter by config", ("r_config_routing",)),
    "P8": ("aliasing/withColumn throughout", ("p_projection_filter",)),
    "J1": ("streaming/jobs.py:interval_join_stream; batch joins", ("j_two_key_join", "tests/test_streaming_join.py::test_stream_stream_interval_join")),
    "J2": ("left outer join; streaming/jobs.py:left_outer_interval_join_stream (null-pad at watermark → upsert merge)", ("j_left_outer_enrich", "j_left_outer_interval", "j_wide_order_5way", "tests/test_streaming_join.py::test_streaming_left_outer_join_changelog")),
    "J3": ("broadcast dim join; per-batch dim re-snapshot = temporal AS OF", ("j_broadcast_dim_join", "tests/test_streaming.py::test_lookup_join_sees_dim_updates")),
    "J4": ("interval join", ("j_interval_join",)),
    "J5": ("broadcast replaces async point-gets; LRU cache-aside path for beyond-broadcast dims", ("j_broadcast_dim_join", "j_lru_dim_join")),
    "J5a": ("pre-flattened snowflake + broadcast", ("q5_local_supplier_volume",)),
    "J6": ("broadcast config join", ("r_config_routing",)),
    "J7": ("full outer join (single + composite key)", ("j_full_outer_metrics", "ads_category_fullouter")),
    "A1": ("windows.py keyed tumble", ("w_tumble_10s_keyed",)),
    "A2": ("windows.py global tumble", ("w_tumble_10s_global",)),
    "A3": ("tokenize+explode+tumble", ("w_keyword_tumble", "tests/test_streaming.py::test_keyword_tumble_stream_equals_batch")),
    "A4": ("exact distinct in window group", ("w_agg_distinct_users", "tests/test_streaming.py::test_distinct_users_stream_equals_batch")),
    "A5": ("latest-row dedup", ("s_dedup_latest",)),
    "A6": ("daily dedup", ("s_daily_unique_users",)),
    "A7": ("visitor-flag correction", ("s_new_vs_returning",)),
    "A8": ("ADS rollups", ("ads_channel_stats", "ads_hourly_stats", "ads_province_stats")),
    "A9": ("ratio metrics", ("ads_channel_stats", "ads_subsidy_rate")),
    "A10": ("conditional aggregation", ("ads_conditional_score", "ads_keyword_score")),
    "A11": ("count(distinct) dailies", ("s_daily_unique_users",)),
    "T1-T3": ("TakeOrderedAndProject top-k", ("ads_topk_users", "ads_gmv_topk_brand", "q3_shipping_priority")),
    "U1": ("union", ("u_union_metrics",)),
    "U2": ("CEP match ∪ timeout", ("s_cep_jump", "tests/test_streaming.py::test_cep_jump_stream_equals_batch")),
    "U3": ("labeled metric union (single-scan stack rewrite)", ("u_union_metrics", "ads_funnel_union")),
    "2.9": ("functions/scalar.py + functions/text.py", ("f_scalar_datetime", "ads_hourly_stats")),
    "W1": ("withWatermark", ("tests/test_streaming.py::test_tumble_stream_equals_batch",)),
    "W2": ("event-time fallback chain", ("w_event_time_fallback",)),
    "W3": ("10s tumbling windows", ("w_tumble_10s_keyed",)),
    "W5": ("watermark-evicted dropDuplicates over a 1-day event-time window", ("tests/test_streaming.py::test_daily_unique_stream_equals_batch",)),
    "W6": ("event-time timers", ("tests/test_streaming.py::test_cep_jump_stream_equals_batch",)),
    "W7": ("watermark-bounded join state", ("tests/test_streaming_join.py::test_stream_stream_interval_join",)),
    "W8": ("CEP via SeqPattern evaluator", ("s_cep_jump", "s_cep_browse_buy", "tests/test_cep.py::test_pattern_stream_browse_buy_equals_batch")),
    "W9": ("checkpoint/restart", ("tests/test_streaming_join.py::test_checkpoint_restart_exactly_once",)),
    "W10": ("per-batch config broadcast", ("tests/test_streaming.py::test_routed_dim_sink",)),
    "F1": ("tokenizer UDTF → tokenize+explode", ("t_keyword_counts",)),
    "F3": ("config-routing foreachBatch", ("tests/test_streaming.py::test_routed_dim_sink",)),
    "F4": ("rich stateful ops", ("tests/test_streaming.py::test_is_new_correction_equals_batch",)),
    "REST": ("serving.py: publisher controller routes → catalog queries, Sugar envelope", ("tests/test_serving.py::test_province_map_endpoint_matches_query",)),
    "DEDUP-STREAM": ("streaming/dedup.py: incremental exact + MinHash-LSH dedup vs survivor store (epoch-idempotent)", ("tests/test_streaming_dedup.py::test_neardup_stream_matches_simulation",)),
    "DEDUP-CLUSTER": ("plans/graph.py: connected components shared by text + embedding dup clustering", ("t_dup_clusters", "e_dup_clusters")),
    # --- engine extensions beyond the reference surface (round 6) ---
    "WIN-SESSION": ("session_window batch + streaming (60 s gap)", ("w_sessionize", "tests/test_streaming.py::test_sessionize_stream_equals_batch")),
    "WIN-HOP": ("sliding windows, batch + streaming slide", ("w_hop_windows", "tests/test_streaming.py::test_hop_stream_equals_batch")),
    "WIN-CUMULATE": ("Flink CUMULATE as explode+filter expression", ("w_cumulate_windows",)),
    "WIN-TOPN": ("windowed Top-N (hot items)", ("w_topn_per_window",)),
    "JOIN-ASOF": ("as-of join: merge formulation batch; finalize-on-watermark streaming (disorder-horizon-bounded state)", ("j_asof_nearest", "tests/test_streaming.py::test_asof_stream_equals_batch", "tests/test_streaming.py::test_asof_stream_disorder_matches_bruteforce")),
    "JOIN-RANGE": ("band range join (broadcast NLJ pinned)", ("j_range_band",)),
    "JOIN-SEMI-ANTI": ("existence joins as LeftSemi/LeftAnti nodes", ("j_semi_anti_customers",)),
    "PIVOT": ("groupBy().pivot() with pinned values", ("p_pivot_event_matrix",)),
    "SKETCH": ("HLL distinct + quantile sketch (mergeable), accuracy-tested", ("a_approx_sketch_daily", "tests/test_plans.py::test_approx_sketches_within_tolerance")),
    "COHORT": ("retention cohort matrix, integer epoch-day math", ("s_retention_cohorts",)),
    "DEDUP-CHUNK": ("CCNet paragraph-granularity exact dedup audit", ("t_chunk_dedup",)),
    "DEDUP-XSOURCE": ("priority-ordered cross-source dedup ledger", ("t_cross_source_dedup",)),
    "LM-FILTER": ("unigram-LM quality scoring (CCNet filter shape)", ("t_unigram_lm_score",)),
    "TFIDF": ("distinctive terms, integer-exact TF-IDF structure", ("t_distinctive_terms",)),
    "CENTROID": ("per-label centroid compactness audit", ("e_centroid_stats",)),
    "ANN-PQ": ("product-quantization ANN: ADC code scan + exact re-rank; IVF+PQ composed index with persisted cell-partitioned codes", ("e_pq_adc_topk", "e_ivfpq_topk")),
    "ANN-FILTERED": ("metadata-filtered top-k (label as the join key)", ("e_filtered_topk",)),
    "SEMDEDUP": ("cluster-assigned cosine dedup (per-cell kernel)", ("e_semantic_dedup",)),
    "SEM-DECON": ("embedding-space eval-set decontamination (fixed-size broadcast probe)", ("e_semantic_decontaminate", "tests/test_plans.py::test_semantic_decontaminate_broadcasts_eval_set")),
    "DECON-POLICY": ("overlap-fraction and span-excision decontamination policies (integer-exact thresholds, interval-union span accounting)", ("t_decontaminate_fraction", "t_decontaminate_spans")),
    "CHUNKING": ("context-window chunking audit (stride/overlap windows, expansion-ratio accounting)", ("t_context_chunks",)),
    "DEDUP-SUBSTRING": ("corpus-wide exact-substring dedup (keep-first repeated spans, fixed-width gram formulation of the suffix-array pass)", ("t_substring_dedup", "t_repeated_ngram_coverage")),
    "PII": ("PII redaction audit (regex family, span accounting)", ("t_pii_redact",)),
    "MIX-REWEIGHT": ("quality-bucket mixture reweighting", ("t_quality_mixture_reweight",)),
    "BPE-TRAIN": ("distributed BPE merge-table training + segmenter; deterministic training-order shuffle", ("t_bpe_train", "t_bpe_segment", "t_shuffle_shards")),
    "CHANGELOG-CONSUMER": ("streaming/changelog.py: retract-stream consumer — incremental rollups behind a producer-epoch watermark, bootstrap-from-table, changelog retention", ("tests/test_streaming.py::test_changelog_incremental_agg", "tests/test_streaming.py::test_changelog_bootstrap_and_retention")),
    "JDBC-ONCE": ("streaming/sinks.py:jdbc_exactly_once_sink — staged transaction + epoch ledger", ("tests/test_jdbc.py::test_jdbc_exactly_once_sink_survives_replay",)),
    "UPSERT-RANGE": ("upsert_sink(bucket_expr=...): range-bucketed layout for append-mostly keyed tables (flat merge cost)", ("tests/test_streaming.py::test_upsert_range_bucketing_equals_hash",)),
    # --- round 7 ---
    "WIN-CUMULATE-STREAM": ("streaming CUMULATE via chained stateful aggregations (append mode)", ("tests/test_streaming.py::test_cumulate_stream_equals_batch",)),
    "BM25": ("Okapi BM25 top-k retrieval scoring (scan-projection tf/dl, one-row stats broadcast, TakeOrdered)", ("t_bm25_topk",)),
    "ZIPF": ("Zipf head profile — token-mass concentration audit", ("t_zipf_profile",)),
    "DEDUP-CONTAIN": ("containment (subset) near-dup over the df-capped inverted index", ("t_containment_dups",)),
    "PROFILE": ("single-pass table profiler with exact/approx-distinct knob", ("t_table_profile", "tests/test_plans.py::test_table_profile_approx_knob_drops_expand")),
    "DECON-STREAM": ("streaming benchmark decontamination (stateless broadcast probe per batch)", ("tests/test_streaming_dedup.py::test_decontaminate_stream_equals_batch",)),
}


def run_job(
    spark: SparkSession, sf_dir: str, job: str
) -> dict[str, DataFrame]:
    """Run every batch query a reference job maps to."""
    parity = JOBS[job]
    catalog = all_queries()
    return {name: catalog[name].fn(spark, sf_dir) for name in parity.queries}


def coverage_report() -> list[tuple[str, str, int, int]]:
    """(job, ref, n_batch_queries, n_streaming_ops) per reference job."""
    return [
        (name, p.ref, len(p.queries), len(p.streaming))
        for name, p in JOBS.items()
    ]
