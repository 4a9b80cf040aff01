"""Central query registry: name -> (spark, sf_dir) -> DataFrame, plus
the matching DuckDB oracle SQL. ``__spark_entry__`` re-exports these.

Conventions (driver contract):
- every computed column is aliased identically in Spark and SQL;
- timestamps/window bounds emitted as epoch BIGINT;
- arrays emitted as sorted comma-joined strings;
- money aggregates computed in exact DECIMAL (order-independent sums)
  but the FINAL output column cast to DOUBLE on both sides — the
  driver's canonicalization strips decimal trailing zeros on one side
  only, so emitted decimals hash-mismatch; exact-decimal -> double is
  bit-identical in both engines;
- queries without an oracle entry (approx sketches, stateful
  streaming) get the driver's rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from . import bot_detection as bd
from . import dedup_queries as dq
from . import events_queries as ev
from . import multimodal_queries as mq
from . import pipeline_queries as pq
from . import relational as rel
from . import similarity_queries as sq
from . import text_queries as tq
from . import timeseries_queries as ts

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def register(name: str, fn: QueryFn, oracle: str | None = None) -> None:
    QUERIES[name] = fn
    if oracle is not None:
        ORACLES[name] = oracle


# --- reference-parity bot-detection family (SURVEY §2.3-2.5, F1) -----------
register(
    "bot_stats_sliding", bd.windowed_stats_sliding, bd.ORACLE_STATS_SLIDING
)
register(
    "bot_stats_tumbling", bd.windowed_stats_tumbling, bd.ORACLE_STATS_TUMBLING
)
register(
    "bot_stats_two_level", bd.windowed_stats_two_level, bd.ORACLE_STATS_SLIDING
)
register("bot_classified_windows", bd.classified_stats, bd.ORACLE_CLASSIFIED)
register("bot_classified_totals", bd.classified_totals, bd.ORACLE_TOTALS_CLASSIFIED)
register(
    "bot_classified_totals_salted",
    bd.classified_totals_salted,
    bd.ORACLE_TOTALS_CLASSIFIED,
)
register("bot_verdicts", bd.bot_verdicts, bd.ORACLE_BOT_VERDICTS)

# --- relational surface: join family, sorts, OVER windows, set ops ----------
register("tpch_q1_pricing_summary", rel.q1_pricing_summary, rel.ORACLE_Q1)
register("tpch_q3_shipping_priority", rel.q3_shipping_priority, rel.ORACLE_Q3)
register("tpch_q4_order_priority", rel.q4_order_priority, rel.ORACLE_Q4)
register("tpch_q5_local_supplier_volume", rel.q5_local_supplier_volume, rel.ORACLE_Q5)
register("tpch_q6_revenue_forecast", rel.q6_revenue_forecast, rel.ORACLE_Q6)
register("tpch_q10_returned_items", rel.q10_returned_items, rel.ORACLE_Q10)
register("tpch_q14_promo_revenue", rel.q14_promo_revenue, rel.ORACLE_Q14)
register("tpch_q18_large_volume", rel.q18_large_volume, rel.ORACLE_Q18)
register("join_semi_customers_with_orders", rel.customers_with_orders, rel.ORACLE_SEMI)
register(
    "join_anti_customers_without_orders",
    rel.customers_without_orders,
    rel.ORACLE_ANTI,
)
register("window_topk_parts_per_brand", rel.topk_parts_per_brand, rel.ORACLE_TOPK)
register(
    "window_running_revenue", rel.supplier_running_revenue, rel.ORACLE_RUNNING
)
register("set_ops_nations", rel.nation_set_ops, rel.ORACLE_SET_OPS)
register("rollup_revenue", rel.revenue_rollup, rel.ORACLE_ROLLUP)
register(
    "rollup_orders_time_hierarchy",
    rel.rollup_orders_time_hierarchy,
    rel.ORACLE_ROLLUP_TIME,
)
register("pivot_orders_status", rel.orders_pivot_status, rel.ORACLE_PIVOT)
register("unpivot_orders_status", rel.orders_unpivot_status, rel.ORACLE_UNPIVOT)
register("tpch_q12_priority_class", rel.q12_priority_class, rel.ORACLE_Q12)
register("tpch_q19_disjunctive", rel.q19_disjunctive_revenue, rel.ORACLE_Q19)
register(
    "median_price_by_returnflag",
    rel.median_price_by_returnflag,
    rel.ORACLE_MEDIAN,
)
register(
    "customer_order_histogram", rel.customer_order_histogram, rel.ORACLE_HISTOGRAM
)
register("cheapest_part_per_brand", rel.cheapest_part_per_brand, rel.ORACLE_CHEAPEST)
register("tpch_q7_volume_shipping", rel.q7_volume_shipping, rel.ORACLE_Q7)
register("tpch_q8_market_share", rel.q8_market_share, rel.ORACLE_Q8)
register("tpch_q15_top_supplier", rel.q15_top_supplier, rel.ORACLE_Q15)
register(
    "tpch_q17_small_quantity_revenue",
    rel.q17_small_quantity_revenue,
    rel.ORACLE_Q17,
)
register("tpch_q22_inactive_customers", rel.q22_inactive_customers, rel.ORACLE_Q22)
register("cube_revenue", rel.revenue_cube, rel.ORACLE_CUBE)
register(
    "tpch_q11_balance_concentration",
    rel.q11_balance_concentration,
    rel.ORACLE_Q11,
)
register(
    "window_supplier_revenue_quartiles",
    rel.supplier_revenue_quartiles,
    rel.ORACLE_QUARTILES,
)
register(
    "grouping_sets_revenue", rel.grouping_sets_revenue, rel.ORACLE_GROUPING_SETS
)
register(
    "join_salted_priority_revenue",
    rel.salted_priority_revenue,
    rel.ORACLE_SALTED_JOIN,
)
register(
    "stats_quantity_price", rel.stats_quantity_price, rel.ORACLE_STATS_MOMENTS
)
register(
    "window_rank_family", rel.part_price_rank_family, rel.ORACLE_RANK_FAMILY
)
register("tpch_q9_product_profit", rel.q9_product_profit, rel.ORACLE_Q9)
register(
    "tpch_q13_customer_distribution",
    rel.q13_customer_distribution,
    rel.ORACLE_Q13,
)
register("tpch_q21_waiting_suppliers", rel.q21_waiting_suppliers, rel.ORACLE_Q21)
register("tpch_q2_min_cost_supplier", rel.q2_min_cost_supplier, rel.ORACLE_Q2)
register(
    "tpch_q16_supplier_part_counts",
    rel.q16_supplier_part_counts,
    rel.ORACLE_Q16,
)
register("tpch_q20_excess_shippers", rel.q20_excess_shippers, rel.ORACLE_Q20)

# --- event-stream analytics (session windows, sequences, rollups, X1) -------
register("events_log_records", bd.normalized_log_records, bd.ORACLE_NORMALIZED)
register("sessionize_events", ev.sessionize_events, ev.ORACLE_SESSIONIZE)
register(
    "sessionize_events_dynamic_gap",
    ev.sessionize_events_dynamic_gap,
    ev.ORACLE_SESSIONIZE_DYNAMIC,
)
# range-join closure: same oracle as sessionize_events — the hash
# check proves the bucketized range join reconstructs sessions exactly
register(
    "range_join_session_events",
    ev.range_join_session_events,
    ev.ORACLE_SESSIONIZE,
)
register("top_users_by_events", ev.top_users_by_events, ev.ORACLE_TOP_USERS)
register("daily_active_users", ev.daily_active_users, ev.ORACLE_DAU)
register("orders_by_weekday", ev.orders_by_weekday, ev.ORACLE_ORDERS_BY_WEEKDAY)
register("event_lag_deltas", ev.event_lag_deltas, ev.ORACLE_LAG)
register("hourly_event_counts", ev.hourly_event_counts, ev.ORACLE_HOURLY)
register("dedup_events_exact", ev.dedup_events_exact, ev.ORACLE_DEDUP_EXACT)
register("view_to_click_funnel", ev.view_to_click_funnel, ev.ORACLE_FUNNEL)
register(
    "funnel_three_step", ev.funnel_three_step, ev.ORACLE_FUNNEL_THREE_STEP
)
register(
    "join_full_outer_reconcile",
    ev.reconcile_clicks_vs_purchases,
    ev.ORACLE_RECONCILE,
)

# --- text analysis (X3) ------------------------------------------------------
register("text_metrics", tq.text_metrics, tq.ORACLE_TEXT_METRICS)
register("text_fingerprints", tq.document_fingerprints, tq.ORACLE_FINGERPRINTS)
register("text_lang_quality_rollup", tq.lang_quality_rollup, tq.ORACLE_LANG_ROLLUP)
register("text_term_frequencies", tq.term_frequencies, tq.ORACLE_TERM_FREQUENCIES)
register("text_curation_pipeline", tq.curation_pipeline, tq.ORACLE_CURATION)
register(
    "text_lang_confusion", tq.lang_confusion_matrix, tq.ORACLE_LANG_CONFUSION
)
register(
    "text_doc_length_histogram",
    tq.doc_length_histogram,
    tq.ORACLE_DOC_LENGTH_HISTOGRAM,
)
register("text_pii_scan", tq.text_pii_scan, tq.ORACLE_PII_SCAN)
register(
    "text_gopher_rules", tq.gopher_quality_rules, tq.ORACLE_GOPHER_RULES
)

# --- dedup family (X1/X2) ----------------------------------------------------
register("dedup_documents_exact", dq.dedup_documents_exact, dq.ORACLE_DEDUP_EXACT_DOCS)
register("dedup_minhash_bands", dq.minhash_band_table, dq.ORACLE_MINHASH_BANDS)
register(
    "dedup_minhash_candidates",
    dq.minhash_near_dup_candidates,
    dq.ORACLE_MINHASH_CANDIDATES,
)
register("dedup_ngram_jaccard", dq.ngram_jaccard_pairs, dq.ORACLE_NGRAM_JACCARD)
register(
    "dedup_minhash_verified",
    dq.minhash_verified_near_dups,
    dq.ORACLE_MINHASH_VERIFIED,
)
register("dedup_simhash", dq.simhash_fingerprints, dq.ORACLE_SIMHASH)
register(
    "dedup_fuzzy_part_names", dq.fuzzy_part_name_pairs, dq.ORACLE_FUZZY_PARTS
)
register(
    "dedup_embedding_cosine",
    dq.embedding_cosine_near_dups,
    dq.ORACLE_EMBEDDING_COSINE,
)
register(
    "dedup_simhash_candidates",
    dq.simhash_near_dup_candidates,
    dq.ORACLE_SIMHASH_CANDIDATES,
)
register(
    "dedup_simhash_capped",
    dq.simhash_near_dup_capped,
    dq.ORACLE_SIMHASH_CAPPED,
)
register(
    "dedup_incremental_new_docs",
    dq.incremental_dedup_new_docs,
    dq.ORACLE_INCREMENTAL_DEDUP,
)
register(
    "dedup_repeated_paragraphs",
    dq.repeated_paragraphs,
    dq.ORACLE_REPEATED_PARAGRAPHS,
)
register(
    "dedup_minhash_capped",
    dq.minhash_candidates_capped,
    dq.ORACLE_MINHASH_CAPPED,
)
register(
    "curation_end_to_end",
    dq.curation_end_to_end,
    dq.ORACLE_CURATION_END_TO_END,
)
register(
    "decontaminate_documents",
    dq.decontaminate_documents,
    dq.ORACLE_DECONTAMINATE,
)
register(
    "decontaminate_bloom",
    dq.decontaminate_bloom,
    dq.ORACLE_DECONTAMINATE_BLOOM,
)
register(
    "text_boilerplate_removed",
    dq.boilerplate_removed,
    dq.ORACLE_BOILERPLATE_REMOVED,
)
register(
    "text_repetition_scores",
    dq.text_repetition_scores,
    dq.ORACLE_REPETITION,
)
register(
    "dedup_minhash_containment",
    dq.minhash_containment_pairs,
    dq.ORACLE_MINHASH_CONTAINMENT,
)
register(
    "dedup_shingle_novelty",
    dq.doc_shingle_novelty,
    dq.ORACLE_SHINGLE_NOVELTY,
)
register(
    "dedup_source_overlap",
    dq.source_shingle_overlap,
    dq.ORACLE_SOURCE_OVERLAP,
)

# --- similarity search (X2) --------------------------------------------------
register("knn_brute_force", sq.knn_brute_force, sq.ORACLE_KNN_BRUTE)
register("knn_lsh_bucketed", sq.knn_lsh_bucketed, sq.ORACLE_KNN_LSH)
register("knn_lsh_multiprobe", sq.knn_lsh_multiprobe, sq.ORACLE_KNN_MULTIPROBE)
register("embedding_label_centroids", sq.label_centroids, sq.ORACLE_CENTROIDS)
# hash-backed since r9: Lloyd-indexed IVF, oracle replays fit + probe
register("knn_ivf", sq.knn_ivf, sq.ORACLE_KNN_IVF)
# r11: the n_lists="auto" policy form, hash-checked — the oracle
# re-derives k from count(*) before replaying the same fit/probe chain.
# r13: "auto" owns the two-level coarse-quantizer build (the scale
# form); the exact n^1.5 assignment is the explicitly-named twin
register("knn_ivf_auto", sq.knn_ivf_auto, sq.ORACLE_KNN_IVF_AUTO)
register(
    "knn_ivf_exact_build", sq.knn_ivf_exact_build, sq.ORACLE_KNN_IVF_EXACT_BUILD
)

# --- multimodal binary columns (X4) -----------------------------------------
register("media_metadata", mq.media_metadata, mq.ORACLE_MEDIA_METADATA)
register("media_fake_decode", mq.media_fake_decode, mq.ORACLE_FAKE_DECODE)
register("media_fake_resize", mq.media_fake_resize, mq.ORACLE_FAKE_RESIZE)
register("media_video_frames", mq.video_frame_samples, mq.ORACLE_VIDEO_FRAMES)

# --- training-pipeline composites (as-of join, clustering, sampling, tf-idf)
register("asof_click_last_view", pq.asof_click_last_view, pq.ORACLE_ASOF)
register(
    "dedup_clusters",
    pq.dedup_clusters,
    pq.oracle_dedup_clusters(
        # strip the trailing ORDER BY of the shared candidates SQL so it
        # can sit inside a CTE
        dq.ORACLE_MINHASH_CANDIDATES.strip().rsplit("ORDER BY", 1)[0]
    ),
)
register(
    "sample_events_stratified",
    pq.sample_events_stratified,
    pq.ORACLE_SAMPLE_STRATIFIED,
)
register("text_tfidf", pq.text_tfidf, pq.ORACLE_TFIDF)
register(
    "semantic_dedup_keep",
    pq.semantic_dedup_keep,
    pq.ORACLE_SEMANTIC_DEDUP,
)
register(
    "mix_documents_weighted", pq.mix_documents_weighted, pq.ORACLE_MIX_WEIGHTED
)
register(
    "split_documents_tvt",
    pq.split_documents_train_val_test,
    pq.ORACLE_SPLIT_TVT,
)
register(
    "curation_manifest",
    pq.curation_manifest,
    pq._oracle_curation_manifest(dq._SQL_QUALITY),
)
register(
    "shard_documents_balanced",
    pq.shard_documents_balanced,
    pq.ORACLE_SHARD_BALANCED,
)
register(
    "epoch_shuffle_manifest",
    pq.epoch_shuffle_manifest,
    pq.ORACLE_EPOCH_SHUFFLE,
)
register(
    "sample_documents_priority_k",
    pq.sample_documents_priority_k,
    pq.ORACLE_PRIORITY_K,
)
register(
    "dedup_winnowed_candidates",
    dq.dedup_winnowed_candidates,
    dq.ORACLE_WINNOWED,
)
register("text_chunks", pq.text_chunks, pq.ORACLE_CHUNKS)
register(
    "sample_k_per_user", pq.sample_k_per_user, pq.ORACLE_SAMPLE_K_PER_USER
)
register(
    "pack_chunks_into_sequences",
    pq.pack_chunks_into_sequences,
    pq.ORACLE_PACK_CHUNKS,
)
register(
    "embedding_quantize_int8",
    pq.embedding_quantize_int8,
    pq.ORACLE_QUANTIZE,
)
register(
    "event_value_percentiles",
    pq.event_value_percentiles,
    pq.ORACLE_PERCENTILES,
)
register(
    "event_value_percentiles_dd",
    pq.event_value_percentiles_dd,
    pq._oracle_percentiles_dd(),
)

# --- time-series / product analytics over events (semi-structured
# extraction, gap fill, cohorts, anomaly flags, interval sweep-line)
register("events_props_json", ts.events_props_json, ts.ORACLE_PROPS_JSON)
register(
    "events_hourly_gapfill", ts.events_hourly_gapfill, ts.ORACLE_HOURLY_GAPFILL
)
register(
    "user_retention_cohorts", ts.user_retention_cohorts, ts.ORACLE_RETENTION
)
register("events_value_outliers", ts.events_value_outliers, ts.ORACLE_OUTLIERS)
register("events_value_trend", ts.events_value_trend, ts.ORACLE_VALUE_TREND)
register(
    "events_value_robust_outliers",
    ts.events_value_robust_outliers,
    ts.ORACLE_ROBUST_OUTLIERS,
)
register("user_value_ewma", ts.user_value_ewma, ts.ORACLE_USER_EWMA)
register(
    "sessions_concurrency_daily",
    ts.sessions_concurrency_daily,
    ts.ORACLE_CONCURRENCY,
)
register("events_rolling_7d", ts.events_rolling_7d, ts.ORACLE_ROLLING_7D)
register("user_type_history", ts.user_type_history, ts.ORACLE_TYPE_HISTORY)
register(
    "attribution_daily_revenue",
    ts.attribution_daily_revenue,
    ts.ORACLE_ATTRIBUTION,
)
register(
    "events_hourly_interpolated",
    ts.events_hourly_interpolated,
    ts.ORACLE_HOURLY_INTERPOLATED,
)
register(
    "text_inverted_index", tq.inverted_index, tq.ORACLE_INVERTED_INDEX
)
register(
    "text_vocab_coverage", tq.vocab_coverage, tq.ORACLE_VOCAB_COVERAGE
)
register(
    "quality_calibration", tq.quality_calibration, tq.ORACLE_QUALITY_CALIBRATION
)
# rows-only: approx_percentile boundaries are engine-specific sketches
register("quality_calibration_approx", tq.quality_calibration_approx)
register("events_ks_drift", ts.events_ks_drift, ts.ORACLE_KS_DRIFT)
register(
    "events_categorical_drift",
    ts.events_categorical_drift,
    ts.ORACLE_CATEGORICAL_DRIFT,
)
register(
    "audience_overlap_matrix",
    ev.audience_overlap_matrix,
    ev.ORACLE_AUDIENCE_OVERLAP,
)
register(
    "nation_revenue_share", rel.nation_revenue_share, rel.ORACLE_REVENUE_SHARE
)
register(
    "lateral_top_orders_per_customer",
    rel.lateral_top_orders_per_customer,
    rel.ORACLE_LATERAL_TOPK,
)
register(
    "weekly_revenue_growth", rel.weekly_revenue_growth, rel.ORACLE_WEEKLY_GROWTH
)
register(
    "pagerank_customer_supplier",
    rel.pagerank_customer_supplier,
    rel.ORACLE_PAGERANK,
)
register(
    "dedup_candidate_triangles",
    dq.dedup_candidate_triangles,
    dq.ORACLE_DEDUP_TRIANGLES,
)
register(
    "embedding_norm_histogram",
    sq.embedding_norm_histogram,
    sq.ORACLE_NORM_HISTOGRAM,
)
register(
    "embedding_random_projection",
    sq.embedding_random_projection,
    sq.ORACLE_RANDOM_PROJECTION,
)

# --- approx/sketch variants (A2 at scale; rows-only, sketches are
# engine-specific)
register("bot_stats_approx_categories", bd.windowed_counts_approx)
register("event_value_percentiles_approx", pq.event_value_percentiles_approx)
register("approx_users_sketch_union", ev.approx_users_sketch_union)
# the theta-sample twin IS oracle-replayable (md5-prefix arithmetic,
# unlike HLL's engine-private registers)
register(
    "events_theta_distinct_users",
    ev.events_theta_distinct_users,
    ev._oracle_theta_distinct_users(),
)

# --- incremental maintenance family (SCD2 / MV merge / interval join) -------
# Spark takes the incremental path (multi-batch apply, per-chunk
# partial merge); oracles take the one-shot path — hash matches prove
# batch-boundary invariance, not just row agreement.
from . import incremental_queries as iq  # noqa: E402

register("scd2_user_type", iq.scd2_user_type, iq.ORACLE_SCD2)
register(
    "incremental_daily_rollup",
    iq.incremental_daily_rollup,
    iq.ORACLE_INCREMENTAL_ROLLUP,
)
register(
    "view_click_interval_join",
    iq.view_click_interval_join,
    iq.ORACLE_INTERVAL_JOIN,
)

# --- near-dup-aware splitting (leakage audit + cluster-safe assign) ---------
_CANDS_BODY = dq.ORACLE_MINHASH_CANDIDATES.strip().rsplit("ORDER BY", 1)[0]
register(
    "split_leakage_audit",
    pq.split_leakage_audit,
    pq.oracle_split_leakage(_CANDS_BODY),
)
register(
    "split_documents_cluster_safe",
    pq.split_documents_cluster_safe,
    pq.oracle_split_cluster_safe(_CANDS_BODY),
)
register(
    "merge_user_profiles", iq.merge_user_profiles, iq.ORACLE_MERGE_PROFILES
)
register("text_type_token_stats", tq.type_token_stats, tq.ORACLE_TYPE_TOKEN)
register(
    "media_phash_near_dups",
    mq.media_phash_near_dups,
    mq.ORACLE_PHASH_NEAR_DUPS,
)
register(
    "temporal_join_events_dim",
    iq.temporal_join_events_dim,
    iq.ORACLE_TEMPORAL_JOIN,
)
register(
    "data_quality_audit", iq.data_quality_audit, iq.ORACLE_QUALITY_AUDIT
)
register(
    "partition_health", iq.partition_health, iq.ORACLE_PARTITION_HEALTH
)
register(
    "profile_change_feed", iq.profile_change_feed, iq.ORACLE_CHANGE_FEED
)
register(
    "dedup_keep_best_quality",
    dq.dedup_keep_best_quality,
    dq.oracle_keep_best_quality(_CANDS_BODY),
)
register("customer_rfm_segments", rel.customer_rfm_segments, rel.ORACLE_RFM)
register("user_growth_accrual", ev.user_growth_accrual, ev.ORACLE_USER_GROWTH)
register(
    "market_basket_pairs", rel.market_basket_pairs, rel.ORACLE_MARKET_BASKET
)
register(
    "session_duration_histogram",
    ev.session_duration_histogram,
    ev.ORACLE_SESSION_DURATION,
)
register(
    "events_weekday_seasonal_anomalies",
    ts.events_weekday_seasonal_anomalies,
    ts.ORACLE_WEEKDAY_SEASONAL,
)
register(
    "event_transition_matrix",
    ts.event_transition_matrix,
    ts.ORACLE_TRANSITION_MATRIX,
)
register(
    "customer_pareto_curve", rel.customer_pareto_curve, rel.ORACLE_PARETO
)
# the DD-histogram grid twin IS oracle-replayable (log-bucket rule is
# portable arithmetic, unlike percentile_approx's KLL internals)
register(
    "customer_pareto_curve_dd",
    rel.customer_pareto_curve_dd,
    rel._oracle_pareto_dd(),
)
# rows-only by design: sketch thresholds are engine-specific; the
# exact two-phase curve above bounds it (the 100 TB curve default)
register("customer_pareto_curve_approx", rel.customer_pareto_curve_approx)
register(
    "customer_order_gap_stats",
    rel.customer_order_gap_stats,
    rel.ORACLE_ORDER_GAPS,
)
# oracle-backed since r8: chained-CTE power-iteration replay (the
# last replayable rows-only holdout, VERDICT r6 #7)
register(
    "embedding_principal_direction",
    sq.embedding_principal_direction,
    sq.ORACLE_PRINCIPAL_DIRECTION,
)
# hard-negative mining for contrastive training pairs (r8): banded
# other-label cosine top-k, probes broadcast
register(
    "embedding_hard_negatives",
    sq.embedding_hard_negatives,
    sq.ORACLE_HARD_NEGATIVES,
)
# r9: the 100 TB scale-swap — Lloyd-IVF cell-probe candidates feed the
# same band/label/top-k tail; oracle replays index + probe + tail
register(
    "embedding_hard_negatives_ivf",
    sq.embedding_hard_negatives_ivf,
    sq.ORACLE_HARD_NEGATIVES_IVF,
)
# r9: least-squares linear probe on embeddings — 8 full-batch GD
# rounds, fixed-point gradient sums, oracle replays every round as
# chained CTEs (the kmeans-fit / power-iteration pattern); margins
# profile scores the full corpus with the fitted weights
register(
    "embedding_linear_probe_fit",
    sq.embedding_linear_probe_fit,
    sq.ORACLE_LINEAR_PROBE_FIT,
)
register(
    "embedding_linear_probe_margins",
    sq.embedding_linear_probe_margins,
    sq.ORACLE_LINEAR_PROBE_MARGINS,
)
# per-vector gate verdicts (batch twin of streaming/probe_gate.py):
# selected = raw margin above the fit set's mean prediction
register(
    "embedding_probe_gate",
    sq.embedding_probe_gate,
    sq.ORACLE_PROBE_GATE,
)
# r9: label-noise audit — per-label 1-NN agreement within Lloyd IVF
# cells (cell-bounded self-join, shared index cache with knn_ivf)
register(
    "embedding_label_noise_knn",
    sq.embedding_label_noise_knn,
    sq.ORACLE_LABEL_NOISE,
)
register(
    "events_error_rate_daily", ev.events_error_rate_daily, ev.ORACLE_ERROR_RATE
)
register(
    "dedup_savings_report", dq.dedup_savings_report, dq.ORACLE_DEDUP_SAVINGS
)
register(
    "events_hour_of_day_profile",
    ev.events_hour_of_day_profile,
    ev.ORACLE_HOUR_PROFILE,
)
register(
    "nation_trade_matrix", rel.nation_trade_matrix, rel.ORACLE_TRADE_MATRIX
)
register(
    "dedup_cluster_size_histogram",
    dq.dedup_cluster_size_histogram,
    dq.oracle_cluster_size_histogram(_CANDS_BODY),
)
register(
    "text_doc_length_percentiles",
    tq.doc_length_percentiles,
    tq.ORACLE_DOC_LENGTH_PCT,
)
register(
    "orders_weekly_priority_mix",
    rel.orders_weekly_priority_mix,
    rel.ORACLE_WEEKLY_PRIORITY,
)

# --- retrieval family (round 5): lexical / hybrid / diversified search ------
from . import retrieval_queries as rq  # noqa: E402

register("retrieval_bm25_topk", rq.retrieval_bm25_topk, rq.ORACLE_BM25_TOPK)
register("retrieval_hybrid_rrf", rq.retrieval_hybrid_rrf, rq.ORACLE_HYBRID_RRF)
register(
    "retrieval_mmr_diversified",
    rq.retrieval_mmr_diversified,
    rq.ORACLE_MMR,
)
register(
    "parts_skyline_per_brand", rel.parts_skyline_per_brand, rel.ORACLE_SKYLINE
)
register("events_twap_per_user", ts.events_twap_per_user, ts.ORACLE_TWAP)

# --- corpus LM scoring + sketch heavy hitters (round 5) ---------------------
from . import lm_queries as lm  # noqa: E402

register("lm_bigram_model", lm.lm_bigram_model, lm.ORACLE_LM_MODEL)
register("lm_doc_scores", lm.lm_doc_scores, lm.ORACLE_LM_DOC_SCORES)
register("lm_outlier_docs", lm.lm_outlier_docs, lm.ORACLE_LM_OUTLIERS)
register("lm_oov_rate", lm.lm_oov_rate, lm.ORACLE_LM_OOV)
# DSIR-style dual-LM importance weights for target-domain selection
# (r8): broadcast target model (LEFT-join smoothing for unseen
# bigrams), shuffle-joined raw model, weight = difference of means
register(
    "dsir_importance_weights",
    lm.dsir_importance_weights,
    lm.ORACLE_DSIR,
)
register(
    "dsir_source_report", lm.dsir_source_report, lm.ORACLE_DSIR_SOURCE
)
register(
    "events_heavy_hitters", ev.events_heavy_hitters, ev.ORACLE_HEAVY_HITTERS
)
register(
    "text_repetition_stats", tq.text_repetition_stats, tq.ORACLE_REPETITION
)
# Heaps'-law vocabulary growth per ingest bucket (r8): novelty
# saturation diagnostic, two aggregations, no windows
register(
    "corpus_vocab_growth", tq.corpus_vocab_growth, tq.ORACLE_VOCAB_GROWTH
)

# --- clustering (k-means) + tokenizer training + LM buckets (round 5) --------
from . import clustering_queries as cq  # noqa: E402
from . import tokenizer_queries as tkq  # noqa: E402

register(
    "embedding_kmeans_assign",
    cq.embedding_kmeans_assign,
    cq.ORACLE_KMEANS_ASSIGN,
)
# oracle-backed since r7: the oracle replays all 5 Lloyd's rounds as
# chained CTEs (md5 fit sample -> seed -> per-round argmin + sorted
# per-dim mean with empty-cluster carryover), the r6 BPE pattern;
# also pinned vs a pure-Python replay in tests/test_clustering.py
register(
    "embedding_kmeans_fit", cq.embedding_kmeans_fit, cq.ORACLE_KMEANS_FIT
)
register("bpe_pair_counts", tkq.bpe_pair_counts, tkq.ORACLE_BPE_PAIR_COUNTS)
# oracle-backed since r6: the oracle replays all 20 merge rounds as
# chained CTEs (also pinned vs a pure-Python reference in test_bpe.py)
register(
    "bpe_learned_merges",
    tkq.bpe_learned_merges,
    tkq.ORACLE_BPE_LEARNED_MERGES,
)
register(
    "lm_quality_buckets", lm.lm_quality_buckets, lm.ORACLE_LM_QUALITY_BUCKETS
)
register(
    "events_drift_score_hourly",
    ts.events_drift_score_hourly,
    ts.ORACLE_DRIFT_SCORE_HOURLY,
)
register(
    "semantic_dedup_kmeans",
    cq.semantic_dedup_kmeans,
    cq.ORACLE_SEMANTIC_DEDUP_KMEANS,
)
register(
    "text_lang_ngram_confusion",
    tq.text_lang_ngram_confusion,
    tq.ORACLE_LANG_NGRAM_CONFUSION,
)
register(
    "embedding_prototypicality_prune",
    cq.embedding_prototypicality_prune,
    cq.ORACLE_PROTOTYPICALITY,
)

# --- round 6: BPE encode, windowed TWAP, broadcastable LM scoring -----------
# oracle replays every learning round as a chained CTE, so the hash
# check covers learning AND encoding end-to-end
register(
    "bpe_encoded_token_counts",
    tkq.bpe_encoded_token_counts,
    tkq.ORACLE_BPE_ENCODED,
)
register(
    "events_twap_per_user_windowed",
    ts.events_twap_per_user_windowed,
    ts.ORACLE_TWAP_WINDOWED,
)
register(
    "lm_doc_scores_thresholded",
    lm.lm_doc_scores_thresholded,
    lm.ORACLE_LM_DOC_SCORES_THRESHOLDED,
)
# one Lloyd's round isolated: pins the per-(cluster, dim) update
# aggregation the iterative fit cannot hash-check
register(
    "embedding_kmeans_update",
    cq.embedding_kmeans_update,
    cq.ORACLE_KMEANS_UPDATE,
)
register(
    "bpe_doc_token_counts",
    tkq.bpe_doc_token_counts,
    tkq.ORACLE_BPE_DOC_TOKEN_COUNTS,
)
register(
    "bpe_lang_fertility",
    tkq.bpe_lang_fertility,
    tkq.ORACLE_BPE_LANG_FERTILITY,
)
# Count-Min sketch with explicit 2-universal modular hashing — the
# oracle rebuilds sketch + estimates bit-for-bit
register(
    "events_cm_user_counts",
    ev.events_cm_user_counts,
    ev.ORACLE_CM_USER_COUNTS,
)
# the weight-DERIVATION step feeding mix_documents_weighted (sqrt is
# the one IEEE-correctly-rounded power, so alpha=1/2 hash-matches)
register(
    "mixing_weights_temperature",
    pq.mixing_weights_temperature,
    pq.ORACLE_MIXING_WEIGHTS,
)
# the TOKEN-budget form (r8): docs-based and tokens-based upsample
# factors side by side, tokens from the corpus-trained BPE fertility
register(
    "mixing_weights_token_budget",
    tkq.mixing_weights_token_budget,
    tkq.ORACLE_MIXING_TOKEN_BUDGET,
)
# vocabulary coverage curve (r8): top-k encoded tokens with cumulative
# position share — TakeOrdered slice + bounded 200-row window
register(
    "bpe_token_coverage_curve",
    tkq.bpe_token_coverage_curve,
    tkq.ORACLE_BPE_COVERAGE,
)
