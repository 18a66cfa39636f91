"""Central registry mapping SURVEY.md §2 keys → (spark_fn, oracle_sql).

`__spark_entry__.py` re-exports this for the driver; tests iterate it for
oracle-parity checks.  Oracle value of ``None`` marks a rows-only check
(non-SQL-expressible op).
"""

from __future__ import annotations

import functools
import json
import re
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from . import oracles
from .plans import dbt, events, lake, lakewrite, llm, tpch
from .streaming import jobs as streaming_jobs

QueryFn = Callable[[SparkSession, str], DataFrame]

# oracle may be registered as a zero-arg CALLABLE, resolved (and then
# cached in place) on first oracle_sql() access — oracle builders that
# materialize fixtures (the lake keys) or stdlib-parse fixture trees
# (the dbt keys) must not run, or write to disk, merely because the
# registry was imported.
_REGISTRY: dict[str, tuple[QueryFn, "str | Callable[[], str] | None"]] = {}


def register(key: str, fn: QueryFn, oracle: "str | Callable[[], str] | None") -> None:
    _REGISTRY[key] = (fn, oracle)


def _resolved_oracle(key: str) -> str | None:
    fn, oracle = _REGISTRY[key]
    if callable(oracle):
        oracle = oracle()
        _REGISTRY[key] = (fn, oracle)
    return oracle


# A. dbt artifact engine (reference parity; oracles derived independently
# from the same fixtures by pure-stdlib parsing — see oracles.py)
for _key in [
    "dbt_manifest_nodes",
    "dbt_manifest_sources",
    "dbt_manifest_macros",
    "dbt_manifest_unified",
    "dbt_manifest_columns",
    "dbt_manifest_edges",
    "dbt_catalog_objects",
    "dbt_catalog_columns",
    "dbt_schema_drift",
    "dbt_run_results",
    "dbt_source_freshness",
    "dbt_lineage_closure",
    "dbt_lineage_closure_rcte",
    "dbt_lineage_depth",
    "dbt_pagerank",
    "dbt_critical_path",
    "dbt_run_summary",
    "dbt_model_fanout",
    "dbt_description_coverage",
    "dbt_tag_usage",
    "dbt_test_coverage",
    "dbt_source_coverage",
    "dbt_macro_usage",
    "dbt_column_name_lineage",
    "dbt_test_results_rollup",
    "dbt_schema_drift_classes",
    "dbt_manifest_lake",
]:
    register(_key, getattr(dbt, _key), getattr(oracles, _key))

# B. relational / OLAP core
register("q1_pricing_summary", tpch.q1_pricing_summary, tpch.Q1_SQL)
register("q3_shipping_priority", tpch.q3_shipping_priority, tpch.Q3_SQL)
register("q5_region_revenue", tpch.q5_region_revenue, tpch.Q5_SQL)
register("q6_forecast_revenue", tpch.q6_forecast_revenue, tpch.Q6_SQL)
register("q4_late_shipments", tpch.q4_late_shipments, tpch.Q4_SQL)
register("q7_nation_trade", tpch.q7_nation_trade, tpch.Q7_SQL)
register("q13_order_distribution", tpch.q13_order_distribution, tpch.Q13_SQL)
register("q18_large_orders", tpch.q18_large_orders, tpch.Q18_SQL)
register("part_brand_stats", tpch.part_brand_stats, tpch.PART_BRAND_STATS_SQL)
register("q10_returned_items", tpch.q10_returned_items, tpch.Q10_SQL)
register("q14_promo_revenue", tpch.q14_promo_revenue, tpch.Q14_SQL)
register("q19_bracket_revenue", tpch.q19_bracket_revenue, tpch.Q19_SQL)
register("q8_market_share", tpch.q8_market_share, tpch.Q8_SQL)
register("q9_nation_profit", tpch.q9_nation_profit, tpch.Q9_SQL)
register("q15_top_supplier", tpch.q15_top_supplier, tpch.Q15_SQL)
register("q17_small_qty_revenue", tpch.q17_small_qty_revenue, tpch.Q17_SQL)
register("q22_dormant_customers", tpch.q22_dormant_customers, tpch.Q22_SQL)
register("top_customers_per_nation", events.top_customers_per_nation, events.TOP_CUSTOMERS_SQL)
register("order_priority_pivot", events.order_priority_pivot, events.ORDER_PRIORITY_PIVOT_SQL)
register("revenue_rollup", events.revenue_rollup, events.REVENUE_ROLLUP_SQL)
register("supplier_semi_anti", events.supplier_semi_anti, events.SUPPLIER_SEMI_ANTI_SQL)
register("events_user_counts", events.events_user_counts, events.EVENTS_USER_COUNTS_SQL)
register("events_sessionization", events.events_sessionization, events.EVENTS_SESSIONIZATION_SQL)
register("events_windowed_agg", events.events_windowed_agg, events.EVENTS_WINDOWED_AGG_SQL)
register("events_json_props", events.events_json_props, events.EVENTS_JSON_PROPS_SQL)
register("asof_join_events_orders", events.asof_join_events_orders, events.ASOF_JOIN_SQL)
register("events_approx_quantiles", events.events_approx_quantiles, events.EVENTS_QUANTILES_SQL)
register("orders_running_total", events.orders_running_total, events.ORDERS_RUNNING_TOTAL_SQL)
register("events_funnel", events.events_funnel, events.EVENTS_FUNNEL_SQL)
register("lineitem_unpivot_metrics", events.lineitem_unpivot_metrics, events.LINEITEM_UNPIVOT_SQL)
register("events_retention_cohorts", events.events_retention_cohorts, events.EVENTS_RETENTION_SQL)
register("orders_monthly_growth", events.orders_monthly_growth, events.ORDERS_MONTHLY_GROWTH_SQL)
register("events_hourly_heatmap", events.events_hourly_heatmap, events.EVENTS_HOURLY_HEATMAP_SQL)
register("part_size_histogram", events.part_size_histogram, events.PART_SIZE_HISTOGRAM_SQL)
register("events_anomaly_zscore", events.events_anomaly_zscore, events.EVENTS_ANOMALY_SQL)
register(
    "skew_salted_segment_revenue", events.skew_salted_segment_revenue, events.SKEW_SALTED_SQL
)
register(
    "events_transition_matrix", events.events_transition_matrix, events.EVENTS_TRANSITION_SQL
)
register(
    "scd2_customer_snapshot", events.scd2_customer_snapshot, events.SCD2_CUSTOMER_SQL
)
register("events_range_join", events.events_range_join, events.EVENTS_RANGE_JOIN_SQL)
register("events_attribution", events.events_attribution, events.EVENTS_ATTRIBUTION_SQL)
register(
    "customer_percentile_rank",
    events.customer_percentile_rank,
    events.CUSTOMER_PERCENTILE_RANK_SQL,
)
register("revenue_cube", events.revenue_cube, events.REVENUE_CUBE_SQL)
register("order_year_set_ops", events.order_year_set_ops, events.ORDER_YEAR_SET_OPS_SQL)
register(
    "events_approx_distinct", events.events_approx_distinct, events.EVENTS_APPROX_DISTINCT_SQL
)
register(
    "customer_revenue_deciles",
    events.customer_revenue_deciles,
    events.CUSTOMER_REVENUE_DECILES_SQL,
)
register("events_gap_islands", events.events_gap_islands, events.EVENTS_GAP_ISLANDS_SQL)
register("events_ewma_hourly", events.events_ewma_hourly, events.EVENTS_EWMA_SQL)
register("events_variant_props", events.events_variant_props, events.EVENTS_VARIANT_PROPS_SQL)
register("events_skew_audit", events.events_skew_audit, events.EVENTS_SKEW_AUDIT_SQL)
register("lineitem_zorder_layout", tpch.lineitem_zorder_layout, tpch.LINEITEM_ZORDER_SQL)
register("join_prefilter_audit", tpch.join_prefilter_audit, tpch.JOIN_PREFILTER_SQL)
register(
    "zone_map_skipping_audit", tpch.zone_map_skipping_audit, tpch.ZONE_MAP_SKIPPING_SQL
)
register("supplier_abc_classes", tpch.supplier_abc_classes, tpch.SUPPLIER_ABC_SQL)
register(
    "lineitem_runlength_audit", tpch.lineitem_runlength_audit, tpch.LINEITEM_RUNLENGTH_SQL
)
register("q16_supplier_part_types", tpch.q16_supplier_part_types, tpch.Q16_SQL)
register("q12_shipmode_priority", tpch.q12_shipmode_priority, tpch.Q12_SQL)
register("q21_waiting_suppliers", tpch.q21_waiting_suppliers, tpch.Q21_SQL)
register("q2_min_cost_supplier", tpch.q2_min_cost_supplier, tpch.Q2_SQL)
register("q11_important_stock", tpch.q11_important_stock, tpch.Q11_SQL)
register("q20_promotion_suppliers", tpch.q20_promotion_suppliers, tpch.Q20_SQL)
register(
    "lineitem_weighted_median",
    tpch.lineitem_weighted_median,
    tpch.LINEITEM_WEIGHTED_MEDIAN_SQL,
)
register(
    "join_size_histogram_estimate",
    tpch.join_size_histogram_estimate,
    tpch.JOIN_SIZE_HISTOGRAM_SQL,
)
register(
    "customer_acctbal_trimmed_stats",
    tpch.customer_acctbal_trimmed_stats,
    tpch.CUSTOMER_TRIMMED_STATS_SQL,
)
register("events_lateness_audit", events.events_lateness_audit, events.EVENTS_LATENESS_SQL)
register(
    "orders_rolling_window_revenue",
    events.orders_rolling_window_revenue,
    events.ORDERS_ROLLING_WINDOW_SQL,
)
register(
    "events_topk_sketch_audit", events.events_topk_sketch_audit, events.EVENTS_TOPK_SKETCH_SQL
)
register(
    "pysource_events_rollup", events.pysource_events_rollup, events.PYSOURCE_EVENTS_ROLLUP_SQL
)
register("table_profile_audit", tpch.table_profile_audit, tpch.TABLE_PROFILE_SQL)
register(
    "referential_integrity_audit",
    tpch.referential_integrity_audit,
    tpch.REFERENTIAL_INTEGRITY_SQL,
)
register("events_gapfill_locf", events.events_gapfill_locf, events.EVENTS_GAPFILL_SQL)
register(
    "events_gapfill_lerp", events.events_gapfill_lerp, events.EVENTS_GAPFILL_LERP_SQL
)
register(
    "events_hll_sketch_rollup", events.events_hll_sketch_rollup, events.EVENTS_HLL_SKETCH_SQL
)
register(
    "orders_new_customers_monthly",
    events.orders_new_customers_monthly,
    events.ORDERS_NEW_CUSTOMERS_SQL,
)
register(
    "events_concurrency_sweep", events.events_concurrency_sweep, events.EVENTS_CONCURRENCY_SQL
)
register(
    "incremental_view_maintain", tpch.incremental_view_maintain, tpch.INCREMENTAL_VIEW_SQL
)
register(
    "events_kll_quantile_audit", events.events_kll_quantile_audit, events.EVENTS_KLL_QUANTILE_SQL
)
register(
    "events_theta_set_audit", events.events_theta_set_audit, events.EVENTS_THETA_SET_SQL
)
register(
    "manifest_concurrent_commit_audit",
    tpch.manifest_concurrent_commit_audit,
    tpch.MANIFEST_OCC_AUDIT_SQL,
)
register(
    "dbt_style_expectations",
    tpch.dbt_style_expectations,
    tpch.DBT_STYLE_EXPECTATIONS_SQL,
)

# C. LLM-data-pipeline operators (dedup / similarity / text analysis)
for _key, _sql in llm.ORACLES.items():
    register(_key, getattr(llm, _key), _sql)
register("multimodal_stub", llm.multimodal_stub, llm.MULTIMODAL_STUB_SQL)

# D. Structured Streaming jobs
register(
    "streaming_windowed_agg",
    streaming_jobs.streaming_windowed_agg,
    streaming_jobs.STREAMING_WINDOWED_AGG_SQL,
)
register(
    "streaming_sessionization",
    streaming_jobs.streaming_sessionization,
    streaming_jobs.STREAMING_SESSIONIZATION_SQL,
)
register("streaming_dedup", streaming_jobs.streaming_dedup, streaming_jobs.STREAMING_DEDUP_SQL)
register(
    "streaming_stateful_counts",
    streaming_jobs.streaming_stateful_counts,
    streaming_jobs.STREAMING_STATEFUL_COUNTS_SQL,
)
register(
    "streaming_funnel",
    streaming_jobs.streaming_funnel,
    streaming_jobs.STREAMING_FUNNEL_SQL,
)
register(
    "streaming_enrich_segments",
    streaming_jobs.streaming_enrich_segments,
    streaming_jobs.STREAMING_ENRICH_SQL,
)
register(
    "streaming_stream_join",
    streaming_jobs.streaming_stream_join,
    streaming_jobs.STREAMING_STREAM_JOIN_SQL,
)
register(
    "streaming_sliding_window",
    streaming_jobs.streaming_sliding_window,
    streaming_jobs.STREAMING_SLIDING_WINDOW_SQL,
)
register("streaming_topk", streaming_jobs.streaming_topk, streaming_jobs.STREAMING_TOPK_SQL)
register(
    "streaming_anomaly",
    streaming_jobs.streaming_anomaly,
    streaming_jobs.STREAMING_ANOMALY_SQL,
)
register(
    "streaming_cdc_latest",
    streaming_jobs.streaming_cdc_latest,
    streaming_jobs.STREAMING_CDC_LATEST_SQL,
)
register(
    "streaming_windowed_distinct",
    streaming_jobs.streaming_windowed_distinct,
    streaming_jobs.STREAMING_WINDOWED_DISTINCT_SQL,
)
register(
    "streaming_daily_rollup",
    streaming_jobs.streaming_daily_rollup,
    streaming_jobs.STREAMING_DAILY_ROLLUP_SQL,
)
register(
    "streaming_left_outer_join",
    streaming_jobs.streaming_left_outer_join,
    streaming_jobs.STREAMING_LEFT_OUTER_JOIN_SQL,
)
register(
    "streaming_manifest_rollup",
    streaming_jobs.streaming_manifest_rollup,
    streaming_jobs.STREAMING_MANIFEST_ROLLUP_SQL,
)
register(
    "streaming_dynamic_gap_sessions",
    streaming_jobs.streaming_dynamic_gap_sessions,
    streaming_jobs.STREAMING_DYNAMIC_GAP_SQL,
)
register(
    "streaming_cdc_merge_sink",
    streaming_jobs.streaming_cdc_merge_sink,
    streaming_jobs.STREAMING_CDC_MERGE_SQL,
)
register(
    "streaming_hll_distinct",
    streaming_jobs.streaming_hll_distinct,
    streaming_jobs.STREAMING_HLL_DISTINCT_SQL,
)
register(
    "streaming_pysource_rollup",
    streaming_jobs.streaming_pysource_rollup,
    streaming_jobs.STREAMING_PYSOURCE_SQL,
)
register(
    "streaming_session_timeout",
    streaming_jobs.streaming_session_timeout,
    streaming_jobs.STREAMING_SESSION_TIMEOUT_SQL,
)
register(
    "streaming_cdc_warmstart",
    streaming_jobs.streaming_cdc_warmstart,
    streaming_jobs.STREAMING_CDC_WARMSTART_SQL,
)
register(
    "streaming_state_metrics",
    streaming_jobs.streaming_state_metrics,
    streaming_jobs.STREAMING_STATE_METRICS_SQL,
)
register(
    "streaming_manifest_lake_rollup",
    streaming_jobs.streaming_manifest_lake_rollup,
    streaming_jobs._streaming_lake_rollup_sql,
)

# E. external table-format bridges
register("delta_snapshot_read", lake.delta_snapshot_read, lake._delta_oracle_sql)
register("iceberg_metadata_audit", lake.iceberg_metadata_audit, lake._iceberg_oracle_sql)
register("iceberg_snapshot_read", lake.iceberg_snapshot_read, lake._iceberg_read_oracle_sql)
register("delta_version_diff", lake.delta_version_diff, lake._delta_diff_oracle_sql)
register(
    "delta_column_mapping_read",
    lake.delta_column_mapping_read,
    lake._delta_cm_oracle_sql,
)
register(
    "iceberg_change_feed",
    lake.iceberg_change_feed,
    lake._iceberg_change_feed_oracle_sql,
)
register("delta_dv_read", lake.delta_dv_read, lake._delta_dv_oracle_sql)
register("delta_cdf_read", lake.delta_cdf_read, lake._delta_cdf_oracle_sql)
register(
    "lake_skipping_audit",
    lake.lake_skipping_audit,
    lake._lake_skipping_oracle_sql,
)
register(
    "delta_cdf_mapped_read",
    lake.delta_cdf_mapped_read,
    lake._delta_cdf_mapped_oracle_sql,
)
register(
    "iceberg_manifest_prune_audit",
    lake.iceberg_manifest_prune_audit,
    lake._iceberg_manifest_prune_oracle_sql,
)
register(
    "lake_time_travel_read",
    lake.lake_time_travel_read,
    lake._lake_time_travel_oracle_sql,
)
# F13–F16: the native Delta WRITE path — transactional appends,
# DV-backed DELETE, copy-on-write MERGE, OPTIMIZE compaction, each
# proven through the independent read bridge with pure-SQL oracles
register(
    "delta_write_roundtrip",
    lakewrite.delta_write_roundtrip,
    lakewrite._delta_write_roundtrip_sql,
)
register(
    "delta_delete_dv_write",
    lakewrite.delta_delete_dv_write,
    lakewrite._delta_delete_dv_write_sql,
)
register(
    "delta_merge_upsert",
    lakewrite.delta_merge_upsert,
    lakewrite._delta_merge_upsert_sql,
)
register(
    "delta_optimize_compact",
    lakewrite.delta_optimize_compact,
    lakewrite._delta_optimize_compact_sql,
)
register(
    "iceberg_write_roundtrip",
    lakewrite.iceberg_write_roundtrip,
    lakewrite._iceberg_write_roundtrip_sql,
)
register(
    "delta_cdc_write_read",
    lakewrite.delta_cdc_write_read,
    lakewrite._delta_cdc_write_read_sql,
)
register(
    "delta_restore_read",
    lakewrite.delta_restore_read,
    lakewrite._delta_restore_read_sql,
)
register(
    "delta_sorted_rewrite",
    lakewrite.delta_sorted_rewrite,
    lakewrite._delta_sorted_rewrite_sql,
)
register(
    "delta_vacuum_audit",
    lakewrite.delta_vacuum_audit,
    lakewrite._delta_vacuum_audit_sql,
)
register(
    "iceberg_delete_write",
    lakewrite.iceberg_delete_write,
    lakewrite._iceberg_delete_write_sql,
)
register(
    "iceberg_expire_audit",
    lakewrite.iceberg_expire_audit,
    lakewrite._iceberg_expire_audit_sql,
)
register(
    "delta_convert_in_place",
    lakewrite.delta_convert_in_place,
    lakewrite._delta_convert_in_place_sql,
)
register(
    "delta_schema_evolution_read",
    lakewrite.delta_schema_evolution_read,
    lakewrite._schema_evolution_read_sql,
)
# F26: OPTIMIZE ZORDER BY — multi-column clustering; the oracle
# replays the bucket/interleave/slice layout end-to-end in SQL
register(
    "delta_zorder_rewrite",
    lakewrite.delta_zorder_rewrite,
    lakewrite._delta_zorder_rewrite_sql,
)
# F27: Iceberg schema evolution on append (merge_schema) — new columns
# under fresh field ids in a new schemas[] entry, no data rewrites
register(
    "iceberg_schema_evolution_read",
    lakewrite.iceberg_schema_evolution_read,
    lakewrite._schema_evolution_read_sql,
)
# F28: Iceberg equality-delete write — CDC-style no-scan deletes with
# strict sequence scoping (re-appended keys survive, proven in-key)
register(
    "iceberg_equality_delete_write",
    lakewrite.iceberg_equality_delete_write,
    lakewrite._iceberg_equality_delete_write_sql,
)
# F29: CHECK constraints — ALTER ADD/DROP, write/merge-time
# enforcement, checkConstraints protocol feature
register(
    "delta_constraints_audit",
    lakewrite.delta_constraints_audit,
    lakewrite._delta_constraints_audit_sql,
)
# F30: UniForm-style Delta→Iceberg export — one parquet set, two logs;
# the Iceberg bridge reads it via the identity back-fill rule
register(
    "delta_uniform_export",
    lakewrite.delta_uniform_export,
    lakewrite._delta_uniform_export_sql,
)
# F31: Iceberg REWRITE DATA FILES — deletes applied physically, one
# 'replace' snapshot, stale-read compactions collide on the CAS
register(
    "iceberg_compact_rewrite",
    lakewrite.iceberg_compact_rewrite,
    lakewrite._iceberg_compact_rewrite_sql,
)
# F32: named refs (tags/branches) — ref-resolved reads; refs retain
# their snapshots through expire
register(
    "iceberg_refs_travel",
    lakewrite.iceberg_refs_travel,
    lakewrite._iceberg_refs_travel_sql,
)
# F33: generated columns — compute-or-validate on every write; the
# classic generated PARTITION column prunes time-derived probes
register(
    "delta_generated_partition",
    lakewrite.delta_generated_partition,
    lakewrite._delta_generated_partition_sql,
)
register(
    "iceberg_bucket_write_prune",
    lakewrite.iceberg_bucket_write_prune,
    lakewrite._iceberg_bucket_write_prune_sql,
)
register(
    "iceberg_transform_write_audit",
    lakewrite.iceberg_transform_write_audit,
    lakewrite._iceberg_transform_write_audit_sql,
)
register(
    "delta_cdf_mapid_read",
    lake.delta_cdf_mapid_read,
    lake._delta_cdf_mapid_oracle_sql,
)
register(
    "delta_uniform_dv_export",
    lakewrite.delta_uniform_dv_export,
    lakewrite._delta_uniform_dv_export_sql,
)
register(
    "delta_uniform_mapped_export",
    lakewrite.delta_uniform_mapped_export,
    lakewrite._delta_uniform_mapped_export_sql,
)
# F39: Appendix-B decimal bucket hashing on the WRITE side — point
# probes over a decimal-bucketed table open 1/N files
register(
    "iceberg_decimal_bucket_prune",
    lakewrite.iceberg_decimal_bucket_prune,
    lakewrite._iceberg_decimal_bucket_prune_sql,
)
# F40: the `files` metadata-table surface — per-file partition/count/
# bounds from manifest entries, no data file opened
register(
    "iceberg_files_table",
    lakewrite.iceberg_files_table,
    lakewrite._iceberg_files_table_sql,
)
# F41-F44: the rest of the Iceberg metadata-table family — snapshots /
# history / partitions / manifests, all O(metadata) at any data size
register(
    "iceberg_snapshots_table",
    lakewrite.iceberg_snapshots_table,
    lakewrite._iceberg_snapshots_table_sql,
)
register(
    "iceberg_history_table",
    lakewrite.iceberg_history_table,
    lakewrite._iceberg_history_table_sql,
)
register(
    "iceberg_partitions_table",
    lakewrite.iceberg_partitions_table,
    lakewrite._iceberg_partitions_table_sql,
)
register(
    "iceberg_manifests_table",
    lakewrite.iceberg_manifests_table,
    lakewrite._iceberg_manifests_table_sql,
)
# F45: Appendix-B bucket hashing over BINARY keys
register(
    "iceberg_binary_bucket_prune",
    lakewrite.iceberg_binary_bucket_prune,
    lakewrite._iceberg_binary_bucket_prune_sql,
)
# F46: the `refs` metadata table — tags/branches + main with pinned
# row counts through the ref-resolving read bridge
register(
    "iceberg_refs_table",
    lakewrite.iceberg_refs_table,
    lakewrite._iceberg_refs_table_sql,
)
# F47: DESCRIBE HISTORY for Delta — commitInfo operations + per-version
# time-travel row counts, RESTORE included
register(
    "delta_history_table",
    lakewrite.delta_history_table,
    lakewrite._delta_history_table_sql,
)
# F48: Delta add-file introspection — per-partition file/record/DV-debt
# rollup from the log alone
register(
    "delta_files_table",
    lakewrite.delta_files_table,
    lakewrite._delta_files_table_sql,
)
# F49: write-audit-publish on Iceberg branch refs — stage on a branch,
# audit the branch read, fast-forward main; stale publish refuses
register(
    "iceberg_wap_publish",
    lakewrite.iceberg_wap_publish,
    lakewrite._iceberg_wap_publish_sql,
)
# D28: streaming corpus-ingest quality gate — the batch C9 scorer run
# at the stream front door, per-source admission rollup
register(
    "streaming_corpus_quality_gate",
    streaming_jobs.streaming_corpus_quality_gate,
    streaming_jobs._streaming_corpus_quality_gate_sql,
)
register(
    "streaming_delta_commits",
    streaming_jobs.streaming_delta_commits,
    streaming_jobs._streaming_delta_commits_sql,
)
register(
    "streaming_delta_sink",
    streaming_jobs.streaming_delta_sink,
    streaming_jobs._streaming_delta_sink_sql(),
)
# D26: exactly-once streaming into a native Iceberg table — the epoch
# lives in the snapshot summary (Flink's checkpoint-id recipe)
register(
    "streaming_iceberg_sink",
    streaming_jobs.streaming_iceberg_sink,
    streaming_jobs._streaming_iceberg_sink_sql(),
)
# D27: incremental CDF consumption — one commit per micro-batch, each
# turned into its row-level change slice; replays must no-op
register(
    "streaming_cdf_ledger",
    streaming_jobs.streaming_cdf_ledger,
    streaming_jobs._streaming_cdf_ledger_sql(),
)
register("semdedup_prune", llm.semdedup_prune, llm.ORACLES["semdedup_prune"])
register("dedup_graph_triangles", llm.dedup_graph_triangles, llm.ORACLES["dedup_graph_triangles"])
# C74: BM25 retrieval scoring, rationalized to one exact division
register("doc_bm25_topk", llm.doc_bm25_topk, llm.ORACLES["doc_bm25_topk"])
# C75: encoding/mojibake hygiene audit over deterministic dirt
register(
    "text_encoding_audit",
    llm.text_encoding_audit,
    llm.ORACLES["text_encoding_audit"],
)


# -------------------------------------------------------------------
# Driver-gate ordering.  The driver records CORRECTNESS rows for only
# the first GATE_WINDOW keys in queries() insertion order, so that order
# IS the correctness gate.  It rotates by itself: the keys whose newest
# green driver row is oldest lead.  While the window's rows come back
# green, every key gets a fresh driver row within ⌈keys / GATE_WINDOW⌉
# rounds; a key whose row fails keeps its place at the front.  Keys
# outside the window stay covered by tests/test_oracle_parity.py
# (every key, sf0.01, exact values).
GATE_WINDOW = 50


def gate_order(keys: list[str], rounds: dict[int, dict[str, dict]]) -> list[str]:
    """``keys`` ordered by the newest round in which each has a green
    driver row (rows, schema and hash match, no error), oldest first; a
    key with no green row (a new key) sorts before all of them, and
    ties keep registration order.  ``rounds`` maps a round number to
    that round's CORRECTNESS rows; names not in ``keys`` are ignored."""
    newest: dict[str, int] = {}
    for rnd, rows in rounds.items():
        for k, row in rows.items():
            green = row.get("rows_match") and row.get("schema_match") and row.get("hash_match")
            if green and row.get("err") is None:
                newest[k] = max(newest.get(k, rnd), rnd)
    pos = {k: i for i, k in enumerate(keys)}
    return sorted(keys, key=lambda k: (newest.get(k, -1), pos[k]))


def _correctness_rounds() -> dict[int, dict[str, dict]]:
    """The committed ``CORRECTNESS_r<N>.json`` files at the repository
    root, by round number (empty when there are none)."""
    out = {}
    for p in Path(__file__).resolve().parents[1].glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", p.name)
        if m:
            out[int(m.group(1))] = json.loads(p.read_text())
    return out


@functools.cache
def _gate_keys() -> tuple[str, ...]:
    return tuple(gate_order(list(_REGISTRY), _correctness_rounds()))


def queries() -> dict[str, QueryFn]:
    return {k: _REGISTRY[k][0] for k in _gate_keys()}


def oracle_sql() -> dict[str, str]:
    out = {}
    for k in _gate_keys():
        sql = _resolved_oracle(k)
        if sql is not None:
            out[k] = sql
    return out
