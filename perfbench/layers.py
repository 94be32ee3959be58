"""Names and units of the per-layer metrics of the traced mode.

Every traced run reports all of them; a layer the workload does not
drive reads 0 (the dashboard runs no streaming query, the ingest no
catalog query, the curation no dashboard query). Per-unit figures are
medians or means over the timed units, as noted in README.md.
"""

from __future__ import annotations

DASHBOARD_QUERIES = (
    "ads_category_fullouter", "ads_channel_stats", "ads_conditional_score",
    "ads_funnel_union", "ads_gmv_topk_brand", "ads_hourly_stats",
    "ads_keyword_score", "ads_province_stats", "ads_subsidy_rate",
    "ads_topk_users", "j_broadcast_dim_join", "s_cep_jump",
    "s_daily_unique_users", "s_new_vs_returning", "u_union_metrics",
)
CURATION_QUERIES = ("x_ensemble_training_pipeline",)
STREAM_QUERIES = ("tumble", "daily_unique", "dwd_upsert", "dws_changelog")
ENGINE = {
    "jobs": "count", "stages": "count", "tasks": "count", "task_cpu_s": "s",
    "task_run_s": "s", "gc_s": "s", "shuffle_read_mb": "MB",
    "shuffle_write_mb": "MB", "spill_mb": "MB",
}
STREAM = {
    "batch_p50_ms": "ms", "cpu_s": "s", "add_batch_ms": "ms",
    "wal_commit_ms": "ms", "query_planning_ms": "ms", "state_rows": "count",
    "state_bytes": "bytes",
}


def per_layer() -> dict[str, str]:
    m = {"session.get_spark_s": "s", "session.first_job_s": "s",
         "serving.load_spark_jobs": "count",
         "serving.load_busy_cores": "cores",
         "serving.queue_ms_p50": "ms"}
    for q in DASHBOARD_QUERIES + CURATION_QUERIES:
        m[f"plans.{q}.wall_ms"] = "ms"
        m[f"plans.{q}.cpu_s"] = "s"
    for q in STREAM_QUERIES:
        for k, u in STREAM.items():
            m[f"streaming.{q}.{k}"] = u
    for k in ("jvm", "jvm_jit", "jvm_gc", "python_workers", "driver_python"):
        m[f"cpu.{k}_s"] = "s"
    for k, u in ENGINE.items():
        m[f"engine.{k}"] = u
    m["host.steal_share"] = "share"
    return m
