"""Which end-to-end metric, on which workload, each per-layer metric of
the traced run should move.

BENCHMARK.json lists the per-layer names, units and directions; this
table adds only what BENCHMARK.json has no field for.
"""

from __future__ import annotations

FLAT = "turns_per_s@batch_flat"
RESUME = "turns_per_s@batch_resume"
STREAM_P50 = "incr_latency_p50_s@stream_incr"
STREAM_LAT = "incr_latency_p50_s,incr_latency_tail_s@stream_incr"
STREAM_MEM = "peak_rss_mb,incr_latency_tail_s@stream_incr"

MOVES: dict[str, str] = {
    "session.build_s": "setup_s@all",
    "session.warm_s": "setup_s@all",
    "operators.parse.self_s": FLAT,
    "operators.parse.udf_rows_per_input_row": FLAT,
    "operators.enrich.rank_self_s": FLAT,
    "operators.enrich.rank_shuffle_bytes": FLAT,
    "operators.enrich.rank_task_skew": FLAT,
    "operators.enrich.enrich_self_s": FLAT,
    "operators.route.self_s": FLAT,
    "sinks.encoders.self_s": f"{FLAT},{STREAM_P50}",
    "operators.aggregate.self_s": FLAT,
    "plans.job.write_outputs_s": f"{FLAT},{RESUME}",
    "plans.job.stage_input_s": RESUME,
    "plans.job.bucket_wave_p50_s": RESUME,
    "plans.job.spark_jobs_per_bucket": RESUME,
    "plans.job.files_written": RESUME,
    "plans.job.finalize_s": RESUME,
    "plans.job.routed_bytes": "store_bytes_per_turn@all",
    "plans.job.sink_bytes": "store_bytes_per_turn@all",
    "plans.checkpoint.commit_bucket_p50_s": RESUME,
    "plans.checkpoint.committed_buckets_s": RESUME,
    "plans.checkpoint.commit_snapshot_s": RESUME,
    "plans.checkpoint.redo_ratio": RESUME,
    "streaming.pipeline.trigger_p50_s": STREAM_LAT,
    "streaming.pipeline.batches_per_trigger": STREAM_LAT,
    "streaming.pipeline.add_batch_ms": STREAM_P50,
    "streaming.pipeline.query_planning_ms": STREAM_P50,
    "streaming.pipeline.wal_commit_ms": STREAM_P50,
    "streaming.pipeline.latest_offset_ms": STREAM_P50,
    "streaming.pipeline.state_rows": STREAM_MEM,
    "streaming.pipeline.state_mem_bytes": STREAM_MEM,
    "streaming.pipeline.gen_late_s": "validity check only",
    "spark.shuffle_write_bytes": "turns_per_s,peak_rss_mb@all",
    "spark.spill_bytes": "turns_per_s,peak_rss_mb@all",
    "spark.gc_s": "turns_per_s,peak_rss_mb@all",
    "scaling.turns_per_s_1core": "reported, not gated",
    "scaling.parallel_efficiency": "reported, not gated",
    "trace.turns_per_s_delta": "tracing overhead",
    "calib.alu_burn_s": "context only, never a divisor",
    "calib.mem_burn_s": "context only, never a divisor",
}
