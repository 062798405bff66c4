"""The benchmark's metrics: the end-to-end metrics every workload reports,
and the per-layer metrics of the traced run, each with the end-to-end
metric it should move and the workload where that shows.

BENCHMARK.json lists the same names; tests/test_stats.py keeps the two in
step.
"""

# name, unit, better, bound
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("op_p50_ms", "ms", "lower", 0.25),
    ("op_tail_ms", "ms", "lower", 0.25),
    ("ops_per_s", "1/s", "higher", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.2),
]

# The workloads. Their sizes are constants of the Scala workload objects
# (perfbench/src/main/scala/perfbench), and each run records the sizes it
# used in its run record (info.size).
WORKLOADS = ["vetl_stream", "online_kernels"]

# The catalog section: no workload of its own (its runs were too long to
# be steady within a 3 420 s budget for 22 runs per workload); the traced run
# of online_kernels runs it for the per-layer values of the queries layer.
CATALOG = "catalog_batch"
CATALOG_SECTION = "online_kernels (catalog section)"
CATALOG_MOVES = "none (no end-to-end catalog workload)"

# The catalog query mix, as CatalogBatch.Queries runs it. It names the
# per-query layer metrics; a run whose mix differs from it is refused.
QUERIES = ["q01_pricing_summary", "q06_iou_join", "q07_join_agg",
           "n05_placement_pareto", "d16_dup_spans"]

# What one operation is on each workload (op_p50_ms, op_tail_ms, ops_per_s).
OPERATION = {
    "vetl_stream": "one 2 s chunk of all streams, addData to processAllAvailable",
    "online_kernels": "on each of 3 streams at once, 2 rounds of: a fresh SortTracker over the "
                      "600-frame crowded scene, then the first planning interval of a fresh "
                      "Switcher: 450 Switcher.switch decisions (15 min of video), its re-plan "
                      "included",
}

# name, unit, better, end-to-end metric it should move, workload
LAYERS = [
    ("jvm.warmup_s", "s", "lower", "setup_s", "all"),
    ("jvm.jit_s", "s", "lower", "none (sitting discriminator)", "all"),
    ("jvm.gc_s", "s", "lower", "op_tail_ms", "all"),
    ("jvm.loadavg_start", "load", "lower", "none (sitting discriminator)", "all"),
    ("jvm.loadavg_end", "load", "lower", "none (sitting discriminator)", "all"),
    ("trace.overhead_pct", "%", "lower", "none (tracing cost)", "all"),
    ("trace.spans", "count", "lower", "none (tracing cost)", "all"),
    ("trace.self_ms.bench", "ms", "lower", "op_p50_ms", "all"),
    ("trace.self_ms.streaming", "ms", "lower", "op_p50_ms", "vetl_stream"),
    ("trace.self_ms.operators", "ms", "lower", "ops_per_s", "vetl_stream"),
    ("trace.self_ms.ops", "ms", "lower", "op_p50_ms", "online_kernels"),
    ("trace.self_ms.control", "ms", "lower", "op_p50_ms", "online_kernels"),
    ("trace.self_ms.queries", "ms", "lower", CATALOG_MOVES, CATALOG_SECTION),
    ("streaming.batches_per_chunk", "count", "lower", "op_p50_ms", "vetl_stream"),
    ("streaming.trigger_ms", "ms", "lower", "op_p50_ms", "vetl_stream"),
    ("streaming.add_batch_ms", "ms", "lower", "op_p50_ms", "vetl_stream"),
    ("streaming.query_planning_ms", "ms", "lower", "op_p50_ms", "vetl_stream"),
    ("streaming.wal_commit_ms", "ms", "lower", "op_p50_ms", "vetl_stream"),
    ("streaming.commit_offsets_ms", "ms", "lower", "op_p50_ms", "vetl_stream"),
    ("streaming.state_commit_ms.track", "ms", "lower", "op_p50_ms", "vetl_stream"),
    ("streaming.state_commit_ms.window", "ms", "lower", "op_p50_ms", "vetl_stream"),
    ("streaming.state_update_ms.track", "ms", "lower", "op_tail_ms", "vetl_stream"),
    ("streaming.state_update_ms.window", "ms", "lower", "op_tail_ms", "vetl_stream"),
    ("streaming.state_stores", "count", "lower", "op_p50_ms", "vetl_stream"),
    ("streaming.stages_per_chunk", "count", "lower", "op_p50_ms", "vetl_stream"),
    ("streaming.tasks_per_chunk", "count", "lower", "op_tail_ms", "vetl_stream"),
    ("streaming.exec_cpu_ms_per_chunk", "ms", "lower", "ops_per_s", "vetl_stream"),
    ("streaming.exec_run_ms_per_chunk", "ms", "lower", "ops_per_s", "vetl_stream"),
    ("streaming.shuffle_kb_per_chunk", "KB", "lower", "ops_per_s", "vetl_stream"),
    ("streaming.gc_ms_per_chunk", "ms", "lower", "op_tail_ms", "vetl_stream"),
    ("streaming.state_rows", "count", "lower", "peak_rss_mb", "vetl_stream"),
    ("streaming.state_mb", "MB", "lower", "peak_rss_mb", "vetl_stream"),
    ("streaming.late_rows", "count", "lower", "correct (must be 0)", "vetl_stream"),
    ("streaming.watermark_dropped_rows", "count", "lower", "correct (must be 0)", "vetl_stream"),
    ("streaming.video_s_per_s", "s/s", "higher", "ops_per_s", "vetl_stream"),
    ("streaming.local1_chunk_p50_ms", "ms", "lower", "op_p50_ms (single-thread baseline)", "vetl_stream"),
    ("streaming.local1_speedup", "ratio", "higher", "op_p50_ms", "vetl_stream"),
    ("operators.detect_ms_per_chunk", "ms", "lower", "ops_per_s", "vetl_stream"),
    ("ops.sort_ms_per_chunk", "ms", "lower", "ops_per_s", "vetl_stream"),
    ("ops.sort_update_p50_us", "us", "lower", "op_p50_ms", "online_kernels"),
    ("ops.sort_update_p99_us", "us", "lower", "op_tail_ms", "online_kernels"),
    ("ops.track_fps", "frames/s", "higher", "ops_per_s", "online_kernels"),
    ("ops.sort_tracks_out", "count", "higher", "correct (fixed per seed)", "online_kernels"),
    ("ops.crowded_frames_pct", "%", "higher", "none (input property)", "online_kernels"),
    ("control.decisions_per_s", "1/s", "higher", "ops_per_s", "online_kernels"),
    ("control.switch_p50_us", "us", "lower", "op_p50_ms", "online_kernels"),
    ("control.switch_p99_us", "us", "lower", "ops_per_s", "online_kernels"),
    ("control.replan_ms", "ms", "lower", "op_p50_ms", "online_kernels"),
    ("control.plan_p50_ms", "ms", "lower", "op_p50_ms", "online_kernels"),
    ("control.lp_ms", "ms", "lower", "op_p50_ms", "online_kernels"),
    ("control.forecast_us", "us", "lower", "op_p50_ms", "online_kernels"),
    ("control.switcher_build_ms", "ms", "lower", "setup_s", "online_kernels"),
    ("control.buffer_occupancy_s_p50", "s", "lower", "correct (fixed per seed)", "online_kernels"),
    ("control.cloud_frac", "ratio", "lower", "correct (fixed per seed)", "online_kernels"),
    ("control.mean_score", "score", "higher", "correct (fixed per seed)", "online_kernels"),
    ("queries.total_s", "s", "lower", CATALOG_MOVES, CATALOG_SECTION),
    ("queries.geomean_ms", "ms", "lower", CATALOG_MOVES, CATALOG_SECTION),
    ("queries.cold_total_s", "s", "lower", CATALOG_MOVES, CATALOG_SECTION),
    ("queries.jobs", "count", "lower", CATALOG_MOVES, CATALOG_SECTION),
    ("queries.stages", "count", "lower", CATALOG_MOVES, CATALOG_SECTION),
    ("queries.tasks", "count", "lower", CATALOG_MOVES, CATALOG_SECTION),
    ("queries.exchanges", "count", "lower", CATALOG_MOVES, CATALOG_SECTION),
    ("queries.plan_ms", "ms", "lower", CATALOG_MOVES, CATALOG_SECTION),
    ("queries.exec_run_s", "s", "lower", CATALOG_MOVES, CATALOG_SECTION),
    ("queries.exec_cpu_s", "s", "lower", CATALOG_MOVES, CATALOG_SECTION),
    ("queries.shuffle_mb", "MB", "lower", CATALOG_MOVES, CATALOG_SECTION),
    ("queries.spill_mb", "MB", "lower", CATALOG_MOVES, CATALOG_SECTION),
] + [
    row
    for q in QUERIES
    for row in (
        (f"queries.{q}.ms", "ms", "lower", CATALOG_MOVES, CATALOG_SECTION),
        (f"queries.{q}.tasks", "count", "lower", CATALOG_MOVES, CATALOG_SECTION),
    )
]


def benchmark_json():
    """The content of BENCHMARK.json."""
    why = {
        "vetl_stream": "Online V-ETL path: streaming state commits and the fixed cost per "
                       "micro-batch dominate; 32 streams x 4 objects, closed loop of 2 s chunks",
        "online_kernels": "Per-stream kernels, Spark-free, 3 streams on a thread each: SortTracker "
                          "over 30 crossing objects (Hungarian path), Switcher + LP planner at 10k "
                          "placements; traced run adds catalog queries",
    }
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": 20,
        "workloads": [{"name": w, "why": why[w]} for w in WORKLOADS],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bd} for n, u, b, bd in END_TO_END
        ],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b, _, _ in LAYERS],
    }
