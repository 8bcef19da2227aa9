"""The metrics BENCHMARK.json declares, with the workloads each applies to.

A run with --trace 0 reports END_TO_END; a run with --trace 1 reports
PER_LAYER. A per-layer metric of a layer the workload does not exercise is
reported as 0. batch_ops and cv_large run by name only (see README.md); their
own layer metrics are printed but are not part of PER_LAYER.
"""
DRIVER_WORKLOADS = ["cv_mixed", "gate_dedup"]
ALL = set(DRIVER_WORKLOADS) | {"batch_ops", "cv_large"}

END_TO_END = [
    ("setup_s", "s"),
    ("items_per_s", "1/s"),
    ("latency_ms_p50", "ms"),
    ("latency_ms_p90", "ms"),
]

CV_MIXED_VIEWS = ["mx_users", "mx_sketch", "mx_sw", "mx_ttl", "mx_seq"]
GATES = ["gd_exact", "gd_near"]

PER_LAYER = (
    [(n, u, ALL) for n, u in [
        ("spark.session_start_s", "s"), ("jvm.rss_mb_peak", "MB"), ("jvm.heap_mb_live", "MB"),
        ("spark.jobs", "count"), ("spark.tasks", "count"),
        ("spark.gc_ms", "ms"), ("spark.result_bytes", "B"), ("spark.shuffle_bytes", "B"),
        ("spark.jobs_per_op", "count"), ("spark.tasks_per_op", "count"),
        ("spark.result_bytes_per_op", "B"), ("spark.shuffle_bytes_per_op", "B"),
        ("trace.spans", "count"), ("trace.overhead_pct", "%"),
        ("trace.op_self_ms", "ms"), ("trace.op_job_ms", "ms")]]
    + [("io.disk_mb", "MB", {"cv_mixed", "gate_dedup", "cv_large"}),
       ("io.state_bytes", "B", {"cv_mixed", "cv_large"})]
    + [(f"cv.{k}.{v}", "ms", {"cv_mixed"}) for v in CV_MIXED_VIEWS
       for k in ("worker_ms", "combiner_ms", "overlay_ms")]
    + [(n, u, {"cv_mixed"}) for n, u in [
        ("cv.coalesce_factor", "ratio"), ("cv.tick_ms", "ms"), ("cv.reap_ms", "ms"),
        ("cv.read_ms_p50", "ms"), ("cv.read_ms_p90", "ms"),
        ("loadgen.late_ms_max", "ms"), ("loadgen.backlog_max", "count")]]
    + [(f"streaming.{k}.{g}", u, {"gate_dedup"}) for g in GATES
       for k, u in (("self_ms", "ms"), ("admit_ratio", "ratio"))]
    + [(n, u, {"gate_dedup"}) for n, u in [
        ("streaming.result_bytes_per_batch", "B"), ("streaming.tasks_per_batch", "count"),
        ("streaming.lost_commits", "count"), ("streaming.store_bytes", "B")]]
)
