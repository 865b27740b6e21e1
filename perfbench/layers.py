"""The traced run's layer map and its summary.

``TARGETS`` names the public functions whose calls get a span in a traced
run, by layer. ``summarize`` turns the spans, the Spark jobs each span
started, and the workload's own counters into the per-layer metrics of
BENCHMARK.json plus a detail report (per-function means, the per-layer
self-time table, the span-sum check).
"""

from __future__ import annotations

import statistics

import tracesum

_DW = "rtdl_spark.sources.delta_writer"
SOURCE_FNS = (
    "write_delta_native",
    "merge_into_delta_native",
    "delete_where_delta_native",
    "update_where_delta_native",
    "delete_where_delta_dv",
    "optimize_delta_native",
    "vacuum_delta_native",
)
OPERATOR_FNS = ("cosine_topk", "ivf_topk", "ivf_pq_topk", "knn_graph_ivf")

TARGETS = [
    ("rtdl_spark.catalog", "table", "catalog.table"),
    ("rtdl_spark.catalog", "register_lake_table",
     "catalog.register_lake_table"),
    ("rtdl_spark.catalog", "register_delta_view",
     "catalog.register_delta_view"),
    *[
        ("rtdl_spark.config.registry", f"StreamRegistry.{m}",
         "config.registry")
        for m in ("create", "reload", "get_all_active",
                  "pinned_union_schema")
    ],
    ("rtdl_spark.ingest.pipeline", "IngestJob.ingest_json_dir",
     "ingest.ingest_json_dir"),
    ("rtdl_spark.ingest.pipeline", "IngestJob.read_json", "ingest.read_json"),
    ("rtdl_spark.ingest.pipeline", "IngestJob.run_batch", "ingest.run_batch"),
    ("rtdl_spark.ingest.pipeline", "IngestJob.write_stream_batch",
     "ingest.write_stream_batch"),
    ("rtdl_spark.ingest.compact", "compact_lake", "ingest.compact_lake"),
    ("rtdl_spark.functions.pii", "mask_pii_strings",
     "functions.mask_pii_strings"),
    *[(_DW, fn, f"sources.{fn}") for fn in SOURCE_FNS],
    ("rtdl_spark.sources.delta_reader", "snapshot_actions",
     "sources.snapshot_state"),
    ("rtdl_spark.sources.delta_reader", "read_delta_native",
     "sources.read_delta_native"),
    *[
        ("rtdl_spark.operators.similarity", fn, f"operators.{fn}")
        for fn in OPERATOR_FNS
    ],
]

# Per-layer counters every traced run reports (0 where the workload
# bypasses the layer); workloads fill the ones they exercise.
COUNTERS = {
    "ingest.files_per_batch": "count",
    "ingest.bytes_per_batch": "bytes",
    "ingest.files_compacted": "count",
    "ingest.rows_dropped_malformed": "count",
    "sources.files_added": "count",
    "sources.files_removed": "count",
    "sources.bytes_added": "bytes",
    "sources.bytes_removed": "bytes",
    "sources.dv_bytes": "bytes",
    "sources.checkpoints_written": "count",
    "sources.commits_since_checkpoint_max": "count",
    "sources.rows_scanned_per_row_returned": "ratio",
    "functions.python_rows": "count",
    "functions.python_bytes": "bytes",
    "queries.shuffle_bytes": "bytes",
    "queries.spill_bytes": "bytes",
}


def summarize(ctx, wl, res, base, get_spark_s, registry_s):
    """(per-layer metrics for the JSON line, detail report)."""
    spans = ctx.tracer.spans
    ops = tracesum.per_op(spans)
    n_ops = max(1, len(ops))
    job_s = ctx.tracer.job_seconds()
    by_op_jobs: dict[int, list[int]] = {}
    for s in spans:
        if s["op_id"] is not None:
            by_op_jobs.setdefault(s["op_id"], []).extend(s["jobs"])
    jobs_n = [len(by_op_jobs.get(o["op_id"], [])) for o in ops]
    jobs_t = [sum(job_s.get(j, 0.0) for j in by_op_jobs.get(o["op_id"], []))
              for o in ops]
    gaps = [max(0.0, o["wall"] - t) for o, t in zip(ops, jobs_t)]
    table = tracesum.layer_table(spans)
    worst = max((o["error"] for o in ops), default=0.0)
    counters = {k: 0.0 for k in COUNTERS}
    counters.update(wl.layer_counters(res))

    def mean(xs):
        return statistics.fmean(xs) if xs else 0.0

    overhead = mean(res["latencies"]) - mean(base["latencies"])

    metrics = {
        "session.get_spark_s": (get_spark_s, "s"),
        "session.registry_import_s": (registry_s, "s"),
        "catalog.self_s_per_op": (table["catalog"]["self_s"] / n_ops, "s"),
        "untraced.self_s_per_op": (
            table[tracesum.REMAINDER]["self_s"] / n_ops, "s"
        ),
        "jobs.per_op": (mean(jobs_n), "count"),
        "jobs.s_per_op": (mean(jobs_t), "s"),
        "jobs.driver_gap_s_per_op": (mean(gaps), "s"),
        "trace.span_sum_worst_error": (worst, "ratio"),
        "trace.overhead_s": (overhead, "s"),
        **{k: (counters[k], u) for k, u in COUNTERS.items()},
    }
    funcs = tracesum.per_function(spans)
    named = {}
    for name, f in sorted(funcs.items()):
        if name.startswith("op."):
            continue
        named[f"{name}_s"] = f["mean_s"]
        named[f"{name}_jobs"] = f["mean_jobs"]
        named[f"{name}_calls"] = f["calls"]
    named.update(wl.layer_detail(res))
    detail = {
        "layers": table,
        "span_sum": {
            "ops": len(ops),
            "within_tolerance": sum(o["ok"] for o in ops),
            "worst_error": worst,
        },
        "functions": named,
        "tracing_overhead_mean_s": overhead,
        "table": tracesum.format_table(spans)
        + "\n"
        + "\n".join(f"  {k:<48} {v:>14.4f}" for k, v in named.items()),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}, detail
