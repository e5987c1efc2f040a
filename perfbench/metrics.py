"""The benchmark's metric catalog: every metric it prints, with its unit.

End-to-end metrics are what a user of the system sees; every workload
reports all of them, each mapped onto the workload's own work:

====================  ================================  =====================================
metric                ``applog_dau``                    ``batch_headline``
====================  ================================  =====================================
``latency_ms``        median freshness of a new key     mean latency of a headline query or
                                                        dashboard request
``throughput_per_s``  burst drain, events/s             scaled operator cores per second
``setup_s``           collector + stream until the      scaled inputs replicated and persisted
                      first event is visible
====================  ================================  =====================================

Per-layer metrics are printed with ``--trace 1``.  ``LAYER_MAP`` is the
metric -> layer -> workload map: each row names the workload that moves
the metric and the metric it feeds.  A layer a workload does not touch
reads 0 there.
"""

from __future__ import annotations

#: (name, unit, better, bound): the ``end_to_end`` list of BENCHMARK.json
END_TO_END = [
    ("latency_ms", "ms", "lower", 0.25),
    ("throughput_per_s", "1/s", "higher", 0.25),
    ("setup_s", "s", "lower", 0.25),
]

HEADLINE = [
    "dau_hourly",
    "order_wide",
    "detail_snowflake",
    "pricing_summary",
    "revenue_by_nation",
    "top_customers",
    "sessionize",
    "dedup_minhash_lsh",
    "ann_cosine_topk",
    "doc_quality",
]
#: the operator cores of eight headline queries over replicated inputs
SCALED = [
    "scaled_dau_hourly",
    "scaled_sessionize",
    "scaled_order_wide",
    "scaled_detail_snowflake",
    "scaled_pricing_summary",
    "scaled_revenue_by_nation",
    "scaled_doc_quality",
    "scaled_ann_cosine_topk",
]
ENDPOINTS = ["realtime_total", "realtime_hour", "paged_detail", "map_order_data", "stat_groups"]
#: layers the traced run attributes self time to
TRACE_LAYERS = [
    "bench", "http_ingest", "streaming", "manifest", "plans", "operators",
    "functions", "serving", "sources", "spark",
]

#: (name, unit, better, workload, layer, end-to-end metric it moves)
_A, _B, _ALL = "applog_dau", "batch_headline", "all"
LAYER_MAP: list[tuple[str, str, str, str, str, str]] = [
    ("error_rate", "ratio", "lower", _ALL, "bench", "all"),
    ("peak_rss_mb", "MB", "lower", _ALL, "host", "all"),
    ("host.calibration_s", "s", "lower", _ALL, "host", "all"),
    ("host.nproc", "count", "higher", _ALL, "host", "all"),
    ("freshness_p50_s", "s", "lower", _A, "end_to_end", "latency_ms"),
    ("freshness_p95_s", "s", "lower", _A, "end_to_end", "latency_ms"),
    ("burst_drain_events_per_s", "1/s", "higher", _A, "end_to_end", "throughput_per_s"),
    ("live_read_p50_ms", "ms", "lower", _A, "end_to_end", "live_read_p50_ms"),
    ("http_ingest.post_p50_ms", "ms", "lower", _A, "http_ingest", "burst_drain_events_per_s"),
    ("http_ingest.post_p95_ms", "ms", "lower", _A, "http_ingest", "burst_drain_events_per_s"),
    ("http_ingest.post_failed", "count", "lower", _A, "http_ingest", "burst_drain_events_per_s"),
    ("http_ingest.spool_files", "count", "lower", _A, "http_ingest", "burst_drain_events_per_s"),
    ("streaming.latest_offset_p50_ms", "ms", "lower", _A, "streaming", "burst_drain_events_per_s"),
    ("streaming.get_batch_p50_ms", "ms", "lower", _A, "streaming", "burst_drain_events_per_s"),
    ("streaming.add_batch_p50_ms", "ms", "lower", _A, "streaming", "freshness_p50_s"),
    ("streaming.wal_commit_p50_ms", "ms", "lower", _A, "streaming", "freshness_p50_s"),
    ("streaming.trigger_p50_ms", "ms", "lower", _A, "streaming", "freshness_p50_s"),
    ("streaming.triggers", "count", "higher", _A, "streaming", "guard"),
    ("streaming.rows_per_trigger_p50", "count", "higher", _A, "streaming", "guard"),
    ("streaming.backlog_events_max", "count", "lower", _A, "streaming", "guard"),
    ("streaming.state_rows", "count", "lower", _A, "streaming", "guard"),
    ("manifest.versions", "count", "lower", _A, "manifest", "freshness_p50_s"),
    ("manifest.live_files", "count", "lower", _A, "manifest", "freshness_p50_s"),
    ("manifest.live_bytes", "bytes", "lower", _A, "manifest", "freshness_p50_s"),
    ("manifest.files_added_per_commit_p50", "count", "lower", _A, "manifest", "freshness_p50_s"),
    ("manifest.files_removed_per_commit_p50", "count", "lower", _A, "manifest", "freshness_p50_s"),
    ("manifest.read_p50_ms", "ms", "lower", _A, "manifest", "live_read_p50_ms"),
    ("gen.late_p99_ms", "ms", "lower", _A, "loadgen", "guard"),
    ("gen.events_sent", "count", "higher", _A, "loadgen", "guard"),
    ("batch_headline_s", "s", "lower", _B, "end_to_end", "latency_ms"),
    ("batch_scaled_s", "s", "lower", _B, "end_to_end", "throughput_per_s"),
    ("plans.build_s", "s", "lower", _B, "plans", "batch_headline_s"),
    ("plans.exec_s", "s", "lower", _B, "plans", "batch_headline_s"),
    ("plans.spark_jobs", "count", "lower", _B, "spark", "batch_headline_s"),
    ("plans.spark_stages", "count", "lower", _B, "spark", "batch_headline_s"),
    ("plans.spark_tasks", "count", "lower", _B, "spark", "batch_headline_s"),
]
for _q in HEADLINE:
    LAYER_MAP += [
        (f"plans.{_q}.build_s", "s", "lower", _B, "plans", "batch_headline_s"),
        (f"plans.{_q}.exec_s", "s", "lower", _B, "plans", "batch_headline_s"),
        (f"plans.{_q}.jobs", "count", "lower", _B, "spark", "batch_headline_s"),
    ]
LAYER_MAP += [
    (f"operators.{_q}.exec_s", "s", "lower", _B, "operators", "batch_scaled_s") for _q in SCALED
]
LAYER_MAP += [
    ("operators.replicate_s", "s", "lower", _B, "operators", "setup_s"),
    ("serving_p50_ms", "ms", "lower", _B, "end_to_end", "latency_ms"),
    ("serving_p95_ms", "ms", "lower", _B, "end_to_end", "latency_ms"),
]
for _e in ENDPOINTS:
    LAYER_MAP += [
        (f"serving.{_e}.p50_ms", "ms", "lower", _B, "serving", "serving_p50_ms"),
        (f"serving.{_e}.jobs", "count", "lower", _B, "spark", "serving_p50_ms"),
    ]
LAYER_MAP += [
    (f"trace.self.{_l}_s", "s", "lower", _ALL, _l, "all") for _l in TRACE_LAYERS
]
LAYER_MAP += [
    ("trace.self_share", "ratio", "higher", _ALL, "trace", "all"),
    ("trace.spans", "count", "lower", _ALL, "trace", "all"),
]

UNITS = {name: unit for name, unit, *_ in END_TO_END + LAYER_MAP}


def benchmark_json() -> dict:
    """``BENCHMARK.json`` as this catalog defines it (the workloads' one-line
    reasons live in ``run.WORKLOADS``)."""
    from perfbench.run import RUN_SECONDS, WORKLOADS

    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w.WHY} for n, w in WORKLOADS.items()],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bd} for n, u, b, bd in END_TO_END
        ],
        "per_layer": [
            {"name": n, "unit": u, "better": b} for n, u, b, *_ in LAYER_MAP
        ],
    }


if __name__ == "__main__":
    import json
    import sys

    json.dump(benchmark_json(), sys.stdout, indent=2, ensure_ascii=False)
    sys.stdout.write("\n")
