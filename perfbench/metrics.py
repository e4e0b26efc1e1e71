"""The metric names the benchmark prints, with their units.

Every run prints every end-to-end metric (untraced runs) or every
per-layer metric (traced runs), whatever the workload; a per-layer
metric of a layer the workload does not reach reads 0.
"""

from __future__ import annotations

from perfbench.workloads.realtime_detect import LADDER

#: name -> (unit, better, bound); measured on every workload
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "result_s": ("s", "lower", 0.25),
    "windows_per_s": ("1/s", "higher", 0.25),
    "peak_rss_mb": ("MB", "lower", 0.1),
}

#: spans the benchmark records (see trace.py); each gets ``self_s.<span>``
SPANS = [
    "session",
    "shipping",
    "generator",
    "cli.cmd_collect",
    "cli.cmd_preprocess",
    "cli.cmd_train",
    "cli.cmd_filter",
    "ml.train.collect_windows",
    "ml.lstm_train.train_lstm_autoencoder",
    "plans.pipeline.anomaly_flags",
    "plans.pipeline.preprocessed",
    "ml.lstm_query.lstm_window_scores",
    "operators.windows.sequence_windows_scalable",
    "ml.infer.score_windows",
    "streaming.detector",
    "streaming.exporter",
]

#: name -> unit; see BETTER_HIGHER for the direction
PER_LAYER = {
    # the headline numbers of each workload
    "lifecycle_s": "s",
    "flags_windows_per_s": "1/s",
    "lstm_windows_per_s": "1/s",
    "detect_sustainable_cycles_per_s": "1/s",
    "detect_completion_cycles_per_s": "1/s",
    "detect_latency_p50_ms": "ms",
    "detect_latency_p99_ms": "ms",
    "failed_ratio": "ratio",
    "trace_overhead.result_s": "s",
    # layers
    "sources.prometheus.partitions": "count",
    "sources.prometheus.http_requests": "count",
    "sources.prometheus.http_wait_s": "s",
    "sources.prometheus.cache_files_written": "count",
    "sources.prometheus.samples": "count",
    "cli.collect_s": "s",
    "cli.preprocess_s": "s",
    "cli.train_s": "s",
    "cli.filter_s": "s",
    "ml.lstm_train.fit_s": "s",
    "ml.lstm_train.epochs_run": "count",
    "ml.train.collect_windows_s": "s",
    "ml.train.windows": "count",
    "plans.pipeline.preprocessed_s": "s",
    "plans.pipeline.flags_s": "s",
    "plans.pipeline.spark_tasks": "count",
    "plans.pipeline.shuffle_bytes": "B",
    "operators.windows.sequence_windows_s": "s",
    "ml.infer.score_s": "s",
    "ml.infer.windows_scored": "count",
    "ml.infer.executor_cpu_s": "s",
    "ml.lstm_query.spark_tasks": "count",
    "ml.lstm_query.executor_cpu_s": "s",
    "streaming.detector.batch_s_p50": "s",
    "streaming.detector.batch_s_p99": "s",
    "streaming.detector.cycles_per_batch": "count",
    "streaming.detector.cycles_skipped": "count",
    "streaming.detector.cycles_failed": "count",
    "streaming.detector.cycles_unfinished": "count",
    "streaming.detector.trigger_delay_ms": "ms",
    "streaming.detector.backlog_max_cycles": "count",
    "streaming.exporter.scrape_ms_p50": "ms",
    "streaming.exporter.scrape_ms_p99": "ms",
    "streaming.exporter.scrapes": "count",
    "generator_lag_ms": "ms",
    "jvm.rss_mb": "MB",
    "session.start_s": "s",
    "shipping.ship_s": "s",
    "local1.flags_windows_per_s": "1/s",
    "local1.lstm_windows_per_s": "1/s",
    **{f"ladder.{r}.p99_ms": "ms" for r in LADDER},
    **{f"ladder.{r}.backlog_growth": "count" for r in LADDER},
    **{f"self_s.{s}": "s" for s in SPANS},
}

#: per-layer metrics where a larger value is better; for every other
#: one (times, bytes, backlog, skips, failures) smaller is better
BETTER_HIGHER = {
    "flags_windows_per_s",
    "lstm_windows_per_s",
    "detect_sustainable_cycles_per_s",
    "detect_completion_cycles_per_s",
    "local1.flags_windows_per_s",
    "local1.lstm_windows_per_s",
    "sources.prometheus.samples",
    "ml.train.windows",
    "ml.infer.windows_scored",
    "streaming.detector.cycles_per_batch",
    "streaming.exporter.scrapes",
}

#: the workloads BENCHMARK.json lists; ``batch_scoring`` also runs by
#: hand and as a probe inside the traced ``offline_lifecycle`` run
WORKLOADS = {
    "offline_lifecycle": (
        "the paper's whole offline lifecycle, collect to filter, from a cold "
        "cache; the only workload on sources.prometheus and ml.lstm_train"
    ),
    "realtime_detect": (
        "open-loop file stream into the foreachBatch detector and exporter "
        "on a rate ladder; the only workload on streaming.*"
    ),
}

RUN_SECONDS = 10


def benchmark_json() -> dict:
    """The repository's BENCHMARK.json, derived from the lists above."""
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": k, "why": v} for k, v in WORKLOADS.items()],
        "end_to_end": [
            {"name": k, "unit": u, "better": b, "bound": bound}
            for k, (u, b, bound) in END_TO_END.items()
        ],
        "per_layer": [
            {"name": k, "unit": u, "better": "higher" if k in BETTER_HIGHER else "lower"}
            for k, u in PER_LAYER.items()
        ],
    }


if __name__ == "__main__":
    import json

    print(json.dumps(benchmark_json(), indent=2))
