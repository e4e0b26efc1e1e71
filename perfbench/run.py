"""Seeded benchmark of the anomaly-detection lifecycle.

    python3 perfbench/run.py --workload {offline_lifecycle,batch_scoring,realtime_detect}
        --seed N --seconds S --trace {0,1}

Run from the root of a source checkout.  Prints one JSON object as the
last line of standard output: ``correct``, ``attempted``, ``failed`` and
``metrics`` (every end-to-end metric, or with ``--trace 1`` every
per-layer metric).  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("offline_lifecycle", "batch_scoring", "realtime_detect")
#: Spark task slots and driver heap, fixed so runs compare across boxes;
#: a heap sized from the start is not resized during the run
CPUS, DRIVER_MEMORY = "4", "1g"
JAVA_OPTIONS = f"-Xms{DRIVER_MEMORY}"


def _environment(work_dir: str, trace: bool) -> None:
    """Keep Spark, the JVM and Python temp files inside the checkout."""
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    args = [
        "--driver-java-options", f"{JAVA_OPTIONS} -Djava.io.tmpdir={tmp}",
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.local.dir={local}",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work_dir, 'warehouse')}",
    ]
    if trace:
        log_dir = os.path.join(work_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{log_dir}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    os.environ.update(
        {
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": local,
            "SPARK_GRAFT_CPUS": CPUS,
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "PYSPARK_SUBMIT_ARGS": " ".join(shlex.quote(a) for a in args + ["pyspark-shell"]),
        }
    )
    os.environ.pop("SPARK_MASTER", None)


def _workload(name: str, ctx):
    if name == "offline_lifecycle":
        from perfbench.workloads.offline_lifecycle import OfflineLifecycle as cls
    elif name == "batch_scoring":
        from perfbench.workloads.batch_scoring import BatchScoring as cls
    else:
        from perfbench.workloads.realtime_detect import RealtimeDetect as cls
    return cls(ctx)


def run(args, work_dir: str) -> dict:
    from perfbench import metrics as M
    from perfbench.common import SETUP_REPEATS, Ctx, median, peak_rss_mb
    from perfbench.sparkstats import read_event_logs
    from perfbench.trace import self_times

    ctx = Ctx(args.seed, args.seconds, trace=False, work_dir=work_dir)
    wl = _workload(args.workload, ctx)
    try:
        setup_s = []
        ctx.tracer.enabled = bool(args.trace)  # set-up spans in traced runs
        for i in range(SETUP_REPEATS + 1):
            # tearing down the last set-up is not set-up: a stdlib HTTP
            # server alone takes up to half a second to shut down
            wl.close()
            ctx.stop_session()
            t0 = time.perf_counter()
            wl.setup()
            if i:  # the first one also starts the JVM
                setup_s.append(time.perf_counter() - t0)
        ctx.trace = ctx.tracer.enabled = bool(args.trace)
        e2e = wl.measure()
        e2e["setup_s"] = median(setup_s)
        e2e["peak_rss_mb"], jvm_rss_mb = peak_rss_mb()
        attempted, failed, errs = wl.check()
        layer = {}
        if args.trace:
            layer.update(wl.headline)
            layer.update(wl.layer_metrics())
            layer.update(ctx.layer)
            layer["jvm.rss_mb"] = jvm_rss_mb
            extra, (a2, f2, e2) = wl.trace_layers()
            layer.update(extra)
            attempted, failed, errs = attempted + a2, failed + f2, errs + e2
            layer["session.start_s"] = median(ctx.session_start_s)
            layer["shipping.ship_s"] = median(ctx.ship_s)
    finally:
        wl.close()
        ctx.shutdown()
    for e in errs:
        print(f"check failed: {e}", file=sys.stderr)
    if args.trace:
        layer["failed_ratio"] = failed / attempted
        groups = read_event_logs(os.path.join(work_dir, "eventlog"))
        g = groups.get("plans.pipeline.anomaly_flags")
        if g:
            layer["plans.pipeline.spark_tasks"] = float(g.tasks)
            layer["plans.pipeline.shuffle_bytes"] = float(g.shuffle_write_bytes)
        g = groups.get("ml.infer.score_windows")
        if g:
            layer["ml.infer.executor_cpu_s"] = g.executor_cpu_s
        g = groups.get("ml.lstm_query.lstm_window_scores")
        if g:
            layer["ml.lstm_query.spark_tasks"] = float(g.tasks)
            layer["ml.lstm_query.executor_cpu_s"] = g.executor_cpu_s
        for name, s in self_times(ctx.tracer.spans).items():
            layer[f"self_s.{name}"] = s
        ctx.tracer.write(os.path.join(ROOT, ".bench_work", f"trace-{args.workload}-{args.seed}.json"))
        values, units = {k: layer.get(k, 0.0) for k in M.PER_LAYER}, M.PER_LAYER
    else:
        values = {k: e2e[k] for k in M.END_TO_END}
        units = {k: v[0] for k, v in M.END_TO_END.items()}
    return {
        "correct": failed == 0,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in values.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "prometheus_anomaly_detection_lstm_spark")):
        print("perfbench: run from a source checkout; the package is missing", file=sys.stderr)
        return 2
    work_dir = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work_dir, exist_ok=True)
    _environment(work_dir, bool(args.trace))
    sys.path.insert(0, ROOT)
    try:
        result = run(args, work_dir)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
