"""CLI mirroring the reference's subcommands (cli.py:22-36):

    collect     Prometheus range scan -> aligned wide parquet   (§3.1)
    preprocess  NaN strategy + scaler -> processed parquet      (§3.2)
    train       windows -> LSTM autoencoder + threshold         (§3.3)
    filter      score all windows, split normal/anomalous       (filter_anomalous_data)
    detect      streaming detector + exporter                   (§3.4)

Unlike the reference (subprocess per stage, cli.py:7-12), stages here
are library calls sharing one SparkSession — no process boundary, one
Catalyst-planned job graph per stage.

``train`` fits the paper's one model, the LSTM autoencoder
(train_autoencoder.py:76-91), and stores its weights with the p95 of
its validation-window errors as the threshold.  ``filter`` loads both
(filter_anomalous_data.py:43-55) and refuses to run without them.
"""

from __future__ import annotations

import argparse
import json
import os

import numpy as np
from pyspark.sql import functions as F

from .config import EngineConfig, load_config, validate_periods
from .operators import fill as fill_ops
from .operators import scale as scale_ops
from .operators import score as score_ops
from .operators.align import metrics_wide
from .operators.windows import sequence_windows_scalable
from .functions import hour_of_day, weekday_mon0
from .session import get_spark
from .shipping import ensure_shipped
from .sources.prometheus import PrometheusDataSource


def _art(cfg: EngineConfig, name: str) -> str:
    os.makedirs(cfg.artifacts_dir, exist_ok=True)
    return os.path.join(cfg.artifacts_dir, name)


def cmd_collect(cfg: EngineConfig) -> None:
    spark = get_spark("collect")
    # the source's reader runs on the Python workers, which import it
    # by module path
    ensure_shipped(spark)
    spark.dataSource.register(PrometheusDataSource)
    periods = validate_periods(cfg.collection_periods_iso)
    frames = []
    for idx, p in enumerate(periods):
        long_df = (
            spark.read.format("prometheus")
            .option("url", cfg.prometheus_url)
            .option("queries_json", json.dumps(cfg.queries))
            .option("start", p["start"])
            .option("end", p["end"])
            .option("step_seconds", str(cfg.step_seconds))
            .option("chunk_hours", str(cfg.cache_chunk_hours))
            .option("cache_dir", _art(cfg, "prom_cache"))
            .load()
            .withColumn("period_idx", F.lit(idx))
        )
        frames.append(long_df)
    if not frames:
        raise SystemExit("no valid collection periods configured")
    from functools import reduce

    all_long = reduce(lambda a, b: a.unionByName(b), frames)
    # provenance order for keep-first dedup across periods (U3/H4)
    ordered = all_long.withColumn(
        "seq", F.col("period_idx").cast("bigint") * 1_000_000_000 + F.unix_timestamp("ts")
    ).select("ts", F.col("metric"), "value", "seq")
    wide = metrics_wide(ordered, sorted(cfg.queries), step=None)
    wide = wide.withColumn("day_of_week", weekday_mon0("ts")).withColumn(
        "hour_of_day", hour_of_day("ts")
    )
    wide.orderBy("ts").write.mode("overwrite").parquet(
        _art(cfg, cfg.output_filename)
    )


def cmd_preprocess(cfg: EngineConfig, input_path: str | None = None) -> None:
    spark = get_spark("preprocess")
    path = input_path or _art(cfg, cfg.output_filename)
    df = spark.read.parquet(path)
    metric_cols = [c for c in sorted(cfg.queries) if c in df.columns] or [
        c
        for c in df.columns
        if c not in ("ts", "day_of_week", "hour_of_day")
    ]
    df = fill_ops.handle_missing_values(df, metric_cols, cfg.nan_fill_strategy)
    # calendar features re-appended idempotently (preprocess_data.py:167-168)
    df = df.withColumn("day_of_week", weekday_mon0("ts")).withColumn(
        "hour_of_day", hour_of_day("ts")
    )
    features = metric_cols + ["day_of_week", "hour_of_day"]
    params = scale_ops.fit_params(df, features)
    params.write.mode("overwrite").parquet(_art(cfg, "scaler_params.parquet"))
    scaled = scale_ops.scale_data(df, features, cfg.scaler_type)
    scaled.write.mode("overwrite").parquet(
        _art(cfg, cfg.processed_output_filename)
    )


def cmd_train(cfg: EngineConfig, input_path: str | None = None) -> None:
    from .ml.infer import reconstruction_errors
    from .ml.lstm_train import train_lstm_autoencoder
    from .ml.train import collect_windows, save_artifacts, train_val_split

    spark = get_spark("train")
    path = input_path or _art(cfg, cfg.processed_output_filename)
    df = spark.read.parquet(path)
    features = [c for c in df.columns if c != "ts"]
    windows = sequence_windows_scalable(df, features, cfg.sequence_length)
    train_df, val_df = train_val_split(windows, cfg.train_split_ratio)
    x_train = collect_windows(train_df)
    x_val = collect_windows(val_df)
    model, history = train_lstm_autoencoder(
        x_train,
        epochs=cfg.epochs,
        lr=cfg.learning_rate,
        patience=cfg.early_stopping_patience,
        val=x_val,
    )
    # A11: p95 of the TRAINED model's validation-window errors, so the
    # stored threshold describes the stored weights (config.yaml:113-118
    # documents the practice but leaves it manual)
    mse, _ = reconstruction_errors(model, x_val if x_val.size else x_train)
    save_artifacts(
        cfg.artifacts_dir, model, history, float(np.percentile(mse, 95))
    )


def cmd_filter(cfg: EngineConfig, input_path: str | None = None) -> None:
    from .ml.infer import score_windows
    from .ml.lstm_np import LSTMAutoencoder

    weights_path = os.path.join(cfg.artifacts_dir, "autoencoder_weights.npz")
    meta_path = os.path.join(cfg.artifacts_dir, "training_meta.json")
    missing = [p for p in (weights_path, meta_path) if not os.path.exists(p)]
    if missing:
        raise SystemExit(
            f"filter needs the artifacts of the `train` stage (missing: "
            f"{', '.join(missing)}); run `train` first"
        )
    model = LSTMAutoencoder.load(weights_path)
    with open(meta_path) as fh:
        threshold = json.load(fh)["threshold"]

    spark = get_spark("filter")
    path = input_path or _art(cfg, cfg.processed_output_filename)
    df = spark.read.parquet(path)
    features = [c for c in df.columns if c != "ts"]
    windows = sequence_windows_scalable(df, features, cfg.sequence_length)
    scored = score_windows(windows, lambda: model).withColumn(
        "is_anomaly",
        (F.col("mse") > F.lit(threshold)).cast("int"),
    )
    joined = windows.join(scored.select("window_id", "is_anomaly"), "window_id")
    joined.filter(F.col("is_anomaly") == 0).write.mode("overwrite").parquet(
        _art(cfg, "normal_sequences.parquet")
    )
    joined.filter(F.col("is_anomaly") == 1).write.mode("overwrite").parquet(
        _art(cfg, "anomalous_sequences.parquet")
    )


def cmd_detect(cfg: EngineConfig) -> None:  # pragma: no cover - needs live prom
    raise SystemExit(
        "detect requires a live Prometheus; see streaming/detector.py "
        "(start_streaming_detector) and tests/test_streaming.py for the "
        "replay-driven form"
    )


def cmd_query(
    expr: str, samples_dir: str, output: str | None = None
) -> None:
    """Run a PromQL string (the reference's config.yaml query format)
    against a parquet sample table (ts, value, seq, metric[, labels])
    — the in-engine replacement for shipping the string to a live
    Prometheus (data_collector.py:41-48)."""
    from .operators.promql_lang import eval_promql
    from .session import get_spark

    spark = get_spark("promql-query")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    out = eval_promql(expr, spark.read.parquet(samples_dir))
    if output:
        out.write.mode("overwrite").parquet(output)
    else:
        out.orderBy(*[c for c in out.columns if c != "value"]).show(
            50, truncate=False
        )


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(prog="prometheus-ad-spark")
    ap.add_argument(
        "command",
        choices=["collect", "preprocess", "train", "filter", "detect", "query"],
    )
    ap.add_argument("--config", default=None)
    ap.add_argument("--input", default=None)
    ap.add_argument("--expr", default=None, help="PromQL string for `query`")
    ap.add_argument("--output", default=None, help="parquet sink for `query`")
    args = ap.parse_args(argv)
    if args.command == "query":
        if not args.expr or not args.input:
            raise SystemExit("query requires --expr and --input <samples dir>")
        cmd_query(args.expr, args.input, args.output)
        return
    cfg = load_config(args.config)
    if args.command == "collect":
        cmd_collect(cfg)
    elif args.command == "preprocess":
        cmd_preprocess(cfg, args.input)
    elif args.command == "train":
        cmd_train(cfg, args.input)
    elif args.command == "filter":
        cmd_filter(cfg, args.input)
    else:
        cmd_detect(cfg)


if __name__ == "__main__":
    main()
