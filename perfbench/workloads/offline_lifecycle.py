"""offline_lifecycle: ``cli.cmd_collect -> cmd_preprocess -> cmd_train
(LSTM, fixed epochs) -> cmd_filter`` against a seeded fake Prometheus,
from a cold collector cache."""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

import numpy as np

from .. import checks, gen
from ..common import Ctx, median, timed
from ..promfake import FakePrometheus

EPOCHS = 5
#: minutes of events for the traced run's batch-scoring probe
PROBE_MINUTES = 1500
SEQUENCE_LENGTH = 20
STAGES = ("collect", "preprocess", "train", "filter")


class OfflineLifecycle:
    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.server = None

    def setup(self) -> None:
        from prometheus_anomaly_detection_lstm_spark.config import load_config

        self.ctx.restart_session()
        with self.ctx.tracer.span("generator"):
            self.data = gen.prom_data(self.ctx.seed)
        self.server = FakePrometheus(self.data)
        self.art = os.path.join(self.ctx.work_dir, "artifacts")
        self.cfg = load_config(
            data={
                "prometheus_url": self.server.url,
                "artifacts_dir": self.art,
                "queries": self.data.queries,
                "data_settings": {
                    "collection_periods_iso": self.data.periods,
                    "step": f"{self.data.step}s",
                    "cache_chunk_hours": 1,
                },
                "training_settings": {
                    "model_type": "lstm",
                    "epochs": EPOCHS,
                    "sequence_length": SEQUENCE_LENGTH,
                },
            }
        )

    def close(self) -> None:
        if self.server is not None:
            self.server.close()
            self.server = None

    def _pass(self) -> dict[str, float]:
        from prometheus_anomaly_detection_lstm_spark import cli

        shutil.rmtree(self.art, ignore_errors=True)  # cold collector cache
        self.server.requests, self.server.busy_s = 0, 0.0
        for k in ("ml.train.collect_windows_s", "ml.train.windows"):
            self.ctx.layer.pop(k, None)
        stage_s = {}
        for stage in STAGES:
            fn = getattr(cli, f"cmd_{stage}")
            with self.ctx.call(f"cli.cmd_{stage}"):
                _, stage_s[stage] = timed(fn, self.cfg)
        return stage_s

    def measure(self) -> dict:
        tracing = _wrap_layers(self.ctx) if self.ctx.trace else None
        try:
            # the first pass is the first Spark work in the JVM, so it
            # carries about 25 s of class loading and JIT whatever the data
            # size, as every CLI invocation does; an unmeasured warm-up
            # pass would cost as much again and not fit the time budget
            passes = []
            t_end = time.perf_counter() + self.ctx.seconds
            while not passes or time.perf_counter() < t_end:
                passes.append(self._pass())
        finally:
            if tracing:
                tracing()
        self.passes = passes
        for p in passes:
            print(f"offline_lifecycle stages: {p}", file=sys.stderr)
        lifecycle_s = median([sum(p.values()) for p in passes])
        self.headline = {"lifecycle_s": lifecycle_s}
        # the offline scoring rate: windows ``cmd_filter`` scored and
        # split, over its own time
        filter_s = median([p["filter"] for p in passes])
        return {"result_s": lifecycle_s, "windows_per_s": self._filtered_windows() / filter_s}

    def _filtered_windows(self) -> int:
        import pyarrow.parquet as pq

        return sum(
            pq.read_metadata(os.path.join(self.art, name, f)).num_rows
            for name in ("normal_sequences.parquet", "anomalous_sequences.parquet")
            for f in os.listdir(os.path.join(self.art, name))
            if f.endswith(".parquet")
        )

    def check(self) -> tuple[int, int, list[str]]:
        import pandas as pd
        from prometheus_anomaly_detection_lstm_spark.ml.lstm_np import LSTMAutoencoder

        art = self.art
        collected = pd.read_parquet(os.path.join(art, self.cfg.output_filename))
        errs_collect = checks.check_collected(collected, checks.expected_collected(self.data))
        normal = pd.read_parquet(os.path.join(art, "normal_sequences.parquet"))
        anomalous = pd.read_parquet(os.path.join(art, "anomalous_sequences.parquet"))
        errs_split = checks.check_split(len(collected), SEQUENCE_LENGTH, len(normal), len(anomalous))
        with open(os.path.join(art, "training_meta.json")) as fh:
            threshold = json.load(fh)["threshold"]
        model = LSTMAutoencoder.load(os.path.join(art, "autoencoder_weights.npz"))
        errs_mse = checks.check_split_mse(
            _mse(model, normal["features"]), _mse(model, anomalous["features"]), threshold
        )
        errs = errs_collect + errs_split + errs_mse
        # the last pass's four stages: its artifacts are the ones on disk
        failed = int(bool(errs_collect)) + int(bool(errs_mse)) + int(bool(errs_split))
        return 4, failed, errs

    def layer_metrics(self) -> dict:
        srv = self.server
        cache = os.path.join(self.art, "prom_cache")
        last = self.passes[-1]
        out = {f"cli.{k}_s": v for k, v in last.items()}
        out.update(
            {
                "sources.prometheus.partitions": float(gen.N_QUERIES * gen.N_PERIODS * gen.PERIOD_HOURS),
                "sources.prometheus.http_requests": float(srv.requests),
                "sources.prometheus.http_wait_s": srv.busy_s,
                "sources.prometheus.cache_files_written": float(len(os.listdir(cache)) if os.path.isdir(cache) else 0),
                "sources.prometheus.samples": float(sum(len(s) for s in self.data.series.values())),
            }
        )
        return out


    def trace_layers(self) -> tuple[dict, tuple[int, int, list[str]]]:
        """Traced-only: a small ``batch_scoring`` probe, so the traced run
        also covers ``plans.pipeline``, bulk ``ml.infer`` and the
        single-core baseline; its tracing overhead stands for this run's."""
        from .batch_scoring import BatchScoring

        probe = BatchScoring(self.ctx, PROBE_MINUTES)
        probe.write_inputs()
        probe.measure(warm_up=False)  # the lifecycle passes warmed the JVM
        attempted, failed, errs = probe.check()
        out, (a2, f2, e2) = probe.trace_layers()
        out.update(probe.headline)
        return out, (attempted + a2, failed + f2, errs + e2)


def _mse(model, features) -> np.ndarray:
    if len(features) == 0:
        return np.empty(0)
    x = np.array([np.stack(w) for w in features], dtype="float64")
    err = x - model.predict(x)
    return (err * err).mean(axis=(1, 2))


def _wrap_layers(ctx: Ctx):
    """Trace the eager layer calls ``cli.cmd_train`` makes.  ``cmd_train``
    imports these names at call time, so replacing the module attributes
    puts a span around each call; returns the function that restores
    them."""
    from prometheus_anomaly_detection_lstm_spark.ml import lstm_train, train

    orig_collect, orig_fit = train.collect_windows, lstm_train.train_lstm_autoencoder

    def collect_windows(windows):
        with ctx.call("ml.train.collect_windows"):
            x, s = timed(orig_collect, windows)
        ctx.layer["ml.train.collect_windows_s"] = ctx.layer.get("ml.train.collect_windows_s", 0.0) + s
        ctx.layer["ml.train.windows"] = ctx.layer.get("ml.train.windows", 0.0) + len(x)
        return x

    def train_lstm_autoencoder(x, **kwargs):
        with ctx.call("ml.lstm_train.train_lstm_autoencoder"):
            (model, history), s = timed(orig_fit, x, **kwargs)
        ctx.layer["ml.lstm_train.fit_s"] = s
        ctx.layer["ml.lstm_train.epochs_run"] = float(len(history))
        return model, history

    train.collect_windows = collect_windows
    lstm_train.train_lstm_autoencoder = train_lstm_autoencoder

    def restore():
        train.collect_windows = orig_collect
        lstm_train.train_lstm_autoencoder = orig_fit

    return restore
