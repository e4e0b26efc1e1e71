"""CLI train -> filter end-to-end: trained LSTM weights + matching
threshold artifacts, consumed by the filter stage (M4 + S9/S10/S14);
collect ships the package to the Python workers."""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pytest

from prometheus_anomaly_detection_lstm_spark import cli
from prometheus_anomaly_detection_lstm_spark.cli import cmd_filter, cmd_train
from prometheus_anomaly_detection_lstm_spark.config import EngineConfig
from prometheus_anomaly_detection_lstm_spark.ml.lstm_np import LSTMAutoencoder
from prometheus_anomaly_detection_lstm_spark.ml.train import (
    collect_windows,
    train_val_split,
)
from prometheus_anomaly_detection_lstm_spark.operators.windows import (
    sequence_windows_scalable,
)


@pytest.fixture()
def processed(spark, tmp_path):
    ts = pd.date_range("2024-01-01", periods=60, freq="2min")
    rng = np.random.default_rng(9)
    pdf = pd.DataFrame(
        {
            "ts": ts,
            "m1": rng.uniform(0, 1, 60),
            "m2": rng.uniform(0, 1, 60),
        }
    )
    path = str(tmp_path / "processed.parquet")
    spark.createDataFrame(pdf).write.parquet(path)
    return path


def _cfg(tmp_path):
    return EngineConfig(
        artifacts_dir=str(tmp_path / "artifacts"),
        sequence_length=5,
        epochs=3,
        early_stopping_patience=3,
    )


@pytest.mark.parametrize("model", ["lstm"])
def test_train_then_filter(spark, tmp_path, processed, model):
    cfg = _cfg(tmp_path)
    cmd_train(cfg, input_path=processed)

    weights = os.path.join(cfg.artifacts_dir, "autoencoder_weights.npz")
    meta = os.path.join(cfg.artifacts_dir, "training_meta.json")
    assert os.path.exists(weights) and os.path.exists(meta)
    trained = LSTMAutoencoder.load(weights)
    assert "enc1_W" in trained.w and "dense_W" in trained.w
    with open(meta) as fh:
        m = json.load(fh)
    assert m["threshold"] > 0 and len(m["history"]) >= 1
    # the threshold is p95 of the trained model's validation-window MSEs
    windows = sequence_windows_scalable(
        spark.read.parquet(processed), ["m1", "m2"], cfg.sequence_length
    )
    x_val = collect_windows(train_val_split(windows, cfg.train_split_ratio)[1])
    err = x_val - trained.predict(x_val)
    np.testing.assert_allclose(
        m["threshold"],
        np.percentile((err * err).mean(axis=(1, 2)), 95),
        rtol=1e-9,
    )

    cmd_filter(cfg, input_path=processed)
    normal = spark.read.parquet(
        os.path.join(cfg.artifacts_dir, "normal_sequences.parquet")
    )
    anom = spark.read.parquet(
        os.path.join(cfg.artifacts_dir, "anomalous_sequences.parquet")
    )
    # every full window lands in exactly one split
    assert normal.count() + anom.count() == 60 - 5 + 1
    # threshold = p95 of val errors scored with the TRAINED model ->
    # the filter (same model, same data superset) flags a minority
    assert anom.count() < normal.count()


def test_filter_requires_trained_artifacts(tmp_path, processed):
    with pytest.raises(SystemExit, match="train"):
        cmd_filter(_cfg(tmp_path), input_path=processed)


def test_collect_ships_package(spark, tmp_path, monkeypatch):
    shipped = []
    monkeypatch.setattr(cli, "ensure_shipped", shipped.append)
    # no collection periods configured: collect stops after shipping
    with pytest.raises(SystemExit):
        cli.cmd_collect(EngineConfig(artifacts_dir=str(tmp_path)))
    assert shipped == [spark]
