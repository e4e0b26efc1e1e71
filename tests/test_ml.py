"""ML pipeline tests: split semantics, distributed inference parity."""

from __future__ import annotations

import datetime

import numpy as np
import pytest

from prometheus_anomaly_detection_lstm_spark.ml.autoencoder import (
    StubAutoencoder,
)
from prometheus_anomaly_detection_lstm_spark.ml.infer import score_windows
from prometheus_anomaly_detection_lstm_spark.ml.train import (
    collect_windows,
    train_val_split,
)
from prometheus_anomaly_detection_lstm_spark.operators.windows import (
    sequence_windows_scalable,
)


@pytest.fixture(scope="module")
def windows_df(spark):
    ts0 = datetime.datetime(2024, 1, 1)
    rows = [
        (ts0 + datetime.timedelta(minutes=30 * i), (i % 10) / 10.0, ((i * 3) % 7) / 7.0)
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, ["ts", "f1", "f2"])
    return sequence_windows_scalable(df, ["f1", "f2"], 10)


def test_split_ratios_and_edge_cases(windows_df):
    n = windows_df.count()
    train, val = train_val_split(windows_df, 0.8, seed=42)
    nt, nv = train.count(), val.count()
    assert nt + nv == n
    assert 0.6 * n < nt < 0.95 * n  # Bernoulli split, distributional check
    # edge cases (train_autoencoder.py:171-186)
    t_all, v_none = train_val_split(windows_df, 1.5)
    assert t_all.count() == n and v_none.count() == 0
    t_none, v_all = train_val_split(windows_df, -1)
    assert t_none.count() == 0 and v_all.count() == n


def test_split_deterministic_same_seed(windows_df):
    a = {r.window_id for r in train_val_split(windows_df, 0.8, 42)[0].collect()}
    b = {r.window_id for r in train_val_split(windows_df, 0.8, 42)[0].collect()}
    assert a == b


def test_distributed_scoring_matches_driver(windows_df):
    """mapInPandas scoring == driver-side NumPy scoring (M5 parity)."""
    model = StubAutoencoder()
    scored = {
        r.window_id: r for r in score_windows(windows_df, StubAutoencoder).collect()
    }
    x = collect_windows(windows_df)
    expected_mse = model.window_mse(x)
    expected_feat = model.per_feature_mse(x)
    ids = sorted(scored)
    got_mse = np.array([scored[i].mse for i in ids])
    np.testing.assert_allclose(got_mse, expected_mse, rtol=1e-12)
    got_feat = np.array([scored[i].feature_mse for i in ids])
    np.testing.assert_allclose(got_feat, expected_feat, rtol=1e-12)

