"""Pure-NumPy LSTM autoencoder: math, determinism, artifacts, Spark path."""

from __future__ import annotations

import numpy as np

from prometheus_anomaly_detection_lstm_spark.ml.lstm_np import (
    LSTMAutoencoder,
    _lstm_layer,
    _relu,
    _sigmoid,
    init_weights,
)

from .conftest import SF_SMALL


def _naive_lstm(x, W, U, b):
    """Per-sample, per-gate reference implementation (no fused kernels)."""
    n, length, _ = x.shape
    units = U.shape[0]
    out = np.empty((n, length, units))
    for s in range(n):
        h = np.zeros(units)
        c = np.zeros(units)
        for t in range(length):
            z = x[s, t] @ W + h @ U + b
            i, f, g, o = (
                _sigmoid(z[:units]),
                _sigmoid(z[units : 2 * units]),
                _relu(z[2 * units : 3 * units]),
                _sigmoid(z[3 * units :]),
            )
            c = f * c + i * g
            h = o * _relu(c)
            out[s, t] = h
    return out


def test_lstm_layer_matches_naive():
    rng = np.random.default_rng(7)
    x = rng.standard_normal((3, 5, 4))
    W = rng.standard_normal((4, 4 * 6)) * 0.3
    U = rng.standard_normal((6, 4 * 6)) * 0.3
    b = rng.standard_normal(4 * 6) * 0.1
    np.testing.assert_allclose(
        _lstm_layer(x, W, U, b), _naive_lstm(x, W, U, b), atol=1e-12
    )


def test_predict_shape_range_determinism():
    model = LSTMAutoencoder(init_weights(7))
    x = np.random.default_rng(1).uniform(0, 1, (11, 20, 7))
    y1 = model.predict(x)
    y2 = LSTMAutoencoder(init_weights(7)).predict(x)
    assert y1.shape == (11, 20, 7)
    assert float(y1.min()) >= 0.0 and float(y1.max()) <= 1.0  # sigmoid out
    np.testing.assert_array_equal(y1, y2)  # frozen weights, bit-identical


def test_npz_roundtrip(tmp_path):
    model = LSTMAutoencoder(init_weights(5))
    path = str(tmp_path / "weights.npz")
    model.save(path)
    back = LSTMAutoencoder.load(path)
    x = np.random.default_rng(2).uniform(0, 1, (4, 6, 5))
    np.testing.assert_array_equal(model.predict(x), back.predict(x))


def test_lstm_query_spark(spark):
    from prometheus_anomaly_detection_lstm_spark.ml.lstm_query import (
        lstm_window_scores,
        q_anomaly_mse_lstm,
    )

    scores = lstm_window_scores(spark, SF_SMALL).toPandas()
    assert len(scores) > 0
    assert scores["mse"].between(0, 1).all()
    rollup = q_anomaly_mse_lstm(spark, SF_SMALL).toPandas()
    assert rollup["n_windows"].sum() == len(scores)
    # two independent Spark executions agree bit-for-bit after rounding
    again = lstm_window_scores(spark, SF_SMALL).toPandas()
    a = scores.sort_values("window_id", ignore_index=True)
    b = again.sort_values("window_id", ignore_index=True)
    assert (a["mse"] == b["mse"]).all()
