"""Deterministic stub autoencoder.

The reference trains a Keras LSTM autoencoder
(train_autoencoder.py:76-91: LSTM 64→32→RepeatVector→32→64→
TimeDistributed(Dense sigmoid)).  This package trains and runs that
architecture in pure NumPy (ml/lstm_train.py, ml/lstm_np.py) and reads
the reference's saved Keras weights without TensorFlow
(ml/keras_bridge.py).  :class:`StubAutoencoder` is the correctness-test
model (FIXTURES F6): X̂ = clip01(A·x + b) per feature, exactly
recomputable in SQL/DuckDB.

Inference at scale runs through ml/infer.py (Arrow-batched mapInPandas
with broadcast weights); the stub's scoring additionally factors into
pure Catalyst expressions (operators/score.py) so the hot path has no
Python at all.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np


@dataclass(frozen=True)
class StubAutoencoder:
    """Deterministic per-feature affine reconstruction with [0,1] clip."""

    a: float = 0.9
    b: float = 0.02

    def predict(self, x: np.ndarray) -> np.ndarray:
        """x: (num_windows, L, F) -> reconstruction of the same shape."""
        return np.clip(x * self.a + self.b, 0.0, 1.0)

    def window_mse(self, x: np.ndarray) -> np.ndarray:
        """Per-window scalar MSE over (time, feature) axes
        (train_autoencoder.py:277-278)."""
        err = x - self.predict(x)
        return (err * err).mean(axis=(1, 2))

    def per_feature_mse(self, x: np.ndarray) -> np.ndarray:
        """Per-window per-feature MSE over the time axis
        (realtime_detector.py:309-311)."""
        err = x - self.predict(x)
        return (err * err).mean(axis=1)

