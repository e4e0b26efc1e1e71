"""Training driver (SURVEY §2.7-M2/M3/M4, §3.3).

Spark's role is data prep: the distributed pipeline produces the
windows DataFrame; training consumes it.  At the reference's scale
(~8k windows of 20x18 doubles ≈ 23 MB, SURVEY §6) collecting windows
to the driver is the right call — MLlib has no LSTM, and shipping a
23 MB tensor is cheaper than any distributed-training machinery.

* :func:`train_val_split` — M2: ``randomSplit([0.8, 0.2], seed=42)``.
  Spark's split is per-row Bernoulli, not sklearn's exact permutation
  (train_autoencoder.py:188-190): row identity differs, distribution
  properties are tested instead (SURVEY §5.5).
* :func:`collect_windows` — windows DataFrame -> (n, L, F) ndarray, the
  input of ``ml.lstm_train.train_lstm_autoencoder``.
* :func:`save_artifacts` — S10/S14: the trained weights
  (``LSTMAutoencoder.save``) + history and threshold meta json.
"""

from __future__ import annotations

import json
import os

import numpy as np

from pyspark.sql import DataFrame

from .lstm_np import LSTMAutoencoder


def train_val_split(
    windows: DataFrame, train_ratio: float = 0.8, seed: int = 42
) -> tuple[DataFrame, DataFrame]:
    """M2 with the reference's edge-case handling
    (train_autoencoder.py:171-186): ratio <= 0 -> all validation,
    ratio >= 1 -> all training."""
    if train_ratio >= 1.0:
        return windows, windows.limit(0)
    if train_ratio <= 0.0:
        return windows.limit(0), windows
    train, val = windows.randomSplit([train_ratio, 1.0 - train_ratio], seed)
    return train, val


def collect_windows(windows: DataFrame) -> np.ndarray:
    """windows DF -> (n, L, F) float64 tensor, ordered by window_id."""
    rows = windows.select("window_id", "features").orderBy("window_id").collect()
    if not rows:
        return np.empty((0, 0, 0))
    return np.array([r.features for r in rows], dtype="float64")


def save_artifacts(
    out_dir: str,
    model: LSTMAutoencoder,
    history: list[float],
    threshold: float,
) -> None:
    """Weights npz + ``training_meta.json`` (history, threshold) — what
    the filter stage loads.  Scaler params are the preprocess stage's
    artifact."""
    os.makedirs(out_dir, exist_ok=True)
    model.save(os.path.join(out_dir, "autoencoder_weights.npz"))
    with open(os.path.join(out_dir, "training_meta.json"), "w") as fh:
        json.dump({"history": history, "threshold": threshold}, fh)
