"""Distributed model inference over sequence windows (SURVEY §2.7-M5).

The reference scores with driver-side ``model.predict(sequences)``
(train_autoencoder.py:277, filter_anomalous_data.py:134).  At scale the
windows DataFrame never visits the driver: weights are broadcast once,
each executor rebuilds the scorer, and scoring runs inside an
Arrow-batched ``mapInPandas`` — per-window MSE (A6) and per-feature MSE
(A8) computed in NumPy per batch, no shuffle.

Works with any scorer exposing ``predict(x: (n, L, F)) -> (n, L, F)``;
the deterministic :class:`~..ml.autoencoder.StubAutoencoder` in tests,
the trained NumPy LSTM (``ml/lstm_np.py``) in the lifecycle.
:func:`reconstruction_errors` is the one statement of the error math:
the training threshold and the streaming detector call it too.
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

SCORE_SCHEMA = (
    "window_id bigint, start_ts timestamp, mse double, feature_mse array<double>"
)


def reconstruction_errors(
    model, x: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """(n, L, F) windows -> per-window MSE (n,) over (time, feature)
    (A6, train_autoencoder.py:277-278) and per-feature MSE (n, F) over
    time (A8, realtime_detector.py:309-311)."""
    err = x - model.predict(x)
    sq = err * err
    return sq.mean(axis=(1, 2)), sq.mean(axis=1)


def score_windows(
    windows: DataFrame,
    model_factory: Callable[[], object],
    parallelism: int | None = None,
) -> DataFrame:
    """(window_id, start_ts, features) -> per-window MSE + per-feature MSE.

    ``model_factory`` must be picklable and cheap; it is invoked once
    per task (e.g. ``lambda: StubAutoencoder()`` or a closure over a
    trained ``LSTMAutoencoder``).  The package is shipped to
    executors first — factories referencing package classes unpickle by
    module path on the Python worker.

    ``parallelism``: for COMPUTE-BOUND scorers (the LSTM), pass the
    target task count.  The windows frame is small in *bytes*, so AQE
    coalesces its exchange into one or two partitions — byte-optimal,
    compute-catastrophic (inference serializes onto one core).  An
    explicit round-robin repartition pins the task count to the cores;
    leave ``None`` for cheap scorers where the extra shuffle outweighs
    the parallelism.
    """
    from ..shipping import ensure_shipped

    ensure_shipped(windows.sparkSession)
    if parallelism:
        windows = windows.repartition(parallelism)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        model = model_factory()
        for pdf in batches:
            if pdf.empty:
                continue
            # one stack per window (Arrow yields object arrays of
            # per-step arrays): a nested per-element Python loop here
            # costs more than the model math itself
            x = np.stack(
                [np.stack(w).astype("float64", copy=False)
                 for w in pdf["features"]]
            )
            mse, feature_mse = reconstruction_errors(model, x)
            yield pd.DataFrame(
                {
                    "window_id": pdf["window_id"],
                    "start_ts": pdf["start_ts"],
                    "mse": mse,
                    "feature_mse": list(feature_mse),
                }
            )

    return windows.mapInPandas(run, SCORE_SCHEMA)
