"""Each output check accepts the correct output and rejects a perturbed one."""

import numpy as np
import pandas as pd

from perfbench import checks, gen
from prometheus_anomaly_detection_lstm_spark.ml.lstm_np import LSTMAutoencoder, init_weights

METRICS = gen.EVENT_TYPES
L = 20


def test_collected_frame():
    want = checks.expected_collected(gen.prom_data(1))
    assert checks.check_collected(want.sample(frac=1.0, random_state=0), want) == []
    bad = want.copy()
    row = want["m05"].first_valid_index()
    bad.loc[row, "m05"] += 1e-6
    assert checks.check_collected(bad, want)
    assert checks.check_collected(want.drop(index=7), want)
    nulled = want.copy()
    nulled.loc[want["m00"].first_valid_index(), "m00"] = np.nan
    assert checks.check_collected(nulled, want)


def test_split_counts_and_threshold():
    assert checks.check_split(100, L, 70, 11) == []
    assert checks.check_split(100, L, 70, 10)
    assert checks.check_split_mse(np.array([0.1, 0.2]), np.array([0.5]), 0.3) == []
    assert checks.check_split_mse(np.array([0.1, 0.2]), np.array([0.25]), 0.3)
    assert checks.check_split_mse(np.array([0.1, 0.35]), np.array([0.5]), 0.3)


def _flags():
    return pd.DataFrame(
        {
            "window_id": np.arange(5, dtype=np.int64),
            "start_ts": pd.date_range("2024-01-01", periods=5, freq="min"),
            "mse": [0.001, 0.002, 0.0015, 0.003, 0.0001],
            "is_anomaly": np.array([0, 1, 1, 1, 0], dtype=np.int64),
        }
    )


def test_flags_frame():
    want = _flags()
    assert checks.check_frame(want.iloc[::-1], want, "flags") == []
    flipped = want.copy()
    flipped.loc[2, "is_anomaly"] = 0
    assert checks.check_frame(flipped, want, "flags")
    moved = want.copy()
    moved.loc[1, "mse"] += 1e-8
    assert checks.check_frame(moved, want, "flags")
    assert checks.check_frame(want.iloc[1:], want, "flags")


def test_lstm_window_mse_recompute():
    events = gen.events_table(2, 300).to_pandas()
    scaled = checks.scaled_frame(events, METRICS).to_numpy()
    assert np.nanmin(scaled) >= 0.0 and np.nanmax(scaled) <= 1.0
    model = LSTMAutoencoder(init_weights(scaled.shape[1]))
    ids = np.array([0, 5, len(scaled) - L])
    want = checks.window_mse(model, scaled, ids, L)
    got = np.round(want, 8)
    assert checks.check_window_mse(got, want, "lstm") == []
    got[1] += 5e-8
    assert checks.check_window_mse(got, want, "lstm")


def _cycles():
    table, kinds = gen.detector_cycles(4, 0, 60, METRICS, L)
    pdf = table.to_pandas()
    lo = np.array([gen.VALUE_LO] * 5 + [0.0, 0.0])
    hi = np.array([gen.VALUE_HI] * 5 + [6.0, 23.0])
    inputs = checks.cycle_inputs(pdf, METRICS, L, lo, hi)
    model = LSTMAutoencoder(init_weights(7))
    ids = list(inputs)
    x = np.stack([inputs[c] for c in ids])
    mse = dict(zip(ids, ((x - model.predict(x)) ** 2).mean(axis=(1, 2))))
    kind_of = {i: gen.KINDS[k] for i, k in enumerate(kinds)}
    outcomes = {
        c: ({"mse": mse[c], "is_anomaly": kind_of[c] == "spike"} if c in mse else None)
        for c in kind_of
    }
    return outcomes, kind_of, mse


def test_realtime_cycles():
    outcomes, kinds, mse = _cycles()
    assert {k for k in kinds.values()} >= {"normal", "spike", "missing_metric"}
    assert checks.check_cycles(outcomes, kinds, mse, 1.0) == (0, [])
    # guard skips return None and spikes lie above the threshold
    assert all(outcomes[c] is None for c, k in kinds.items() if k in ("missing_metric", "short_window"))
    assert all(mse[c] > 1.0 for c, k in kinds.items() if k == "spike")
    scored = next(c for c, k in kinds.items() if k == "normal")
    spike = next(c for c, k in kinds.items() if k == "spike")
    guard = next(c for c, k in kinds.items() if k == "missing_metric")
    for c, bad in (
        (scored, {"mse": mse[scored] * 1.001, "is_anomaly": False}),
        (scored, None),
        (spike, {"mse": mse[spike], "is_anomaly": False}),
        (guard, {"mse": 0.1, "is_anomaly": False}),
    ):
        perturbed = {**outcomes, c: bad}
        failed, errs = checks.check_cycles(perturbed, kinds, mse, 1.0)
        assert failed == 1 and errs, (c, bad)
