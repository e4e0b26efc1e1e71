"""Pure-NumPy LSTM autoencoder forward pass (SURVEY §2.7-M3/M5).

The reference architecture (train_autoencoder.py:76-91) is::

    LSTM(64, relu, return_sequences=True)
    LSTM(32, relu, return_sequences=False)   # latent
    RepeatVector(L)
    LSTM(32, relu, return_sequences=True)
    LSTM(64, relu, return_sequences=True)
    TimeDistributed(Dense(F, sigmoid))

TensorFlow is absent from this environment, so inference is implemented
here directly: the exact Keras LSTM cell math (gate order i|f|c|o in the
fused kernel, ``recurrent_activation=sigmoid``, ``activation=relu`` —
applied to both the candidate and the cell output, Keras semantics for
``activation=`` on an LSTM layer), weights loaded from an ``.npz``
artifact or generated deterministically from a seed.  A model trained in
Keras elsewhere can be exported layer-by-layer to the same key layout
and scored HERE at scale through ``ml/infer.score_windows`` — the
Arrow-batched ``mapInPandas`` path needs only ``predict``.

Weight key layout (Keras ``layer.get_weights()`` order)::

    <layer>_W  (input_dim, 4*units)   fused kernel
    <layer>_U  (units, 4*units)       fused recurrent kernel
    <layer>_b  (4*units,)             fused bias
    dense_W    (dec2_units, F)
    dense_b    (F,)

with layers ``enc1``, ``enc2``, ``dec1``, ``dec2``.
"""

from __future__ import annotations

import numpy as np

#: reference defaults: config lstm_units_encoder1/encoder2_latent
UNITS = (64, 32)
LSTM_SEED = 20240613


def _sigmoid(z: np.ndarray) -> np.ndarray:
    # clamp so np.exp never overflows (RuntimeWarning).  At z = +500
    # the positive branch saturates to exactly 1.0 in float64; for
    # z < -500 the clamp returns 1/(1+e^500) ~ 7.1e-218 where the true
    # value is smaller (exact 0.0 past z ~ -709.8) — a difference below
    # 1e-217 that vanishes at output rounding (6dp discipline).
    return 1.0 / (1.0 + np.exp(-np.clip(z, -500.0, 500.0)))


def _relu(z: np.ndarray) -> np.ndarray:
    return np.maximum(z, 0.0)


def _lstm_layer(
    x: np.ndarray, W: np.ndarray, U: np.ndarray, b: np.ndarray
) -> np.ndarray:
    """Batched LSTM over (N, L, D) -> full hidden sequence (N, L, units).

    Keras fused-gate order i|f|c|o; recurrent activation sigmoid;
    candidate and cell-output activation relu (the reference passes
    ``activation='relu'``).
    """
    n, length, _ = x.shape
    units = U.shape[0]
    h = np.zeros((n, units))
    c = np.zeros((n, units))
    out = np.empty((n, length, units))
    for t in range(length):
        z = x[:, t, :] @ W + h @ U + b
        i = _sigmoid(z[:, :units])
        f = _sigmoid(z[:, units : 2 * units])
        g = _relu(z[:, 2 * units : 3 * units])
        o = _sigmoid(z[:, 3 * units :])
        c = f * c + i * g
        h = o * _relu(c)
        out[:, t, :] = h
    return out


def init_weights(
    num_features: int,
    units: tuple[int, int] = UNITS,
    seed: int = LSTM_SEED,
) -> dict[str, np.ndarray]:
    """Deterministic frozen weights (the driver-checkable fixture).

    Glorot-ish scale 1/sqrt(fan_in) from a seeded PCG64 — identical on
    every machine/run, standing in for a trained Keras export (H5
    discipline: real training is not bit-reproducible, frozen weights
    are).
    """
    e1, e2 = units
    rng = np.random.default_rng(seed)
    shapes = {
        "enc1": (num_features, e1),
        "enc2": (e1, e2),
        "dec1": (e2, e2),
        "dec2": (e2, e1),
    }
    weights: dict[str, np.ndarray] = {}
    for name, (d_in, u) in shapes.items():
        weights[f"{name}_W"] = rng.standard_normal((d_in, 4 * u)) / np.sqrt(d_in)
        weights[f"{name}_U"] = rng.standard_normal((u, 4 * u)) / np.sqrt(u)
        weights[f"{name}_b"] = np.zeros(4 * u)
    weights["dense_W"] = rng.standard_normal((e1, num_features)) / np.sqrt(e1)
    weights["dense_b"] = np.zeros(num_features)
    return weights


class LSTMAutoencoder:
    """Weights-only LSTM autoencoder: ``predict(x: (N, L, F)) -> (N, L, F)``.

    Drop-in scorer for ``ml/infer.score_windows`` (same protocol as
    StubAutoencoder) — the mapInPandas hot path stays Arrow-batched
    NumPy, no TF dependency.
    """

    def __init__(self, weights: dict[str, np.ndarray]):
        self.w = {k: np.asarray(v, dtype="float64") for k, v in weights.items()}

    def predict(self, x: np.ndarray) -> np.ndarray:
        w = self.w
        length = x.shape[1]
        h1 = _lstm_layer(x, w["enc1_W"], w["enc1_U"], w["enc1_b"])
        latent = _lstm_layer(h1, w["enc2_W"], w["enc2_U"], w["enc2_b"])[:, -1, :]
        rep = np.repeat(latent[:, None, :], length, axis=1)
        d1 = _lstm_layer(rep, w["dec1_W"], w["dec1_U"], w["dec1_b"])
        d2 = _lstm_layer(d1, w["dec2_W"], w["dec2_U"], w["dec2_b"])
        return _sigmoid(d2 @ w["dense_W"] + w["dense_b"])

    # ---------------------------------------------------- npz artifacts

    def save(self, path: str) -> None:
        np.savez(path, **self.w)

    @classmethod
    def load(cls, path: str) -> "LSTMAutoencoder":
        with np.load(path) as npz:
            return cls({k: npz[k] for k in npz.files})
