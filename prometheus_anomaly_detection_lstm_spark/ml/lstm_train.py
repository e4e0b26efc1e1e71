"""Pure-NumPy training for the LSTM autoencoder (SURVEY §2.7-M4).

Analytical backpropagation-through-time for the exact architecture of
``ml/lstm_np.py`` (the reference's train_autoencoder.py:76-91 stack),
with the reference's optimizer settings: Adam(lr=0.001), MSE loss,
early stopping with best-weight restore (train_autoencoder.py:196-237).
Deterministic end to end — fixed init, full-batch updates, float64 —
so training is bit-reproducible anywhere (SURVEY H5), unlike the
Keras/TF path this replaces.

Spark's role stays data prep (the distributed pipeline produces the
windows DataFrame; at the reference's scale the collected tensor is
~23 MB — SURVEY §6); gradients here are driver-side NumPy.  The
gradient math is verified against numerical differentiation in
tests/test_lstm_train.py.
"""

from __future__ import annotations

import numpy as np

from .lstm_np import LSTMAutoencoder, _sigmoid, init_weights

LAYERS = ("enc1", "enc2", "dec1", "dec2")


def _lstm_forward_cached(x, W, U, b):
    """Forward one LSTM layer keeping per-step gate caches for BPTT."""
    n, length, _ = x.shape
    units = U.shape[0]
    h = np.zeros((n, units))
    c = np.zeros((n, units))
    cache = {"x": x, "i": [], "f": [], "g": [], "zg": [], "o": [],
             "c": [], "c_prev": [], "a": [], "h_prev": []}
    hs = np.empty((n, length, units))
    for t in range(length):
        z = x[:, t, :] @ W + h @ U + b
        zi, zf, zg, zo = np.split(z, 4, axis=1)
        i, f, o = _sigmoid(zi), _sigmoid(zf), _sigmoid(zo)
        g = np.maximum(zg, 0.0)
        cache["h_prev"].append(h)
        cache["c_prev"].append(c)
        c = f * c + i * g
        a = np.maximum(c, 0.0)
        h = o * a
        hs[:, t, :] = h
        for k, v in (("i", i), ("f", f), ("g", g), ("zg", zg), ("o", o),
                     ("c", c), ("a", a)):
            cache[k].append(v)
    return hs, cache


def _lstm_backward(d_hs, cache, W, U):
    """BPTT one layer: d_hs (n, L, units) external grads per step ->
    (dx, dW, dU, db)."""
    x = cache["x"]
    n, length, _ = x.shape
    units = U.shape[0]
    dW = np.zeros_like(W)
    dU = np.zeros_like(U)
    db = np.zeros(4 * units)
    dx = np.zeros_like(x)
    dh_rec = np.zeros((n, units))
    dc_next = np.zeros((n, units))
    for t in reversed(range(length)):
        dh = d_hs[:, t, :] + dh_rec
        i, f, g, zg, o = (cache[k][t] for k in ("i", "f", "g", "zg", "o"))
        c, a = cache["c"][t], cache["a"][t]
        c_prev, h_prev = cache["c_prev"][t], cache["h_prev"][t]
        do = dh * a
        dzo = do * o * (1.0 - o)
        dc = dh * o * (c > 0.0) + dc_next
        df = dc * c_prev
        dzf = df * f * (1.0 - f)
        di = dc * g
        dzi = di * i * (1.0 - i)
        dg = dc * i
        dzg = dg * (zg > 0.0)
        dc_next = dc * f
        dz = np.concatenate([dzi, dzf, dzg, dzo], axis=1)
        dW += x[:, t, :].T @ dz
        dU += h_prev.T @ dz
        db += dz.sum(axis=0)
        dx[:, t, :] = dz @ W.T
        dh_rec = dz @ U.T
    return dx, dW, dU, db


def forward_with_caches(weights: dict, x: np.ndarray):
    """Full autoencoder forward keeping every layer cache."""
    length = x.shape[1]
    h1, c1 = _lstm_forward_cached(
        x, weights["enc1_W"], weights["enc1_U"], weights["enc1_b"]
    )
    h2, c2 = _lstm_forward_cached(
        h1, weights["enc2_W"], weights["enc2_U"], weights["enc2_b"]
    )
    latent = h2[:, -1, :]
    rep = np.repeat(latent[:, None, :], length, axis=1)
    h3, c3 = _lstm_forward_cached(
        rep, weights["dec1_W"], weights["dec1_U"], weights["dec1_b"]
    )
    h4, c4 = _lstm_forward_cached(
        h3, weights["dec2_W"], weights["dec2_U"], weights["dec2_b"]
    )
    y = _sigmoid(h4 @ weights["dense_W"] + weights["dense_b"])
    return y, (c1, c2, c3, c4, h4, y)


def loss_and_grads(weights: dict, x: np.ndarray):
    """Full-batch MSE loss + analytical gradients for every weight."""
    y, (c1, c2, c3, c4, h4, _) = forward_with_caches(weights, x)
    n, length, _ = x.shape
    loss = float(((y - x) ** 2).mean())
    dy = 2.0 * (y - x) / x.size
    dzd = dy * y * (1.0 - y)
    grads = {
        "dense_W": np.einsum("nlu,nlf->uf", h4, dzd),
        "dense_b": dzd.sum(axis=(0, 1)),
    }
    dh4 = dzd @ weights["dense_W"].T
    dh3, gW, gU, gb = _lstm_backward(
        dh4, c4, weights["dec2_W"], weights["dec2_U"]
    )
    grads.update({"dec2_W": gW, "dec2_U": gU, "dec2_b": gb})
    drep, gW, gU, gb = _lstm_backward(
        dh3, c3, weights["dec1_W"], weights["dec1_U"]
    )
    grads.update({"dec1_W": gW, "dec1_U": gU, "dec1_b": gb})
    # RepeatVector backward: sum over timesteps -> grad at enc2 last step
    dlatent = drep.sum(axis=1)
    dh2 = np.zeros((n, length, dlatent.shape[1]))
    dh2[:, -1, :] = dlatent
    dh1, gW, gU, gb = _lstm_backward(
        dh2, c2, weights["enc2_W"], weights["enc2_U"]
    )
    grads.update({"enc2_W": gW, "enc2_U": gU, "enc2_b": gb})
    _, gW, gU, gb = _lstm_backward(
        dh1, c1, weights["enc1_W"], weights["enc1_U"]
    )
    grads.update({"enc1_W": gW, "enc1_U": gU, "enc1_b": gb})
    return loss, grads


def train_lstm_autoencoder(
    x: np.ndarray,
    epochs: int = 50,
    lr: float = 0.001,
    patience: int = 10,
    val: np.ndarray | None = None,
    units: tuple[int, int] = (64, 32),
    seed: int = 20240613,
) -> tuple[LSTMAutoencoder, list[float]]:
    """Full-batch Adam on the LSTM autoencoder; M4 semantics
    (epochs / early-stop / best-restore, train_autoencoder.py:196-237).

    Returns the trained model (best weights) + per-epoch val-loss
    history.  Deterministic: same inputs -> bit-identical weights.
    """
    weights = init_weights(x.shape[-1], units=units, seed=seed)
    val_x = x if val is None or not len(val) else val
    m = {k: np.zeros_like(v) for k, v in weights.items()}
    v = {k: np.zeros_like(vv) for k, vv in weights.items()}
    beta1, beta2, eps = 0.9, 0.999, 1e-7  # Keras Adam defaults
    best = (np.inf, {k: w.copy() for k, w in weights.items()})
    history: list[float] = []
    stale = 0
    step = 0
    for _ in range(epochs):
        _, grads = loss_and_grads(weights, x)
        step += 1
        for k in weights:
            m[k] = beta1 * m[k] + (1 - beta1) * grads[k]
            v[k] = beta2 * v[k] + (1 - beta2) * grads[k] ** 2
            m_hat = m[k] / (1 - beta1**step)
            v_hat = v[k] / (1 - beta2**step)
            weights[k] = weights[k] - lr * m_hat / (np.sqrt(v_hat) + eps)
        val_y, _ = forward_with_caches(weights, val_x)
        val_loss = float(((val_y - val_x) ** 2).mean())
        history.append(val_loss)
        if val_loss < best[0] - 1e-12:
            best = (val_loss, {k: w.copy() for k, w in weights.items()})
            stale = 0
        else:
            stale += 1
            if stale >= patience:
                break
    return LSTMAutoencoder(best[1]), history

