"""Output checks.  Each returns a list of mismatch descriptions; an
empty list means the output is correct.  They take plain pandas/NumPy
values so the benchmark's own tests can feed them perturbed outputs."""

from __future__ import annotations

import numpy as np
import pandas as pd

from . import gen

#: the program rounds window MSEs to 8 decimals
MSE_TOL = 1.5e-8


def _same(a: np.ndarray, b: np.ndarray, atol: float) -> np.ndarray:
    a = np.asarray(a, dtype="float64")
    b = np.asarray(b, dtype="float64")
    return (np.isnan(a) & np.isnan(b)) | (np.abs(a - b) <= atol)


# -------------------------------------------------------- offline_lifecycle


def expected_collected(data: gen.PromData) -> pd.DataFrame:
    """The wide frame ``cmd_collect`` must write for ``data``: one row per
    timestamp any query has a sample at, one column per alias (NULL when
    the sample is missing or non-numeric), plus calendar columns."""
    aliases = sorted(data.queries)
    stamps = sorted({t for a in aliases for t in data.series[a]})
    cols = {}
    for a in aliases:
        pts = data.series[a]
        cols[a] = [
            gen.sample_value(pts[t]) if t in pts else None for t in stamps
        ]
    out = pd.DataFrame(cols, dtype="float64")
    ts = pd.to_datetime(np.asarray(stamps, dtype="int64"), unit="s")
    out.insert(0, "ts", ts)
    out["day_of_week"] = ts.dayofweek
    out["hour_of_day"] = ts.hour
    return out


def check_collected(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    got = got.sort_values("ts").reset_index(drop=True)
    if list(got.columns) != list(want.columns):
        return [f"collected columns {list(got.columns)} != {list(want.columns)}"]
    if len(got) != len(want):
        return [f"collected {len(got)} rows, generator has {len(want)}"]
    errs = []
    if not (got["ts"].astype("datetime64[us]").to_numpy() == want["ts"].astype("datetime64[us]").to_numpy()).all():
        errs.append("collected timestamps differ from the generator's")
    for c in want.columns[1:]:
        bad = int((~_same(got[c], want[c], 0.0)).sum())
        if bad:
            errs.append(f"collected column {c}: {bad} values differ")
    return errs


def check_split(n_rows: int, length: int, n_normal: int, n_anomalous: int) -> list[str]:
    want = n_rows - length + 1
    if n_normal + n_anomalous != want:
        return [f"normal {n_normal} + anomalous {n_anomalous} != rows - L + 1 = {want}"]
    return []


def check_split_mse(
    normal_mse: np.ndarray, anomalous_mse: np.ndarray, threshold: float
) -> list[str]:
    errs = []
    if (~(np.asarray(anomalous_mse) > threshold)).any():
        errs.append("an anomalous window's MSE does not exceed the stored threshold")
    if (np.asarray(normal_mse) > threshold).any():
        errs.append("a normal window's MSE exceeds the stored threshold")
    return errs


# ------------------------------------------------------------ batch_scoring


def canonical(df: pd.DataFrame) -> pd.DataFrame:
    """Sorted columns and rows, microsecond timestamps, 9-decimal floats
    (the registry parity harness's canonical form)."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64").round(9)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns), ignore_index=True)


def check_frame(got: pd.DataFrame, want: pd.DataFrame, what: str, atol: float = 1e-9) -> list[str]:
    got, want = canonical(got), canonical(want)
    if list(got.columns) != list(want.columns):
        return [f"{what}: columns {list(got.columns)} != {list(want.columns)}"]
    if len(got) != len(want):
        return [f"{what}: {len(got)} rows, reference has {len(want)}"]
    errs = []
    for c in got.columns:
        if pd.api.types.is_float_dtype(got[c]):
            ok = _same(got[c], want[c], atol)
        else:
            ok = (got[c] == want[c]).to_numpy()
        bad = int((~ok).sum())
        if bad:
            errs.append(f"{what}: column {c} differs in {bad} rows")
    return errs


def scaled_frame(events: pd.DataFrame, metrics: list[str]) -> pd.DataFrame:
    """An independent pandas statement of the pipeline's preprocessing:
    minute pivot with keep-first by event_id, calendar features,
    ffill-then-bfill, MinMax over every feature."""
    ev = events.assign(minute=events["ts"].dt.floor("min")).sort_values("event_id")
    first = ev.drop_duplicates(["minute", "event_type"], keep="first")
    wide = first.pivot(index="minute", columns="event_type", values="value")
    wide = wide.reindex(columns=metrics).sort_index()
    wide = wide.ffill().bfill()
    wide["day_of_week"] = wide.index.dayofweek.astype("float64")
    wide["hour_of_day"] = wide.index.hour.astype("float64")
    lo, hi = wide.min(), wide.max()
    span = (hi - lo).where(hi != lo, 1.0)
    return (wide - lo) / span


def window_mse(model, scaled: np.ndarray, window_ids: np.ndarray, length: int) -> np.ndarray:
    """Driver-side MSE of the stride-1 windows starting at ``window_ids``."""
    x = np.stack([scaled[i : i + length] for i in window_ids])
    err = x - model.predict(x)
    return (err * err).mean(axis=(1, 2))


def check_window_mse(got: np.ndarray, want: np.ndarray, what: str) -> list[str]:
    bad = int((~_same(got, np.round(want, 8), MSE_TOL)).sum())
    return [f"{what}: {bad} sampled window MSEs differ from the recompute"] if bad else []


# --------------------------------------------------------- realtime_detect


def cycle_inputs(table: pd.DataFrame, metrics: list[str], length: int,
                 scale_lo: np.ndarray, scale_hi: np.ndarray) -> dict[int, np.ndarray]:
    """cycle_id -> the (length, F) scaled window the detector should score:
    rows where every metric has a value, last ``length`` of them, calendar
    features appended, MinMax-scaled with the static scaler."""
    out = {}
    span = np.where(scale_hi == scale_lo, 1.0, scale_hi - scale_lo)
    # one pivot for every cycle; a cycle's missing metric is an all-NaN
    # column here, so dropna leaves it fewer than ``length`` rows
    wide_all = table.pivot_table(
        index=["cycle_id", "ts"], columns="metric", values="value", aggfunc="first"
    ).reindex(columns=metrics)
    for cid, wide in wide_all.groupby(level="cycle_id", sort=False):
        wide = wide.droplevel("cycle_id").dropna().sort_index()
        if len(wide) < length:
            continue
        tail = wide.tail(length)
        feats = np.column_stack(
            [tail.to_numpy(), tail.index.dayofweek, tail.index.hour]
        ).astype("float64")
        out[int(cid)] = (feats - scale_lo) / span
    return out


def check_cycles(
    outcomes: dict[int, dict | None],
    kinds: dict[int, str],
    recompute: dict[int, float],
    threshold: float,
) -> tuple[int, list[str]]:
    """Check every returned cycle outcome; returns (failed count, errors).

    Planned guard cycles must return None; every other cycle must be
    scored, its MSE must equal the recompute, and it is flagged exactly
    when it carries an injected spike."""
    failed, errs = 0, []
    for cid, out in outcomes.items():
        kind = kinds[cid]
        problem = None
        if kind in ("missing_metric", "short_window"):
            if out is not None:
                problem = f"cycle {cid} ({kind}) was scored, expected a guard skip"
        elif out is None:
            problem = f"cycle {cid} ({kind}) returned None"
        elif cid not in recompute:
            problem = f"cycle {cid} ({kind}) was scored, the recompute finds no window"
        elif not np.isclose(out["mse"], recompute[cid], rtol=1e-9, atol=1e-12):
            problem = f"cycle {cid}: mse {out['mse']} != recompute {recompute[cid]}"
        elif bool(out["is_anomaly"]) != (kind == "spike"):
            problem = f"cycle {cid} ({kind}): is_anomaly={out['is_anomaly']}"
        elif recompute[cid] > threshold and kind != "spike":
            problem = f"cycle {cid}: normal cycle above the threshold"
        if problem:
            failed += 1
            if len(errs) < 5:
                errs.append(problem)
    return failed, errs
