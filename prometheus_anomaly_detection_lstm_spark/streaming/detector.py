"""Realtime anomaly detector as Structured Streaming (SURVEY §2.8).

The reference's detector (realtime_detector.py:350-398) is a
``while True: sleep(interval)`` loop that each cycle re-fetches the last
L points per metric, preprocesses, scores one window, and pushes gauges.
The Spark-native port keeps the same *stateless recompute* semantics
(T2) inside ``foreachBatch`` of a processing-time-triggered streaming
query (T1); the exporter sink (S12) receives "update-mode" gauge writes
(T4) and the reference's guard/sentinel behaviors are preserved:

* missing metric -> whole cycle skipped                 (T3, :176-190)
* short window (n < L) -> skipped, point-count gauge    (T3, :211-215)
* scoring failure -> mse gauge -1, flag 0               (M6, :339-348)

``run_detector_on_batch`` is trigger-agnostic: production wires it to a
rate source (``trigger(processingTime='30 seconds')``); tests drive it
with a replayed fixture micro-batch (FIXTURES F7 cycles).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import logging

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ml.autoencoder import StubAutoencoder
from ..ml.infer import reconstruction_errors
from .exporter import DetectorMetrics


@dataclass
class DetectorConfig:
    metrics: list[str]
    sequence_length: int = 20
    #: static MSE alarm threshold (the reference's hand-tuned
    #: ``anomaly_threshold_mse``, config.yaml:113-119).  None switches
    #: to AUTOMATIC thresholding: a streaming SPOT/EVT fit over the
    #: detector's own recent MSE scores (streaming/spot.py) — the
    #: detector stays silent while the calibrator warms up, then
    #: alarms at the risk-q EVT level; alarmed scores are not fed back
    #: into calibration (Siffer et al., KDD'17).
    threshold: float | None = 0.0013
    interval_seconds: int = 30
    scaler_params: pd.DataFrame | None = None  # feature -> (min, max)
    #: any scorer exposing predict((1, L, F)) -> (1, L, F): the stub
    #: or the trained NumPy LSTM (ml/lstm_np.py)
    model: object = field(default_factory=StubAutoencoder)
    #: SPOT calibrator used when ``threshold`` is None.
    spot: "object" = None
    #: drift-aware auto-threshold: with ``threshold=None``, pick the
    #: DSPOT calibrator (residuals vs a bounded moving-average local
    #: model, Siffer et al. KDD'17 §4.3) instead of plain SPOT — the
    #: right default when the MSE baseline itself trends (model aging,
    #: slow data drift); the zoo measured 2 vs 489 false alarms on a
    #: two-week ramp (BASELINE.md round-7 scorecard).
    drift: bool = False

    def __post_init__(self):
        if self.threshold is None and self.spot is None:
            from .spot import DriftSpotCalibrator, SpotCalibrator

            self.spot = (
                DriftSpotCalibrator() if self.drift else SpotCalibrator()
            )

    @property
    def features(self) -> list[str]:
        return self.metrics + ["day_of_week", "hour_of_day"]


def _prep_window(pdf: pd.DataFrame, cfg: DetectorConfig) -> np.ndarray | None:
    """The reference's _preprocess_and_create_sequence
    (realtime_detector.py:220-242) on one aligned window."""
    pdf = pdf.sort_values("ts").reset_index(drop=True)
    pdf["day_of_week"] = pdf["ts"].dt.dayofweek
    pdf["hour_of_day"] = pdf["ts"].dt.hour
    vals = pdf[cfg.features].astype("float64")
    if vals.isna().any().any():  # ffill/bfill only when NaN present (:224-230)
        vals = vals.ffill().bfill()
    if cfg.scaler_params is not None:
        p = cfg.scaler_params.set_index("feature")
        lo = p["min"].reindex(cfg.features).to_numpy()
        hi = p["max"].reindex(cfg.features).to_numpy()
        rng = np.where(hi == lo, 1.0, hi - lo)
        vals = (vals.to_numpy() - lo) / rng
    else:
        vals = vals.to_numpy()
    return vals[np.newaxis, :, :]  # (1, L, F) — :242


def run_detection_cycle(
    window_long: pd.DataFrame, cfg: DetectorConfig, sinks: DetectorMetrics
) -> dict | None:
    """One cycle over a long-format window (ts, metric, value).

    Returns the cycle outcome dict, or None when skipped (guards).
    """
    present = set(window_long["metric"].unique())
    # SUBSET check, not equality: the reference guard requires every
    # CONFIGURED metric present (realtime_detector.py:176-193); an
    # extra series in the scrape (a newly-added gauge) must not
    # permanently disable detection
    if not set(cfg.metrics).issubset(present):
        return None
    wide = window_long.pivot_table(
        index="ts", columns="metric", values="value", aggfunc="first"
    ).reset_index()
    # inner-align: rows where every metric has a sample (:195)
    aligned = wide.dropna(subset=cfg.metrics)
    sinks.window_points.set(len(aligned))
    if len(aligned) < cfg.sequence_length:  # short window (:211-215)
        return None
    tail = aligned.tail(cfg.sequence_length)  # U5 (:210)
    seq = _prep_window(tail, cfg)
    try:
        window_mse, feature_mse = reconstruction_errors(cfg.model, seq)
        mse = float(window_mse[0])
        feat_mse = feature_mse[0]
    except Exception:
        sinks.latest_mse.set(-1.0)  # sentinel (M6, :339-348)
        sinks.is_anomaly.set(0.0)
        return None
    thr = cfg.threshold
    if thr is None:  # automatic SPOT/EVT threshold (streaming/spot.py)
        thr = cfg.spot.threshold  # None while calibrating -> no alarm
    is_anom = thr is not None and mse > thr
    if cfg.threshold is None and not is_anom:
        # alarmed scores never recalibrate the bar (SPOT protocol)
        cfg.spot.observe(mse)
    sinks.latest_mse.set(mse)
    sinks.is_anomaly.set(1.0 if is_anom else 0.0)
    if is_anom:
        sinks.total_anomalies.inc()
    for name, v in zip(cfg.features, feat_mse):
        sinks.feature_mse.set(float(v), feature_name=name)
    sinks.last_success.set_to_current_time()
    return {
        "mse": mse,
        "is_anomaly": is_anom,
        "n_points": len(aligned),
        "threshold": thr,
    }


def run_detector_on_batch(
    batch_df: DataFrame, cfg: DetectorConfig, sinks: DetectorMetrics
) -> list[dict]:
    """foreachBatch body: each distinct cycle_id in the batch is one
    detection cycle (exceptions per cycle are logged-and-continue,
    matching the reference loop :392-398)."""
    pdf = batch_df.select("cycle_id", "ts", "metric", "value").toPandas()
    outcomes = []
    for cycle_id in sorted(pdf["cycle_id"].unique()):
        try:
            out = run_detection_cycle(
                pdf[pdf["cycle_id"] == cycle_id], cfg, sinks
            )
        except Exception:
            # logged-AND-continue (reference loop :392-398) — silently
            # discarding made production failures indistinguishable
            # from legitimate guard skips
            logging.getLogger(__name__).exception(
                "detection cycle %s failed", cycle_id
            )
            out = None
        outcomes.append({"cycle_id": int(cycle_id), "outcome": out})
    return outcomes


def start_streaming_detector(
    spark: SparkSession,
    source: DataFrame,
    cfg: DetectorConfig,
    sinks: DetectorMetrics,
    checkpoint_dir: str,
):
    """Wire the detector to a streaming source of long-format samples.

    ``source`` must be a streaming DataFrame with columns
    (cycle_id, ts, metric, value).  Stateless recompute -> no watermark
    needed (SURVEY T3); a stateful ring-buffer upgrade would add
    ``withWatermark('ts', 2*step)``.
    """
    return (
        source.writeStream.outputMode("append")
        .foreachBatch(
            lambda df, _epoch: run_detector_on_batch(df, cfg, sinks)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=f"{cfg.interval_seconds} seconds")
        .start()
    )
