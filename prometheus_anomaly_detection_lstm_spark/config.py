"""Config loader mirroring the reference's config.yaml surface.

Same section/key names and the same fallback chain the reference
modules apply (defaults cited per key).  The column set of the metrics
frame is config-driven: ``list(queries) + ['day_of_week',
'hour_of_day']`` (realtime_detector.py:43-44).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Any

try:
    import yaml
except ImportError:  # pragma: no cover
    yaml = None


def parse_duration_seconds(value: Any, default: int = 30) -> int:
    """P10: '30s'/'2m'/'1h'/int -> seconds, fallback to default
    (realtime_detector.py:128-140)."""
    if isinstance(value, (int, float)):
        return int(value)
    if isinstance(value, str):
        m = re.fullmatch(r"\s*(\d+)\s*([smh]?)\s*", value)
        if m:
            n, unit = int(m.group(1)), m.group(2)
            return n * {"": 1, "s": 1, "m": 60, "h": 3600}[unit]
    return default


@dataclass
class EngineConfig:
    prometheus_url: str = "http://localhost:9090"
    artifacts_dir: str = "artifacts"
    queries: dict[str, str] = field(default_factory=dict)
    # data_settings
    collection_periods_iso: list[dict[str, str]] = field(default_factory=list)
    collection_period_hours: int = 336
    cache_chunk_hours: float = 1.0
    step_seconds: int = 120  # step: "2m" (config.yaml:47)
    output_filename: str = "prometheus_metrics_data.parquet"
    # preprocessing_settings
    nan_fill_strategy: str = "ffill_then_bfill"
    scaler_type: str = "MinMaxScaler"
    processed_output_filename: str = "processed_metrics_data.parquet"
    # training_settings
    sequence_length: int = 20
    train_split_ratio: float = 0.8
    epochs: int = 50
    batch_size: int = 64
    learning_rate: float = 0.001
    early_stopping_patience: int = 10
    # real_time_anomaly_detection
    query_interval_seconds: int = 30
    anomaly_threshold_mse: float = 0.0025
    exporter_port: int = 8901
    metrics_prefix: str = "anomaly_detector_"

    @property
    def feature_columns(self) -> list[str]:
        """Fixed feature order (realtime_detector.py:43-44, :204)."""
        return list(self.queries) + ["day_of_week", "hour_of_day"]


def load_config(path: str | None = None, data: dict | None = None) -> EngineConfig:
    if data is None:
        if path is None:
            return EngineConfig()
        if yaml is None:
            raise RuntimeError("pyyaml unavailable; pass data= instead")
        with open(path) as fh:
            data = yaml.safe_load(fh) or {}
    ds = data.get("data_settings", {})
    ps = data.get("preprocessing_settings", {})
    ts = data.get("training_settings", {})
    rt = data.get("real_time_anomaly_detection", {})
    return EngineConfig(
        prometheus_url=data.get("prometheus_url", "http://localhost:9090"),
        artifacts_dir=data.get("artifacts_dir", "artifacts"),
        queries=dict(data.get("queries", {})),
        collection_periods_iso=list(ds.get("collection_periods_iso", []) or []),
        collection_period_hours=ds.get("collection_period_hours", 336),
        cache_chunk_hours=ds.get("cache_chunk_hours", 1.0),
        step_seconds=parse_duration_seconds(ds.get("step", "2m"), 120),
        output_filename=ds.get(
            "output_filename", "prometheus_metrics_data.parquet"
        ),
        nan_fill_strategy=ps.get("nan_fill_strategy", "ffill_then_bfill"),
        scaler_type=ps.get("scaler_type", "MinMaxScaler"),
        processed_output_filename=ps.get(
            "processed_output_filename", "processed_metrics_data.parquet"
        ),
        sequence_length=ts.get("sequence_length", 20),
        train_split_ratio=ts.get("train_split_ratio", 0.8),
        epochs=ts.get("epochs", 50),
        batch_size=ts.get("batch_size", 64),
        learning_rate=ts.get("learning_rate", 0.001),
        early_stopping_patience=ts.get("early_stopping_patience", 10),
        query_interval_seconds=parse_duration_seconds(
            rt.get("query_interval_seconds", 30), 30
        ),
        anomaly_threshold_mse=rt.get("anomaly_threshold_mse", 0.0025),
        exporter_port=rt.get("exporter_port", 8901),
        metrics_prefix=rt.get("metrics_prefix", "anomaly_detector_"),
    )


def validate_periods(periods: list[dict[str, str]]) -> list[dict[str, str]]:
    """P9: drop malformed/inverted periods (data_collector.py:176-189)."""
    from datetime import datetime

    valid = []
    for p in periods:
        try:
            start = datetime.fromisoformat(str(p["start"]))
            end = datetime.fromisoformat(str(p["end"]))
        except (KeyError, ValueError):
            continue
        if start < end:
            valid.append(p)
    return valid
