"""Approximate aggregates: accuracy bounds vs exact, plus report sinks."""

from __future__ import annotations

import pytest

from prometheus_anomaly_detection_lstm_spark.operators.approx import (
    approx_distinct_users,
    approx_threshold_percentiles,
)
from prometheus_anomaly_detection_lstm_spark.operators.score import mse_histogram
from prometheus_anomaly_detection_lstm_spark.plans.pipeline import anomaly_scores
from prometheus_anomaly_detection_lstm_spark.plans.reports import (
    histogram_density,
    save_histogram_png,
)

SF = "/root/testdata/sf0.001"


def test_approx_distinct_within_rsd(spark):
    rows = approx_distinct_users(spark, SF).collect()
    assert rows
    for r in rows:
        assert abs(r.approx_users - r.exact_users) <= max(
            3, 0.06 * r.exact_users
        ), r


def test_approx_percentiles_close_to_exact(spark):
    r = approx_threshold_percentiles(spark, SF).first()
    assert r.p95_approx == pytest.approx(r.p95_exact, rel=0.01)
    assert r.p99_approx == pytest.approx(r.p99_exact, rel=0.01)


def test_histogram_density_sums_to_one(spark):
    hist = mse_histogram(anomaly_scores(spark, SF).select("mse"), bins=50)
    dens = histogram_density(hist, bins=50)
    assert len(dens) == 50
    assert sum(d["frac"] for d in dens) == pytest.approx(1.0)


def test_histogram_png_renders_without_matplotlib(spark, tmp_path):
    """S13 fully closed: with matplotlib absent the stdlib rasterizer
    still produces a real PNG (plans/png.py) from the Spark histogram."""
    hist = mse_histogram(anomaly_scores(spark, SF).select("mse"), bins=50)
    out = tmp_path / "h.png"
    save_histogram_png(hist, str(out))
    data = out.read_bytes()
    assert data[:8] == b"\x89PNG\r\n\x1a\n"
