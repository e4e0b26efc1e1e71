"""Report sinks (S13): real PNG output with no plotting dependency."""

from __future__ import annotations

import zlib

from prometheus_anomaly_detection_lstm_spark.plans import png as P
from prometheus_anomaly_detection_lstm_spark.plans.reports import (
    histogram_density,
    save_histogram_png,
    save_loss_curve_png,
)


def _scanlines(data: bytes) -> bytes:
    idat_start = data.index(b"IDAT") + 4
    idat_len = int.from_bytes(data[idat_start - 12 : idat_start - 8], "big")
    return zlib.decompress(data[idat_start : idat_start + idat_len])


def _assert_valid_png(data: bytes, width: int, height: int) -> None:
    assert data[:8] == b"\x89PNG\r\n\x1a\n"
    assert P.decode_ihdr(data) == (width, height)
    # IDAT decompresses to exactly height * (1 + 3*width) filtered bytes
    assert len(_scanlines(data)) == height * (1 + 3 * width)


def test_encode_png_keeps_every_pixel():
    raster = [[(x, y, (x * y) % 256) for x in range(9)] for y in range(5)]
    data = P.encode_png(raster)
    assert P.decode_ihdr(data) == (9, 5)
    # filter type 0 (None) rows carry the pixels verbatim
    assert _scanlines(data) == b"".join(
        b"\x00" + bytes(c for px in row for c in px) for row in raster
    )


def test_bar_chart_png_valid():
    data = P.render_bar_chart([0.1, 0.5, 0.2, 0.0, 0.9])
    _assert_valid_png(data, 640, 320)


def test_line_chart_png_valid():
    data = P.render_line_chart([0.5, 0.4, 0.35, 0.34, 0.34])
    _assert_valid_png(data, 640, 320)
    # degenerate inputs still render
    _assert_valid_png(P.render_line_chart([]), 640, 320)
    _assert_valid_png(P.render_line_chart([1.0]), 640, 320)


def test_histogram_sink_end_to_end(spark, tmp_path):
    from prometheus_anomaly_detection_lstm_spark.operators.score import (
        mse_histogram,
    )

    mse = spark.createDataFrame(
        [(float(i % 7) / 10.0,) for i in range(100)], ["mse"]
    )
    hist = mse_histogram(mse, bins=50)
    dens = histogram_density(hist, bins=50)
    assert sum(d["count"] for d in dens) == 100
    out = tmp_path / "hist.png"
    save_histogram_png(hist, str(out))
    _assert_valid_png(out.read_bytes(), 640, 320)


def test_loss_curve_sink(tmp_path):
    out = tmp_path / "loss.png"
    save_loss_curve_png([0.9, 0.5, 0.3, 0.25, 0.24], str(out))
    _assert_valid_png(out.read_bytes(), 640, 320)
