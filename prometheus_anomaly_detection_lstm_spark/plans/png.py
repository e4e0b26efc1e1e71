"""Minimal pure-stdlib PNG rasterizer for the report sinks (S13).

matplotlib is absent from this environment, but the PNG format is
public and simple: IHDR/IDAT/IEND chunks, zlib-compressed scanlines
(https://www.w3.org/TR/png-3/).  This module renders the two report
shapes the reference produces (bar histogram, loss polyline —
train_autoencoder.py:254-292) into real, viewer-openable RGB PNGs with
nothing beyond ``zlib`` + ``struct``.  Rendering is deliberately plain
(white background, gray axes, solid series color): the analytics all
happen in Spark; this is just the sink.
"""

from __future__ import annotations

import struct
import zlib

WHITE = (255, 255, 255)
AXIS = (96, 96, 96)
SERIES = (31, 119, 180)  # matplotlib C0, for familiarity

MARGIN = 32


def _chunk(tag: bytes, payload: bytes) -> bytes:
    crc = zlib.crc32(tag + payload) & 0xFFFFFFFF
    return struct.pack(">I", len(payload)) + tag + payload + struct.pack(">I", crc)


def encode_png(raster: list[list[tuple[int, int, int]]]) -> bytes:
    """RGB rows (height x width x (r,g,b)) -> PNG bytes."""
    height = len(raster)
    width = len(raster[0]) if height else 0
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    scanlines = b"".join(
        b"\x00" + bytes(c for px in row for c in px) for row in raster
    )
    return (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(scanlines, 9))
        + _chunk(b"IEND", b"")
    )


def _blank(width: int, height: int) -> list[list[tuple[int, int, int]]]:
    return [[WHITE for _ in range(width)] for _ in range(height)]


def _axes(raster: list[list[tuple[int, int, int]]]) -> None:
    h = len(raster)
    w = len(raster[0])
    for x in range(MARGIN, w - MARGIN // 2):
        raster[h - MARGIN][x] = AXIS
    for y in range(MARGIN // 2, h - MARGIN + 1):
        raster[y][MARGIN] = AXIS


def render_bar_chart(
    values: list[float], width: int = 640, height: int = 320
) -> bytes:
    """Histogram-style bars over a baseline axis -> PNG bytes."""
    raster = _blank(width, height)
    _axes(raster)
    if values:
        top = max(max(values), 1e-12)
        plot_w = width - MARGIN - MARGIN // 2
        plot_h = height - MARGIN - MARGIN // 2
        bar_w = max(1, plot_w // max(len(values), 1))
        for i, v in enumerate(values):
            bar_h = int(round(max(v, 0.0) / top * (plot_h - 2)))
            x0 = MARGIN + 1 + i * bar_w
            for x in range(x0, min(x0 + max(bar_w - 1, 1), width - 1)):
                for y in range(height - MARGIN - bar_h, height - MARGIN):
                    raster[y][x] = SERIES
    return encode_png(raster)


def render_line_chart(
    values: list[float], width: int = 640, height: int = 320
) -> bytes:
    """Polyline (loss curve) -> PNG bytes."""
    raster = _blank(width, height)
    _axes(raster)
    if values:
        lo, hi = min(values), max(values)
        span = (hi - lo) or 1.0
        plot_w = width - MARGIN - MARGIN // 2
        plot_h = height - MARGIN - MARGIN // 2

        def pt(i: int) -> tuple[int, int]:
            x = MARGIN + 1 + (
                int(round(i * (plot_w - 2) / max(len(values) - 1, 1)))
            )
            y = (height - MARGIN - 1) - int(
                round((values[i] - lo) / span * (plot_h - 2))
            )
            return x, y

        prev = pt(0)
        for i in range(1, len(values)):
            cur = pt(i)
            x0, y0 = prev
            x1, y1 = cur
            steps = max(abs(x1 - x0), abs(y1 - y0), 1)
            for s in range(steps + 1):
                x = x0 + (x1 - x0) * s // steps
                y = y0 + (y1 - y0) * s // steps
                raster[y][x] = SERIES
            prev = cur
        if len(values) == 1:
            x, y = pt(0)
            raster[y][x] = SERIES
    return encode_png(raster)


def decode_ihdr(data: bytes) -> tuple[int, int]:
    """(width, height) from PNG bytes — for tests, not a full decoder."""
    assert data[:8] == b"\x89PNG\r\n\x1a\n", "not a PNG"
    assert data[12:16] == b"IHDR"
    width, height = struct.unpack(">II", data[16:24])
    return width, height
