"""Seeded, deterministic input generators for the three workloads.

Every generator draws from ``numpy.random.default_rng`` seeded with the
benchmark seed (mixed with a fixed per-generator salt through
``zlib.crc32``, never Python's per-process salted ``hash()``), so the
same seed gives byte-identical inputs in every process.
"""

from __future__ import annotations

import io
import json
import zlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: the five ``plans.pipeline.METRICS`` event types (kept literal here so
#: the generators import nothing from the program under test)
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
BASE_TS = np.datetime64("2024-01-01T00:00:00", "us")


def rng_for(seed: int, salt: str) -> np.random.Generator:
    return np.random.default_rng([int(seed), zlib.crc32(salt.encode())])


# ------------------------------------------------------------ batch_scoring


def events_table(seed: int, n_minutes: int) -> pa.Table:
    """An ``events`` table in the testdata schema at minute grain.

    ~3% of minutes carry no event at all (gaps in the pivot grid), each
    present minute carries 3-7 events of random type (so a metric can be
    missing for a minute and filled later), and ~2% of events repeat the
    previous event's exact timestamp (duplicate timestamps; keep-first
    by ``event_id`` decides the pivoted value).
    """
    rng = rng_for(seed, "events")
    minutes = np.nonzero(rng.random(n_minutes) > 0.03)[0]
    per_minute = rng.integers(3, 8, size=minutes.size)
    minute = np.repeat(minutes, per_minute)
    n = minute.size
    etype = rng.integers(0, len(EVENT_TYPES), size=n)
    offset_us = rng.integers(0, 60_000_000, size=n)
    dup = np.zeros(n, dtype=bool)
    dup[1:] = (rng.random(n - 1) < 0.02) & (minute[1:] == minute[:-1])
    offset_us[dup] = offset_us[np.nonzero(dup)[0] - 1]
    phase = 2 * np.pi * (minute % 1440) / 1440
    value = np.round(20 + 10 * np.sin(phase + etype) + rng.normal(0, 2, n), 2)
    order = np.lexsort((offset_us, minute))
    ts = BASE_TS + minute.astype("timedelta64[m]") + offset_us.astype("timedelta64[us]")
    props = np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], dtype=object)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts[order], type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 500, n).astype(np.int64)),
            "event_type": pa.array(np.array(EVENT_TYPES, dtype=object)[etype[order]]),
            "value": pa.array(value[order]),
            "props": pa.array(props),
        }
    )


def table_bytes(table: pa.Table) -> bytes:
    buf = io.BytesIO()
    pq.write_table(table, buf)
    return buf.getvalue()


# -------------------------------------------------------- offline_lifecycle

#: "n/a" stands for a non-numeric sample body that the collector must
#: coerce to NULL
JUNK_TEXT = "n/a"
#: the lifecycle's shape: the reference config's 16 queries on a 2-minute
#: step, over N_PERIODS disjoint periods of PERIOD_HOURS hours each
N_QUERIES, STEP_S = 16, 120
N_PERIODS, PERIOD_HOURS = 3, 1


@dataclass
class PromData:
    """What the fake Prometheus serves: one series per query alias."""

    queries: dict[str, str]  # alias -> PromQL text
    periods: list[dict[str, str]]  # ISO start/end, disjoint
    step: int
    #: alias -> {epoch second -> sample text}; absent keys are missing samples
    series: dict[str, dict[int, str]]


def prom_data(seed: int) -> PromData:
    """The lifecycle's Prometheus data, with ~0.5% non-numeric and ~2%
    missing samples.  It holds no "NaN" sample, because of a known defect
    that makes ``cmd_train`` fail on one (see perfbench/README.md)."""
    rng = rng_for(seed, "prometheus")
    queries = {
        f"m{i:02d}": f'sum(rate(bench_metric_{i:02d}_total{{job="bench"}}[2m]))'
        for i in range(N_QUERIES)
    }
    periods, grid = [], []
    start = int((BASE_TS - np.datetime64("1970-01-01T00:00:00", "us")) // np.timedelta64(1, "s"))
    for p in range(N_PERIODS):
        s = start + p * 86400 + int(rng.integers(0, 12)) * 3600
        e = s + PERIOD_HOURS * 3600
        periods.append({"start": _iso(s), "end": _iso(e)})
        grid.extend(range(s, e + 1, STEP_S))
    grid_arr = np.asarray(grid, dtype=np.int64)
    series = {}
    for k, alias in enumerate(sorted(queries)):
        level = 5.0 + k
        vals = np.round(
            level
            + 2.0 * np.sin(2 * np.pi * (grid_arr % 86400) / 86400 + k)
            + rng.normal(0, 0.3, grid_arr.size),
            4,
        )
        kind = rng.random(grid_arr.size)
        pts = {}
        for t, v, u in zip(grid_arr.tolist(), vals.tolist(), kind.tolist()):
            if u < 0.02:
                continue  # missing sample
            pts[t] = JUNK_TEXT if u < 0.025 else repr(v)
        series[alias] = pts
    return PromData(queries=queries, periods=periods, step=STEP_S, series=series)


def _iso(epoch: int) -> str:
    return str(np.datetime64(epoch, "s")) + "Z"


def prom_response(data: PromData, promql: str, start: int, end: int, step: int) -> bytes:
    """One ``/api/v1/query_range`` body for ``promql`` over [start, end]."""
    alias = next(a for a, q in data.queries.items() if q == promql)
    pts = data.series[alias]
    values = [[t, pts[t]] for t in range(start, end + 1, step) if t in pts]
    result = (
        [{"metric": {"__name__": alias, "job": "bench"}, "values": values}]
        if values
        else []
    )
    body = {"status": "success", "data": {"resultType": "matrix", "result": result}}
    return json.dumps(body).encode()


def sample_value(text: str) -> float | None:
    """The collector's documented coercion of one sample text."""
    try:
        return float(text)
    except ValueError:
        return None


# --------------------------------------------------------- realtime_detect

#: shares of planned cycle kinds (the rest are normal, scored cycles)
KIND_SHARES = {"missing_metric": 0.05, "short_window": 0.05, "nan_gap": 0.10, "spike": 0.05}
KINDS = ["normal", *KIND_SHARES]
#: the generated metric range the detector's static scaler is fitted to
VALUE_LO, VALUE_HI = 0.0, 100.0
SPIKE_VALUE = 2000.0


def detector_cycles(
    seed: int, file_idx: int, n_cycles: int, metrics: list[str], length: int
) -> tuple[pa.Table, np.ndarray]:
    """One watched-directory file: ``n_cycles`` tenant cycles of
    ``len(metrics)`` x (length + 10) one-minute points.

    Returns the long-format (cycle_id, ts, metric, value) table and the
    planned kind index (into ``KINDS``) of each cycle.  Cycle ids are
    ``file_idx * 100_000 + i`` so they stay unique across files.
    """
    rng = rng_for(seed, f"cycles-{file_idx}")
    n_pts = length + 10
    u = rng.random(n_cycles)
    edges = np.cumsum(list(KIND_SHARES.values()))
    kind = np.where(u < edges[-1], np.searchsorted(edges, u, side="right") + 1, 0)
    n_m = len(metrics)
    start_min = rng.integers(0, 7 * 1440, size=n_cycles)
    base = rng.uniform(20, 80, size=(n_cycles, n_m, 1))
    vals = base + rng.normal(0, 3, size=(n_cycles, n_m, n_pts))
    vals = np.clip(vals, VALUE_LO, VALUE_HI)
    keep = np.ones((n_cycles, n_m, n_pts), dtype=bool)
    for c in np.nonzero(kind == KINDS.index("missing_metric"))[0]:
        keep[c, rng.integers(0, n_m), :] = False
    for c in np.nonzero(kind == KINDS.index("short_window"))[0]:
        keep[c, :, : n_pts - (length - 5)] = False  # only L-5 points remain
    for c in np.nonzero(kind == KINDS.index("nan_gap"))[0]:
        g = rng.integers(0, n_pts - 5)
        vals[c, rng.integers(0, n_m), g : g + 5] = np.nan
    for c in np.nonzero(kind == KINDS.index("spike"))[0]:
        vals[c, rng.integers(0, n_m), n_pts - 1 - rng.integers(0, 5)] = SPIKE_VALUE
    cyc, met, pt = np.nonzero(keep)
    cycle_id = file_idx * 100_000 + cyc
    ts = BASE_TS + (start_min[cyc] + pt).astype("timedelta64[m]")
    table = pa.table(
        {
            "cycle_id": pa.array(cycle_id.astype(np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "metric": pa.array(np.array(metrics, dtype=object)[met]),
            "value": pa.array(vals[cyc, met, pt]),
        }
    )
    return table, kind
