"""Prometheus range-query source (SURVEY §2.1-S1..S5, §4-O1..O3).

:class:`PrometheusDataSource` is a Spark 4 Python DataSource whose
reader plans ONE InputPartition PER (query, time-chunk) (O1: the
reference's 1-hour chunk granularity, data_collector.py:85-111, becomes
the unit of scan parallelism) and fetches over HTTP inside the
executor.  PromQL stays opaque — ``rate()``/``sum by()`` run inside
Prometheus (O2, the source-pushdown analog).  A deterministic per-chunk
JSON file cache (S5: keyed by query+range+step like the reference's
diskcache, data_collector.py:34-40) makes re-reads idempotent and
cheap.  The batch and stream readers decode every response with
:func:`_rows_from_payload` (S4 first-series rule, P2 numeric
coercion), which is network-free-testable on its own (FIXTURES F2).

Register with ``spark.dataSource.register(PrometheusDataSource)`` then::

    spark.read.format("prometheus")
         .option("url", "http://prom:9090")
         .option("queries_json", json.dumps({"cpu": "rate(cpu[2m])"}))
         .option("start", "2024-01-01T00:00:00Z")
         .option("end", "2024-01-02T00:00:00Z")
         .option("step_seconds", "120")
         .load()

Output schema (long format — feed to operators.align.metrics_wide):
    metric STRING, series_idx INT, ts TIMESTAMP, value DOUBLE
"""

from __future__ import annotations

import hashlib
import json
import math
import os
from datetime import datetime, timezone

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

def _chunks(
    start: int, end: int, chunk_seconds: int, step: int = 0
) -> list[tuple[int, int]]:
    """Disjoint [t, e] windows covering [start, end].

    Prometheus ``query_range`` is inclusive at BOTH ends, so adjacent
    chunks sharing a boundary instant would each return the boundary
    sample — a duplicate (metric, ts) row for any direct
    ``format('prometheus')`` read.  Each subsequent chunk therefore
    starts one ``step`` after the previous chunk's end; with
    ``chunk_seconds`` a multiple of ``step`` (the reference's 1 h chunks
    at 2 min steps) the step grid alignment is preserved and every
    instant is emitted exactly once.
    """
    out = []
    t = start
    while t <= end:
        e = min(t + chunk_seconds, end)
        out.append((t, e))
        if e >= end:
            break
        t = e + step
    return out


class _PromPartition(InputPartition):
    def __init__(self, alias, promql, start, end, step):
        self.alias = alias
        self.promql = promql
        self.start = start
        self.end = end
        self.step = step


class PrometheusReader(DataSourceReader):
    def __init__(self, options):
        self.url = options.get("url", "http://localhost:9090")
        self.queries = json.loads(options.get("queries_json", "{}"))
        self.start = int(
            datetime.fromisoformat(
                options["start"].replace("Z", "+00:00")
            ).timestamp()
        )
        self.end = int(
            datetime.fromisoformat(
                options["end"].replace("Z", "+00:00")
            ).timestamp()
        )
        self.step = int(options.get("step_seconds", "120"))
        self.chunk_seconds = int(
            float(options.get("chunk_hours", "1")) * 3600
        )
        self.cache_dir = options.get("cache_dir", "")
        self.timeout = float(options.get("timeout_seconds", "30"))
        self.first_series_only = (
            options.get("first_series_only", "true").lower() == "true"
        )

    def partitions(self):
        return [
            _PromPartition(alias, promql, s, e, self.step)
            for alias, promql in sorted(self.queries.items())
            for (s, e) in _chunks(
                self.start, self.end, self.chunk_seconds, self.step
            )
        ]

    def _fetch(self, part: _PromPartition) -> dict:
        return _fetch_payload(
            self.url, part, self.cache_dir, self.timeout
        )

    def read(self, partition: _PromPartition):
        payload = self._fetch(partition)
        yield from _rows_from_payload(
            payload, partition.alias, self.first_series_only
        )


def _fetch_payload(
    url: str, part: _PromPartition, cache_dir: str, timeout: float
) -> dict:
    """One /api/v1/query_range HTTP fetch with the deterministic JSON
    file cache (S5, data_collector.py:34-40); shared by the batch and
    stream readers."""
    cache = None
    if cache_dir:
        key = hashlib.md5(
            f"{url}|{part.promql}|{part.start}|{part.end}|{part.step}".encode()
        ).hexdigest()
        cache = os.path.join(cache_dir, f"{key}.json")
    if cache and os.path.exists(cache):
        with open(cache) as fh:
            return json.load(fh)
    import requests

    resp = requests.get(
        f"{url}/api/v1/query_range",
        params={
            "query": part.promql,
            "start": part.start,
            "end": part.end,
            "step": part.step,
        },
        timeout=timeout,
    )
    resp.raise_for_status()
    payload = resp.json()
    # only non-empty successful results are cached (data_collector.py:79-80)
    if (
        cache
        and payload.get("status") == "success"
        and payload.get("data", {}).get("result")
    ):
        os.makedirs(cache_dir, exist_ok=True)
        tmp = cache + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(payload, fh)
        os.replace(tmp, cache)
    return payload


def _rows_from_payload(payload: dict, alias: str, first_series_only: bool):
    """Decode one response payload into (metric, series_idx, ts, value)
    rows — S4 first-series rule + P2 numeric coercion.

    Unparseable values and ``"NaN"`` both decode to NULL: the reference's
    ``pd.to_numeric(errors='coerce')`` NaN counts as missing in pandas,
    and only a NULL reaches the ffill/bfill step (a double NaN would
    poison the column's MinMax range).  ``±Inf`` keeps its float value.
    Error-status and empty responses yield no rows."""
    if payload.get("status") != "success":
        return
    result = payload.get("data", {}).get("result", [])
    if first_series_only:
        result = result[:1]  # S4 first-series rule
    for idx, series in enumerate(result):
        for ts_s, val in series.get("values", []):
            try:
                v = float(val)
            except (TypeError, ValueError):
                v = None  # P2 coercion
            if v is not None and math.isnan(v):
                v = None
            yield (
                alias,
                idx,
                datetime.fromtimestamp(float(ts_s), tz=timezone.utc).replace(
                    tzinfo=None
                ),
                v,
            )


class PrometheusStreamReader(DataSourceStreamReader):
    """Rate-driven streaming wrapper over the same per-cycle fetch the
    ``foreachBatch`` detector uses (T1/T2 semantics as a first-class
    ``spark.readStream.format("prometheus")`` surface).

    Offsets are step-aligned epoch seconds ``{"ts": t}`` marking the
    EXCLUSIVE end of fetched data: each microbatch covers the grid
    points ``[start.ts, end.ts - step]`` (query_range is inclusive at
    both ends, so the exclusive end avoids the chunk-boundary duplicate
    the batch reader's :func:`_chunks` handles).  ``latestOffset``
    advances to ``now - lag_seconds`` floored to the step grid, capped
    at the optional ``end`` (which makes bounded, deterministic test
    runs possible with ``availableNow``).  One InputPartition per
    (query, chunk) per microbatch — the same scan-parallelism unit as
    the batch reader.
    """

    def __init__(self, options):
        self.url = options.get("url", "http://localhost:9090")
        self.queries = json.loads(options.get("queries_json", "{}"))
        self.step = int(options.get("step_seconds", "120"))
        self.chunk_seconds = int(
            float(options.get("chunk_hours", "1")) * 3600
        )
        self.cache_dir = options.get("cache_dir", "")
        self.timeout = float(options.get("timeout_seconds", "30"))
        self.first_series_only = (
            options.get("first_series_only", "true").lower() == "true"
        )
        self.lag = int(options.get("lag_seconds", "0"))
        start_opt = options.get("start", "")
        if start_opt:
            self._start = self._align(
                int(
                    datetime.fromisoformat(
                        start_opt.replace("Z", "+00:00")
                    ).timestamp()
                )
            )
        else:
            self._start = self._align(self._now() - self.lag)
        end_opt = options.get("end", "")
        self._end_cap = (
            int(
                datetime.fromisoformat(
                    end_opt.replace("Z", "+00:00")
                ).timestamp()
            )
            if end_opt
            else None
        )

    @staticmethod
    def _now() -> int:
        import time

        return int(time.time())

    def _align(self, t: int) -> int:
        # W3 step-aligned bounds: floor to the step grid anchored at 0
        return t - (t % self.step)

    def initialOffset(self) -> dict:
        return {"ts": self._start}

    def latestOffset(self) -> dict:
        target = self._now() - self.lag
        if self._end_cap is not None:
            target = min(target, self._end_cap)
        # exclusive end one step past the last fetchable grid point
        return {"ts": max(self._align(target) + self.step, self._start)}

    def partitions(self, start: dict, end: dict):
        lo, hi = int(start["ts"]), int(end["ts"]) - self.step
        if hi < lo:
            return []
        return [
            _PromPartition(alias, promql, s, e, self.step)
            for alias, promql in sorted(self.queries.items())
            for (s, e) in _chunks(lo, hi, self.chunk_seconds, self.step)
        ]

    def read(self, partition: _PromPartition):
        payload = _fetch_payload(
            self.url, partition, self.cache_dir, self.timeout
        )
        yield from _rows_from_payload(
            payload, partition.alias, self.first_series_only
        )

    def commit(self, end: dict) -> None:
        pass  # offsets are recomputable; the file cache is the replay story


class PrometheusDataSource(DataSource):
    @classmethod
    def name(cls):
        return "prometheus"

    def schema(self):
        return (
            "metric string, series_idx int, ts timestamp, value double"
        )

    def reader(self, schema):
        return PrometheusReader(self.options)

    def streamReader(self, schema):
        return PrometheusStreamReader(self.options)
