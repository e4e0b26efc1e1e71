"""Prometheus source tests: the response decoder (FIXTURES F2 cases)
and the Python DataSource against a stub HTTP server — no real network.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

import pytest

from prometheus_anomaly_detection_lstm_spark.sources.prometheus import (
    PrometheusDataSource,
    _rows_from_payload,
)


def _body(series):
    return json.dumps(
        {
            "status": "success",
            "data": {"resultType": "matrix", "result": series},
        }
    )


FIX = [
    # single series (normal)
    ("cpu", _body([{"metric": {"job": "x"}, "values": [[1704067200, "1.5"], [1704067320, "2.5"]]}])),
    # two series -> first-series rule (S4)
    ("mem", _body([
        {"metric": {"i": "0"}, "values": [[1704067200, "10"]]},
        {"metric": {"i": "1"}, "values": [[1704067200, "99"]]},
    ])),
    # empty result
    ("empty", _body([])),
    # error status
    ("bad", json.dumps({"status": "error", "errorType": "timeout", "error": "x"})),
    # unparseable value and "NaN" -> NULL (P2); Inf stays a float
    ("nan", _body([{"metric": {}, "values": [
        [1704067200, "abc"], [1704067320, "NaN"], [1704067440, "+Inf"],
    ]}])),
]


def _decode(first_series_only=True):
    by_metric = {}
    for alias, body in FIX:
        for metric, idx, ts, value in _rows_from_payload(
            json.loads(body), alias, first_series_only
        ):
            by_metric.setdefault(metric, []).append((idx, ts, value))
    return by_metric


def test_parse_response_decode():
    by_metric = _decode()
    assert [v for _, _, v in by_metric["cpu"]] == [1.5, 2.5]
    assert by_metric["cpu"][0][1].isoformat() == "2024-01-01T00:00:00"
    # first-series only
    assert [v for _, _, v in by_metric["mem"]] == [10.0]
    # empty + error responses produce no rows
    assert "empty" not in by_metric and "bad" not in by_metric
    # coercion to NULL, rows kept
    assert [v for _, _, v in by_metric["nan"]] == [None, None, float("inf")]


def test_parse_multi_series_kept_when_disabled():
    assert [idx for idx, _, _ in _decode(False)["mem"]] == [0, 1]


class _StubProm(BaseHTTPRequestHandler):
    hits: list[str] = []

    def do_GET(self):
        q = parse_qs(urlparse(self.path).query)
        type(self).hits.append(q["query"][0])
        start = int(float(q["start"][0]))
        step = int(q["step"][0])
        values = [[start + i * step, str(i * 1.0)] for i in range(3)]
        body = _body([{"metric": {}, "values": values}]).encode()
        self.send_response(200)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *a):
        pass


@pytest.fixture(scope="module")
def stub_server():
    server = ThreadingHTTPServer(("127.0.0.1", 0), _StubProm)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    yield f"http://127.0.0.1:{server.server_port}"
    server.shutdown()


def test_datasource_partitions_and_cache(spark, stub_server, tmp_path):
    spark.dataSource.register(PrometheusDataSource)
    reader = (
        spark.read.format("prometheus")
        .option("url", stub_server)
        .option("queries_json", json.dumps({"cpu": "rate(cpu[2m])", "mem": "mem_bytes"}))
        .option("start", "2024-01-01T00:00:00Z")
        .option("end", "2024-01-01T04:00:00Z")
        .option("step_seconds", "120")
        .option("chunk_hours", "1")
        .option("cache_dir", str(tmp_path / "cache"))
    )
    df = reader.load()
    assert df.columns == ["metric", "series_idx", "ts", "value"]
    rows = df.collect()
    # 2 queries x 4 one-hour chunks x 3 points
    assert len(rows) == 24
    assert {r.metric for r in rows} == {"cpu", "mem"}
    first_hits = len(_StubProm.hits)
    assert first_hits == 8  # one HTTP call per (query, chunk) partition
    # second read: all chunks served from the deterministic cache (S5/O1)
    assert reader.load().count() == 24
    assert len(_StubProm.hits) == first_hits


def test_stream_reader_offsets_are_step_aligned():
    """Offset arithmetic without Spark: initial/latest offsets sit on
    the step grid, the end cap bounds the stream, and an empty range
    plans no partitions."""
    from prometheus_anomaly_detection_lstm_spark.sources.prometheus import (
        PrometheusStreamReader,
    )

    r = PrometheusStreamReader(
        {
            "queries_json": json.dumps({"m1": "q1", "m2": "q2"}),
            "start": "2024-01-01T00:00:00Z",
            "end": "2024-01-01T00:10:00Z",
            "step_seconds": "120",
        }
    )
    start = r.initialOffset()
    assert start == {"ts": 1704067200}
    latest = r.latestOffset()
    # capped at end, exclusive-end one step past the last grid point
    assert latest == {"ts": 1704067200 + 600 + 120}
    parts = r.partitions(start, latest)
    # 2 queries, one chunk each (range << chunk_hours)
    assert len(parts) == 2
    lo, hi = parts[0].start, parts[0].end
    assert lo == 1704067200 and hi == 1704067200 + 600
    assert r.partitions(latest, latest) == []


def test_streaming_source_drives_detector(spark, stub_server, tmp_path):
    """spark.readStream.format('prometheus') -> foreachBatch detector:
    the sugar surface feeds the same run_detector_on_batch cycle body
    (verdict r2 task 8)."""
    from pyspark.sql import functions as F

    from prometheus_anomaly_detection_lstm_spark.streaming.detector import (
        DetectorConfig,
        run_detector_on_batch,
    )
    from prometheus_anomaly_detection_lstm_spark.streaming.exporter import (
        DetectorMetrics,
    )

    spark.dataSource.register(PrometheusDataSource)
    cfg = DetectorConfig(
        metrics=["m1", "m2"], sequence_length=2, threshold=1e9
    )
    sinks = DetectorMetrics()
    outcomes: list[dict] = []

    stream = (
        spark.readStream.format("prometheus")
        .option("url", stub_server)
        .option("queries_json", json.dumps({"m1": "q1", "m2": "q2"}))
        .option("start", "2024-01-01T00:00:00Z")
        .option("end", "2024-01-01T00:10:00Z")
        .option("step_seconds", "120")
        .load()
    )

    def on_batch(df, epoch_id):
        outcomes.extend(
            run_detector_on_batch(
                df.withColumn("cycle_id", F.lit(int(epoch_id))), cfg, sinks
            )
        )

    q = (
        stream.writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    done = [o for o in outcomes if o["outcome"] is not None]
    assert done, outcomes
    assert done[0]["outcome"]["mse"] >= 0.0
    assert sinks.latest_mse.value() == pytest.approx(done[-1]["outcome"]["mse"])
