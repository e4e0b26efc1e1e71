"""realtime_detect: an open loop into the streaming detector.

A generator thread writes one parquet file per trigger interval into a
watched directory; each file holds R tenant cycles.  A file-source
streaming query with a processing-time trigger feeds each micro-batch to
``streaming.detector.run_detector_on_batch`` (the same ``foreachBatch``
wiring ``start_streaming_detector`` uses, plus a recorder of when each
outcome returned).  A client thread scrapes the ``streaming.exporter``
endpoint at a fixed interval.

R walks a fixed ascending ladder; rung r lasts ``RUNG_FILES[r]`` files.
Each cycle is due when its file is due, and its latency runs from that
due time to the return of its outcome.
"""

from __future__ import annotations

import os
import sys
import threading
import time
import urllib.request
from dataclasses import dataclass, field

import numpy as np

from .. import checks, gen
from ..common import Ctx, pct

METRICS = ["click", "error", "purchase", "signup", "view"]
SEQUENCE_LENGTH = 20
TRIGGER_S = 1
#: cycles per file (= cycles/s) on each rung, ascending
LADDER = [8, 16, 100]
#: files (= seconds) per rung; the latency rung gets the most samples
RUNG_FILES = [6, 3, 7]
#: the rung whose latency is reported as detect_latency_*
LATENCY_RATE = 8
WARMUP_FILES, WARMUP_RATE = 3, 10
#: files are due half a trigger interval after each trigger
PHASE_S = 0.5
#: a rung's median cycle must be answered within one trigger interval of
#: the first trigger that could pick it up
LATENCY_LIMIT_S = PHASE_S + TRIGGER_S
SCRAPE_EVERY_S = 0.25
DRAIN_S = 12.0
#: static threshold: a normal cycle's scaled values and the model's
#: sigmoid output both lie in [0, 1], so its MSE is below 1; an injected
#: spike scales to ~20 and lifts the MSE far above 1
THRESHOLD = 1.0


@dataclass
class FilePlan:
    idx: int
    rung: int  # index into LADDER, -1 for warm-up
    rate: int
    payload: bytes
    kinds: np.ndarray
    table: object  # pyarrow.Table, kept for the recompute check


def plan_files(seed: int) -> list[FilePlan]:
    plans = []
    schedule = [(-1, WARMUP_RATE)] * WARMUP_FILES + [
        (r, rate) for r, (rate, n) in enumerate(zip(LADDER, RUNG_FILES)) for _ in range(n)
    ]
    for idx, (rung, rate) in enumerate(schedule):
        table, kinds = gen.detector_cycles(seed, idx, rate, METRICS, SEQUENCE_LENGTH)
        plans.append(FilePlan(idx, rung, rate, gen.table_bytes(table), kinds, table))
    return plans


@dataclass
class Recorder:
    """Written by the generator, the foreachBatch callback and the scraper."""

    lock: threading.Lock = field(default_factory=threading.Lock)
    written: int = 0
    completed: int = 0
    done_at: dict = field(default_factory=dict)  # cycle_id -> wall time
    outcomes: dict = field(default_factory=dict)  # cycle_id -> outcome
    batches: list = field(default_factory=list)  # (start, end, cycles, file idxs)
    backlog: list = field(default_factory=list)  # (file idx, cycles)
    write_at: dict = field(default_factory=dict)  # file idx -> wall time
    scrapes: list = field(default_factory=list)  # (seconds, ok)


def rung_stats(
    files: list[tuple[int, int, int, float]],
    done_at: dict[int, float],
    backlog: dict[int, int],
    limit_s: float,
) -> list[dict]:
    """Per rung: latency percentiles, backlog growth and whether it is
    sustainable.

    ``files`` holds (file idx, rung, cycles, due time); cycle ids are
    ``idx * 100_000 + i``.  ``backlog`` maps file idx to the cycles
    written but not done just before the trigger that picks that file
    up.  A rung is sustainable when every cycle finished, its backlog
    grew by at most one file's worth from its first file to its last,
    and its p50 latency is within ``limit_s``.  (Cycles of one file share
    a batch, so a rung's p99 is about its slowest batch; one GC pause
    would decide a p99 test.)
    """
    out = []
    for rung in sorted({f[1] for f in files if f[1] >= 0}):
        fs = [f for f in files if f[1] == rung]
        lat, missing = [], 0
        for idx, _, n, due in fs:
            for i in range(n):
                t = done_at.get(idx * 100_000 + i)
                if t is None:
                    missing += 1
                else:
                    lat.append(t - due)
        rate = fs[0][2]
        growth = backlog[fs[-1][0]] - backlog[fs[0][0]]
        p50 = pct(lat, 50) if lat else float("inf")
        out.append(
            {
                "rung": rung,
                "rate": rate,
                "p50_s": p50,
                "p99_s": pct(lat, 99) if lat else float("inf"),
                "samples": len(lat),
                "unfinished": missing,
                "backlog_growth": growth,
                "sustainable": missing == 0 and growth <= rate and p50 <= limit_s,
            }
        )
    return out


def completion_rate(batches: list, top_files: set[int]) -> float:
    """Cycles per second the detector returned on the overloaded top
    rung: the cycles of every batch that holds a top-rung file, over the
    time from the first such batch's start to the last one's end.

    ``batches`` holds (start, end, cycles, file idxs).  Above capacity
    the batches run back to back, so this is the detector's own rate,
    not the rate the generator offered.
    """
    top = [b for b in batches if b[2] and b[3] & top_files]
    return sum(b[2] for b in top) / (max(b[1] for b in top) - min(b[0] for b in top))


class RealtimeDetect:
    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.exporter = None

    def setup(self) -> None:
        import pandas as pd
        from prometheus_anomaly_detection_lstm_spark.ml.lstm_np import LSTMAutoencoder, init_weights
        from prometheus_anomaly_detection_lstm_spark.streaming.detector import DetectorConfig
        from prometheus_anomaly_detection_lstm_spark.streaming.exporter import DetectorMetrics, start_http_server

        self.ctx.restart_session()
        with self.ctx.tracer.span("generator"):
            self.files = plan_files(self.ctx.seed)
        features = METRICS + ["day_of_week", "hour_of_day"]
        self.scale_lo = np.array([gen.VALUE_LO] * len(METRICS) + [0.0, 0.0])
        self.scale_hi = np.array([gen.VALUE_HI] * len(METRICS) + [6.0, 23.0])
        self.cfg = DetectorConfig(
            metrics=METRICS,
            sequence_length=SEQUENCE_LENGTH,
            threshold=THRESHOLD,
            interval_seconds=TRIGGER_S,
            scaler_params=pd.DataFrame({"feature": features, "min": self.scale_lo, "max": self.scale_hi}),
            model=LSTMAutoencoder(init_weights(len(features))),
        )
        self.sinks = DetectorMetrics()
        self.exporter = start_http_server(self.sinks, port=0)

    def close(self) -> None:
        if self.exporter is not None:
            self.exporter.shutdown()
            self.exporter.server_close()
            self.exporter = None

    # ------------------------------------------------------------ threads

    def _write(self, rec: Recorder, in_dir: str, f: FilePlan) -> None:
        tmp = os.path.join(in_dir, f".f{f.idx:05d}.tmp")
        with open(tmp, "wb") as fh:
            fh.write(f.payload)
        os.rename(tmp, os.path.join(in_dir, f"f{f.idx:05d}.parquet"))
        with rec.lock:
            rec.written += len(f.kinds)
            rec.write_at[f.idx] = time.time()

    def _generate(self, rec: Recorder, in_dir: str, stop: threading.Event) -> None:
        for f in self.files:
            if f.rung < 0:
                continue
            if not _sleep_until(self.due[f.idx], stop):
                return
            self._write(rec, in_dir, f)
            # the backlog just before the trigger that picks this file up
            if not _sleep_until(self.due[f.idx] + TRIGGER_S - PHASE_S - 0.02, stop):
                return
            with rec.lock:
                rec.backlog.append((f.idx, rec.written - rec.completed))

    def _scrape(self, rec: Recorder, stop: threading.Event) -> None:
        url = f"http://127.0.0.1:{self.exporter.server_address[1]}/metrics"
        while not stop.wait(SCRAPE_EVERY_S):
            t = time.perf_counter()
            try:
                with self.ctx.tracer.span("streaming.exporter"):
                    with urllib.request.urlopen(url, timeout=5) as resp:
                        ok = resp.status == 200 and b"total_anomalies_count" in resp.read()
            except OSError:
                ok = False
            rec.scrapes.append((time.perf_counter() - t, ok))

    # ------------------------------------------------------------ measure

    def measure(self) -> dict:
        from prometheus_anomaly_detection_lstm_spark.streaming.detector import run_detector_on_batch

        ctx, rec = self.ctx, Recorder()
        in_dir = ctx.dir("stream", "in")
        ckpt = ctx.dir("stream", "checkpoint")
        for d in (in_dir, ckpt):
            for name in os.listdir(d):
                _rm(os.path.join(d, name))
        cfg, sinks, tracer = self.cfg, self.sinks, ctx.tracer

        def on_batch(df, _epoch):
            t_start = time.time()
            with tracer.span("streaming.detector"):
                outcomes = run_detector_on_batch(df, cfg, sinks)
            t_end = time.time()
            with rec.lock:
                rec.batches.append(
                    (t_start, t_end, len(outcomes), {o["cycle_id"] // 100_000 for o in outcomes})
                )
                rec.completed += len(outcomes)
                for o in outcomes:
                    rec.done_at[o["cycle_id"]] = t_end
                    rec.outcomes[o["cycle_id"]] = o["outcome"]

        source = ctx.spark.readStream.schema(
            "cycle_id long, ts timestamp, metric string, value double"
        ).parquet(in_dir)
        query = (
            source.writeStream.outputMode("append")
            .foreachBatch(on_batch)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime=f"{TRIGGER_S} seconds")
            .start()
        )
        stop = threading.Event()
        try:
            # warm-up, unmeasured: one file per trigger, then wait for
            # their outcomes; the ladder starts on a warm query
            warm = [f for f in self.files if f.rung < 0]
            for f in warm:
                self._write(rec, in_dir, f)
                time.sleep(TRIGGER_S)
            self._wait(rec, query, sum(len(f.kinds) for f in warm), time.time() + 120)
            t0 = float(int(time.time()) + 2) + PHASE_S
            ladder = [f for f in self.files if f.rung >= 0]
            self.due = {f.idx: t0 + k * TRIGGER_S for k, f in enumerate(ladder)}
            gen_thread = threading.Thread(target=self._generate, args=(rec, in_dir, stop))
            scrape_thread = threading.Thread(target=self._scrape, args=(rec, stop))
            gen_thread.start()
            scrape_thread.start()
            try:
                self._wait(
                    rec, query, sum(len(f.kinds) for f in self.files),
                    t0 + len(ladder) * TRIGGER_S + DRAIN_S,
                )
            finally:
                stop.set()
                gen_thread.join(timeout=30)
                scrape_thread.join(timeout=30)
        finally:
            query.stop()
        self.rec = rec
        files = [(f.idx, f.rung, len(f.kinds), self.due[f.idx]) for f in ladder]
        self.rungs = rung_stats(files, rec.done_at, dict(rec.backlog), LATENCY_LIMIT_S)
        for r in self.rungs:
            print(f"realtime_detect rung: {r}", file=sys.stderr)
        top = {f.idx for f in ladder if f.rung == len(LADDER) - 1}
        completion = completion_rate(rec.batches, top)
        print(f"realtime_detect top-rung completion: {completion:.2f} cycles/s", file=sys.stderr)
        ok = [r for r in self.rungs if r["sustainable"]]
        lat = next(r for r in self.rungs if r["rate"] == LATENCY_RATE)
        self.headline = {
            "detect_sustainable_cycles_per_s": float(ok[-1]["rate"]) if ok else 0.0,
            "detect_completion_cycles_per_s": completion,
            "detect_latency_p50_ms": lat["p50_s"] * 1000.0,
            "detect_latency_p99_ms": lat["p99_s"] * 1000.0,
        }
        return {"result_s": lat["p50_s"], "windows_per_s": completion}

    @staticmethod
    def _wait(rec: Recorder, query, total: int, deadline: float) -> None:
        """Until ``total`` cycles returned or ``deadline`` passed."""
        polls = 0
        while time.time() < deadline:
            with rec.lock:
                if rec.completed >= total:
                    return
            polls += 1
            # a JVM round trip: rarely, to stay off the detector's path
            if polls % 10 == 0 and query.exception() is not None:
                raise RuntimeError(f"streaming query failed: {query.exception()}")
            time.sleep(0.05)

    def trace_layers(self) -> tuple[dict, tuple[int, int, list[str]]]:
        """Traced-only: the tracing overhead, from an untraced ladder run
        after the traced one."""
        traced = self.headline["detect_latency_p50_ms"] / 1000.0
        ctx = self.ctx
        ctx.trace = ctx.tracer.enabled = False
        try:
            untraced = self.measure()["result_s"]
            checked = self.check()
        finally:
            ctx.trace = ctx.tracer.enabled = True
        return {"trace_overhead.result_s": traced - untraced}, checked

    def check(self) -> tuple[int, int, list[str]]:
        import pandas as pd

        rec = self.rec
        kinds = {
            f.idx * 100_000 + i: gen.KINDS[k] for f in self.files for i, k in enumerate(f.kinds)
        }
        table = pd.concat([f.table.to_pandas() for f in self.files], ignore_index=True)
        table = table[table["cycle_id"].isin(set(rec.outcomes))]
        recompute_in = checks.cycle_inputs(table, METRICS, SEQUENCE_LENGTH, self.scale_lo, self.scale_hi)
        recompute = {}
        if recompute_in:
            ids = list(recompute_in)
            x = np.stack([recompute_in[c] for c in ids])
            err = x - self.cfg.model.predict(x)
            recompute = dict(zip(ids, (err * err).mean(axis=(1, 2))))
        failed, errs = checks.check_cycles(rec.outcomes, kinds, recompute, THRESHOLD)
        self.cycles_failed = failed
        bad_scrapes = sum(1 for _, ok in rec.scrapes if not ok)
        if bad_scrapes:
            errs.append(f"{bad_scrapes} exporter scrapes failed")
        return len(rec.outcomes) + len(rec.scrapes), failed + bad_scrapes, errs

    def layer_metrics(self) -> dict:
        rec = self.rec
        batch_s = [e - s for s, e, n, _ in rec.batches if n]
        per_batch = [n for _, _, n, _ in rec.batches if n]
        skipped = sum(1 for o in rec.outcomes.values() if o is None)
        # input wait: from a file's write to the start of the batch that
        # returned its first cycle
        start_of = {e: s for s, e, _, _ in rec.batches}
        delays = [
            start_of[rec.done_at[f.idx * 100_000]] - rec.write_at[f.idx]
            for f in self.files
            if f.idx * 100_000 in rec.done_at and f.idx in rec.write_at
        ]
        scrape_ms = [d * 1000.0 for d, _ in rec.scrapes]
        lag_ms = [(rec.write_at[i] - due) * 1000.0 for i, due in self.due.items() if i in rec.write_at]
        return {
            "streaming.detector.batch_s_p50": pct(batch_s, 50),
            "streaming.detector.batch_s_p99": pct(batch_s, 99),
            "streaming.detector.cycles_per_batch": float(np.mean(per_batch)),
            "streaming.detector.cycles_skipped": float(skipped),
            "streaming.detector.cycles_failed": float(self.cycles_failed),
            "streaming.detector.cycles_unfinished": float(sum(r["unfinished"] for r in self.rungs)),
            "streaming.detector.trigger_delay_ms": pct(delays, 50) * 1000.0 if delays else 0.0,
            "streaming.detector.backlog_max_cycles": float(max(b for _, b in rec.backlog)),
            "streaming.exporter.scrape_ms_p50": pct(scrape_ms, 50),
            "streaming.exporter.scrape_ms_p99": pct(scrape_ms, 99),
            "streaming.exporter.scrapes": float(len(scrape_ms)),
            "generator_lag_ms": max(lag_ms),
            **{f"ladder.{r['rate']}.p99_ms": r["p99_s"] * 1000.0 for r in self.rungs},
            **{f"ladder.{r['rate']}.backlog_growth": float(r["backlog_growth"]) for r in self.rungs},
        }


def _sleep_until(t: float, stop: threading.Event) -> bool:
    """Sleep until wall time ``t``; False when ``stop`` was set first."""
    while (wait := t - time.time()) > 0:
        if stop.wait(min(wait, 0.05)):
            return False
    return True


def _rm(path: str) -> None:
    import shutil

    if os.path.isdir(path):
        shutil.rmtree(path)
    else:
        os.remove(path)
