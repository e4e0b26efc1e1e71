"""Session handling, job groups and process measurements shared by the
workloads."""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager

from .trace import Tracer

#: measured set-ups per run, after one unmeasured set-up that starts the
#: JVM; ``setup_s`` is their median
SETUP_REPEATS = 5


def pct(values: list[float], q: float) -> float:
    """Linear-interpolated percentile ``q`` in [0, 100] of ``values``."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values)


class Ctx:
    """What one benchmark run shares across its phases."""

    def __init__(self, seed: int, seconds: int, trace: bool, work_dir: str):
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work_dir = work_dir
        self.tracer = Tracer(trace)
        self.spark = None
        self.layer: dict[str, float] = {}
        self.session_start_s: list[float] = []
        self.ship_s: list[float] = []

    def dir(self, *parts: str) -> str:
        """A directory under the run's work directory, created if absent."""
        p = os.path.join(self.work_dir, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def restart_session(self) -> None:
        """Stop any running session, then start one and ship the package
        to the Python workers.

        ``cli.cmd_collect`` never calls ``shipping.ensure_shipped``, so the
        benchmark ships the package itself, as part of set-up.
        """
        from prometheus_anomaly_detection_lstm_spark.session import get_spark
        from prometheus_anomaly_detection_lstm_spark.shipping import ensure_shipped

        self.stop_session()
        t0 = time.perf_counter()
        with self.tracer.span("session"):
            self.spark = get_spark("perfbench")
        t1 = time.perf_counter()
        with self.tracer.span("shipping"):
            ensure_shipped(self.spark)
        t2 = time.perf_counter()
        self.session_start_s.append(t1 - t0)
        self.ship_s.append(t2 - t1)

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait until the JVM and the
        Python workers it started have exited."""
        from pyspark import SparkContext

        self.stop_session()
        started = descendants(os.getpid())
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.time() + 60
        while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in started):
            time.sleep(0.1)

    @contextmanager
    def call(self, layer: str):
        """A traced call into ``layer``: a span, plus a Spark job group so
        the event log can charge tasks to it."""
        if not self.trace:
            yield
            return
        sc = self.spark.sparkContext
        sc.setJobGroup(layer, layer)
        try:
            with self.tracer.span(layer):
                yield
        finally:
            sc.setJobGroup("", "")


def timed(fn, *args, **kwargs):
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return out, time.perf_counter() - t0


def descendants(root: int) -> set[int]:
    """Process ids of every live descendant of ``root``."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            parent[int(name)] = int(fields[1])
        except (OSError, IndexError, ValueError):
            continue
    tree, frontier = set(), [root]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    return tree


def peak_rss_mb() -> tuple[float, float]:
    """Summed peak resident memory (VmHWM) of this process and every live
    process it started, split into the Python processes (this one and
    the Spark Python workers) and the Spark JVM."""
    python_kb = jvm_kb = 0
    for pid in descendants(os.getpid()) | {os.getpid()}:
        try:
            with open(f"/proc/{pid}/comm") as fh:
                jvm = fh.read().strip() == "java"
            with open(f"/proc/{pid}/status") as fh:
                kb = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
        except (OSError, StopIteration):
            continue
        if jvm:
            jvm_kb += kb
        else:
            python_kb += kb
    return python_kb / 1024.0, jvm_kb / 1024.0
