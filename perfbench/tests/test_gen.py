"""Same seed, same inputs: byte for byte, in this process and in a
fresh one (whose Python hash salt differs)."""

import hashlib
import os
import subprocess
import sys

from perfbench import gen

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _digest(seed: int) -> str:
    h = hashlib.sha256()
    h.update(gen.table_bytes(gen.events_table(seed, 600)))
    data = gen.prom_data(seed)
    for alias, promql in sorted(data.queries.items()):
        t0 = min(data.series[alias])
        h.update(gen.prom_response(data, promql, t0, t0 + 3600, data.step))
    table, kinds = gen.detector_cycles(seed, 3, 40, gen.EVENT_TYPES, 20)
    h.update(gen.table_bytes(table))
    h.update(kinds.tobytes())
    return h.hexdigest()


def test_same_seed_same_bytes():
    assert _digest(7) == _digest(7)


def test_other_seed_other_bytes():
    assert _digest(7) != _digest(8)


def test_same_bytes_in_a_fresh_process():
    code = "from perfbench.tests.test_gen import _digest; print(_digest(7))"
    env = {**os.environ, "PYTHONHASHSEED": "12345", "PYTHONPATH": ROOT}
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, env=env, cwd=ROOT, timeout=120
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == _digest(7)


def test_events_have_gaps_and_duplicate_timestamps():
    ev = gen.events_table(3, 2000).to_pandas()
    minutes = ev["ts"].dt.floor("min").nunique()
    assert minutes < 2000  # whole minutes with no event
    assert ev.duplicated(["ts"]).any()
    assert set(ev["event_type"]) == set(gen.EVENT_TYPES)


def test_cycle_kinds_follow_the_planned_shares():
    _, kinds = gen.detector_cycles(5, 0, 4000, gen.EVENT_TYPES, 20)
    for k, share in gen.KIND_SHARES.items():
        got = (kinds == gen.KINDS.index(k)).mean()
        assert abs(got - share) < 0.02, (k, got)
