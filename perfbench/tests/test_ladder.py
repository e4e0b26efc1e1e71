"""The realtime ladder analysis on a simulated detector of known
capacity: rungs below it are sustainable, a rung above it shows a
growing backlog, and the top rung's completion rate follows the
detector's cost, not the offered rate."""

from perfbench.workloads.realtime_detect import completion_rate, rung_stats

TRIGGER, PHASE = 1.0, 0.5


def simulate(ladder, rung_files, overhead_s, per_cycle_s):
    """Files due every trigger interval at PHASE past a trigger; a batch
    starts at the next trigger (or when the previous batch ends) and takes
    every file written before it started."""
    files, due = [], 0.0 + PHASE
    for rung, rate in enumerate(ladder):
        for _ in range(rung_files):
            files.append((len(files), rung, rate, due))
            due += TRIGGER
    done_at, pending, t, i = {}, [], 1.0, 0
    backlog, batches = {}, []
    while i < len(files) or pending:
        while i < len(files) and files[i][3] <= t:
            pending.append(files[i])
            i += 1
        if not pending:
            t = float(int(t) + 1)
            continue
        n = sum(f[2] for f in pending)
        end = t + overhead_s + per_cycle_s * n
        batches.append((t, end, n, {f[0] for f in pending}))
        for idx, _, rate, _ in pending:
            for c in range(rate):
                done_at[idx * 100_000 + c] = end
        pending = []
        t = max(end, float(int(t) + 1))
        if t != int(t):
            t = float(int(t) + 1) if end > int(end) + 1e-9 else end
    for idx, _, _, due in files:
        sample_t = due + TRIGGER - PHASE - 0.02
        written = sum(f[2] for f in files if f[3] <= sample_t)
        finished = sum(1 for v in done_at.values() if v <= sample_t)
        backlog[idx] = written - finished
    return files, done_at, backlog, batches


def test_backlog_grows_above_capacity():
    # capacity about (1 - 0.4) / 0.015 = 40 cycles per second
    files, done_at, backlog, _ = simulate([8, 16, 100], 4, 0.4, 0.015)
    stats = rung_stats(files, done_at, backlog, PHASE + TRIGGER)
    assert [s["sustainable"] for s in stats] == [True, True, False]
    top = stats[-1]
    assert top["backlog_growth"] >= top["rate"]
    assert top["p99_s"] > stats[0]["p99_s"]


def test_unfinished_cycles_make_a_rung_unsustainable():
    files, done_at, backlog, _ = simulate([8], 4, 0.4, 0.015)
    done_at.pop(next(iter(done_at)))
    assert not rung_stats(files, done_at, backlog, PHASE + TRIGGER)[0]["sustainable"]


def _top_completion(per_cycle_s):
    files, _, _, batches = simulate([8, 16, 100], 4, 0.4, per_cycle_s)
    return completion_rate(batches, {f[0] for f in files if f[1] == 2})


def test_completion_rate_follows_the_detector():
    slow, fast = _top_completion(0.015), _top_completion(0.0075)
    # above capacity the rate is the detector's, below the offered 100/s
    assert 16 < slow < fast < 100
    # about n / (overhead + per_cycle * n) for the batch sizes seen
    assert 40 < slow < 1 / 0.015
    assert fast > 1.5 * slow
