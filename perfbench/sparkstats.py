"""Per-job-group Spark task counts, shuffle bytes and executor CPU,
read from the Spark event log after the session stops.

The benchmark sets a job group around each traced call; every job a
call starts carries that group in its properties, so each task's
metrics can be charged to the call that caused it.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass


@dataclass
class GroupStats:
    tasks: int = 0
    shuffle_write_bytes: int = 0
    executor_cpu_s: float = 0.0


def read_event_logs(log_dir: str) -> dict[str, GroupStats]:
    """Job group id -> summed task metrics over every log in ``log_dir``."""
    out: dict[str, GroupStats] = {}
    for name in sorted(os.listdir(log_dir)):
        stage_group: dict[int, str] = {}
        with open(os.path.join(log_dir, name)) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for sid in ev.get("Stage IDs", []):
                            stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    if group is None:
                        continue
                    m = ev.get("Task Metrics") or {}
                    st = out.setdefault(group, GroupStats())
                    st.tasks += 1
                    st.shuffle_write_bytes += int(
                        (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    )
                    st.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
    return out
