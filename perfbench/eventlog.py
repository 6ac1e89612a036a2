"""Job-group-scoped totals from a Spark event log.

Only the traced run writes an event log (uncompressed, not rolled); timed
runs keep it off. Each task is charged to the job group of the job that
submitted its stage, which the tracer sets to the innermost open span.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}

COUNTERS = ("tasks", "failed_tasks", "cpu_s", "run_s", "shuffle_mb", "spill_mb")


def _new() -> dict:
    return dict.fromkeys(COUNTERS, 0.0)


def read_groups(log_dir: str) -> dict[str, dict]:
    """{job group: {tasks, failed_tasks, cpu_s, run_s, shuffle_mb, spill_mb}}.

    ``shuffle_mb`` is bytes written to shuffle; ``spill_mb`` is bytes spilled
    to disk. Tasks of jobs without a group are charged to ``""``.
    """
    totals: dict[str, dict] = defaultdict(_new)
    stage_group: dict[int, str] = {}
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if not os.path.isfile(path) or name.startswith("."):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    for sid in ev.get("Stage IDs", ()):
                        # a stage listed again by a later job was skipped there;
                        # its tasks already ran under the first job's group
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    t = totals[stage_group.get(ev.get("Stage ID"), "")]
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    t["tasks"] += 1
                    t["failed_tasks"] += bool(info.get("Failed") or info.get("Killed"))
                    t["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    t["run_s"] += m.get("Executor Run Time", 0) / 1e3
                    t["shuffle_mb"] += (
                        (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                        / 1e6
                    )
                    t["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
    return dict(totals)


def sum_groups(totals: dict[str, dict], groups) -> dict:
    out = _new()
    for g in groups:
        for k, v in totals.get(g, {}).items():
            out[k] += v
    return out
