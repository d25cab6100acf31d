"""Per-job-group sums from an uncompressed Spark event log.

Spark writes one JSON event per line (``spark.eventLog.compress=false``).
A job's group comes from the ``spark.jobGroup.id`` property of its
``SparkListenerJobStart``; each task's metrics count toward the group of
the first job that listed the task's stage.
"""

from __future__ import annotations

import json
from collections import defaultdict

FIELDS = (
    "jobs",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "fetch_wait_s",
    "output_bytes",
    "gc_s",
    "spill_bytes",
)
OTHER = "other"


def _zero() -> dict[str, float]:
    return {f: 0 for f in FIELDS}


def group_sums(
    lines, window: tuple[float, float] | None = None
) -> dict[str, dict[str, float]]:
    """Sum task metrics per job group over the event-log ``lines``. Jobs
    without a group count toward :data:`OTHER`. With ``window`` (epoch
    seconds), only jobs submitted inside it count."""

    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(_zero)
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            if window is not None:
                t = ev.get("Submission Time", 0) / 1e3
                if not window[0] <= t <= window[1]:
                    continue
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or OTHER
            out[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics")
            if not m:
                continue
            group = stage_group.get(ev.get("Stage ID"))
            if group is None:
                continue  # a stage of no counted job
            g = out[group]
            sr = m.get("Shuffle Read Metrics", {})
            sw = m.get("Shuffle Write Metrics", {})
            g["tasks"] += 1
            g["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            g["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            g["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            g["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            g["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
            g["output_bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
            g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
    return dict(out)


def read_group_sums(log_dir: str, window: tuple[float, float] | None = None):
    """:func:`group_sums` over every event-log file under ``log_dir``
    (single-file or rolling layout; hidden and status files skipped)."""
    import os

    merged: dict[str, dict[str, float]] = defaultdict(_zero)
    for base, _, names in sorted(os.walk(log_dir)):
        for name in sorted(names):
            if name.startswith((".", "appstatus")):
                continue
            with open(os.path.join(base, name)) as fh:
                for g, vals in group_sums(fh, window).items():
                    for f, v in vals.items():
                        merged[g][f] += v
    return dict(merged)
