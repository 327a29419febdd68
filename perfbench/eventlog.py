"""Spark event-log parser: per-job-group totals from an uncompressed log.

The traced run labels each span's Spark jobs with `setJobGroup(span)`. Spark
copies the job group into the properties of every job and stage it starts,
so each task's metrics attribute to the span through its stage.

Reads the rolling layout (`eventlog_v2_<app>/events_<n>_<app>`) or a single
plain log file, with the stdlib `json` module only.
"""

from __future__ import annotations

import json
import os
import re
from collections import defaultdict

FIELDS = ("jobs", "tasks", "cpu_s", "gc_s", "shuffle_write_bytes",
          "spill_bytes", "output_bytes")
GROUP = "spark.jobGroup.id"


def log_files(path: str) -> list[str]:
    """Event files under `path` in write order."""
    if os.path.isfile(path):
        return [path]
    out = []
    for d, _, files in os.walk(path):
        for f in files:
            m = re.match(r"events_(\d+)_", f)
            if m:
                out.append((d, int(m.group(1)), os.path.join(d, f)))
            elif not f.startswith((".", "appstatus_")):
                out.append((d, 0, os.path.join(d, f)))
    return [p for _, _, p in sorted(out)]


def events(path: str):
    for f in log_files(path):
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def group_totals(path: str) -> dict[str, dict[str, float]]:
    """{job group: {field: total}} over every event file under `path`.
    Jobs and stages without a group land under ''."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(FIELDS, 0))
    for ev in events(path):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            out[(ev.get("Properties") or {}).get(GROUP, "")]["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            stage_group[ev["Stage Info"]["Stage ID"]] = \
                (ev.get("Properties") or {}).get(GROUP, "")
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics")
            if not m:
                continue
            g = out[stage_group.get(ev["Stage ID"], "")]
            g["tasks"] += 1
            g["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            g["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}) \
                .get("Shuffle Bytes Written", 0)
            g["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            g["output_bytes"] += (m.get("Output Metrics") or {}) \
                .get("Bytes Written", 0)
    return dict(out)
