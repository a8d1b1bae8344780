"""Reader for Spark's JSON event log, with work attributed to job groups.

The traced run enables ``spark.eventLog`` (uncompressed) and tags every
Spark job it starts with ``setJobGroup("op<n>/<name>")``. This module
reads the log back and sums, per job group:

- task metrics: tasks, run/CPU/GC time, input, output and shuffle
  bytes, fetch wait, spill, peak execution memory, failures, and each
  stage's task run times (for skew);
- SQL metrics, keyed by ``(operator, metric name)``: executor-side
  values from the task accumulables and driver-side values from
  ``SparkListenerDriverAccumUpdates`` (which carry, e.g., a scan's
  "number of files read" and a broadcast's "data size").

The log is read from the rolling ``eventlog_v2_<app>/events_<n>_<app>``
directory that Spark 4 writes by default. Compressed logs are refused.
"""

from __future__ import annotations

import json
import os
import re
from collections import Counter, defaultdict
from dataclasses import dataclass, field
from typing import Iterable, Iterator

SQL_PREFIX = "org.apache.spark.sql.execution.ui."
_COMPRESSED = (".lz4", ".lzf", ".snappy", ".zstd")
_ROLLING_FILE = re.compile(r"^events_(\d+)_")
_NODE_SUFFIX = re.compile(r"\s*\(\d+\)$")

# Unit conversion of SQL metric values, by the plan's metricType.
_SCALE = {"timing": 1e-3, "nsTiming": 1e-9, "size": 1.0, "sum": 1.0}


def event_files(log_dir: str) -> list[str]:
    """The event files of the one application logged under ``log_dir``,
    in write order."""
    apps = sorted(e for e in os.listdir(log_dir) if e.startswith("eventlog_v2_"))
    if not apps:
        raise ValueError(f"{log_dir}: no event log found")
    if len(apps) > 1:
        raise ValueError(f"{log_dir}: more than one application logged")
    app_dir = os.path.join(log_dir, apps[0])
    parts = []
    for name in os.listdir(app_dir):
        m = _ROLLING_FILE.match(name)
        if m:
            parts.append((int(m.group(1)), os.path.join(app_dir, name)))
    if not parts:
        raise ValueError(f"{app_dir}: no event files")
    files = [p for _, p in sorted(parts)]
    for f in files:
        if f.endswith(_COMPRESSED):
            raise ValueError(f"{f}: compressed event logs are not supported; "
                             "set spark.eventLog.compress=false")
    return files


def read_events(log_dir: str) -> Iterator[dict]:
    for path in event_files(log_dir):
        with open(path) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


@dataclass
class GroupStats:
    """Everything the log attributes to one job group."""

    jobs: set[int] = field(default_factory=set)
    stages: set[int] = field(default_factory=set)
    tasks: int = 0
    failed_tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    shuffle_write_bytes: int = 0
    fetch_wait_ms: int = 0
    spill_bytes: int = 0
    peak_exec_memory: int = 0
    task_run_ms: dict[int, list[int]] = field(default_factory=lambda: defaultdict(list))
    # (operator, metric) -> value in seconds, bytes or a count
    sql: Counter = field(default_factory=Counter)

    def merge(self, other: "GroupStats") -> None:
        self.jobs |= other.jobs
        self.stages |= other.stages
        for name in ("tasks", "failed_tasks", "run_ms", "cpu_ns", "gc_ms",
                     "input_bytes", "output_bytes", "shuffle_write_bytes",
                     "fetch_wait_ms", "spill_bytes"):
            setattr(self, name, getattr(self, name) + getattr(other, name))
        self.peak_exec_memory = max(self.peak_exec_memory, other.peak_exec_memory)
        for stage, runs in other.task_run_ms.items():
            self.task_run_ms[stage].extend(runs)
        self.sql.update(other.sql)

    def sql_sum(self, metric: str, operator_prefix: str = "") -> float:
        return sum(v for (node, name), v in self.sql.items()
                   if name == metric and node.startswith(operator_prefix))

    def task_skew_max(self) -> float:
        """Largest task over its stage's median task, worst stage; 1.0
        when no stage has two tasks. Medians under 1 ms count as 1 ms."""
        worst = 1.0
        for runs in self.task_run_ms.values():
            if len(runs) < 2:
                continue
            runs = sorted(runs)
            mid = len(runs) // 2
            med = runs[mid] if len(runs) % 2 else (runs[mid - 1] + runs[mid]) / 2
            worst = max(worst, runs[-1] / max(med, 1.0))
        return worst


def _walk_plan(info: dict, metrics: dict[int, tuple[str, str, str]]) -> None:
    node = _NODE_SUFFIX.sub("", info.get("nodeName", "").strip())
    for m in info.get("metrics", ()):
        metrics[m["accumulatorId"]] = (node, m["name"], m["metricType"])
    for child in info.get("children", ()):
        _walk_plan(child, metrics)


def summarize(events: Iterable[dict]) -> dict[str, GroupStats]:
    """Per job group statistics; jobs without a group are left out."""
    events = list(events)
    metrics: dict[int, tuple[str, str, str]] = {}
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    out: dict[str, GroupStats] = defaultdict(GroupStats)

    # first pass: accumulator names and the stage/execution -> group maps
    for e in events:
        kind = e["Event"]
        if "sparkPlanInfo" in e:
            _walk_plan(e["sparkPlanInfo"], metrics)
        elif kind == SQL_PREFIX + "SparkListenerSQLAdaptiveSQLMetricUpdates":
            for m in e["sqlPlanMetrics"]:
                metrics.setdefault(m["accumulatorId"], ("", m["name"], m["metricType"]))
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            if group is None:
                continue
            out[group].jobs.add(e["Job ID"])
            for sid in e.get("Stage IDs", ()):
                stage_group[sid] = group
            execution = props.get("spark.sql.execution.id")
            if execution is not None:
                exec_group.setdefault(int(execution), group)

    driver_values: dict[int, tuple[str, float]] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerTaskEnd":
            group = stage_group.get(e["Stage ID"])
            if group is None:
                continue
            g = out[group]
            info, tm = e["Task Info"], e.get("Task Metrics") or {}
            g.stages.add(e["Stage ID"])
            g.tasks += 1
            g.failed_tasks += bool(info.get("Failed"))
            run = tm.get("Executor Run Time", 0)
            g.run_ms += run
            g.task_run_ms[e["Stage ID"]].append(run)
            g.cpu_ns += tm.get("Executor CPU Time", 0)
            g.gc_ms += tm.get("JVM GC Time", 0)
            g.input_bytes += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
            g.output_bytes += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
            g.shuffle_write_bytes += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            g.fetch_wait_ms += (tm.get("Shuffle Read Metrics") or {}).get(
                "Fetch Wait Time", 0)
            g.spill_bytes += tm.get("Disk Bytes Spilled", 0)
            g.peak_exec_memory = max(g.peak_exec_memory,
                                     tm.get("Peak Execution Memory", 0))
            for acc in info.get("Accumulables", ()):
                known = metrics.get(acc["ID"])
                if known is None or acc.get("Update") is None:
                    continue
                node, name, mtype = known
                if mtype in _SCALE:
                    g.sql[(node, name)] += float(acc["Update"]) * _SCALE[mtype]
        elif kind == SQL_PREFIX + "SparkListenerDriverAccumUpdates":
            group = exec_group.get(e["executionId"])
            if group is None:
                continue
            for acc_id, value in e["accumUpdates"]:
                # a driver-side metric is set, not added: keep the last
                driver_values[acc_id] = (group, float(value))
    for acc_id, (group, value) in driver_values.items():
        known = metrics.get(acc_id)
        if known is not None and known[2] in _SCALE:
            node, name, mtype = known
            out[group].sql[(node, name)] += value * _SCALE[mtype]
    return dict(out)


def merged(groups: dict[str, GroupStats], prefix: str) -> GroupStats:
    """All groups whose id starts with ``prefix``, merged into one."""
    total = GroupStats()
    for gid, stats in groups.items():
        if gid.startswith(prefix):
            total.merge(stats)
    return total
