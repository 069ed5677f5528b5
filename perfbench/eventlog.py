"""Fold a Spark event log (uncompressed JSON lines) into per-job-group costs.

Spark writes one JSON object per line when ``spark.eventLog.enabled=true``
and ``spark.eventLog.compress=false``. Three event kinds carry what the
ledger needs:

* ``SparkListenerJobStart``: the job's stage ids, its job group
  (``spark.jobGroup.id``), its SQL execution id and the Python call site
  that forced it (``callSite.short``, e.g. ``collect at .../suite.py:325``);
* ``SparkListenerTaskEnd``: one task's metrics, keyed by stage id;
* ``SparkListenerSQLExecutionStart`` / ``...AdaptiveExecutionUpdate``: the
  physical plan, whose parquet scans name the files and columns they read;
* ``SparkListenerDriverAccumUpdates``: driver-side scan metrics, posted only
  for scans that run (a frame served from cache still lists its scans);
* everything else is ignored.

``fold(path)`` returns ``{group_id: GroupCost}``. A stage is attributed to
the first job that lists it; later jobs that list it again only skipped it.
"""

from __future__ import annotations

import json
import statistics

_SQL_UI = "org.apache.spark.sql.execution.ui."
_SQL_PLAN = (_SQL_UI + "SparkListenerSQLExecutionStart",
             _SQL_UI + "SparkListenerSQLAdaptiveExecutionUpdate")
_SQL_ACCUM = _SQL_UI + "SparkListenerDriverAccumUpdates"

MB = 1024.0 * 1024.0


class GroupCost(object):
    """Task metrics of every job run under one job group."""

    def __init__(self):
        self.jobs = set()
        self.stages = set()
        self.tasks = 0
        self.executor_run_s = 0.0
        self.executor_cpu_s = 0.0
        self.gc_s = 0.0
        self.shuffle_read_mb = 0.0
        self.shuffle_write_mb = 0.0
        self.spill_mb = 0.0
        # ([paths], [top-level columns]) of every parquet scan the group's
        # SQL executions ran
        self.scans = []
        # per stage: list of task durations (ms) and summed run time (s)
        self._task_ms = {}
        self._stage_run_s = {}
        # call site -> executor run seconds
        self.sites = {}

    def add_task(self, stage_id, site, metrics, info):
        run_s = metrics.get("Executor Run Time", 0) / 1000.0
        self.stages.add(stage_id)
        self.tasks += 1
        self.executor_run_s += run_s
        self.executor_cpu_s += metrics.get("Executor CPU Time", 0) / 1e9
        self.gc_s += metrics.get("JVM GC Time", 0) / 1000.0
        rd = metrics.get("Shuffle Read Metrics", {})
        self.shuffle_read_mb += (
            rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
        ) / MB
        self.shuffle_write_mb += (
            metrics.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            / MB
        )
        self.spill_mb += (
            metrics.get("Memory Bytes Spilled", 0)
            + metrics.get("Disk Bytes Spilled", 0)
        ) / MB
        dur = max(0, info.get("Finish Time", 0) - info.get("Launch Time", 0))
        self._task_ms.setdefault(stage_id, []).append(dur)
        self._stage_run_s[stage_id] = self._stage_run_s.get(stage_id, 0.0) + run_s
        self.sites[site] = self.sites.get(site, 0.0) + run_s

    @property
    def task_skew(self):
        """max/median task duration of the group's heaviest stage (the one
        with the most executor run time); 1.0 when no task ran."""
        if not self._stage_run_s:
            return 1.0
        heaviest = max(self._stage_run_s, key=self._stage_run_s.get)
        durs = self._task_ms[heaviest]
        return max(durs) / max(1.0, statistics.median(durs))

    def as_dict(self):
        return {
            "jobs": len(self.jobs),
            "stages": len(self.stages),
            "tasks": self.tasks,
            "executor_run_s": self.executor_run_s,
            "executor_cpu_s": self.executor_cpu_s,
            "gc_s": self.gc_s,
            "shuffle_read_mb": self.shuffle_read_mb,
            "shuffle_write_mb": self.shuffle_write_mb,
            "spill_mb": self.spill_mb,
            "task_skew": self.task_skew,
        }


def _top_level_fields(schema):
    """``struct<a:int,b:array<int>>`` -> ['a', 'b']."""
    body = schema[len("struct<"):-1]
    fields, depth, start = [], 0, 0
    for i, ch in enumerate(body + ","):
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        elif ch == "," and depth == 0:
            fields.append(body[start:i].split(":", 1)[0])
            start = i + 1
    return [f for f in fields if f]


def plan_scans(node, out=None):
    """{accumulator id: (location, [columns])} of the parquet scans in a
    ``sparkPlanInfo`` tree, keyed by each scan's "size of files read"
    metric (the driver updates it only when the scan really runs)."""
    out = {} if out is None else out
    if node.get("nodeName", "").startswith("Scan parquet"):
        meta = node.get("metadata") or {}
        ids = [m["accumulatorId"] for m in node.get("metrics", [])
               if m.get("name") == "size of files read"]
        if ids and "ReadSchema" in meta and "Location" in meta:
            paths = meta["Location"].split("[", 1)[-1].rstrip("]").split(", ")
            out[ids[0]] = (paths, _top_level_fields(meta["ReadSchema"]))
    for child in node.get("children", []):
        plan_scans(child, out)
    return out


def fold(path):
    """{job group id: GroupCost} for one uncompressed event-log file.
    Jobs run outside any job group are filed under ``None``."""
    stage_owner = {}  # stage id -> (group, call site)
    groups = {}
    exec_scans = {}   # SQL execution id -> plan scans by accumulator id
    exec_ran = {}     # SQL execution id -> accumulator ids the driver updated
    exec_group = {}   # SQL execution id -> group of its first job
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind in _SQL_PLAN:
                plan_scans(ev.get("sparkPlanInfo") or {},
                           exec_scans.setdefault(ev["executionId"], {}))
            elif kind == _SQL_ACCUM:
                exec_ran.setdefault(ev["executionId"], set()).update(
                    u[0] for u in ev.get("accumUpdates", []))
            elif kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                group = props.get("spark.jobGroup.id")
                site = props.get("callSite.short", "?")
                groups.setdefault(group, GroupCost()).jobs.add(ev["Job ID"])
                exec_id = props.get("spark.sql.execution.id")
                if exec_id is not None:
                    exec_id = int(exec_id)
                    exec_group.setdefault(exec_id, group)
                for sid in ev.get("Stage IDs", []):
                    stage_owner.setdefault(sid, (group, site))
            elif kind == "SparkListenerTaskEnd":
                owner = stage_owner.get(ev["Stage ID"])
                if owner is None:
                    continue
                group, site = owner
                groups.setdefault(group, GroupCost()).add_task(
                    ev["Stage ID"], site,
                    ev.get("Task Metrics") or {}, ev.get("Task Info") or {},
                )
    for exec_id, group in exec_group.items():
        ran = exec_ran.get(exec_id, set())
        for acc_id, scan in sorted(exec_scans.get(exec_id, {}).items()):
            if acc_id in ran:
                groups[group].scans.append(scan)
    return groups
