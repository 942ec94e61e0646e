"""Read Spark's event log (``spark.eventLog.enabled``) into per-job-group
layer metrics: jobs, tasks, executor run and GC time, scan, shuffle and
spill bytes, Python rows and bytes, and the union of the stage spans (the Spark
side of a wall time)."""

from __future__ import annotations

import glob
import json
import os

import harness

# plan nodes whose rows cross the Python/Arrow boundary, and their SQL
# metrics: rows out of the node, bytes to and from the Python workers
_PY_NODES = ("Python", "Pandas", "Arrow")
_PY_METRICS = {
    "number of output rows": "py_rows",
    "data sent to Python workers": "py_bytes",
    "data returned from Python workers": "py_bytes",
}


def read(log_dir: str) -> list[dict]:
    """Events of the newest application in ``log_dir`` (a single file,
    or a rolling ``eventlog_v2_*`` directory of ``events_*`` files)."""
    apps = glob.glob(os.path.join(log_dir, "*"))
    if not apps:
        return []
    newest = max(apps, key=os.path.getmtime)
    if os.path.isdir(newest):
        parts = glob.glob(os.path.join(newest, "events_*"))
        files = sorted(parts, key=lambda f: int(os.path.basename(f).split("_")[1]))
    else:
        files = [newest]
    out = []
    for f in files:
        with open(f) as fh:
            for line in fh:
                try:
                    out.append(json.loads(line))
                except ValueError:
                    pass
    return out


def _plan_accums(node: dict, acc: dict) -> None:
    if any(k in node.get("nodeName", "") for k in _PY_NODES):
        for m in node.get("metrics", []):
            kind = _PY_METRICS.get(m.get("name"))
            if kind:
                acc[m["accumulatorId"]] = kind
    for child in node.get("children", []):
        _plan_accums(child, acc)


class Jobs:
    """Index of one application's jobs, stages and tasks."""

    def __init__(self, events: list[dict]) -> None:
        self.jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        self.stages: dict[int, tuple[float, float]] = {}
        py_accums: dict = {}
        for e in events:
            kind = e.get("Event", "")
            if kind == "SparkListenerJobStart":
                jid = e["Job ID"]
                props = e.get("Properties") or {}
                self.jobs[jid] = {
                    "group": props.get("spark.jobGroup.id"),
                    "start": e.get("Submission Time", 0) / 1e3,
                    "end": None,
                    "tasks": 0,
                    "run_s": 0.0,
                    "gc_s": 0.0,
                    "scan": 0,
                    "sw": 0,
                    "sr": 0,
                    "spill": 0,
                    "py_rows": 0,
                    "py_bytes": 0,
                }
                for sid in e.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                j = self.jobs.get(e["Job ID"])
                if j is not None:
                    j["end"] = e.get("Completion Time", 0) / 1e3
            elif kind == "SparkListenerStageCompleted":
                info = e.get("Stage Info", {})
                if info.get("Submission Time") and info.get("Completion Time"):
                    self.stages[info["Stage ID"]] = (
                        info["Submission Time"] / 1e3,
                        info["Completion Time"] / 1e3,
                    )
            elif "SQLExecutionStart" in kind or "SQLAdaptiveExecutionUpdate" in kind:
                _plan_accums(e.get("sparkPlanInfo", {}), py_accums)
            elif kind == "SparkListenerTaskEnd":
                j = self.jobs.get(stage_job.get(e.get("Stage ID")))
                if j is None:
                    continue
                m = e.get("Task Metrics") or {}
                j["tasks"] += 1
                j["run_s"] += m.get("Executor Run Time", 0) / 1e3
                j["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                j["scan"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                j["sr"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                j["sw"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                j["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                for a in (e.get("Task Info") or {}).get("Accumulables", []):
                    kind = py_accums.get(a.get("ID"))
                    if kind:
                        try:
                            j[kind] += int(a.get("Update", 0))
                        except (TypeError, ValueError):
                            pass
        self.stage_job = stage_job

    def select(self, group=None, t0: float | None = None, t1: float | None = None) -> list[int]:
        out = []
        for jid, j in self.jobs.items():
            if group is not None and j["group"] != group:
                continue
            # submission times are whole milliseconds
            if t0 is not None and not (t0 - 1e-3 <= j["start"] <= t1):
                continue
            out.append(jid)
        return out

    def totals(self, jids: list[int]) -> dict:
        """Sums over ``jids``, and the union of their stage spans."""
        js = [self.jobs[j] for j in jids]
        wanted = set(jids)
        return {
            "jobs": len(js),
            "tasks": sum(j["tasks"] for j in js),
            "executor_run_s": sum(j["run_s"] for j in js),
            "gc_s": sum(j["gc_s"] for j in js),
            "scan_bytes": sum(j["scan"] for j in js),
            "shuffle_write_bytes": sum(j["sw"] for j in js),
            "shuffle_read_bytes": sum(j["sr"] for j in js),
            "spill_bytes": sum(j["spill"] for j in js),
            "python_rows": sum(j["py_rows"] for j in js),
            "python_bytes": sum(j["py_bytes"] for j in js),
            "stage_s": harness.union_length(s for sid, s in self.stages.items() if self.stage_job.get(sid) in wanted),
        }
