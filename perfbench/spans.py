"""In-memory spans around library calls, attributed to Spark jobs.

A span is a timed call from the benchmark into one public library function.
In a traced run every span runs under its own Spark job group, so each job
(and its stages and tasks) in the Spark event log can be charged to the
innermost span that launched it. Spans are kept in memory and written out
once, after the run; nothing is parsed while the workload is timed.

Untraced runs use the same code with ``enabled=False``: spans still record
their wall time (a ``perf_counter`` pair, no Spark call), and no job group
is set, so the end-to-end numbers carry no attribution overhead.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager

class Tracer:
    """Span recorder. ``sc`` is the SparkContext (job groups are set only
    when ``enabled``); ``op`` is the id of the workload operation that the
    next spans belong to."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: int | None = None

    def _set_group(self):
        if not self.enabled:
            return
        if self._stack:
            sid = self._stack[-1]
            self.sc.setJobGroup(f"pb{sid}", self.spans[sid]["name"])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["wall_s"]
            self._stack.pop()
            self._set_group()

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]


# --- event log ---------------------------------------------------------------


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Spark confs that write one plain-JSON event log into ``log_dir``."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def read_event_log(log_dir: str) -> dict:
    """Parse the (single, finished) event log in ``log_dir`` into jobs and
    tasks. Call after ``spark.stop()`` so the log is complete.

    Returns ``{"jobs": {job_id: {...}}, "tasks": [{...}]}``; each job has its
    group, submit/complete times (s) and stage ids, each task its job, run
    and CPU time and byte counts."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {paths}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {
                    "group": props.get("spark.jobGroup.id"),
                    "submit": ev["Submission Time"] / 1000.0,
                    "complete": None,
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["complete"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                info = ev.get("Task Info") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                tasks.append(
                    {
                        "job": stage_job.get(ev["Stage ID"]),
                        "run_ms": m.get("Executor Run Time", 0),
                        "cpu_ns": m.get("Executor CPU Time", 0),
                        "gc_ms": m.get("JVM GC Time", 0),
                        "duration_ms": info.get("Finish Time", 0)
                        - info.get("Launch Time", 0),
                        "input_bytes": (m.get("Input Metrics") or {}).get(
                            "Bytes Read", 0
                        ),
                        "shuffle_bytes": sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0)
                        + sw.get("Shuffle Bytes Written", 0),
                        "spill_bytes": m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                    }
                )
    return {"jobs": jobs, "tasks": tasks}


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def attribute(tracer: Tracer, log: dict) -> None:
    """Charge every job and task of the event log to its span, in place.

    Each span gets inclusive counts (its own jobs plus its descendants'),
    ``self_s`` (wall time minus the time covered by child spans) and
    ``driver_s`` (wall time not covered by any of its jobs: Python
    construction, driver loops, collects and Py4J round trips)."""
    spans = tracer.spans
    children: dict[int, list[int]] = {s["id"]: [] for s in spans}
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s["id"])
    own_jobs: dict[int, list[int]] = {s["id"]: [] for s in spans}
    for jid, j in log["jobs"].items():
        g = j["group"]
        if g and g.startswith("pb") and g[2:].isdigit() and int(g[2:]) in own_jobs:
            own_jobs[int(g[2:])].append(jid)
    tasks_by_job: dict[int, list[dict]] = {}
    for t in log["tasks"]:
        tasks_by_job.setdefault(t["job"], []).append(t)

    def jobs_under(sid: int) -> list[int]:
        out = list(own_jobs[sid])
        for c in children[sid]:
            out += jobs_under(c)
        return out

    for s in spans:
        s["own_jobs"] = own_jobs[s["id"]]
        jids = jobs_under(s["id"])
        ts = [t for j in jids for t in tasks_by_job.get(j, [])]
        s["jobs"] = len(jids)
        s["tasks"] = len(ts)
        for k in ("input_bytes", "shuffle_bytes", "spill_bytes"):
            s[k] = sum(t[k] for t in ts)
        s["exec_cpu_s"] = sum(t["cpu_ns"] for t in ts) / 1e9
        intervals = [
            (log["jobs"][j]["submit"], log["jobs"][j]["complete"] or s["end"])
            for j in jids
        ]
        s["driver_s"] = s["wall_s"] - _covered(intervals, s["start"], s["end"])
        kids = [(spans[c]["start"], spans[c]["end"]) for c in children[s["id"]]]
        s["self_s"] = s["wall_s"] - _covered(kids, s["start"], s["end"])


def spark_totals(log: dict, jids: set[int], wall_s: float, cores: int) -> dict:
    """Task statistics over the jobs ``jids`` run in ``wall_s`` seconds."""
    ts = [t for t in log["tasks"] if t["job"] in jids]
    durations = [t["duration_ms"] for t in ts] or [0]
    return {
        "jobs": len(jids),
        "tasks": len(ts),
        "task_p50_ms": statistics.median(durations),
        "exec_busy_frac": sum(t["run_ms"] for t in ts) / 1000.0 / (wall_s * cores),
        "gc_s": sum(t["gc_ms"] for t in ts) / 1000.0,
    }


def unattributed_jobs(log: dict, t0: float) -> int:
    """Jobs submitted from ``t0`` on that carry no span's job group
    (launched from a thread the group did not reach)."""
    return sum(
        1
        for j in log["jobs"].values()
        if t0 <= j["submit"] and not (j["group"] or "").startswith("pb")
    )
