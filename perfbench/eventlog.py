"""Layer tracing from the benchmark's side of the public API.

A traced run labels every call into a layer with a Spark job group named
after the layer (``Tracer.span``) and keeps the span's start and end in
memory.  Spark's event log then gives, per job, its group, submit and end
times, and the summed metrics of its tasks; ``aggregate_jobs`` reads it and
``totals`` sums any subset of jobs.  The SQL plans in the log name the
files each scan reads, so ``input_scans`` can count the scans of given
input directories apart from the program's re-reads of its own output.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from typing import Dict, Iterable, List, Sequence


class Tracer:
    """Spans around layer calls.  Disabled, it only times (no job groups),
    so traced and untraced runs execute the same benchmark code."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: List[dict] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if self.sc is not None:
            self.sc.setJobGroup(name, name)
        rec = {"name": name, "start": time.time()}
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self.spans.append(rec)
            if self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)


def read_event_log(log_dir: str) -> List[dict]:
    """All events of the rolled event-log files (``events_<n>_<app>``)
    under ``log_dir``, in order.  A truncated last line is dropped."""
    files = glob.glob(os.path.join(log_dir, "*", "events_*"))
    events = []
    for path in sorted(files, key=lambda f: int(os.path.basename(f).split("_")[1])):
        with open(path) as fh:
            for line in fh:
                try:
                    events.append(json.loads(line))
                except ValueError:
                    pass
    return events


_METRICS = ("tasks", "run_ms", "cpu_ms", "gc_ms", "shuffle_write_b")
_SQL_EVENTS = ("org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
               "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate")


def _scan_accumulators(plan: dict, out: Dict[int, str]) -> None:
    """Accumulator id of the row count of every file scan in a SparkPlanInfo
    tree → the scan's ``Location`` (the files it reads)."""
    location = (plan.get("metadata") or {}).get("Location")
    if location:
        for m in plan.get("metrics", []):
            if m.get("name") == "number of output rows":
                out[m["accumulatorId"]] = location
    for child in plan.get("children", []):
        _scan_accumulators(child, out)


def aggregate_jobs(events: Iterable[dict]) -> Dict[int, dict]:
    """Job id → {group, call_site, submit, end, task metrics summed over
    the job's stages, and ``scans``: scanned location → [tasks, rows]}.
    A stage shared by several jobs is charged to the first job that
    listed it."""
    jobs: Dict[int, dict] = {}
    stage_job: Dict[int, int] = {}
    scan_acc: Dict[int, str] = {}
    for e in events:
        kind = e.get("Event")
        if kind in _SQL_EVENTS:
            _scan_accumulators(e.get("sparkPlanInfo") or {}, scan_acc)
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jid = e["Job ID"]
            jobs[jid] = {
                "group": props.get("spark.jobGroup.id"),
                # PySpark names a stage after the Python line of the action
                "call_site": next(
                    (s.get("Stage Name") for s in e.get("Stage Infos", [])), None),
                "submit": e.get("Submission Time", 0) / 1000.0,
                "end": None,
                "scans": {},
                **{m: 0 for m in _METRICS},
            }
            for sid in e.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(e["Job ID"])
            if job is not None:
                job["end"] = e.get("Completion Time", 0) / 1000.0
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(e.get("Stage ID")))
            tm = e.get("Task Metrics")
            if job is None or not tm:
                continue
            job["tasks"] += 1
            job["run_ms"] += tm.get("Executor Run Time", 0)
            job["cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
            job["gc_ms"] += tm.get("JVM GC Time", 0)
            job["shuffle_write_b"] += tm.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0)
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                location = scan_acc.get(acc.get("ID"))
                rows = int(acc.get("Update") or 0) if location else 0
                if rows:
                    scan = job["scans"].setdefault(location, [0, 0])
                    scan[0] += 1
                    scan[1] += rows
    return jobs


def input_scans(jobs: Iterable[dict], inputs: Sequence[str]) -> dict:
    """Tasks and rows of the scans in ``jobs`` that read under one of the
    ``inputs`` directories."""
    out = {"tasks": 0, "rows": 0}
    for j in jobs:
        for location, (tasks, rows) in j["scans"].items():
            if any(d in location for d in inputs):
                out["tasks"] += tasks
                out["rows"] += rows
    return out


def totals(jobs: Iterable[dict]) -> dict:
    """Summed task metrics of ``jobs`` plus their count."""
    out = {m: 0 for m in _METRICS}
    out["jobs"] = 0
    for j in jobs:
        out["jobs"] += 1
        for m in _METRICS:
            out[m] += j[m]
    return out


def in_group(jobs: Dict[int, dict], prefix: str) -> List[dict]:
    """Jobs whose job group is ``prefix`` or starts with ``prefix + '.'``."""
    return [j for j in jobs.values()
            if j["group"] and (j["group"] == prefix or j["group"].startswith(prefix + "."))]


def split_passes(jobs: Sequence[dict], start: float, stages: Sequence[dict]) -> Dict[str, List[dict]]:
    """Split one converter call's jobs into its node and relationship pass.

    ``stages`` are the ``GraphStore.counters['stages']`` records the call
    logged; the node pass runs from ``start`` to the ``nodes`` record's
    timestamp, the relationship pass from there to the ``edges`` record's.
    A job belongs to the pass in which it was submitted; jobs after the
    ``edges`` record (or before ``start``) belong to neither."""
    ts = {s["stage"]: s["ts"] for s in stages if s["stage"] in ("nodes", "edges")}
    t_nodes = ts.get("nodes")
    t_edges = ts.get("edges")
    out: Dict[str, List[dict]] = {"node": [], "rel": []}
    for j in jobs:
        if t_nodes is not None and start <= j["submit"] <= t_nodes:
            out["node"].append(j)
        elif t_nodes is not None and t_edges is not None and t_nodes < j["submit"] <= t_edges:
            out["rel"].append(j)
    return out


def share(num: float, den: float) -> float:
    return num / den if den else 0.0


def covered_seconds(spans: Sequence[dict], start: float, end: float) -> float:
    """Seconds of [start, end] covered by the union of ``spans``."""
    ivs = sorted((max(s["start"], start), min(s["end"], end)) for s in spans)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return covered
