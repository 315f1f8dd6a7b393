"""Tests of the benchmark's own helpers on small fixtures (no Spark).

    python3 -m pytest perfbench/test_helpers.py -q
"""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import eventlog  # noqa: E402


# --- event-log aggregation by job group ---

def _task(stage, run=100, cpu_ns=50_000_000, gc=5, sw=0, sr=0, records=0, acc=None):
    # ``acc``: the scan-row accumulator this task updates with ``records``
    accs = [{"ID": acc, "Name": "number of output rows", "Update": str(records),
             "Value": "0"}] if acc is not None else []
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Accumulables": accs},
            "Task Metrics": {"Executor Run Time": run, "Executor CPU Time": cpu_ns,
                             "JVM GC Time": gc,
                             "Shuffle Read Metrics": {"Local Bytes Read": sr,
                                                      "Remote Bytes Read": 0},
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": sw},
                             "Input Metrics": {"Bytes Read": records * 10,
                                               "Records Read": records}}}


def _job(jid, stages, group, submit_ms, site="count at x.py:1"):
    return {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": submit_ms,
            "Stage IDs": stages, "Stage Infos": [{"Stage ID": s, "Stage Name": site}
                                                  for s in stages],
            "Properties": {"spark.jobGroup.id": group} if group else {}}


def _sql(execution, scans):
    """An SQL execution whose plan scans ``scans`` ({accumulator id: location})
    under a filter node that has a row counter of its own."""
    leaves = [{"nodeName": "Scan parquet ", "metadata": {"Location": loc},
               "metrics": [{"name": "number of files read", "accumulatorId": acc + 1000},
                           {"name": "number of output rows", "accumulatorId": acc}],
               "children": []} for acc, loc in scans.items()]
    return {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
            "executionId": execution,
            "sparkPlanInfo": {"nodeName": "Filter", "metadata": {},
                              "metrics": [{"name": "number of output rows",
                                           "accumulatorId": 99}],
                              "children": leaves}}


PAGES = "InMemoryFileIndex(1 paths)[file:/w/pages]"
STORE = "InMemoryFileIndex(1 paths)[file:/w/units/u0/store/nodes]"


def _events():
    return [
        _sql(0, {10: PAGES, 11: STORE}),
        _job(0, [0, 1], "converter", 1000),
        _task(0, records=5, acc=10), _task(0, records=7, acc=11),
        _task(0, records=0, acc=10), _task(1, sw=2_000_000),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500},
        # job 1 lists stage 1 again (skipped stage): stays charged to job 0
        _job(1, [1, 2], "ops.graph_khop", 2000, site="collect at /p/store.py:229"),
        _task(2, run=300, cpu_ns=30_000_000, gc=30),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2600},
        _job(2, [3], None, 3000),
        _task(3),
    ]


def test_aggregate_jobs_by_group():
    jobs = eventlog.aggregate_jobs(_events())
    assert set(jobs) == {0, 1, 2}
    j0, j1 = jobs[0], jobs[1]
    assert (j0["group"], j0["tasks"]) == ("converter", 4)
    assert j0["scans"] == {PAGES: [1, 5], STORE: [1, 7]}
    assert j0["shuffle_write_b"] == 2_000_000 and j0["run_ms"] == 400
    assert round(j0["cpu_ms"]) == 200
    assert (j0["submit"], j0["end"]) == (1.0, 1.5)
    assert (j1["tasks"], j1["gc_ms"], j1["call_site"]) == (1, 30, "collect at /p/store.py:229")
    assert jobs[2]["group"] is None

    ops = eventlog.totals(eventlog.in_group(jobs, "ops"))
    assert (ops["jobs"], ops["tasks"], ops["run_ms"]) == (1, 1, 300)
    # a prefix matches whole dotted components only
    assert eventlog.in_group(jobs, "ops.graph") == []
    assert eventlog.totals(jobs.values())["tasks"] == 6


def test_input_scans_count_only_the_given_inputs():
    jobs = eventlog.aggregate_jobs(_events() + [
        _sql(1, {20: PAGES}), _job(3, [4], "converter", 4000),
        _task(4, records=3, acc=20), _task(4, records=4, acc=20)])
    # the re-read of the store's own nodes is not a source scan
    assert eventlog.input_scans(jobs.values(), ["/w/pages"]) == {"tasks": 3, "rows": 12}
    assert eventlog.input_scans([jobs[0]], ["/w/pages", "/w/dict"]) == {"tasks": 1, "rows": 5}
    assert eventlog.input_scans(jobs.values(), ["/w/dict"]) == {"tasks": 0, "rows": 0}


def test_read_event_log_orders_rolled_files(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    evs = _events()
    # rolled files: events_10 must come after events_2
    (d / "events_1_local-1").write_text("\n".join(json.dumps(e) for e in evs[:5]) + "\n")
    (d / "events_2_local-1").write_text("\n".join(json.dumps(e) for e in evs[5:8]) + "\n")
    (d / "events_10_local-1").write_text(
        "\n".join(json.dumps(e) for e in evs[8:]) + "\n{\"Event\": trunc")
    (d / "appstatus_local-1").write_text("")
    assert eventlog.read_event_log(str(tmp_path)) == evs


# --- node/relationship pass split by the store's stage timestamps ---

def test_split_passes_by_stage_timestamps():
    jobs = [{"submit": t, "id": t} for t in (9.0, 10.0, 12.5, 15.0, 15.5, 18.0, 21.0)]
    stages = [{"stage": "nodes", "ts": 15.0}, {"stage": "edges", "ts": 18.0},
              {"stage": "run", "ts": 18.1}]
    out = eventlog.split_passes(jobs, 10.0, stages)
    assert [j["id"] for j in out["node"]] == [10.0, 12.5, 15.0]
    assert [j["id"] for j in out["rel"]] == [15.5, 18.0]


def test_split_passes_without_edges_record():
    jobs = [{"submit": 11.0}, {"submit": 16.0}]
    out = eventlog.split_passes(jobs, 10.0, [{"stage": "nodes", "ts": 15.0}])
    assert len(out["node"]) == 1 and out["rel"] == []


def test_covered_seconds_merges_overlaps():
    spans = [{"start": 0.0, "end": 2.0}, {"start": 1.0, "end": 3.0},
             {"start": 5.0, "end": 6.0}, {"start": 9.0, "end": 12.0}]
    assert eventlog.covered_seconds(spans, 0.0, 10.0) == 5.0  # [0,3] [5,6] [9,10]
