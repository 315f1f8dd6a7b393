#!/usr/bin/env python3
"""Benchmark of data2neo_spark on local[4], one workload per invocation.

    python3 perfbench/run.py --workload webtext_kg --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  It generates the workload's inputs from
the seed, starts Spark, times the workload's first unit (the cold one),
checks its output, and prints one JSON line:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the end-to-end ones of BENCHMARK.json; with ``--trace 1``
the run labels each layer call with a Spark job group, reads
Spark's event log and prints the per-layer ones.  All files it writes live
under ``.perfbench_work/`` in the checkout.  See perfbench/DESIGN.md.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import sys
import tempfile
import time
import traceback
from typing import List, Optional

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
RECORDS = os.path.join(WORK_ROOT, "untraced.jsonl")
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import stats  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

CORES = 4
# Each run times the first unit in a fresh JVM, the cost a one-shot
# spark-submit user pays.  A warm-up unit or a second timed unit would not
# fit the run-time budget (perfbench/DESIGN.md), and a warm unit is not
# comparable with a cold one.
MAX_UNITS = 1
# traced runs compare with the median of at least this many untraced runs
MIN_REFERENCE_RUNS = 3
# per-layer metrics every workload measures
COMMON_LAYERS = ("sources.", "trace.", "process.")


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Context:
    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.spark = None
        self.tracer = eventlog.Tracer()


def start_spark(work: str, eventlog_dir: str = ""):
    from data2neo_spark import build_session

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if eventlog_dir:
        os.makedirs(eventlog_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": eventlog_dir,
                     "spark.eventLog.compress": "false",
                     # scans name their full input paths in the logged plans
                     "spark.sql.maxMetadataStringLength": "100000"})
    spark = build_session(cpus=CORES, driver_memory="2g", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Shut the py4j gateway down and wait for the JVM (and with it the
    Python workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def run_unit(wl, ctx: Context, i: int) -> dict:
    n_spans = len(ctx.tracer.spans)
    t0 = time.time()
    try:
        rec = wl.unit(ctx, i)
        rec["error"] = None
    except Exception as e:
        rec = {"error": f"{type(e).__name__}: {e}"}
        log(f"unit {i} failed:\n{traceback.format_exc()}")
    rec.update(ops=wl.ops_per_unit, start=t0, end=time.time(),
               spans=ctx.tracer.spans[n_spans:])
    rec["wall"] = rec["end"] - rec["start"]
    log(f"unit {i}: {rec['wall']:.2f} s")
    return rec


def checked(wl, ctx: Context, rec: dict) -> List[str]:
    try:
        return wl.check(ctx, rec)
    except Exception as e:
        log(f"output check raised:\n{traceback.format_exc()}")
        return [f"output check raised {type(e).__name__}: {e}"]


def code_version() -> str:
    """Hash of the program's and the benchmark's source files, so that
    untraced runs of one version are never compared with a traced run of
    another in the same checkout (which need not be a git repository)."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "__spark_entry__.py"), os.path.join(ROOT, "BENCHMARK.json")]
    for sub in ("data2neo_spark", "perfbench"):
        files += glob.glob(os.path.join(ROOT, sub, "**", "*.py"), recursive=True)
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def untraced_reference(workload: str, version: str) -> Optional[float]:
    """Median of the unit times of the untraced runs of this workload and
    code version recorded in this checkout; None with fewer than
    ``MIN_REFERENCE_RUNS`` of them."""
    recs = []
    if os.path.exists(RECORDS):
        with open(RECORDS) as fh:
            recs = [json.loads(line) for line in fh if line.strip()]
    walls = [r["unit_p50_s"] for r in recs
             if r["workload"] == workload and r["version"] == version]
    if len(walls) < MIN_REFERENCE_RUNS:
        log(f"{len(walls)} untraced runs of this workload and code version recorded "
            f"in this checkout, fewer than {MIN_REFERENCE_RUNS}: trace.overhead_s is null")
        return None
    return stats.median(walls)


def common_layer_metrics(jobs: dict, recs: list, inputs: list,
                         reference: Optional[float]) -> dict:
    """Scans of the generated input files, tracing overhead and the share
    of each unit's wall time that no layer span covers."""
    scans, rows, uncovered = [], [], []
    for rec in recs:
        scan = eventlog.input_scans(
            [j for j in jobs.values() if rec["start"] <= j["submit"] <= rec["end"]], inputs)
        scans.append(scan["tasks"])
        rows.append(scan["rows"])
        covered = eventlog.covered_seconds(rec["spans"], rec["start"], rec["end"])
        uncovered.append(1.0 - covered / rec["wall"])
    unit_s = stats.median([r["wall"] for r in recs])
    return {
        "sources.scan_tasks": stats.median(scans),
        "sources.rows_read": stats.median(rows),
        "trace.unit_s": unit_s,
        "trace.overhead_s": None if reference is None else unit_s - reference,
        "trace.uncovered_share": stats.median(uncovered),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in ("data2neo_spark/__init__.py", "__spark_entry__.py", "BENCHMARK.json")
               if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        log(f"not a checkout of the program: missing {', '.join(missing)} under {ROOT}")
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    t_process = stats.process_start_time()

    version = code_version()

    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # Spark's Python workers import the program too, so they need the
    # checkout on PYTHONPATH; temp files stay inside the work dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    sys.path.insert(0, ROOT)

    wl = WORKLOADS[args.workload]()
    ctx = Context(args.seed, work)
    try:
        wl.prepare(ctx)
        eventlog_dir = os.path.join(work, "eventlog") if args.trace else ""
        ctx.spark = spark = start_spark(work, eventlog_dir)
        if args.trace:
            ctx.tracer = eventlog.Tracer(spark.sparkContext)
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()

        t_first = time.time()
        timed = []
        while True:
            timed.append(run_unit(wl, ctx, len(timed)))
            if time.time() - t_first >= args.seconds or len(timed) == MAX_UNITS:
                break
        if args.trace:
            peak_mb = stats.vm_hwm_mb(os.getpid()) + stats.vm_hwm_mb(jvm_pid)

        attempted = failed = 0
        for rec in timed:
            attempted += rec["ops"]
            errs = [rec["error"]] if rec["error"] else checked(wl, ctx, rec)
            rec["ok"] = not errs
            failed += min(len(errs), rec["ops"])
            for e in errs:
                log(f"CHECK FAILED ({args.workload}, seed {args.seed}): {e}")
        good = [r for r in timed if r["ok"]]

        probes = getattr(wl, "trace_extra", None)
        if args.trace and probes:
            # a workload's extra layer probes count as one operation
            attempted += 1
            try:
                probes(ctx)
            except Exception:
                failed += 1
                log(f"trace probes failed:\n{traceback.format_exc()}")
        if args.trace:
            spark.stop()  # flushes the event log
            jobs = eventlog.aggregate_jobs(eventlog.read_event_log(eventlog_dir))
            values = {"process.peak_rss_mb": peak_mb}
            if good:
                reference = untraced_reference(args.workload, version)
                values.update(common_layer_metrics(jobs, good, wl.inputs, reference))
                try:
                    values.update(wl.layer_metrics(ctx, jobs, good))
                except Exception:
                    log(f"layer metrics failed:\n{traceback.format_exc()}")
        else:
            unit_p50 = stats.median([r["wall"] for r in good])
            values = {"setup_s": t_first - t_process, "unit_p50_s": unit_p50}
            if unit_p50 is not None:
                with open(RECORDS, "a") as fh:
                    fh.write(json.dumps({"workload": args.workload, "version": version,
                                         "seed": args.seed, "unit_p50_s": unit_p50}) + "\n")
        log(f"{len(timed)} timed units, {len(good)} passed checks")
    finally:
        if ctx.spark is not None:
            ctx.spark.stop()
            stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    # A metric that could not be measured (its units or probes failed)
    # reads null; a layer the workload leaves idle reads 0.
    def value(name):
        if name in values:
            return values[name]
        idle = args.trace and not name.startswith(COMMON_LAYERS + wl.layers)
        return 0.0 if idle else None

    metrics = {m["name"]: {"value": value(m["name"]), "unit": m["unit"]}
               for m in spec["per_layer" if args.trace else "end_to_end"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
