"""Two-parallelism scaling bench (BASELINE.md measurement protocol).

The north rule's N→4N executor scaling criterion, evidenced in-sandbox by
running the identical webtext pipeline job (extract → mention-detect → link →
triples) over the same on-disk corpus at local[8] and local[32], reporting
docs/sec + triples/sec at both and the scaling efficiency
(throughput32 / throughput8) / 4.

Usage:
    python tools/scaling_bench.py [n_pages] [base_cpus]  # pair = base -> 4*base
    python tools/scaling_bench.py --run <cpus> <dir>     # internal child mode

default n_pages 400000, base_cpus 8 (i.e. local[8] vs local[32]). On this
sandbox VM the 32-core level saturates memory bandwidth / hypervisor
scheduling (sys-CPU + steal); the 4->16 pair measures the engine's actual
core-count scaling with less host interference — both are valid N->4N
evidence per the north rule.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def build_spark(cpus: int):
    from pyspark.sql import SparkSession

    # IDENTICAL config at both parallelism levels except the master —
    # the protocol measures core-count scaling, nothing else.
    # maxPartitionBytes=16m: the corpus bin-packs into enough input splits
    # to feed 32 cores (128MB default capped the scan at ~8 tasks).
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(f"webtext-scaling-{cpus}")
        .config("spark.sql.shuffle.partitions", "256")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.driver.memory", "24g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def child(cpus: int, corpus_dir: str) -> None:
    from data2neo_spark.pipeline.webtext import pages_to_triples
    from data2neo_spark.sources.pages import entity_dictionary

    spark = build_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    pages = spark.read.parquet(corpus_dir)
    edict = entity_dictionary(spark, 1000, seed=42)
    n_pages = pages.count()
    job = pages_to_triples(pages, edict)
    # warmup rep (JIT/codegen + page cache), then best of 3 timed reps —
    # steady-state throughput, same protocol at both parallelism levels
    n_triples = job.count()
    walls = []
    for _ in range(3):
        t0 = time.time()
        job.count()
        walls.append(time.time() - t0)
    wall = min(walls)
    print(json.dumps({
        "cpus": cpus,
        "n_pages": n_pages,
        "n_triples": n_triples,
        "wall_s": round(wall, 3),
        "walls": [round(w, 2) for w in walls],
        "docs_per_sec": round(n_pages / wall, 1),
        "triples_per_sec": round(n_triples / wall, 1),
    }))
    spark.stop()


def main() -> int:
    if len(sys.argv) >= 2 and sys.argv[1] == "--run":
        child(int(sys.argv[2]), sys.argv[3])
        return 0

    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    base = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    corpus_dir = f"/tmp/webtext_corpus_{n_pages}"
    if not os.path.exists(os.path.join(corpus_dir, "_SUCCESS")):
        from data2neo_spark.sources.pages import synth_pages

        spark = build_spark(32)
        spark.sparkContext.setLogLevel("ERROR")
        synth_pages(spark, n_pages, n_entities=1000, seed=42, partitions=128) \
            .write.mode("overwrite").parquet(corpus_dir)
        spark.stop()
        print(f"# corpus written to {corpus_dir}", file=sys.stderr)

    # ABBA order: this VM's throughput drifts monotonically slower over
    # consecutive minutes of sustained load (measured: walls 72->85->95 s
    # across reps of ONE level) — running level A fully then level B biases
    # whichever ran later. A,B,B,A samples both levels symmetrically around
    # the drift; best wall per level is the steady-state throughput.
    results = {}
    env = dict(os.environ, PYTHONPATH=REPO)
    for cpus in (base, 4 * base, 4 * base, base):
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--run", str(cpus), corpus_dir],
            capture_output=True, text=True, env=env, cwd=REPO,
        )
        line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
        r = json.loads(line)
        print(f"# local[{cpus}]: {line}", file=sys.stderr)
        if cpus in results:
            prev = results[cpus]
            prev["walls"] = prev["walls"] + r["walls"]
            if r["wall_s"] < prev["wall_s"]:
                prev.update({k: r[k] for k in
                             ("wall_s", "docs_per_sec", "triples_per_sec")})
        else:
            results[cpus] = r

    eff = (results[4 * base]["docs_per_sec"] / results[base]["docs_per_sec"]) / 4.0
    report = {
        "job": "webtext pipeline: extract -> mention-detect -> link -> triples",
        "n_pages": n_pages,
        f"local{base}": results[base],
        f"local{4 * base}": results[4 * base],
        f"scaling_efficiency_{base}_to_{4 * base}": round(eff, 3),
        "gate": ">= 0.8",
        "pass": eff >= 0.8,
    }
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
