"""The benchmark's workloads.

Each workload generates its inputs (``prepare``), runs timed units through
the program's public calls (``unit``), checks every unit's output against a
reference computed without the program (``check``), and turns a traced
run's spans and event-log jobs into per-layer metrics (``layer_metrics``).
A workload may add layer probes that only a traced run makes
(``trace_extra``).
"""

from __future__ import annotations

import glob
import hashlib
import inspect
import os
from typing import Dict, List

import pyarrow.parquet as pq

import gen
import eventlog as tr
from stats import median

MB = 1e6


def _triple_hash(rows) -> str:
    h = hashlib.sha256()
    for line in sorted("\x1f".join(r) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def _csv_rows(path: str) -> int:
    n = 0
    for f in glob.glob(os.path.join(path, "part-*.csv")):
        with open(f, "rb") as fh:
            lines = sum(1 for _ in fh)
        n += max(lines - 1, 0)  # each part file carries its own header
    return n


def _data_files(path: str) -> List[str]:
    return [f for f in glob.glob(os.path.join(path, "**", "*"), recursive=True)
            if os.path.isfile(f) and not os.path.basename(f).startswith((".", "_"))]


def _lineage_call_sites() -> set:
    """Call sites of the per-partition lineage jobs GraphStore runs after
    each materialization (its ``_partition_lineage``)."""
    from data2neo_spark.core import store

    lines, first = inspect.getsourcelines(store.GraphStore._partition_lineage)
    path = inspect.getsourcefile(store)
    return {f"collect at {path}:{n}" for n in range(first, first + len(lines))}


class WebtextKG:
    """Pages → knowledge graph in a fresh disk store → triples parquet →
    neo4j-admin import CSVs (the north-star pipeline, end to end)."""

    name = "webtext_kg"
    layers = ("webtext.", "converter.", "store.", "sinks.")
    ops_per_unit = 1
    # A cold unit costs about 28 s at 2,000 pages, 32 s at 10,000 and 40 s
    # at 20,000 on 4 cores: 10,000 keeps a run within the run-time budget
    # (perfbench/DESIGN.md) with per-page work still in it.
    N_PAGES = 10_000
    FILES = 16

    def prepare(self, ctx) -> None:
        self.pages_dir = gen.write_pages(ctx.seed, self.N_PAGES,
                                         os.path.join(ctx.work, "pages"), self.FILES)
        self.dict_dir = gen.write_entity_dict(os.path.join(ctx.work, "entity_dict"))
        self.inputs = [self.pages_dir, self.dict_dir]
        self.probe = None
        # reference output, from the generated text alone: one MENTIONS
        # triple per distinct (page, entity) pair
        pages = pq.read_table(self.pages_dir, columns=["url", "text"]).to_pydict()
        triples = set()
        for url, text in zip(pages["url"], pages["text"]):
            for tok in text.split(" "):
                if tok.startswith("ent"):
                    triples.add((f"Page:{url}", "MENTIONS", f"Entity:ENT_{tok[3:]}"))
        self.expect = {
            "triples": len(triples),
            "hash": _triple_hash(triples),
            "Page": len(pages["url"]),
            "Entity": len({t[2] for t in triples}),
        }

    def unit(self, ctx, i: int) -> dict:
        from data2neo_spark import GraphStore
        from data2neo_spark.pipeline.webtext import pages_to_graph
        from data2neo_spark.sinks.neo4j_export import write_admin_import_csvs

        spark, t = ctx.spark, ctx.tracer
        out = os.path.join(ctx.work, "units", f"u{i}")
        pages = spark.read.parquet(self.pages_dir)
        entity_dict = spark.read.parquet(self.dict_dir)
        with t.span("converter") as conv:
            store = pages_to_graph(pages, entity_dict,
                                   GraphStore(spark, path=os.path.join(out, "store")))
        with t.span("store.triples"):
            store.triples().write.mode("overwrite").parquet(os.path.join(out, "triples"))
        with t.span("sinks.export"):
            exported = write_admin_import_csvs(store, os.path.join(out, "csv"))
        return {"out": out, "conv_start": conv["start"],
                "stages": list(store.counters.get("stages", [])), "exported": exported}

    def check(self, ctx, rec: dict) -> List[str]:
        out, want, errs = rec["out"], self.expect, []
        tri = pq.read_table(os.path.join(out, "triples")).to_pydict()
        rows = list(zip(tri["subj"], tri["pred"], tri["obj"]))
        if len(rows) != want["triples"] or _triple_hash(rows) != want["hash"]:
            errs.append(f"triples: {len(rows)} rows hash {_triple_hash(rows)}, "
                        f"want {want['triples']} hash {want['hash']}")
        labels = pq.read_table(os.path.join(out, "store", "nodes"),
                               columns=["_primary_label"]).column(0).to_pylist()
        for label in ("Page", "Entity"):
            if labels.count(label) != want[label]:
                errs.append(f"{label} nodes: {labels.count(label)}, want {want[label]}")
        csv_want = {"nodes_Page": want["Page"], "nodes_Entity": want["Entity"],
                    "rels_MENTIONS": want["triples"]}
        for name, n in csv_want.items():
            got = _csv_rows(os.path.join(out, "csv", name))
            if got != n or rec["exported"].get(name) != n:
                errs.append(f"{name}.csv: {got} rows (export said "
                            f"{rec['exported'].get(name)}), want {n}")
        return errs

    def trace_extra(self, ctx) -> None:
        """Staged noop writes of the webtext prefixes extract → detect →
        link; a layer's self time is the difference of consecutive
        prefixes."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from data2neo_spark.pipeline.webtext import (
            detect_mentions, extract_pages, link_entities)

        spark = ctx.spark
        docs = extract_pages(spark.read.parquet(self.pages_dir))
        entity_dict = spark.read.parquet(self.dict_dir)
        prefix_s = {}
        for k in ("extract", "detect", "link"):
            with ctx.tracer.span(f"webtext.{k}") as sp:
                df = docs
                if k != "extract":
                    df = detect_mentions(df, entity_dict)
                if k == "link":
                    df = link_entities(df)
                obs = Observation()
                df.observe(obs, F.count(F.lit(1)).alias("n")) \
                    .write.format("noop").mode("overwrite").save()
            prefix_s[k] = sp["end"] - sp["start"]
            if k == "detect":
                mention_rows = obs.get["n"]
        self.probe = {"prefix_s": prefix_s, "mention_rows": mention_rows}

    def layer_metrics(self, ctx, jobs: Dict[int, dict], recs: List[dict]) -> dict:
        m = {}
        if self.probe:
            pre = self.probe["prefix_s"]
            m["webtext.extract_s"] = pre["extract"]
            m["webtext.detect_s"] = pre["detect"] - pre["extract"]
            m["webtext.link_s"] = pre["link"] - pre["detect"]
            m["webtext.mention_rows"] = self.probe["mention_rows"]
            w = tr.totals(tr.in_group(jobs, "webtext"))
            m["webtext.cpu_share"] = tr.share(w["cpu_ms"], w["run_ms"])

        per_unit = {k: [] for k in (
            "node_s", "rel_s", "node_tasks", "rel_tasks", "node_cpu", "rel_cpu",
            "merge_mb", "match_mb", "gc", "lineage_s", "lineage_jobs", "triples_s",
            "export_s", "export_jobs")}
        lineage_sites = _lineage_call_sites()
        for rec in recs:
            ujobs = [j for j in jobs.values() if rec["start"] <= j["submit"] <= rec["end"]]
            spans = {s["name"]: s for s in rec["spans"]}
            conv_jobs = [j for j in ujobs if j["group"] == "converter"]
            passes = tr.split_passes(conv_jobs, rec["conv_start"], rec["stages"])
            ts = {s["stage"]: s["ts"] for s in rec["stages"]}
            node, rel = tr.totals(passes["node"]), tr.totals(passes["rel"])
            conv = tr.totals(conv_jobs)
            per_unit["node_s"].append(ts.get("nodes", rec["conv_start"]) - rec["conv_start"])
            per_unit["rel_s"].append(ts.get("edges", 0) - ts.get("nodes", 0))
            per_unit["node_tasks"].append(node["tasks"])
            per_unit["rel_tasks"].append(rel["tasks"])
            per_unit["node_cpu"].append(tr.share(node["cpu_ms"], node["run_ms"]))
            per_unit["rel_cpu"].append(tr.share(rel["cpu_ms"], rel["run_ms"]))
            per_unit["merge_mb"].append(node["shuffle_write_b"] / MB)
            per_unit["match_mb"].append(rel["shuffle_write_b"] / MB)
            per_unit["gc"].append(tr.share(conv["gc_ms"], conv["run_ms"]))
            lin = [j for j in ujobs if j["call_site"] in lineage_sites]
            per_unit["lineage_s"].append(sum(j["end"] - j["submit"] for j in lin if j["end"]))
            per_unit["lineage_jobs"].append(len(lin))
            tsp, esp = spans["store.triples"], spans["sinks.export"]
            per_unit["triples_s"].append(tsp["end"] - tsp["start"])
            per_unit["export_s"].append(esp["end"] - esp["start"])
            per_unit["export_jobs"].append(len([j for j in ujobs if j["group"] == "sinks.export"]))
        med = {k: median(v) for k, v in per_unit.items()}
        m.update({
            "converter.node_pass_s": med["node_s"],
            "converter.rel_pass_s": med["rel_s"],
            "converter.node_pass_tasks": med["node_tasks"],
            "converter.rel_pass_tasks": med["rel_tasks"],
            "converter.node_pass_cpu_share": med["node_cpu"],
            "converter.rel_pass_cpu_share": med["rel_cpu"],
            "converter.merge_shuffle_mb": med["merge_mb"],
            "converter.match_shuffle_mb": med["match_mb"],
            "converter.gc_share": med["gc"],
            "store.lineage_s": med["lineage_s"],
            "store.lineage_jobs": med["lineage_jobs"],
            "store.triples_s": med["triples_s"],
            "sinks.export_s": med["export_s"],
            "sinks.export_jobs": med["export_jobs"],
        })
        store_dir = os.path.join(recs[-1]["out"], "store")
        files = _data_files(os.path.join(store_dir, "nodes")) + \
            _data_files(os.path.join(store_dir, "edges"))
        m["store.files"] = len(files)
        m["store.bytes_per_triple"] = sum(os.path.getsize(f) for f in files) / self.expect["triples"]
        return m


class CorpusOps:
    """One pass over operator queries of ``__spark_entry__.queries()`` on a
    fixed TPC-H-shaped corpus, each followed by ``.count()``."""

    name = "corpus_ops"
    layers = ("ops.",)
    # graph_khop carries a round loop and a spread_partitions site;
    # graph_communities, the other round loop, cost 11 s of a cold pass and
    # did not fit the run-time budget (perfbench/DESIGN.md)
    QUERIES = ["graph_khop", "web_link_graph", "text_tfidf"]
    ops_per_unit = len(QUERIES)
    SIZES = dict(customers=15_000, orders=150_000, parts=20_000, lineitems=600_000,
                 documents=5_000)

    def prepare(self, ctx) -> None:
        self.data_dir = os.path.join(ctx.work, "tables")
        self.table_rows = gen.write_relational(self.data_dir, **self.SIZES)
        self.inputs = [self.data_dir]
        self._expected = None

    def unit(self, ctx, i: int) -> dict:
        import __spark_entry__ as entry

        queries = entry.queries()
        rows, failed = {}, []
        for q in self.QUERIES:
            try:
                with ctx.tracer.span(f"ops.{q}"):
                    rows[q] = queries[q](ctx.spark, self.data_dir).count()
            except Exception as e:  # one failed query does not end the pass
                failed.append(f"{q}: {type(e).__name__}: {e}")
            ctx.spark.catalog.clearCache()
        return {"rows": rows, "query_errors": failed}

    def expected_rows(self) -> Dict[str, int]:
        """Row count of each query's DuckDB oracle over the same files."""
        if self._expected is None:
            import duckdb

            import __spark_entry__ as entry

            con = duckdb.connect()
            for t in self.table_rows:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{os.path.join(self.data_dir, t + '.parquet')}'")
            oracle = entry.oracle_sql()
            self._expected = {q: len(con.execute(oracle[q]).fetchall()) for q in self.QUERIES}
            con.close()
        return self._expected

    def check(self, ctx, rec: dict) -> List[str]:
        errs = list(rec["query_errors"])
        want = self.expected_rows()
        for q, n in rec["rows"].items():
            if n != want[q]:
                errs.append(f"{q}: {n} rows, oracle has {want[q]}")
        return errs

    def layer_metrics(self, ctx, jobs: Dict[int, dict], recs: List[dict]) -> dict:
        m = {}
        for q in self.QUERIES:
            walls, tasks, njobs, shuffle = [], [], [], []
            for rec in recs:
                sp = next(s for s in rec["spans"] if s["name"] == f"ops.{q}")
                qj = [j for j in jobs.values() if j["group"] == f"ops.{q}"
                      and rec["start"] <= j["submit"] <= rec["end"]]
                tot = tr.totals(qj)
                walls.append(sp["end"] - sp["start"])
                tasks.append(tot["tasks"])
                njobs.append(tot["jobs"])
                shuffle.append(tot["shuffle_write_b"] / MB)
            m[f"ops.{q}.wall_s"] = median(walls)
            m[f"ops.{q}.tasks"] = median(tasks)
            m[f"ops.{q}.jobs"] = median(njobs)
            m[f"ops.{q}.shuffle_mb"] = median(shuffle)
        return m


WORKLOADS = {w.name: w for w in (WebtextKG, CorpusOps)}
