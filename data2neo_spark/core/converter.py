"""Converter — the two-pass schema-driven conversion pipeline.

Reference lifecycle (/root/reference/data2neo/core/converter.py:374-419):
pass 1 streams all resources through node supply-chains and commits nodes;
pass 2 re-streams the same resources through relationship chains so every
MATCH target exists. We keep the two-pass structure but each pass is a
DataFrame job:

  pass 1:  sources → per-rule selects → union → keyed last-writer-wins
           merge-agg → node table materialized (the barrier + checkpoint)
  pass 2:  sources ⋈ node table (per MATCH) → per-rule edge selects →
           union → keyed dedup-agg → edge table

No global write lock (reference converter.py:101-127 serializes merges);
merge semantics come from the aggregation itself, with a DETERMINISTIC
outcome (ordered by (source, row) sequence) — strictly stronger than the
reference's racy imap_unordered order (converter.py:338).

``num_workers`` and ``batch_size`` are accepted only for parity with the
reference API and change nothing: Spark's own parallelism applies.
``num_workers`` is only checked against ``serialize``; ``serialize=True``
coalesces to one partition for ordered debugging runs (reference
converter.py:394-419).
"""

from __future__ import annotations

import logging
import time
from typing import Dict, List, Optional, Tuple, Union

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans import dynamic as dyn
from ..plans import lowering as L
from ..plans.rules import CompiledSchema
from ..schema.compiler import compile_schema
from ..sources.iterators import ResourceIterator
from .store import GraphStore
from .types import estimated_bytes, observed_value

logger = logging.getLogger(__name__)


class ConsoleProgress:
    """tqdm-shaped zero-dependency progress bar (O6 live progress,
    reference converter.py:234-242/:361-368 update_progress_bar): the
    Converter accepts any tqdm-like FACTORY via ``progress_bar=``; this
    shim prints a carriage-returned ``[data2neo] ████--- n/total`` line so
    the surface works without tqdm installed. Pass ``tqdm.tqdm`` itself
    for the real thing."""

    def __init__(self, total: int = 0, file=None):
        import sys as _sys

        self.total = max(int(total), 1)
        self.n = 0
        self._file = file or _sys.stderr
        self._last = -1

    def refresh(self) -> None:
        pct = min(self.n / self.total, 1.0)
        step = int(pct * 100)
        if step == self._last:
            return
        self._last = step
        bar = ("█" * (step // 4)).ljust(25, "-")
        self._file.write(f"\r[data2neo] {bar} {self.n}/{self.total}")
        self._file.flush()

    def close(self) -> None:
        self._file.write("\n")
        self._file.flush()


def _progress_poller(sc, state, pb, stop_evt):
    """Daemon thread: maps the task completion fraction of the jobs in the
    current pass's job group onto the resource-count scale the reference's
    bar uses (pass fraction × pass rows + completed-pass base)."""
    tracker = sc.statusTracker()
    while not stop_evt.is_set():
        try:
            group, base, span = state["group"], state["base"], state["span"]
            done = tot = 0
            for jid in tracker.getJobIdsForGroup(group):
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                for sid in info.stageIds:
                    si = tracker.getStageInfo(sid)
                    if si is None:
                        continue
                    done += si.numCompletedTasks
                    tot += si.numTasks
            frac = min(done / tot, 1.0) if tot else 0.0
            pb.n = int(base + frac * span)
            pb.refresh()
        except Exception:
            pass
        stop_evt.wait(0.1)


class Converter:
    """Compile a schema and convert typed resource streams into a GraphStore.

    Args:
        schema: conversion-schema DSL text (or a pre-compiled CompiledSchema).
        iterator: a ResourceIterator, or a dict {entity_type: DataFrame}, or
            a list of (entity_type, DataFrame) pairs (order = merge order).
        store: GraphStore to merge into (created in-memory if omitted).
        serialize: single-partition ordered mode (debugging; reference
            converter.py:394-419).
        num_workers, batch_size: reference-API parity only; unused (see the
            module docstring).

    The MATCH joins of pass 2 are plain equi joins: Spark picks broadcast
    or shuffle from the node table's measured size
    (``spark.sql.autoBroadcastJoinThreshold``), and AQE's skew join splits
    hub keys on the shuffle path.
    """

    def __init__(
        self,
        schema: Union[str, CompiledSchema],
        iterator: Union[ResourceIterator, Dict[str, DataFrame], List[Tuple[str, DataFrame]]],
        store: Optional[GraphStore] = None,
        serialize: bool = False,
        num_workers: Optional[int] = None,
        batch_size: Optional[int] = None,
        run_id: int = 0,
    ) -> None:
        if serialize and num_workers is not None and num_workers > 1:
            raise ValueError(
                "Serialize and num_workers are mutually exclusive: can't run "
                "serialized with more than 1 worker"
            )
        self.schema = (
            schema if isinstance(schema, CompiledSchema) else compile_schema(schema)
        )
        self.iterator = iterator
        self.store = store
        self.serialize = serialize
        # run_id namespaces the deterministic sequence used for surrogate ids
        # of CREATE-mode elements: re-running the SAME run_id is idempotent
        # (checkpoint/resume semantics, north rule); appending genuinely new
        # batches should use a fresh run_id so parallel create-edges from
        # different runs never collide.
        self.run_id = run_id
        # sequenced sources (and dynamic-path long frames) persisted for
        # row-id determinism; released at the end of run()
        self._persisted: List[DataFrame] = []

    # --------------------------------------------------------------------

    @staticmethod
    def _plan_has_shuffle(df: DataFrame) -> bool:
        try:
            plan = df._jdf.queryExecution().toString()
        except Exception:
            logger.warning(
                "could not inspect the source plan for shuffles (API drift?); "
                "persisting defensively — row-id determinism across passes "
                "depends on it"
            )
            return True
        # only SHUFFLE exchanges make per-partition row ids execution-
        # dependent; broadcast exchanges don't repartition the probe side
        return "Exchange" in plan.replace("BroadcastExchange", "")

    @staticmethod
    def _plan_row_count(df: DataFrame) -> Optional[int]:
        """Optimizer row-count estimate (CBO stats), or None — used to
        size progress bars without a count job where possible."""
        try:
            opt = df._jdf.queryExecution().optimizedPlan().stats().rowCount()
            if opt.isEmpty():
                return None
            n = opt.get()
            return n if isinstance(n, int) else int(n.toString())
        except Exception:
            return None

    def _resolve_sources(self, spark: SparkSession) -> List[Tuple[str, DataFrame]]:
        # resolve-once contract: the progress wrapper resolves (and counts)
        # the sources before _run starts; without this cache a
        # SQLiteIterator / PandasDataFrameIterator would do a SECOND full
        # driver-side load
        cached = getattr(self, "_resolved_cache", None)
        if cached is not None:
            return cached
        it = self.iterator
        if isinstance(it, ResourceIterator):
            pairs = it.resolve(spark)
        elif isinstance(it, dict):
            pairs = list(it.items())
        else:
            pairs = list(it)
        out = []
        for i, (etype, df) in enumerate(pairs):
            if self.serialize:
                df = df.coalesce(1)
            df = df.withColumn(
                L.SEQ_SRC, F.lit(self.run_id * 1_000_000 + i).cast("long")
            ).withColumn(L.SEQ_ROW, F.monotonically_increasing_id())
            # a shuffle in the source lineage makes per-row sequence numbers
            # execution-dependent: pass 2 (and identifier references) could
            # recompute DIFFERENT row ids than pass 1 → dangling edges for
            # CREATE-mode elements. Persisting the sequenced source freezes
            # the ids (and saves the recompute). File scans — the 100TB hot
            # path — have no shuffle and stay unpersisted.
            rules = self.schema.entities.get(etype)
            if (
                rules is not None
                and rules.rel_rules
                and self._plan_has_shuffle(df)
            ):
                df = df.persist()
                self._persisted.append(df)
            out.append((etype, df))
        return out

    def _release_sources(self, store: GraphStore) -> None:
        """Unpersist sequenced sources once nothing lazy references them.

        Disk-backed stores re-read their tables from parquet, so lineage to
        the sources is cut at materialization → unpersist now. In-memory
        stores may hold a LAZY edge plan that still reads the sources — hand
        them to the store, which releases them when the edge table is next
        materialized. (Without this, stream_pages_to_graph — one Converter
        per micro-batch — accumulated cached sources unboundedly.)"""
        if not self._persisted:
            return
        if store.path is not None:
            for df in self._persisted:
                df.unpersist()
        else:
            store.adopt_persisted(self._persisted)
        self._persisted = []

    def __call__(
        self,
        spark: Optional[SparkSession] = None,
        skip_nodes: bool = False,
        skip_relationships: bool = False,
        progress_bar=None,
    ) -> GraphStore:
        return self.run(spark, skip_nodes=skip_nodes,
                        skip_relationships=skip_relationships,
                        progress_bar=progress_bar)

    def run(
        self,
        spark: Optional[SparkSession] = None,
        skip_nodes: bool = False,
        skip_relationships: bool = False,
        progress_bar=None,
    ) -> GraphStore:
        """``progress_bar``: an optional tqdm-like FACTORY (reference
        converter.py:349-368 — called as ``progress_bar(total=2*rows)``,
        then ``.n``/``.refresh()`` driven live). Task-level progress of the
        node pass maps to the first half of the scale, the relationship
        pass to the second — the reference's resources-processed units.
        Pass :class:`ConsoleProgress` for a dependency-free console bar."""
        if progress_bar is not None:
            return self._run_with_progress(
                spark, skip_nodes, skip_relationships, progress_bar
            )
        return self._run(spark, skip_nodes, skip_relationships)

    def _run_with_progress(self, spark, skip_nodes, skip_relationships,
                           progress_bar) -> GraphStore:
        import threading
        import uuid

        if spark is None:
            spark = SparkSession.getActiveSession()
        sc = spark.sparkContext
        tag = f"d2s-progress-{uuid.uuid4().hex[:8]}"
        state = {"group": tag + "-p1", "base": 0, "span": 1}
        pb = None
        poller = None
        stop_evt = threading.Event()
        try:
            # resolve ONCE (cached — _run reuses these pairs instead of
            # re-loading driver-side iterators), and size the bar from
            # plan statistics when the optimizer knows the row count;
            # only stats-less sources pay a pre-bar count job, attributed
            # to the job group so nothing runs unlabeled
            pairs = self._resolve_sources(spark)
            self._resolved_cache = pairs
            sc.setJobGroup(state["group"], "data2neo source sizing")
            n_rows = 0
            for _t, df in pairs:
                n = self._plan_row_count(df)
                n_rows += n if n is not None else df.count()
            pb = progress_bar(total=2 * n_rows)
            state["span"] = n_rows
            self._progress_state = state
            poller = threading.Thread(
                target=_progress_poller, args=(sc, state, pb, stop_evt),
                daemon=True,
            )
            poller.start()
            sc.setJobGroup(state["group"], "data2neo node pass")
            try:
                return self._run(spark, skip_nodes, skip_relationships)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
        finally:
            self._progress_state = None
            self._resolved_cache = None
            stop_evt.set()
            if poller is not None:
                # the poller must be parked before the final bar update —
                # a mid-loop refresh landing after it would rewind the bar
                poller.join(timeout=5)
            if pb is not None:
                pb.n = pb.total if hasattr(pb, "total") else pb.n
                pb.refresh()
                if hasattr(pb, "close"):
                    pb.close()

    def _enter_rel_pass_progress(self, spark) -> None:
        state = getattr(self, "_progress_state", None)
        if not state:
            return
        state["base"] = state["span"]
        state["group"] = state["group"][:-3] + "-p2"
        spark.sparkContext.setJobGroup(state["group"],
                                       "data2neo relationship pass")

    def _run(
        self,
        spark: Optional[SparkSession] = None,
        skip_nodes: bool = False,
        skip_relationships: bool = False,
    ) -> GraphStore:
        if spark is None:
            spark = SparkSession.getActiveSession()
        if self.store is None:
            self.store = GraphStore(spark)
        store = self.store
        sources = self._resolve_sources(spark)

        # ---------------- pass 1: nodes --------------------------------
        t0 = time.time()
        node_parts: List[DataFrame] = []          # (df, needs_merge) pairs
        node_merge_flags: List[bool] = []
        dyn_edge_parts: List[DataFrame] = []
        enriched: List[Tuple[str, DataFrame]] = []
        null_pk_obs: List[Tuple[str, object]] = []
        for etype, df in sources:
            rules = self.schema.entities.get(etype)
            if rules is None:
                enriched.append((etype, df))
                continue
            current = df
            if etype in self.schema.node_mask and not skip_nodes:
                for rule in rules.node_rules:
                    # preprocessor mutations persist for later rules + pass 2;
                    # the identifier (supplies) columns are derived HERE, from
                    # the row state this rule saw — a later rule mutating its
                    # pk input must not skew the supply uid, and rows whose
                    # node was never created carry a NULL uid (no edge in
                    # pass 2)
                    if dyn.needs_dynamic(rule):
                        long_df = dyn.lower_node_rule_dynamic(current, rule).persist()
                        self._persisted.append(long_df)
                        nodes_part, extra_edges = dyn.dynamic_to_canonical(long_df, rule)
                        node_parts.append(nodes_part)
                        # dynamic rules may merge via wrapper-assigned pks
                        node_merge_flags.append(True)
                        if extra_edges is not None:
                            dyn_edge_parts.append(extra_edges)
                        current = L.propagate_sg_pre_mutations(current, rule.wrappers)
                        if rule.identifier is not None:
                            # the supply is the node the wrapper built,
                            # joined back on the row sequence
                            current = current.join(dyn.supplies(long_df, rule),
                                                   [L.SEQ_SRC, L.SEQ_ROW], "left")
                    else:
                        node_parts.append(
                            L.lower_node_rule(current, rule, observations=null_pk_obs)
                        )
                        node_merge_flags.append(rule.primary_key is not None)
                        keep = L.SG_KEEP if rule.identifier is not None else None
                        current = L.propagate_sg_pre_mutations(
                            current, rule.wrappers, keep_col=keep
                        )
                        current = L.attach_identifier_columns(current, rule, keep_col=keep)
                enriched.append((etype, current))
            else:
                # nodes skipped this phase (skip_nodes / masked): supplies
                # are still addressable from the raw row state
                enriched_df = current
                for rule in rules.node_rules:
                    enriched_df = L.attach_identifier_columns(enriched_df, rule)
                enriched.append((etype, enriched_df))

        # the node-table materialization is the pass-1/pass-2 barrier —
        # required only when some MATCH matcher joins against it, or the
        # store persists to disk (checkpoint/resume). Identifier-only
        # schemas skip it: the whole conversion collapses into one
        # lazily-evaluated plan (no extra actions, no cache)
        needs_barrier = store.path is not None or any(
            (not m.is_identifier)
            for etype, _ in enriched
            if etype in self.schema.entities
            for rule in self.schema.entities[etype].rel_rules
            for m in (rule.from_match, rule.to_match)
        )
        # eager barrier (write + metrics) only for disk-backed stores —
        # in-memory stores persist WITHOUT a count action: the first
        # consumer fills the cache (one fewer source pass per conversion;
        # metrics ride no action there, so they're skipped), and the
        # unfilled cache reports its plan's size estimate. When a part has
        # no estimate (RDD/createDataFrame sources), prefill eagerly: Spark
        # then sizes the pass-2 MATCH joins from the filled cache's real
        # size instead of an unknown one (which never broadcasts).
        eager = needs_barrier and (store.path is not None or any(
            estimated_bytes(p) is None for p in node_parts
        ))
        stats = store.upsert("nodes", node_parts, node_merge_flags,
                             materialize=needs_barrier, prefill=eager)
        if stats:
            store.log_stage("nodes", **stats, wall_s=round(time.time() - t0, 3))
        if eager:
            # null-pk drop counters rode the same write (A6 pattern);
            # merge-mode data loss must be observable (reference raises
            # per row, graph_elements.py:251-252)
            for rule_id, drop_obs in null_pk_obs:
                dropped = observed_value(drop_obs, "null_pk_rows")
                if dropped:
                    logger.warning(
                        "rule %s: dropped %d rows with NULL primary key",
                        rule_id, dropped,
                    )
                    store.log_stage(
                        "null_pk_dropped", rule=rule_id, n_rows=dropped
                    )

        # ---------------- pass 2: relationships ------------------------
        t1 = time.time()
        self._enter_rel_pass_progress(spark)
        edge_parts: List[DataFrame] = list(dyn_edge_parts)
        edge_merge_flags: List[bool] = [True] * len(dyn_edge_parts)
        if skip_relationships:
            store.log_stage("run", wall_s=round(time.time() - t0, 3))
            self._release_sources(store)
            return store
        for etype, df in enriched:
            rules = self.schema.entities.get(etype)
            if rules is None or etype not in self.schema.relationship_mask:
                continue
            for rule in rules.rel_rules:
                part = L.lower_rel_rule(df, rule, store.nodes)
                part = dyn.apply_rel_postprocessors_dynamic(part, rule)
                edge_parts.append(part)
                edge_merge_flags.append(
                    rule.primary_key is not None or rule.ghost_primary_key
                )

        # edges only need materializing for persistent stores; for
        # in-memory stores the caller's first action computes them
        stats = store.upsert("edges", edge_parts, edge_merge_flags,
                             materialize=store.path is not None)
        if stats:
            store.log_stage("edges", **stats, wall_s=round(time.time() - t1, 3))

        store.log_stage("run", wall_s=round(time.time() - t0, 3))
        self._release_sources(store)
        return store
