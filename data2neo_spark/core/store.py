"""GraphStore — the engine's graph backend (replaces Neo4j).

Holds the merged node table and the edge table as DataFrames, optionally
persisted to parquet (or Iceberg when a catalog is configured) under a
directory:

    <path>/nodes/        canonical node table
    <path>/edges/        canonical edge table
    <path>/_lineage/     per-run stage counters (resume/monitoring, north rule)

Node table:  _uid, _labels, _primary_label, _pk_prop, _pk_val, _seq_src,
             _seq_row, <one typed column per property>
Edge table:  _eid, _src_uid, _rel_type, _dst_uid, _src_label, _src_key,
             _dst_label, _dst_key, _pk_prop, _seq_src, _seq_row, <props>

Every write goes through one rule, ``GraphStore.upsert``, called by both
Converter passes (nodes, then edges) and by ``create`` / ``merge`` /
``push``: a fresh table merges keyed rows and appends CREATE-mode rows
without a shuffle; an existing table merges the batch together with its
stored rows, which enter at ``_seq_src = -1`` so every new value wins. On a
bucketed disk store only the buckets the batch touches are read and
rewritten. A batch with no rows leaves the table as it is.

Every disk write and every reopen goes through ``core/tables.py``: the
crash-safe rename-aside swap of a whole table or of its touched buckets,
and the startup recovery of whatever a killed swap left behind.

``match_nodes`` / ``match_relationships`` provide the reference's standalone
query API (/root/reference/data2neo/neo4j/matching.py:34-120) as DataFrame
filters.
"""

from __future__ import annotations

import json
import os
import time
from typing import Any, Dict, List, Optional

import numpy as np
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..plans import lowering as L
from . import tables
from .types import spark_type_of_literal, union_wide, widen

# hash-bucket partition column of disk-backed stores (pmod of the element
# key) — the unit of partition-pruned incremental upserts
BUCKET = "_nbucket"
# merge sequence of create()/merge()/push() subgraph rows: above any
# converter run's (run_id*1e6+i), so they overwrite whatever is stored
# (reference MERGE+SET semantics); stored rows enter every merge at -1
_ABSORB_SEQ = 1 << 40


def _stored_seq(df: DataFrame) -> DataFrame:
    """Stored rows enter a merge at the lowest sequence: any new row wins."""
    return df.withColumn(L.SEQ_SRC, F.lit(-1).cast("long"))


def _as_type(value, dtype: T.DataType):
    """A property value as ``dtype``, the widened type of its column."""
    if value is None:
        return None
    if isinstance(dtype, T.StringType):
        return str(value)
    if isinstance(dtype, T.DoubleType):
        return float(value)
    return value


def _types(df: DataFrame) -> Dict[str, str]:
    return {f.name: f.dataType.simpleString() for f in df.schema.fields}


def _merge_into_sql(ident: str, view: str, cols: List[str], key: str) -> str:
    """Full-replace-equivalent MERGE INTO (Iceberg upsert path): update
    matched rows, insert new ones, delete rows absent from the source."""
    qcols = [f"`{c}`" for c in cols]
    set_clause = ", ".join(f"t.{c} = s.{c}" for c in qcols)
    return (
        f"MERGE INTO {ident} t USING {view} s ON t.`{key}` = s.`{key}` "
        f"WHEN MATCHED THEN UPDATE SET {set_clause} "
        f"WHEN NOT MATCHED THEN INSERT ({', '.join(qcols)}) "
        f"VALUES ({', '.join('s.' + c for c in qcols)}) "
        f"WHEN NOT MATCHED BY SOURCE THEN DELETE"
    )


class GraphStore:
    """``buckets > 0`` lays the node/edge parquet out as hash-bucket
    partition directories (``_nbucket=pmod(key, buckets)``): upserts into
    a stored table (converter increments, ``merge``/``create``) then read +
    rewrite ONLY the buckets their batch touches
    (SURVEY §2.6 M5 MERGE-INTO semantics on plain parquet) instead of
    re-materializing the whole store — O(|batch| + touched partitions) per
    increment, not O(|store|)."""

    def __init__(
        self, spark: SparkSession, path: Optional[str] = None, buckets: int = 0
    ) -> None:
        self.spark = spark
        self.path = path
        self.buckets = buckets
        self._nodes: Optional[DataFrame] = None
        self._edges: Optional[DataFrame] = None
        self.counters: Dict[str, Any] = {}
        # whether the current node table is a materialized checkpoint (vs a
        # lazy plan); edges joining a lazy node table would recompute it
        self.is_materialized = True
        # superseded in-memory cached tables, unpersisted on replacement
        self._cached: Dict[str, DataFrame] = {}
        # persisted upstream frames (sequenced converter sources) that a
        # LAZY edge plan may still reference; released when the edge table
        # is next materialized (Converter._release_sources)
        self._adopted: List[DataFrame] = []
        if path is not None:
            self._nodes = tables.recover(spark, path, "nodes")
            self._edges = tables.recover(spark, path, "edges")

    # --- tables -----------------------------------------------------------

    @property
    def nodes(self) -> Optional[DataFrame]:
        if self._nodes is not None and BUCKET in self._nodes.columns:
            return self._nodes.drop(BUCKET)
        return self._nodes

    @property
    def edges(self) -> Optional[DataFrame]:
        if self._edges is not None and BUCKET in self._edges.columns:
            return self._edges.drop(BUCKET)
        return self._edges

    def raw_table(self, name: str) -> Optional[DataFrame]:
        """Node/edge table INCLUDING the bucket partition column (the
        incremental path filters on it for partition pruning)."""
        return self._nodes if name == "nodes" else self._edges

    def _bucket_col(self, name: str):
        key = L.UID if name == "nodes" else L.EID
        return F.pmod(F.col(key), F.lit(self.buckets)).cast("int")

    def upsert(
        self,
        name: str,
        parts: List[DataFrame],
        merge_flags: List[bool],
        materialize: bool = True,
        prefill: bool = True,
    ) -> Dict[str, Any]:
        """Merge a batch of canonical element rows into the ``"nodes"`` or
        ``"edges"`` table — the store's only write path (both Converter
        passes, ``create``/``merge``/``push``). ``merge_flags[i]`` says
        whether ``parts[i]`` is merge-mode (keyed) or create-mode (fresh
        uids by construction).

        - Fresh table: merge-mode parts go through the keyed merge,
          create-mode parts are appended without a shuffle.
        - Existing table: stored rows enter the merge at ``_seq_src = -1``
          (every new row overwrites them) and the union merges by key. On a
          bucketed disk store only the stored rows of the buckets the batch
          touches take part, and only those bucket directories are
          rewritten.
        - No new rows: the table is left as it is; a lazy node table is
          only pinned when ``materialize`` asks for a barrier.

        ``materialize`` makes the table a checkpoint (the pass-1/pass-2
        barrier; disk stores always write). ``prefill=False`` (in-memory
        stores only) persists WITHOUT an eager count — the first consumer
        fills the cache; the plan is deterministic, so it fills once.

        Returns the ``stages`` metrics of what was done: ``shared`` (no new
        rows), ``n_<name>`` (row count of an eager write, observed on the
        write itself), ``lazy_cache``, ``n_touched_buckets``/``n_buckets``,
        or nothing for an unmaterialized plan."""
        stored = self.nodes if name == "nodes" else self.edges
        if not parts:
            if name == "nodes" and materialize and not self.is_materialized:
                self._install("nodes", self._nodes, True, prefill)
            return {} if stored is None else {"shared": True}
        meta, key = (L.NODE_META, L.UID) if name == "nodes" else (L.EDGE_META, L.EID)
        touched = None
        if stored is None:
            keyed = [p for p, m in zip(parts, merge_flags) if m]
            appended = [p for p, m in zip(parts, merge_flags) if not m]
        else:
            keyed, appended = [_stored_seq(stored)] + parts, []
            # a batch that adds or widens a column rewrites every bucket:
            # the files of one table must share one schema
            if self.path is not None and self.buckets and \
                    _types(union_wide(keyed)) == _types(stored):
                # touched-bucket discovery and the merge both read the batch
                batch = union_wide(parts).withColumn(BUCKET, self._bucket_col(name)).persist()
                touched = sorted(r[0] for r in batch.select(BUCKET).distinct().collect())
                pruned = self.raw_table(name).where(F.col(BUCKET).isin(touched))
                keyed = [_stored_seq(pruned.drop(BUCKET)), batch.drop(BUCKET)]
        merged = union_wide(
            ([L.merge_elements(union_wide(keyed), meta, key)] if keyed else []) + appended
        )
        if touched is not None:
            self._install(name, merged, True, prefill, touched)
            batch.unpersist()
            return {"n_touched_buckets": len(touched), "n_buckets": self.buckets}
        eager = materialize and (self.path is not None or prefill)
        if eager:
            obs = Observation()
            merged = merged.observe(obs, F.count(F.lit(1)).alias("rows"))
        self._install(name, merged, materialize, prefill)
        if eager:
            return {f"n_{name}": obs.get["rows"]}
        return {"lazy_cache": True} if materialize else {}

    def _install(
        self, name: str, df: DataFrame, materialize: bool, prefill: bool,
        touched: Optional[List[int]] = None,
    ) -> None:
        if materialize:
            df = self._materialize(df, name, prefill, touched)
        if name == "nodes":
            self._nodes, self.is_materialized = df, materialize
            return
        if materialize:
            # the materialized edge table no longer references converter
            # sources — release any adopted upstream caches. The NODE table
            # may still be an unfilled lazy plan reading those same sources
            # (materialize=False identifier-only schemas, or prefill=False
            # caches no consumer has filled); pin it first, or a later
            # action recomputes the sources with drifted SEQ_ROW and node
            # uids stop matching the uids baked into this edge table
            if self._adopted:
                self._ensure_nodes_pinned()
            for adopted in self._adopted:
                adopted.unpersist()
            self._adopted = []
        self._edges = df

    def _ensure_nodes_pinned(self) -> None:
        """Make the in-memory node table independent of converter sources:
        persist+fill an unmaterialized plan, fill an unfilled lazy cache."""
        if self._nodes is None or self.path is not None:
            return
        if not self.is_materialized:
            self._nodes = self._materialize(self._nodes, "nodes", prefill=True)
            self.is_materialized = True
        else:
            # persisted but possibly unfilled (prefill=False): one count
            # action fills the cache; cheap if already filled
            self._nodes.count()

    def share_nodes_from(self, other: "GraphStore") -> "GraphStore":
        """Adopt another store's node table BY REFERENCE (batch-mode
        amortization): N conversions targeting the same node universe run
        the node pass once and pay only their own relationship pass —
        ``Converter(..., store=GraphStore(spark).share_nodes_from(base))
        (spark, skip_nodes=True)``. The node DataFrame (and its persisted
        cache) is shared; this store's edges stay its own. Pin the donor
        first (``_ensure_nodes_pinned``) if it was built lazily, so the
        shared table is a materialized checkpoint, not a plan that each
        consumer recomputes."""
        self._nodes = other.raw_table("nodes")
        self.is_materialized = other.is_materialized
        return self

    def adopt_persisted(self, dfs: List[DataFrame]) -> None:
        """Take ownership of persisted upstream frames still referenced by a
        lazy edge plan; they are unpersisted at the next edge
        materialization."""
        self._adopted.extend(dfs)

    def _partition_lineage(self, df: DataFrame, name: str) -> None:
        """Per-partition row counts of a materialized table → lineage dir
        (north rule: per-partition lineage + metrics for idempotent resume —
        a resumed run can diff these against a fresh count to spot loss)."""
        if self.path is None:
            return
        stats = (
            df.groupBy(F.spark_partition_id().alias("partition"))
            .count()
            .collect()
        )
        lineage_dir = os.path.join(self.path, "_lineage")
        os.makedirs(lineage_dir, exist_ok=True)
        with open(os.path.join(lineage_dir, f"partitions_{name}.jsonl"), "w") as fh:
            for row in sorted(stats, key=lambda r: r["partition"]):
                fh.write(json.dumps({"table": name, "partition": row["partition"],
                                     "rows": row["count"], "ts": time.time()}) + "\n")

    def _materialize(
        self, df: DataFrame, name: str, prefill: bool = True,
        touched: Optional[List[int]] = None,
    ) -> DataFrame:
        """Make ``df`` the table's checkpoint: a crash-safe parquet swap on a
        disk store (only the ``touched`` bucket directories when given), a
        persisted cache in memory."""
        if self.path is not None:
            if self.buckets and BUCKET not in df.columns:
                df = df.withColumn(BUCKET, self._bucket_col(name))
            out = tables.swap(self.spark, self.path, name, df,
                              BUCKET if self.buckets else None, touched)
            self._partition_lineage(out, name)
            return out
        df = df.persist()
        if prefill:
            df.count()
        # release the superseded cached table — streaming foreachBatch runs
        # a converter per micro-batch and would otherwise leak storage memory
        prev = self._cached.pop(name, None)
        if prev is not None:
            prev.unpersist()
        self._cached[name] = df
        return df

    # --- lineage / counters -------------------------------------------------

    def log_stage(self, stage: str, **metrics: Any) -> None:
        rec = {"stage": stage, "ts": time.time(), **metrics}
        self.counters.setdefault("stages", []).append(rec)
        if self.path is not None:
            lineage_dir = os.path.join(self.path, "_lineage")
            os.makedirs(lineage_dir, exist_ok=True)
            with open(os.path.join(lineage_dir, "stages.jsonl"), "a") as fh:
                fh.write(json.dumps(rec, default=str) + "\n")

    # --- query API (reference neo4j/matching.py) ----------------------------

    def match_nodes(self, *labels: str, **conditions: Any) -> DataFrame:
        if self._nodes is None:
            raise ValueError("GraphStore has no nodes yet")
        df = self.nodes
        for lbl in labels:
            df = df.filter(F.array_contains(F.col(L.LABELS), lbl))
        for k, v in conditions.items():
            df = df.filter(F.col(k) == F.lit(v))
        return df

    def match_relationships(
        self,
        rel_type: Optional[str] = None,
        from_node_labels: Optional[List[str]] = None,
        to_node_labels: Optional[List[str]] = None,
        **conditions: Any,
    ) -> DataFrame:
        if self._edges is None:
            raise ValueError("GraphStore has no edges yet")
        df = self.edges
        if rel_type is not None:
            df = df.filter(F.col(L.RELTYPE) == rel_type)
        for k, v in conditions.items():
            df = df.filter(F.col(k) == F.lit(v))
        if from_node_labels:
            src = self.match_nodes(*from_node_labels).select(
                F.col(L.UID).alias("__src_match")
            )
            df = df.join(src, df[L.SRC_UID] == F.col("__src_match"), "left_semi")
        if to_node_labels:
            dst = self.match_nodes(*to_node_labels).select(
                F.col(L.UID).alias("__dst_match")
            )
            df = df.join(dst, df[L.DST_UID] == F.col("__dst_match"), "left_semi")
        return df

    # --- subgraph create / merge (reference neo4j/__init__.py create/merge) ---

    def _subgraph_frames(self, subgraph, merge_mode: bool):
        """Python Subgraph → canonical (nodes_df, edges_df). Driver-side by
        design: this API is for hand-built graphs (tests, small fixes); bulk
        data goes through the Converter."""
        import time as _time

        from ..core.graph_elements import GhostPrimaryKey

        nonce = str(_time.time_ns())
        node_rows = []
        for i, n in enumerate(subgraph.nodes):
            pk = n.__primarykey__ if isinstance(n.__primarykey__, str) else None
            props = {k: v for k, v in n.properties.items() if v is not None}
            node_rows.append({
                "_local": i,
                "_labels_l": list(n.labels),
                "_plabel_l": n.__primarylabel__,
                "_pk_prop_l": pk if merge_mode else None,
                "_pk_val_l": str(props[pk]) if (merge_mode and pk) else None,
                **props,
            })
        ndf = self._rows_frame(node_rows, "_local long, _labels_l array<string>, "
                               "_plabel_l string, _pk_prop_l string, _pk_val_l string")
        uid = L.node_uid(F.col("_plabel_l"), F.col("_pk_prop_l"), F.col("_pk_val_l"),
                         [F.lit(nonce), F.col("_local")])
        prop_cols = [c for c in ndf.columns
                     if c not in ("_local", "_labels_l", "_plabel_l",
                                  "_pk_prop_l", "_pk_val_l")]
        nodes_df = ndf.select(
            uid.alias(L.UID),
            F.col("_labels_l").alias(L.LABELS),
            F.col("_plabel_l").alias(L.PLABEL),
            F.col("_pk_prop_l").alias(L.PKPROP),
            F.col("_pk_val_l").alias(L.PKVAL),
            F.lit(_ABSORB_SEQ).cast("long").alias(L.SEQ_SRC),
            F.col("_local").cast("long").alias(L.SEQ_ROW),
            *[F.col(c) for c in prop_cols],
        )

        rels = subgraph.relationships
        if not rels:
            return nodes_df, None
        uid_map = {
            r["_l"]: (r["u"], r["pl"], r["pv"])
            for r in nodes_df.select(
                F.col(L.SEQ_ROW).alias("_l"), F.col(L.UID).alias("u"),
                F.col(L.PLABEL).alias("pl"), F.col(L.PKVAL).alias("pv"),
            ).collect()
        }
        local_of = {id(n): i for i, n in enumerate(subgraph.nodes)}
        edge_rows = []
        for j, rel in enumerate(rels):
            pk = rel.__primarykey__
            ghost = isinstance(pk, GhostPrimaryKey)
            pk = pk if isinstance(pk, str) else None
            props = {k: v for k, v in rel.properties.items() if v is not None}
            su, sl, sk = uid_map[local_of[id(rel.start_node)]]
            du, dl, dk = uid_map[local_of[id(rel.end_node)]]
            edge_rows.append({
                "_j": j, "_su": su, "_type": rel.type, "_du": du,
                "_sl": sl, "_sk": sk, "_dl": dl, "_dk": dk,
                "_pk": pk, "_ghost": ghost or (merge_mode and pk is None),
                "_pkval": str(props[pk]) if pk else None,
                **props,
            })
        edf = self._rows_frame(edge_rows, "_j long, _su long, _type string, _du long, "
                               "_sl string, _sk string, _dl string, _dk string, "
                               "_pk string, _ghost boolean, _pkval string")
        eid = L.edge_id(F.col("_su"), F.col("_type"), F.col("_du"), F.col("_pk"),
                        F.col("_pkval"), F.col("_ghost"),
                        [F.lit(nonce + "e"), F.col("_j")])
        eprops = [c for c in edf.columns
                  if c not in ("_j", "_su", "_type", "_du", "_sl", "_sk",
                               "_dl", "_dk", "_pk", "_ghost", "_pkval")]
        edges_df = edf.select(
            eid.alias(L.EID),
            F.col("_su").alias(L.SRC_UID),
            F.col("_type").alias(L.RELTYPE),
            F.col("_du").alias(L.DST_UID),
            F.col("_sl").alias(L.SRC_LABEL),
            F.col("_sk").alias(L.SRC_KEY),
            F.col("_dl").alias(L.DST_LABEL),
            F.col("_dk").alias(L.DST_KEY),
            F.col("_pk").alias(L.PKPROP),
            F.lit(_ABSORB_SEQ).cast("long").alias(L.SEQ_SRC),
            F.col("_j").cast("long").alias(L.SEQ_ROW),
            *[F.col(c) for c in eprops],
        )
        return nodes_df, edges_df

    def _rows_frame(self, rows: List[Dict[str, Any]], fixed: str) -> DataFrame:
        """Driver-built rows → DataFrame: the ``fixed`` DDL columns, then one
        column per property in first-seen order, typed by widening its
        values' literal types (an int property stays ``bigint`` however
        many rows lack it); values are converted to the widened type."""
        rows = [{k: v.item() if isinstance(v, np.generic) else v for k, v in r.items()}
                for r in rows]
        schema = T.StructType.fromDDL(fixed)
        known = set(schema.names)
        props: Dict[str, T.DataType] = {}
        for r in rows:
            for k, v in r.items():
                if k not in known:
                    t = spark_type_of_literal(v)
                    props[k] = widen(props[k], t) if k in props else t
        for k, t in props.items():
            schema.add(k, t)
        return self.spark.createDataFrame(
            [tuple(_as_type(r.get(f.name), f.dataType) for f in schema.fields) for r in rows],
            schema,
        )

    def _absorb(self, nodes_df, edges_df) -> None:
        self.upsert("nodes", [nodes_df], [True])
        if edges_df is not None:
            self.upsert("edges", [edges_df], [True])

    def create(self, subgraph) -> None:
        """Write a python-built Subgraph as new elements (reference
        neo4j create: duplicates allowed, fresh identities)."""
        self._absorb(*self._subgraph_frames(subgraph, merge_mode=False))

    def merge(self, subgraph) -> None:
        """Merge a python-built Subgraph on primary keys (reference neo4j
        merge: upsert on (label, pk); relationships on (src, type, dst[, pk]))."""
        for n in subgraph.nodes:
            if not isinstance(n.__primarykey__, str):
                raise ValueError(
                    "merge requires a primary key on every node "
                    f"(missing on {n!r})"
                )
        self._absorb(*self._subgraph_frames(subgraph, merge_mode=True))

    # --- single-element push / pull (reference graph_elements.py:285-336) ---

    def push(self, node) -> None:
        """Overwrite the stored element's properties/labels from a local
        Node OR whole Subgraph (K6; reference neo4j/__init__.py:30-39 pushes
        subgraphs). Convenience API, not a bulk path; bulk updates go
        through a Converter run."""
        from ..core.converter import Converter
        from ..core.graph_elements import Subgraph

        if isinstance(node, Subgraph):
            # subgraph push = keyed upsert of all its nodes+relationships
            self.merge(node)
            return
        if node.__primarykey__ is None or node.__primarylabel__ is None:
            raise ValueError("push requires a primary label and primary key")
        pk = node.__primarykey__
        row = {k: v for k, v in node.properties.items()}
        import pandas as pd

        pdf = pd.DataFrame([row])
        attr_lines = "".join(
            f"        {'+' if k == pk else '-'} {k} = t.{k}\n" for k in row
        )
        labels = ", ".join(f'"{l}"' for l in node.labels)
        schema = f'ENTITY("t"):\n    NODE({labels}) n:\n{attr_lines}'
        Converter(schema, [("t", self.spark.createDataFrame(pdf))], store=self)(self.spark)

    def pull(self, node) -> None:
        """Refresh a local Node (or every node of a Subgraph — reference
        neo4j/__init__.py:41-48) from the store (K6)."""
        from ..core.graph_elements import Subgraph

        if isinstance(node, Subgraph):
            for n in node.nodes:
                self.pull(n)
            # relationships refresh from the edge table by
            # (src uid, type, dst uid) once endpoints carry identities
            emeta = set(L.EDGE_META)
            for rel in node.relationships:
                # self.edges (BUCKET-stripped), not self._edges: on a
                # bucketed store the raw table carries _nbucket, which is
                # not in EDGE_META and would leak into rel properties
                rows = (
                    self.edges.where(
                        (F.col(L.SRC_UID) == rel.start_node.identity)
                        & (F.col(L.RELTYPE) == rel.type)
                        & (F.col(L.DST_UID) == rel.end_node.identity)
                    ).collect()
                    if self._edges is not None else []
                )
                if rows:
                    for k, v in rows[0].asDict().items():
                        if k not in emeta and v is not None:
                            rel[k] = v
            return
        if node.__primarykey__ is None or node.__primarylabel__ is None:
            raise ValueError("pull requires a primary label and primary key")
        rows = self.match_nodes(
            node.__primarylabel__,
            **{node.__primarykey__: node.properties[node.__primarykey__]},
        ).collect()
        if not rows:
            raise ValueError("pull: node not found in store")
        meta = {L.UID, L.LABELS, L.PLABEL, L.PKPROP, L.PKVAL, L.SEQ_SRC, L.SEQ_ROW}
        d = rows[0].asDict()
        for k, v in d.items():
            if k not in meta and v is not None:
                node[k] = v
        node.identity = d[L.UID]

    # --- triple projection --------------------------------------------------

    def triples(self, include_properties: bool = False) -> DataFrame:
        """(subj, pred, obj) projection of the graph.

        Subjects/objects are human-readable ``Label:pk`` identifiers when the
        endpoint was merged on a primary key, else ``Label:#uid``.
        ``include_properties=True`` additionally emits one literal triple per
        non-null node property: (Label:pk, property_name, str(value)).
        """
        def ident(label_col: str, key_col: str, uid_col: str):
            return F.concat_ws(
                ":",
                F.col(label_col),
                F.coalesce(
                    F.col(key_col),
                    F.concat(F.lit("#"), F.col(uid_col).cast("string")),
                ),
            )

        parts = []
        if self._edges is not None:
            parts.append(
                self.edges.select(
                    ident(L.SRC_LABEL, L.SRC_KEY, L.SRC_UID).alias("subj"),
                    F.col(L.RELTYPE).alias("pred"),
                    ident(L.DST_LABEL, L.DST_KEY, L.DST_UID).alias("obj"),
                )
            )
        if include_properties and self._nodes is not None:
            from ..core.types import python_str_column

            meta = set(L.NODE_META)
            nodes = self.nodes
            subj = ident(L.PLABEL, L.PKVAL, L.UID)
            # stack properties: one pass over the node table, no joins
            pairs = []
            for field in nodes.schema.fields:
                if field.name in meta:
                    continue
                pairs.append(
                    F.when(
                        F.col(field.name).isNotNull(),
                        F.struct(
                            F.lit(field.name).alias("pred"),
                            python_str_column(
                                F.col(field.name), field.dataType
                            ).alias("obj"),
                        ),
                    )
                )
            if pairs:
                stacked = nodes.select(
                    subj.alias("subj"),
                    F.explode(
                        F.filter(F.array(*pairs), lambda x: x.isNotNull())
                    ).alias("_p"),
                ).select(
                    "subj",
                    F.col("_p.pred").alias("pred"),
                    F.col("_p.obj").alias("obj"),
                )
                parts.append(stacked)
        if not parts:
            raise ValueError("GraphStore has no edges yet")
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def save_triples(self, path: str) -> None:
        self.triples().write.mode("overwrite").parquet(path)

    def save_bucketed(self, table_prefix: str, buckets: int = 64) -> None:
        """Persist nodes/edges as BUCKETED managed tables (nodes by _uid,
        edges by _src_uid): downstream MATCH joins and endpoint resolutions
        on the bucket key co-locate without a shuffle — the standing-graph
        layout for repeated incremental runs at 100TB scale."""
        if self._nodes is not None:
            (
                self.nodes.write.mode("overwrite")
                .bucketBy(buckets, L.UID)
                .sortBy(L.UID)
                .saveAsTable(f"{table_prefix}_nodes")
            )
        if self._edges is not None:
            (
                self.edges.write.mode("overwrite")
                .bucketBy(buckets, L.SRC_UID)
                .sortBy(L.SRC_UID)
                .saveAsTable(f"{table_prefix}_edges")
            )

    @classmethod
    def load_bucketed(cls, spark: SparkSession, table_prefix: str) -> "GraphStore":
        """A store over whichever of the ``<table_prefix>_nodes`` /
        ``_edges`` catalog tables exist."""
        store = cls(spark)
        for name in ("nodes", "edges"):
            if spark.catalog.tableExists(f"{table_prefix}_{name}"):
                setattr(store, f"_{name}", spark.table(f"{table_prefix}_{name}"))
        return store

    def save_catalog(
        self,
        identifier_prefix: str,
        format: str = "parquet",
        partition_buckets: int = 0,
    ) -> None:
        """Persist nodes/edges as CATALOG tables via DataFrameWriterV2 —
        the Iceberg path of the north rule. With an Iceberg catalog
        configured (``spark.sql.catalog.<name>`` →
        ``org.apache.iceberg.spark.SparkCatalog``) pass a catalog-qualified
        prefix and ``format='iceberg'``: table replaces become snapshot
        commits (Iceberg's ACID supersedes the engine's rename-aside swap)
        and ``partition_buckets`` lays the data out with Iceberg's
        ``bucket(N, key)`` partition transform, so incremental runs can
        target touched buckets with ``MERGE INTO`` instead of swapping
        their directories. The identical code path runs against the
        built-in session catalog with ``format='parquet'`` (this sandbox
        ships no Iceberg runtime jars — the transform argument is the only
        Iceberg-specific branch)."""
        targets = [("nodes", self.nodes, L.UID), ("edges", self.edges, L.EID)]
        for name, df, key in targets:
            if df is None:
                continue
            ident = f"{identifier_prefix}_{name}"
            if format == "iceberg" and self.spark.catalog.tableExists(ident):
                # real Iceberg catalog + existing table: upsert via MERGE
                # INTO — only changed rows rewrite (a snapshot commit),
                # instead of replacing the whole table. NOT MATCHED BY
                # SOURCE THEN DELETE makes it full-replace-equivalent.
                # Requires Iceberg's Spark 3.4+/1.4+ runtime for the
                # NOT-MATCHED-BY-SOURCE clause. Schema drift (e.g. a new
                # dynamic property column since the last save) cannot
                # MERGE — fall through to createOrReplace, which commits
                # the new schema as a snapshot.
                existing_cols = set(self.spark.table(ident).columns)
                if set(df.columns) == existing_cols:
                    view = f"_d2s_merge_src_{name}"
                    df.createOrReplaceTempView(view)
                    try:
                        self.spark.sql(
                            _merge_into_sql(ident, view, df.columns, key)
                        )
                    finally:
                        self.spark.catalog.dropTempView(view)
                    continue
            w = df.writeTo(ident).using(format)
            if partition_buckets:
                if format != "iceberg":
                    raise ValueError(
                        "bucket partition transforms need an Iceberg catalog"
                    )
                w = w.partitionedBy(F.bucket(partition_buckets, F.col(key)))
            try:
                w.createOrReplace()
            except Exception as e:
                # the V1 session catalog has no atomic REPLACE TABLE AS
                # SELECT. Fall back ONLY for that capability error — any
                # other failure (e.g. an analysis error in the frame)
                # propagates with the existing table untouched; a bare
                # fallback here used to drop the only copy and then fail
                # the create anyway (ADVICE r3). The fallback itself is
                # write-then-swap: stage under a temp identifier, swap
                # names only after the write succeeded.
                msg = str(e)
                if ("REPLACE TABLE" not in msg
                        and "UNSUPPORTED_FEATURE" not in msg):
                    raise
                staged = f"{ident}__staged"
                self.spark.sql(f"DROP TABLE IF EXISTS {staged}")
                ws = df.writeTo(staged).using(format)
                if partition_buckets:
                    ws = ws.partitionedBy(
                        F.bucket(partition_buckets, F.col(key))
                    )
                ws.create()
                self.spark.sql(f"DROP TABLE IF EXISTS {ident}")
                self.spark.sql(f"ALTER TABLE {staged} RENAME TO {ident}")

    @classmethod
    def load_catalog(cls, spark: SparkSession, identifier_prefix: str) -> "GraphStore":
        return cls.load_bucketed(spark, identifier_prefix)
