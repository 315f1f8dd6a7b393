"""data2neo_spark — a PySpark-native knowledge-graph construction engine.

A from-scratch reimplementation of the *capabilities* of jkminder/data2neo
(declarative ENTITY/NODE/RELATIONSHIP schema mapping, attribute factories,
wrappers, merge-on-primary-key semantics — see /root/reference) as columnar
DataFrame transforms:

* the conversion-schema DSL is kept verbatim as the public API
  (reference grammar: data2neo/core/schema_compiler.py:31-319),
* every NODE / RELATIONSHIP rule compiles to a set of DataFrame expressions,
* MATCH lookups compile to equi joins against the node table, broadcast
  or shuffled as Spark's planner and AQE decide, instead of per-row
  Cypher round-trips
  (reference: data2neo/core/factories/matcher.py:94-96),
* merge-on-key becomes a deterministic last-writer-wins keyed aggregation
  (reference: data2neo/neo4j/graph_elements.py:206-264),
* the output is a GraphStore of nodes / edges / (subj, pred, obj) triples
  parquet (or Iceberg) tables instead of a Neo4j instance.

Nothing in this package is a port of the reference's executor; the
architecture is DataFrame/Arrow-native throughout.
"""

from .core.graph_elements import Attribute, Node, Relationship, Subgraph
from .core.row_factories import AttributeFactoryWrapper, Resource, SubgraphFactoryWrapper
from .core.matcher import Matcher
from .core.global_state import GlobalSharedState
from .core.registrar import (
    register_attribute_postprocessor,
    register_attribute_preprocessor,
    register_subgraph_postprocessor,
    register_subgraph_preprocessor,
    register_wrapper,
    register_vectorized_attribute_postprocessor,
)
from .core.store import GraphStore
from .core.registry import IDRegistry
from .core.converter import ConsoleProgress, Converter
from .operators.rounds import release
from .sources.iterators import (
    ResourceIterator,
    IteratorIterator,
    PandasDataFrameIterator,
    SparkDataFrameIterator,
    SQLiteIterator,
)
from .session import build_session
from .utils import load_file
from .schema.parser import parse_schema, SchemaConfigException
from .schema.compiler import compile_schema

# importing registers the built-in modules (INT/FLOAT/STR/BOOL/DATE/DATETIME/
# MERGE_RELATIONSHIPS) into the wrapper registry, mirroring the reference's
# data2neo.common_modules side-effect import.
from . import functions as _functions  # noqa: F401

__version__ = "0.4.0"

__all__ = [
    "Attribute",
    "Node",
    "Relationship",
    "Subgraph",
    "Resource",
    "Matcher",
    "GlobalSharedState",
    "AttributeFactoryWrapper",
    "SubgraphFactoryWrapper",
    "GraphStore",
    "IDRegistry",
    "ConsoleProgress",
    "Converter",
    "ResourceIterator",
    "IteratorIterator",
    "PandasDataFrameIterator",
    "SparkDataFrameIterator",
    "SQLiteIterator",
    "parse_schema",
    "compile_schema",
    "SchemaConfigException",
    "build_session",
    "release",
    "load_file",
    "register_attribute_postprocessor",
    "register_attribute_preprocessor",
    "register_subgraph_postprocessor",
    "register_subgraph_preprocessor",
    "register_wrapper",
    "register_vectorized_attribute_postprocessor",
]
