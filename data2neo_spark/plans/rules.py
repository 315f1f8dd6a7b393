"""Logical rule descriptors — the compiled form of the schema DSL.

The reference compiles its instruction tree into a graph of factory *objects*
executed per row (/root/reference/data2neo/core/schema_compiler.py:356-374).
We compile the same tree into declarative rule descriptors which the lowering
layer (plans/lowering.py) turns into DataFrame expressions; Catalyst does the
rest. No factory objects, no per-row execution.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Dict, List, Optional, Set, Tuple


@dataclass
class WrapperApplication:
    """One wrapper applied around an attribute or a graph element.

    ``static_args`` are the extra literal arguments from the schema
    (reference registrar.py:57-58 func_attr)."""

    name: str
    static_args: List[Any] = field(default_factory=list)


@dataclass
class AttrSpec:
    """A (possibly wrapped) attribute expression.

    Exactly one of ``column`` / ``static`` is set (reference AttributeFactory,
    factory.py:85-150). ``wrappers`` is ordered outermost-first: for
    ``A(B(x))`` the list is ``[A, B]``; preprocessors run outer→inner, the
    value is produced, postprocessors run inner→outer.
    """

    key: Optional[str]
    column: Optional[str] = None
    static: Any = None
    wrappers: List[WrapperApplication] = field(default_factory=list)

    @property
    def is_static(self) -> bool:
        return self.static is not None


@dataclass
class MatchSpec:
    """Endpoint resolution for a RELATIONSHIP rule.

    Identifier path (``node_id`` set): the endpoint is the node produced for
    this same row by the NODE rule with that identifier — a same-row column
    reference, no join (reference matcher.py:64-69 does a supplies-dict
    lookup; ours is strictly cheaper).

    Condition path: labels (AttrSpecs with key=None) + property equality
    conditions (key set) → an equi hash join against the node table
    (replaces the reference's per-row Cypher round-trip, matcher.py:94-96).
    """

    node_id: Optional[str] = None
    labels: List[AttrSpec] = field(default_factory=list)
    conditions: List[AttrSpec] = field(default_factory=list)

    @property
    def is_identifier(self) -> bool:
        return self.node_id is not None


@dataclass
class NodeRule:
    entity_type: str
    labels: List[AttrSpec] = field(default_factory=list)
    attributes: List[AttrSpec] = field(default_factory=list)
    primary_key: Optional[str] = None
    identifier: Optional[str] = None
    wrappers: List[WrapperApplication] = field(default_factory=list)  # outermost-first
    rule_id: str = ""  # unique within the schema, assigned by the compiler


@dataclass
class RelRule:
    entity_type: str
    type_attr: AttrSpec = None
    from_match: MatchSpec = None
    to_match: MatchSpec = None
    attributes: List[AttrSpec] = field(default_factory=list)
    primary_key: Optional[str] = None
    identifier: Optional[str] = None
    wrappers: List[WrapperApplication] = field(default_factory=list)
    rule_id: str = ""
    # set by MERGE_RELATIONSHIPS-style subgraph postprocessors: merge on
    # (src, type, dst) even without a pk property (reference
    # graph_elements.py:89-94, common_modules/__init__.py:17-26)
    ghost_primary_key: bool = False


@dataclass
class EntityRules:
    entity_type: str
    node_rules: List[NodeRule] = field(default_factory=list)
    rel_rules: List[RelRule] = field(default_factory=list)


@dataclass
class CompiledSchema:
    """The full compiled schema + the two phase masks
    (reference schema_compiler.py:394-409)."""

    entities: Dict[str, EntityRules] = field(default_factory=dict)
    node_mask: Set[str] = field(default_factory=set)
    relationship_mask: Set[str] = field(default_factory=set)

    def items(self) -> List[Tuple[str, EntityRules]]:
        return list(self.entities.items())

    def __getitem__(self, entity_type: str) -> EntityRules:
        return self.entities[entity_type]

    def __contains__(self, entity_type: str) -> bool:
        return entity_type in self.entities
