"""Wrapper/UDF registry — the engine's user-extension surface.

Mirrors the reference's five registration kinds
(/root/reference/data2neo/core/factories/registrar.py:73-127):

* ``register_attribute_preprocessor``  — fn(Resource[, *static]) -> Resource|None
* ``register_attribute_postprocessor`` — fn(Attribute[, *static]) -> Attribute|None
* ``register_subgraph_preprocessor``   — fn(Resource[, *static]) -> Resource|None
* ``register_subgraph_postprocessor``  — fn(Subgraph[, *static]) -> Subgraph
* ``register_wrapper``                 — full Attribute/SubgraphFactoryWrapper class

plus one Spark-native extension:

* ``register_vectorized_attribute_postprocessor`` — fn(pd.Series[, *static])
  -> pd.Series, the Arrow fast path (whole-column, no per-element loop).

Built-in wrappers (INT/FLOAT/STR/BOOL/DATE/DATETIME, MERGE_RELATIONSHIPS)
additionally carry a *column compiler*: a function producing a native Spark
Column expression, so the hot path never leaves the JVM. User-registered
python functions are lowered to Arrow-batched pandas UDFs by the plan
lowering layer.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass, field
from typing import Any, Callable, Dict, Optional

logger = logging.getLogger(__name__)

# wrapper kinds
ATTR_PRE = "attribute_preprocessor"
ATTR_POST = "attribute_postprocessor"
ATTR_POST_VEC = "vectorized_attribute_postprocessor"
SG_PRE = "subgraph_preprocessor"
SG_POST = "subgraph_postprocessor"
FULL_WRAPPER = "full_wrapper"


@dataclass
class WrapperDef:
    """A registered wrapper: its kind, the user fn, and (optionally) a
    native Column compiler ``(col, dtype, *static_args) -> Column`` used by
    the lowering layer to stay JVM-side."""

    name: str
    kind: str
    fn: Callable
    column_compiler: Optional[Callable] = None
    # subgraph-post wrappers that only flip merge flags (MERGE_RELATIONSHIPS)
    # can declare it declaratively instead of running per-row python:
    sets_ghost_primary_key: bool = field(default=False)


_registry: Dict[str, WrapperDef] = {}


def get_wrapper(name: str) -> WrapperDef:
    try:
        return _registry[name]
    except KeyError:
        raise KeyError(
            f"The requested module/factory '{name}' is not existing in the "
            "registry. Make sure to register your custom modules."
        )


def _register(name: str, definition: WrapperDef) -> None:
    if name in _registry:
        logger.warning("The name '%s' is already registered. Overwriting it.", name)
    _registry[name] = definition


def register_attribute_preprocessor(function: Callable) -> Callable:
    """fn(Resource, *static) -> Resource|None; None drops the attribute
    (reference factory_wrappers.py:140-142)."""
    _register(function.__name__, WrapperDef(function.__name__, ATTR_PRE, function))
    return function


def register_attribute_postprocessor(function: Callable) -> Callable:
    """fn(Attribute, *static) -> Attribute|None."""
    _register(function.__name__, WrapperDef(function.__name__, ATTR_POST, function))
    return function


def register_vectorized_attribute_postprocessor(function: Callable) -> Callable:
    """Spark-native: fn(pd.Series, *static) -> pd.Series (Arrow fast path)."""
    _register(function.__name__, WrapperDef(function.__name__, ATTR_POST_VEC, function))
    return function


def register_subgraph_preprocessor(function: Callable) -> Callable:
    """fn(Resource, *static) -> Resource|None; None skips the whole row for
    this rule (conditional filter, reference factory_wrappers.py:99-101)."""
    _register(function.__name__, WrapperDef(function.__name__, SG_PRE, function))
    return function


def register_subgraph_postprocessor(function: Callable) -> Callable:
    """fn(Subgraph, *static) -> Subgraph; may add/remove nodes and rels."""
    _register(function.__name__, WrapperDef(function.__name__, SG_POST, function))
    return function


def register_wrapper(wrapper: type) -> type:
    """Full wrapper class (reference factory_wrappers.py:21-142). The class
    must expose ``preprocessor``/``postprocessor``-style behavior via its
    ``construct``; our lowering calls it per element inside Arrow batches."""
    _register(wrapper.__name__, WrapperDef(wrapper.__name__, FULL_WRAPPER, wrapper))
    return wrapper


def register_native(
    name: str,
    kind: str,
    fn: Callable,
    column_compiler: Optional[Callable] = None,
    sets_ghost_primary_key: bool = False,
) -> None:
    """Register a built-in with a JVM-side Column compiler (internal)."""
    _register(
        name,
        WrapperDef(name, kind, fn, column_compiler, sets_ghost_primary_key),
    )
