"""Compile the schema fixtures in tests/fixtures/*.yaml through our
compiler — each must compile (or raise exactly like the reference). The
fixtures are written from the DSL grammar and cover the cases the
reference's own resources exercise: primary keys through nested wrappers,
static and dynamic MATCH conditions, duplicated nodes and conflicting
entity definitions."""

import glob
import os

import pytest

from data2neo_spark import (
    compile_schema,
    SchemaConfigException,
    register_attribute_postprocessor,
    Attribute,
)

FIXTURE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
FIXTURES = sorted(glob.glob(os.path.join(FIXTURE_DIR, "*.yaml")))


@pytest.fixture(scope="module", autouse=True)
def wrapper_registration():
    # fixtures use a generic WRAPPER module name
    @register_attribute_postprocessor
    def WRAPPER(attribute):
        return Attribute(attribute.key, attribute.value)
    yield


def test_fixture_files_found():
    assert len(FIXTURES) >= 7


@pytest.mark.parametrize("path", FIXTURES, ids=lambda p: p.split("/")[-1])
def test_compile_fixture(path):
    text = open(path).read()
    name = path.split("/")[-1]
    if name == "conflicting_entities.yaml":
        with pytest.raises(SchemaConfigException) as excinfo:
            compile_schema(text)
        assert "conflicting definitions of entity" in str(excinfo.value)
        return
    compiled = compile_schema(text)
    assert len(compiled.entities) >= 1


def test_primary_keys_fixture_details():
    compiled = compile_schema(
        open(os.path.join(FIXTURE_DIR, "primary_keys.yaml")).read()
    )
    rules = {r.identifier: r for r in compiled["entity"].node_rules}
    assert rules["a"].primary_key is None
    assert rules["b"].primary_key is None
    assert rules["c"].primary_key == "pk"
    # pk through nested wrappers still resolves to the key name
    assert rules["d"].primary_key == "pk"
    assert rules["e"].primary_key == "pk"


def test_matcher_condition_fixture_details():
    compiled = compile_schema(
        open(os.path.join(FIXTURE_DIR, "matcher_condition.yaml")).read()
    )
    rels = compiled["entity"].rel_rules
    by_type = {}
    for r in rels:
        by_type.setdefault(r.type_attr.static, []).append(r)
    two = by_type["two-dyn-two-static"][0].to_match
    assert len(two.conditions) == 4
    assert len(two.labels) == 1
    statics = {c.key: c.static for c in two.conditions if c.static is not None}
    assert statics == {"Name": "static", "Name2": "static2"}
    dyns = {c.key: c.column for c in two.conditions if c.column is not None}
    assert dyns == {"Dyn": "dyn", "Dyn2": "dyn2"}


def test_duplicated_nodes_fixture():
    compiled = compile_schema(
        open(os.path.join(FIXTURE_DIR, "duplicated_nodes.yaml")).read()
    )
    assert len(compiled["entity"].node_rules) == 3
    assert all(r.primary_key == "uid" for r in compiled["entity"].node_rules)
