"""MATCH matcher semantics, re-targeted from the reference
(tests/unit/core/test_matcher.py:71-142) through RELATIONSHIP rules.
Node fixture mirrors the reference: (:TestLabel:A {id:1, id2:10}),
(:TestLabel:B {id:2}), (:OtherLabel {id:1})."""

import pandas as pd
import pytest

from data2neo_spark import Converter

NODE_SCHEMA = """
ENTITY("tl"):
    NODE("TestLabel", tl.sub) n:
        + id = INT(tl.id)
        - id2 = INT(tl.id2)

ENTITY("ol"):
    NODE("OtherLabel") n:
        + id = INT(ol.id)
"""

TL = pd.DataFrame({"id": [1, 2], "sub": ["A", "B"], "id2": [10, None]})
OL = pd.DataFrame({"id": [1]})
PROBE = pd.DataFrame({"probe": [0], "id": [1], "id2": [10], "Label": ["TestLabel"],
                      "missing": pd.array([None], dtype="float64")})


def run_match(spark, match_expr, probe=PROBE, **conv_kwargs):
    schema = NODE_SCHEMA + f"""
ENTITY("probe"):
    NODE("Probe") p:
        + probe = INT(probe.probe)
    RELATIONSHIP(p, "hits", {match_expr}):
"""
    store = Converter(schema, [
        ("tl", spark.createDataFrame(TL)),
        ("ol", spark.createDataFrame(OL)),
        ("probe", spark.createDataFrame(probe)),
    ], **conv_kwargs)(spark)
    edges = store.match_relationships("hits")
    return sorted(r["_dst_key"] for r in edges.collect())


def test_label_only_matches_all_with_label(spark):
    # all TestLabel nodes (ids 1 and 2), not the OtherLabel node
    assert run_match(spark, 'MATCH("TestLabel")') == ["1", "2"]


def test_two_labels_subset(spark):
    assert run_match(spark, 'MATCH("TestLabel", "A")') == ["1"]


def test_label_with_condition(spark):
    assert run_match(spark, 'MATCH("TestLabel", id = INT(probe.id))') == ["1"]


def test_multiple_conditions(spark):
    assert run_match(
        spark, 'MATCH("TestLabel", id = INT(probe.id), id2 = INT(probe.id2))'
    ) == ["1"]


def test_no_match(spark):
    probe = PROBE.assign(id=[4])
    assert run_match(spark, 'MATCH("TestLabel", id = INT(probe.id))', probe) == []


def test_dynamic_label(spark):
    assert run_match(spark, "MATCH(probe.Label)") == ["1", "2"]


def test_dynamic_label_with_condition(spark):
    assert run_match(spark, "MATCH(probe.Label, id = INT(probe.id))") == ["1"]


def test_condition_on_unknown_property_matches_nothing(spark):
    assert run_match(spark, 'MATCH("TestLabel", nosuchprop = 5)') == []


def test_null_condition_matches_nothing(spark):
    """J3: a null condition value (wrapper-suppressed) matches nothing."""
    assert run_match(spark, 'MATCH("TestLabel", id = INT(probe.missing))') == []


def test_dependency_label_union_one_type(spark):
    """test_dependency.py:27-41: two NODE rules on one type merge into one
    node with the union of labels."""
    schema = """
ENTITY("Entity"):
    NODE("Entity", "FirstLabel"):
        + id = INT(Entity.id)

    NODE("Entity", "AnotherLabel"):
        + id = INT(Entity.id)
"""
    store = Converter(
        schema, [("Entity", spark.createDataFrame(pd.DataFrame({"id": [1] * 1000})))]
    )(spark)
    rows = store.nodes.collect()
    assert len(rows) == 1
    assert set(rows[0]["_labels"]) == {"Entity", "FirstLabel", "AnotherLabel"}


def test_dependency_label_union_two_types(spark):
    """test_dependency.py:44-64: same across two resource types."""
    schema = """
ENTITY("Entity"):
    NODE("Entity", "FirstLabel"):
        + id = INT(Entity.id)

ENTITY("Other"):
    NODE("Entity", "AnotherLabel"):
        + id = INT(Entity.id)
"""
    pdf = pd.DataFrame({"id": [1] * 1000})
    store = Converter(schema, [
        ("Entity", spark.createDataFrame(pdf)),
        ("Other", spark.createDataFrame(pdf)),
    ])(spark)
    rows = store.nodes.collect()
    assert len(rows) == 1
    assert set(rows[0]["_labels"]) == {"Entity", "FirstLabel", "AnotherLabel"}


# ---------------------------------------------------------------------------
# round 3: reference parity edge cases (matcher.py:52, :71-76)
# ---------------------------------------------------------------------------

def test_labelless_match_rejected(spark):
    """Reference matcher.py:52 — a MATCH with only conditions is invalid."""
    with pytest.raises(ValueError, match="At least one label must be provided"):
        run_match(spark, "MATCH(id = INT(probe.id))")


def test_partially_suppressed_conditions_match_on_survivors(spark):
    """Reference matcher.py:71-76 — a wrapper-suppressed condition is
    REMOVED from that row's condition set; matching proceeds on the
    remaining conditions. Only all-suppressed rows match nothing."""
    from data2neo_spark import Attribute, register_attribute_postprocessor

    @register_attribute_postprocessor
    def suppress_neg_r3(attribute):
        return None if (attribute.value or 0) < 0 else attribute

    probe = pd.DataFrame({
        "probe": [0, 1, 2],
        "id": [-1, 2, -5],           # -1/-5 suppressed by the wrapper
        "id2": pd.array([10, None, None], dtype="Int64"),
        "Label": ["TestLabel"] * 3,
        "missing": pd.array([None] * 3, dtype="float64"),
    })
    got = run_match(
        spark,
        'MATCH("TestLabel", id = suppress_neg_r3(INT(probe.id)), '
        "id2 = INT(probe.id2))",
        probe,
    )
    # row 0: id suppressed → match on id2=10 → node 1
    # row 1: id2 genuinely NULL → condition KEPT with None value
    #        (matcher.py:72 keeps None-valued attrs) → matches nothing
    # row 2: id suppressed, id2 NULL kept → matches nothing
    assert got == ["1"]


def test_partial_suppression_salted_path(spark, shuffle_joins):
    """The null-mask branch routing must survive the shuffle MATCH join
    too (each branch is its own shuffled equi join; union of branches
    equals the broadcast-path answer)."""
    from data2neo_spark import Attribute, register_attribute_postprocessor

    @register_attribute_postprocessor
    def suppress_neg_r3s(attribute):
        return None if (attribute.value or 0) < 0 else attribute

    probe = pd.DataFrame({
        "probe": [0, 1, 2],
        "id": [-1, 2, -5],
        "id2": pd.array([10, None, None], dtype="Int64"),
        "Label": ["TestLabel"] * 3,
        "missing": pd.array([None] * 3, dtype="float64"),
    })
    expr = ('MATCH("TestLabel", id = suppress_neg_r3s(INT(probe.id)), '
            "id2 = INT(probe.id2))")
    with shuffle_joins():
        assert run_match(spark, expr, probe) == ["1"]


def test_suppressed_dynamic_label_matches_on_remaining(spark):
    """Reference matcher.py:77-78 — a wrapper-suppressed LABEL is skipped
    (match on the remaining labels), unlike all-suppressed conditions."""
    from data2neo_spark import register_attribute_postprocessor

    @register_attribute_postprocessor
    def suppress_skip_lbl_r3(attribute):
        return None if attribute.value == "SKIP" else attribute

    probe = pd.DataFrame({
        "probe": [0, 1],
        "id": [1, 1],
        "id2": pd.array([10, 10], dtype="Int64"),
        "Label": ["TestLabel"] * 2,
        "extra": ["A", "SKIP"],
        "missing": pd.array([None] * 2, dtype="float64"),
    })
    got = run_match(
        spark,
        'MATCH("TestLabel", suppress_skip_lbl_r3(probe.extra))',
        probe,
    )
    # row 0: TestLabel ∧ A → node 1; row 1: label suppressed → all
    # TestLabel nodes (1 and 2)
    assert got == ["1", "1", "2"]


def test_suppression_flag_distinct_from_genuine_null(spark):
    """A wrapper that KEEPS a None-valued attribute must not be treated as
    suppression: the condition stays in the set with a null value and the
    row matches nothing — while a wrapper RETURNING None removes the
    condition and the row matches on the survivors (matcher.py:71-76)."""
    from data2neo_spark import register_attribute_postprocessor

    @register_attribute_postprocessor
    def suppress_neg_keep_null_r4(attribute):
        return None if (attribute.value or 0) < 0 else attribute

    probe = pd.DataFrame({
        "probe": [0, 1],
        # row 0: id NULL — wrapper runs on None, keeps the attr → condition
        #        kept with null value → matches nothing despite id2=10
        # row 1: id -1 — wrapper suppresses → match on id2=10 → node 1
        "id": pd.array([None, -1], dtype="Int64"),
        "id2": pd.array([10, 10], dtype="Int64"),
        "Label": ["TestLabel"] * 2,
        "missing": pd.array([None] * 2, dtype="float64"),
    })
    got = run_match(
        spark,
        'MATCH("TestLabel", id = suppress_neg_keep_null_r4(INT(probe.id)), '
        "id2 = INT(probe.id2))",
        probe,
    )
    assert got == ["1"]


def test_suppression_branch_cap_linear_routing(spark, monkeypatch, shuffle_joins):
    """Above SUPPRESSION_BRANCH_CAP the lowering routes rows by their first
    unsuppressed condition (k equi-join branches + post-filter) instead of
    2^k−1 subset branches — same answers, bounded plan size."""
    from data2neo_spark.plans import lowering

    from data2neo_spark import register_attribute_postprocessor

    @register_attribute_postprocessor
    def suppress_neg_r4cap(attribute):
        return None if (attribute.value or 0) < 0 else attribute

    probe = pd.DataFrame({
        "probe": [0, 1, 2],
        "id": [-1, 2, -5],
        "id2": pd.array([10, None, None], dtype="Int64"),
        "Label": ["TestLabel"] * 3,
        "missing": pd.array([None] * 3, dtype="float64"),
    })
    expr = ('MATCH("TestLabel", id = suppress_neg_r4cap(INT(probe.id)), '
            "id2 = INT(probe.id2))")
    monkeypatch.setattr(lowering, "SUPPRESSION_BRANCH_CAP", 1)
    assert run_match(spark, expr, probe) == ["1"]
    # and on the shuffle join path too
    with shuffle_joins():
        assert run_match(spark, expr, probe) == ["1"]
