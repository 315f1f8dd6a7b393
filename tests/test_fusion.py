"""Knowledge fusion (truth discovery) — operators/fusion.py.

The reference has no fusion stage (its per-row MERGE is last-writer-wins,
data2neo/neo4j/graph_elements.py:206-264); fusion is the scale-out
replacement that picks one object per (subj, pred) from conflicting
extractions, weighting sources by round-0 majority agreement.
"""

import pytest
from pyspark.sql import functions as F

from data2neo_spark.operators.fusion import fuse_claims, source_accuracy


def _claims(spark, rows):
    return spark.createDataFrame(rows, "subj string, pred string, obj string, source string")


def test_unanimous_and_majority(spark):
    c = _claims(spark, [
        ("e1", "brand", "X", "a"),
        ("e1", "brand", "X", "b"),
        ("e1", "brand", "Y", "c"),
        ("e2", "brand", "Z", "a"),
    ])
    fused = {(r.subj, r.pred): (r.obj, r.n_sources) for r in fuse_claims(c).collect()}
    assert fused[("e1", "brand")] == ("X", 2)
    assert fused[("e2", "brand")] == ("Z", 1)


def test_duplicate_votes_collapse(spark):
    # a source spamming the same claim does not get extra weight
    c = _claims(spark, [
        ("e1", "p", "A", "spam"), ("e1", "p", "A", "spam"),
        ("e1", "p", "A", "spam"), ("e1", "p", "B", "x"),
        ("e1", "p", "B", "y"),
    ])
    row = fuse_claims(c).collect()[0]
    assert (row.obj, row.n_sources) == ("B", 2)


def test_source_accuracy_integer_fraction(spark):
    # source "good" agrees with every majority; "bad" never does
    rows = []
    for i in range(4):
        rows += [
            (f"e{i}", "p", "T", "good"),
            (f"e{i}", "p", "T", "good2"),
            (f"e{i}", "p", f"w{i}", "bad"),
        ]
    acc = {r.source: (r.acc, r.n_claims) for r in source_accuracy(_claims(spark, rows)).collect()}
    assert acc["good"] == (10 ** 6, 4)
    assert acc["bad"] == (0, 4)


def test_weighted_round_beats_colluding_majority(spark):
    # sources c and d are wrong on every calibration fact (distinct wrong
    # values, losing each round-0 tie to the greater correct string), then
    # collude on fact "x": their 2-vote majority must LOSE round 1 to the
    # single high-accuracy source.
    rows = []
    for i in range(8):
        rows += [
            (f"f{i}", "p", "zz_true", "a"),
            (f"f{i}", "p", f"c_wrong{i}", "c"),
            (f"f{i}", "p", f"d_wrong{i}", "d"),
        ]
    rows += [
        ("x", "p", "good", "a"),
        ("x", "p", "zbad", "c"),
        ("x", "p", "zbad", "d"),
    ]
    c = _claims(spark, rows)
    # round 0 on "x": zbad wins 2-1 …
    acc = {r.source: r.acc for r in source_accuracy(c).collect()}
    assert acc["a"] == (10 ** 6 * 8) // 9
    assert acc["c"] == (10 ** 6 * 1) // 9
    # … but accuracy-weighted round 1 recovers the truth
    fused = {r.subj: r.obj for r in fuse_claims(c).collect()}
    assert fused["x"] == "good"


def test_tie_breaks_deterministic(spark):
    # equal weight, equal votes → greater object string wins (documented)
    c = _claims(spark, [
        ("e", "p", "A", "s1"), ("e", "p", "B", "s2"),
        ("e2", "p", "A", "s1"), ("e2", "p", "B", "s2"),
    ])
    out = {r.subj: r.obj for r in fuse_claims(c).collect()}
    assert out == {"e": "B", "e2": "B"}


def test_no_extra_shuffle_for_accuracy_join(spark):
    # the accuracy table joins back via broadcast — the executed plan of
    # the fused frame must not contain a shuffle keyed on `source`
    c = _claims(spark, [("e", "p", "A", "s1"), ("e", "p", "B", "s2")])
    plan = fuse_claims(c)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" not in plan


def test_null_source_casts_no_vote(spark):
    # a NULL-source claim has no voter: without the rule, source_accuracy
    # counted it (Y would win e1's round-0 tie, s1 acc 500000) while
    # fuse_claims skipped it (X wins, s1 weighted at 1000000)
    c = _claims(spark, [
        ("e1", "brand", "X", "s1"),
        ("e1", "brand", "Y", None),
        ("e2", "brand", "Z", "s1"),
    ])
    acc = {r.source: (r.acc, r.n_claims) for r in source_accuracy(c).collect()}
    assert acc == {"s1": (10 ** 6, 2)}
    fused = {r.subj: (r.obj, r.n_sources, r.weight) for r in fuse_claims(c).collect()}
    assert fused == {"e1": ("X", 1, 10 ** 6), "e2": ("Z", 1, 10 ** 6)}
