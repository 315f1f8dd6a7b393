"""Physical-plan quality gates: the plans we ship, not just the answers.

Asserts the scale-critical properties the engine promises:
* MATCH joins broadcast the node table (no shuffle on the big side),
* parquet scans prune columns (ReadSchema contains only referenced columns),
* filters reach the scan (PushedFilters),
* CREATE-mode conversions have no shuffle at all on a fresh store.
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from data2neo_spark import Converter
from data2neo_spark.pipeline.webtext import detect_mentions, extract_pages
from data2neo_spark.sources.pages import synth_pages, entity_dictionary


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_match_join_broadcasts(spark):
    """J2 MATCH lowers to a broadcast hash join, not a shuffle join."""
    schema = """
ENTITY("orders"):
    NODE("Order") o:
        + id = INT(orders.o_orderkey)

ENTITY("lineitem"):
    RELATIONSHIP(MATCH("Order", id = INT(lineitem.l_orderkey)), "HAS", MATCH("Order", id = INT(lineitem.l_orderkey))):
"""
    store = Converter(schema, [
        ("orders", spark.read.parquet("/root/testdata/sf0.001/orders.parquet")),
        ("lineitem", spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")),
    ])(spark)
    plan = plan_of(store.edges)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_column_pruning_reaches_scan(spark):
    """A conversion touching 2 of 11 lineitem columns must not scan all 11."""
    schema = """
ENTITY("lineitem"):
    NODE("Item") i:
        + id = INT(lineitem.l_orderkey)
        - qty = FLOAT(lineitem.l_quantity)
"""
    store = Converter(schema, [
        ("lineitem", spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")),
    ])(spark)
    # inspect the pre-materialization plan: lower a rule directly
    from data2neo_spark.plans.lowering import lower_node_rule, SEQ_SRC, SEQ_ROW
    from data2neo_spark.schema.compiler import compile_schema

    df = (
        spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .withColumn(SEQ_SRC, F.lit(0).cast("long"))
        .withColumn(SEQ_ROW, F.monotonically_increasing_id())
    )
    rule = compile_schema(schema)["lineitem"].node_rules[0]
    plan = plan_of(lower_node_rule(df, rule))
    scan_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" in scan_schema and "l_quantity" in scan_schema
    assert "l_shipdate" not in scan_schema and "l_extendedprice" not in scan_schema


def test_create_only_conversion_has_no_shuffle(spark):
    """A2/A5: pk-less nodes + identifier edges on a fresh store = zero
    exchanges in the whole edge plan."""
    schema = """
ENTITY("t"):
    NODE("A") a:
        - v = t.v
    NODE("B") b:
        - v = t.v
    RELATIONSHIP(a, "rel", b):
"""
    store = Converter(
        schema,
        [("t", spark.createDataFrame(pd.DataFrame({"v": ["x", "y"]})))],
    )(spark)
    plan = plan_of(store.edges)
    assert "Exchange" not in plan


def test_mention_array_strategy_has_no_shuffle(spark):
    """The zero-shuffle claim of the webtext array strategy, verified on the
    physical plan (the only exchange allowed is the dict broadcast)."""
    pages = synth_pages(spark, 100, n_entities=20, seed=42)
    edict = entity_dictionary(spark, 20, seed=42)
    m = detect_mentions(extract_pages(pages), edict)
    plan = plan_of(m)
    import re
    # count the plan's exchange nodes ("(N) <kind>Exchange" in the
    # formatted details): the dict broadcast, and no shuffle
    assert re.findall(r"\(\d+\) (\w*Exchange)", plan) == ["BroadcastExchange"]


def test_dedup_plans_have_no_nested_loop(spark):
    """Scale gates for the dedup operators: candidate generation and
    verification must be equi joins / aggregations — never a cartesian or
    broadcast-nested-loop join (the all-pairs trap), and the verification
    must broadcast the candidate side, not the corpus."""
    from data2neo_spark.operators import dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

    plans = {
        "ngram": plan_of(dedup.ngram_jaccard_pairs(
            docs, "doc_id", threshold=0.1, max_shingle_df=50)),
        "minhash": plan_of(dedup.minhash_lsh_duplicates(
            docs, "doc_id", threshold=0.2)),
        "simhash": plan_of(dedup.simhash_near_duplicates(
            docs, "doc_id", max_hamming=3)),
        "emb_lsh": plan_of(dedup.embedding_near_duplicates_lsh(
            emb, "vec_id", dim=64, threshold=0.3, n_planes=6)),
    }
    for name, plan in plans.items():
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        # operators leave input partitioning alone, even on a
        # one-partition scan
        assert "REPARTITION_BY_NUM" not in plan, name
    import re
    # minhash: the band-bucket join and the pair dedup, nothing else
    assert len(re.findall(r"\(\d+\) Exchange", plans["minhash"])) == 2
    # the exact path IS all-pairs by contract (oracle slice, max_id-gated)
    exact = plan_of(dedup.embedding_near_duplicates(
        emb, "vec_id", threshold=0.3, max_id=50))
    assert "NestedLoopJoin" in exact or "CartesianProduct" in exact


def test_contamination_plan_broadcasts_benchmark(spark):
    """Scale gate: the benchmark n-gram set must be BROADCAST into the
    corpus n-gram stream — no shuffle of the corpus for the membership
    join, no self-join, no nested loop."""
    from data2neo_spark.operators.dedup import contamination_check

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench = docs.where(F.col("doc_id") % 19 == 0)
    corpus = docs.where(F.col("doc_id") % 19 != 0)
    plan = plan_of(contamination_check(corpus, bench, "doc_id", n=3))
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    import re
    # the per-doc groupBy is the ONLY corpus-side hash shuffle; the
    # benchmark's distinct adds its own (small side) — so at most 2, and
    # none of them may be a join-key shuffle of the corpus shingle stream
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2


def test_bpe_count_is_zero_shuffle_arrow(spark):
    """BPE token counting must be a per-row Arrow map: one ArrowEvalPython
    (never row-at-a-time BatchEvalPython), zero exchanges."""
    from data2neo_spark.operators.text import with_token_count

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = plan_of(with_token_count(docs, tokenizer="bpe"))
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan
    assert "Exchange" not in plan


def test_langid_ct_shuffle_inventory(spark):
    """Cavnar-Trenkle langid's promised plan shape: profiles join is a
    BROADCAST (never a shuffle of the gram stream against an 800-row
    table), and no nested-loop join anywhere."""
    from data2neo_spark.operators.langid import with_langid_ct

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = plan_of(with_langid_ct(docs, "doc_id"))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_multimodal_header_path_is_arrow(spark):
    from data2neo_spark.operators.multimodal import synth_media, extract_features

    plan = plan_of(extract_features(synth_media(spark, n=10)))
    assert "MapInPandas" in plan or "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


def test_incremental_candidates_single_band_join(spark):
    """Cross-frame candidates must be ONE (band,bucket) equi join — never
    a corpus self-join, never a nested loop."""
    from data2neo_spark.operators.dedup import minhash_lsh_candidates_between

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    new = docs.where("doc_id % 2 = 1")
    corpus = docs.where("doc_id % 2 = 0")
    cand = minhash_lsh_candidates_between(new, corpus, "doc_id")
    # count joins in the physical TREE (explain-formatted repeats operator
    # names in its detail section)
    tree = cand._jdf.queryExecution().executedPlan().toString()
    joins = [l for l in tree.splitlines() if "Join" in l]
    assert len(joins) == 1 and "BroadcastHashJoin" in joins[0]
    assert "NestedLoop" not in tree and "CartesianProduct" not in tree


def test_pack_sequences_no_single_partition_exchange(spark):
    """The cumsum must NOT collapse to a single-reducer global window."""
    from data2neo_spark.operators.text import pack_sequences

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = plan_of(pack_sequences(docs, "doc_id", budget=512, n_buckets=8))
    assert "Exchange SinglePartition" not in plan


def test_round5_second_wave_plan_shapes(spark):
    """Plan gates for the second-wave operators: the documented shuffle
    inventories (SCALE.md) hold in the physical plan."""
    import re

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

    # weighted sampling: zero exchanges, top-k not global sort
    from data2neo_spark.operators.corpus import sample_weighted
    p = plan_of(sample_weighted(docs.select("doc_id", "n_chars"),
                                "n_chars", k=10))
    assert "Exchange" not in p and "TakeOrderedAndProject" in p

    # link graph: ONE hash exchange (the host-pair groupBy) — no UDF, no
    # join-key shuffle and no repartition of the html payload
    from data2neo_spark.operators.web import link_graph
    pages = docs.selectExpr(
        "concat('https://h', doc_id % 5, '.example/p') AS url",
        "encode(concat('<a href=\"https://t', doc_id % 7,"
        " '.example/x\"></a>'), 'utf-8') AS html",
    )
    p = plan_of(link_graph(pages))
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1
    assert "hashpartitioning" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p

    # HLL: register groupBy + rollup = exactly two exchanges
    from data2neo_spark.operators.sketch import hll_distinct
    p = plan_of(hll_distinct(docs.selectExpr("lang",
                "CAST(doc_id AS STRING) AS v"), "v", ["lang"]))
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 2

    # negative sampling without the filter join: zero exchanges
    from data2neo_spark.operators.graph import negative_samples
    pos = docs.selectExpr("doc_id AS subj", "'R' AS pred",
                          "doc_id % 97 AS obj")
    p = plan_of(negative_samples(pos, n_entities=97, k=2, filter_true=False))
    assert "Exchange" not in p


def test_salted_match_runs_shuffle_match_join(spark):
    """kg_salted_match gives kg_triples_match's rows through a shuffle
    sort-merge join for both MATCH joins: no broadcast, no salt."""
    import __spark_entry__ as entrymod
    from tools.check_leaks import SF_DIR

    q = entrymod.queries()
    shuffled = q["kg_salted_match"](spark, SF_DIR)
    rows = sorted(shuffled.collect())
    assert rows == sorted(q["kg_triples_match"](spark, SF_DIR).collect())
    # the tree of the executed adaptive plan, before its initial plan
    final = plan_of(shuffled).split("== Initial Plan ==")[0]
    assert final.count("SortMergeJoin") == 2
    assert "BroadcastHashJoin" not in final
