"""North-rule webtext pipeline tests: corpus determinism, byte-identical
extraction per url, mention-detection P/R vs an independent python oracle,
graph materialization, and one answer from both dictionary paths."""

import pandas as pd
import pytest

from data2neo_spark import GraphStore
from data2neo_spark.sources.pages import synth_pages, entity_dictionary
from data2neo_spark.pipeline.webtext import (
    extract_pages,
    detect_mentions,
    link_entities,
    pages_to_triples,
    pages_to_graph,
)

N_PAGES = 300
N_ENTITIES = 50


@pytest.fixture(scope="module")
def pages(spark):
    return synth_pages(spark, N_PAGES, n_entities=N_ENTITIES, seed=42).cache()


@pytest.fixture(scope="module")
def edict(spark):
    return entity_dictionary(spark, N_ENTITIES, seed=42).cache()


def test_corpus_deterministic(spark, pages):
    again = synth_pages(spark, N_PAGES, n_entities=N_ENTITIES, seed=42)
    a = sorted(tuple(r) for r in pages.select("url", "text", "lang").collect())
    b = sorted(tuple(r) for r in again.select("url", "text", "lang").collect())
    assert a == b


def test_extraction_byte_identical(pages):
    """Per-row invariant (BASELINE.json input_hint): extracted text must be
    byte-identical per url to the corpus text column."""
    ext = extract_pages(pages).select("url", "text")
    orig = pages.select("url", "text")
    diff = ext.exceptAll(orig)
    assert diff.count() == 0
    assert ext.count() == N_PAGES


def test_mention_pr_vs_python_oracle(spark, pages, edict):
    """P/R of detected mentions vs an independent driver-side oracle = 1.0."""
    surfaces = {r["surface"]: r["canonical"] for r in edict.collect()}
    expected = set()
    for row in pages.select("url", "text").collect():
        for w in row["text"].split(" "):
            if w in surfaces:
                expected.add((row["url"], surfaces[w]))
    got = {
        (r["url"], r["canonical"])
        for r in detect_mentions(extract_pages(pages), edict).collect()
    }
    tp = len(got & expected)
    precision = tp / len(got) if got else 0.0
    recall = tp / len(expected) if expected else 0.0
    assert precision >= 0.95 and recall >= 0.95
    assert precision == 1.0 and recall == 1.0  # exact by construction


def test_zipf_skew_exists(pages, edict):
    """Hub entities exist (salting has something to chew on)."""
    from pyspark.sql import functions as F

    counts = (
        detect_mentions(extract_pages(pages), edict)
        .groupBy("canonical")
        .agg(F.sum("n_hits").alias("n"))
        .orderBy(F.col("n").desc())
        .collect()
    )
    assert counts[0]["n"] > 10 * counts[-1]["n"]  # heavy head


def test_mention_paths_agree_per_page_row(spark, monkeypatch):
    """The inline (small-dictionary) and join (large-dictionary) paths give
    the same answer: one row per mentioned surface per page ROW, so a URL
    crawled twice keeps one row per crawl instead of summing its hits."""
    from data2neo_spark.pipeline import webtext

    docs = spark.createDataFrame(pd.DataFrame({
        "url": ["u1", "u1", "u2"],
        "text": ["spark spark join", "spark", "join"],
    }))
    d = spark.createDataFrame(pd.DataFrame({
        "surface": ["spark", "join"], "entity_id": [1, 2],
        "canonical": ["SPARK", "JOIN"], "kind": ["t", "t"],
    }))

    def rows():
        return sorted(
            (r["url"], r["surface"], r["n_hits"])
            for r in detect_mentions(docs, d).collect()
        )

    inline = rows()
    monkeypatch.setattr(webtext, "ARRAY_STRATEGY_MAX_DICT", 0)
    assert rows() == inline == [
        ("u1", "join", 1), ("u1", "spark", 1), ("u1", "spark", 2),
        ("u2", "join", 1),
    ]


def test_pages_to_triples(pages, edict):
    triples = pages_to_triples(pages, edict)
    rows = triples.collect()
    assert all(r["pred"] == "MENTIONS" for r in rows)
    assert all(r["subj"].startswith("Page:https://") for r in rows)
    assert all(r["obj"].startswith("Entity:ENT_") for r in rows)
    assert len(rows) > N_PAGES  # several mentions per page on average


def test_pages_to_graph(spark, pages, edict):
    """Full graph materialization through the schema engine."""
    store = GraphStore(spark)
    pages_to_graph(pages, edict, store)
    page_nodes = store.match_nodes("Page")
    ent_nodes = store.match_nodes("Entity")
    assert page_nodes.count() == N_PAGES
    assert 0 < ent_nodes.count() <= N_ENTITIES
    edges = store.match_relationships("MENTIONS")
    assert edges.count() == pages_to_triples(pages, edict).count()
    # resumable: re-running the same pipeline is idempotent
    pages_to_graph(pages, edict, store)
    assert store.match_nodes("Page").count() == N_PAGES
    assert store.match_relationships("MENTIONS").count() == edges.count()


def test_recrawled_url_takes_later_row(spark):
    """A URL crawled twice: the triples keep one row per crawl, and the
    graph merges each surface's edge like Page.lang — the later row in
    source order sets n_hits and score."""
    texts = ["spark spark join", "spark"]
    pages = spark.createDataFrame(pd.DataFrame({
        "url": ["u1", "u1"],
        "html": [f"<html><body>{t}</body></html>".encode() for t in texts],
        "lang": ["en", "de"],
        "warc_ts": pd.to_datetime(["2024-01-01", "2024-01-02"]),
    })).coalesce(1)
    d = spark.createDataFrame(pd.DataFrame({
        "surface": ["spark", "join"], "entity_id": [1, 2],
        "canonical": ["SPARK", "JOIN"], "kind": ["t", "t"],
    }))
    assert sorted(tuple(r) for r in pages_to_triples(pages, d).collect()) == [
        ("Page:u1", "MENTIONS", "Entity:JOIN"),
        ("Page:u1", "MENTIONS", "Entity:SPARK"),
        ("Page:u1", "MENTIONS", "Entity:SPARK"),
    ]
    store = pages_to_graph(pages, d, GraphStore(spark))
    assert [r["lang"] for r in store.match_nodes("Page").collect()] == ["de"]
    edges = store.match_relationships("MENTIONS").select("surface", "n_hits", "score")
    assert sorted(tuple(r) for r in edges.collect()) == [
        ("join", 1, 4), ("spark", 1, 5),
    ]
