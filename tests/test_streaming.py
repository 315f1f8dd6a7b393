"""Structured Streaming tests: file-source pages → triples, watermarked
windowed mention counts, applyInPandasWithState sessionization."""

import os
import time

import pandas as pd
import pytest
from pyspark.sql import functions as F

from data2neo_spark.sources.pages import synth_pages, entity_dictionary
from data2neo_spark.streaming import (
    stream_pages_to_triples,
    stream_windowed_mention_counts,
    stream_sessionize,
)


def _await_rows(spark, query, table, min_rows, timeout_s=60):
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        query.processAllAvailable()
        n = spark.sql(f"SELECT count(*) FROM {table}").collect()[0][0]
        if n >= min_rows:
            return n
        time.sleep(0.5)
    return spark.sql(f"SELECT count(*) FROM {table}").collect()[0][0]


@pytest.fixture(scope="module")
def pages_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("pages_stream"))
    synth_pages(spark, 500, n_entities=50, seed=42).write.mode("overwrite").parquet(d)
    return d


def test_stream_pages_to_triples(spark, pages_dir):
    edict = entity_dictionary(spark, 50, seed=42)
    batch_pages = spark.read.parquet(pages_dir)
    schema = batch_pages.schema
    stream = spark.readStream.schema(schema).parquet(pages_dir)
    assert stream.isStreaming
    triples = stream_pages_to_triples(stream, edict)
    q = (
        triples.writeStream.format("memory")
        .queryName("triples_sink")
        .outputMode("append")
        .start()
    )
    try:
        from data2neo_spark.pipeline.webtext import pages_to_triples

        expected = pages_to_triples(batch_pages, edict).count()
        n = _await_rows(spark, q, "triples_sink", expected)
        # streaming output == batch output, row for row
        got = {tuple(r) for r in spark.sql("SELECT * FROM triples_sink").collect()}
        want = {tuple(r) for r in pages_to_triples(batch_pages, edict).collect()}
        assert n == expected and got == want
    finally:
        q.stop()


def test_stream_windowed_counts(spark, pages_dir):
    edict = entity_dictionary(spark, 50, seed=42)
    schema = spark.read.parquet(pages_dir).schema
    stream = spark.readStream.schema(schema).parquet(pages_dir)
    counts = stream_windowed_mention_counts(stream, edict, window="1 minute")
    q = (
        counts.writeStream.format("memory")
        .queryName("win_sink")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        # append mode emits only watermark-closed windows; the synthetic
        # corpus spans ~8 minutes of warc_ts with a 30-min watermark, so
        # assert on state machinery instead: query runs, no error, and the
        # update-mode equivalent would hold rows. Re-run with complete mode:
        q.stop()
        q2 = (
            counts.writeStream.format("memory")
            .queryName("win_sink2")
            .outputMode("complete")
            .start()
        )
        try:
            q2.processAllAvailable()
            rows = spark.sql(
                "SELECT canonical, sum(n_mentions) AS n FROM win_sink2 GROUP BY canonical"
            ).collect()
            assert len(rows) > 0
            total = sum(r["n"] for r in rows)
            # every page contributes its distinct mentions
            from data2neo_spark.pipeline.webtext import extract_pages, detect_mentions

            batch = detect_mentions(
                extract_pages(spark.read.parquet(pages_dir)), edict, count_hits=False
            ).count()
            assert total == batch
        finally:
            q2.stop()
    finally:
        if q.isActive:
            q.stop()


def test_stream_sessionize(spark):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    d = "/tmp/events_stream_test"
    ev.limit(2000).write.mode("overwrite").parquet(d)
    stream = spark.readStream.schema(ev.schema).parquet(d)
    sessions = stream_sessionize(stream.select("user_id", "value"))
    q = (
        sessions.writeStream.format("memory")
        .queryName("sess_sink")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql(
            "SELECT user_id, max(n_events) AS n FROM sess_sink GROUP BY user_id"
        ).collect()
        assert len(rows) > 0
        got = {r["user_id"]: r["n"] for r in rows}
        expected = {
            r["user_id"]: r["n"]
            for r in spark.read.parquet(d).groupBy("user_id").agg(
                F.count(F.lit(1)).alias("n")
            ).collect()
        }
        assert got == expected
    finally:
        q.stop()


def test_stream_pages_to_graph(spark, pages_dir, tmp_path):
    """Incremental graph materialization via foreachBatch: merged node/edge
    tables equal the batch pipeline's output."""
    from data2neo_spark import GraphStore
    from data2neo_spark.streaming import stream_pages_to_graph
    from data2neo_spark.pipeline.webtext import pages_to_graph

    edict = entity_dictionary(spark, 50, seed=42)
    schema = spark.read.parquet(pages_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # several micro-batches
        .parquet(pages_dir)
    )
    store = GraphStore(spark, path=str(tmp_path / "stream_store"))
    q = stream_pages_to_graph(stream, edict, store)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    batch_store = GraphStore(spark)
    pages_to_graph(spark.read.parquet(pages_dir), edict, batch_store)
    assert store.nodes.count() == batch_store.nodes.count()
    assert store.edges.count() == batch_store.edges.count()
    assert store.edges.columns == batch_store.edges.columns
    assert _edge_set(store, "_src_uid", "_dst_uid") == \
        _edge_set(batch_store, "_src_uid", "_dst_uid")


def _edge_set(store, *cols):
    return {tuple(r) for r in store.edges.select(*cols, "surface").collect()}


# "spark" names two entities; each surface links to its smallest entity_id
AMBIGUOUS_DICT = pd.DataFrame({
    "surface": ["spark", "spark", "join"], "entity_id": [2, 1, 3],
    "canonical": ["SPARK_B", "SPARK_A", "JOIN"], "kind": ["t", "t", "t"],
})


@pytest.fixture(scope="module")
def ambiguous_dir(spark, tmp_path_factory):
    """Three single-file page batches with unique URLs."""
    d = str(tmp_path_factory.mktemp("ambiguous_pages"))
    texts = ["spark spark join", "spark", "join", "spark join spark spark",
             "other words", "join join"]
    pdf = pd.DataFrame({
        "url": [f"https://p{i}" for i in range(len(texts))],
        "warc_ts": pd.to_datetime("2024-01-01") + pd.to_timedelta(range(len(texts)), "s"),
        "html": [f"<html><body>{t}</body></html>".encode() for t in texts],
        "text": texts,
        "lang": ["en"] * len(texts),
    })
    for i in (0, 2, 4):  # one file per micro-batch
        spark.createDataFrame(pdf.iloc[i:i + 2]).coalesce(1) \
            .write.mode("append").parquet(d)
    return d


def test_ambiguous_dictionary_triples_parity(spark, ambiguous_dir):
    """Batch and stream triples agree on an ambiguous dictionary, and
    every surface links to its smallest entity_id."""
    from data2neo_spark.pipeline.webtext import pages_to_triples

    edict = spark.createDataFrame(AMBIGUOUS_DICT)
    pages = spark.read.parquet(ambiguous_dir)
    stream = spark.readStream.schema(pages.schema).parquet(ambiguous_dir)
    q = (stream_pages_to_triples(stream, edict).writeStream.format("memory")
         .queryName("ambiguous_triples").outputMode("append").start())
    try:
        q.processAllAvailable()
        got = {tuple(r) for r in spark.sql("SELECT * FROM ambiguous_triples").collect()}
    finally:
        q.stop()
    want = {(f"Page:{r['url']}", "MENTIONS", f"Entity:{e}")
            for r in pages.collect() for w, e in (("spark", "SPARK_A"), ("join", "JOIN"))
            if w in r["text"].split(" ")}
    assert {tuple(r) for r in pages_to_triples(pages, edict).collect()} == got == want


def test_ambiguous_dictionary_graph_parity(spark, ambiguous_dir, tmp_path):
    """Batch and stream graphs agree on an ambiguous dictionary: the same
    (entity, surface) edges with the same properties, score included."""
    from data2neo_spark import GraphStore
    from data2neo_spark.pipeline.webtext import pages_to_graph
    from data2neo_spark.streaming import stream_pages_to_graph

    edict = spark.createDataFrame(AMBIGUOUS_DICT)
    pages = spark.read.parquet(ambiguous_dir)
    stream = (spark.readStream.schema(pages.schema)
              .option("maxFilesPerTrigger", 1).parquet(ambiguous_dir))
    store = GraphStore(spark, path=str(tmp_path / "stream_store"))
    q = stream_pages_to_graph(stream, edict, store)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    batch_store = pages_to_graph(pages, edict, GraphStore(spark))

    props = [c for c in batch_store.edges.columns if not c.startswith("_")]
    assert [c for c in store.edges.columns if not c.startswith("_")] == props
    assert "score" in props
    assert _edge_set(store, "_dst_key") == _edge_set(batch_store, "_dst_key") == {
        ("SPARK_A", "spark"), ("JOIN", "join")}
    assert _edge_set(store, "_src_key", "_dst_key", "n_hits", "score") == \
        _edge_set(batch_store, "_src_key", "_dst_key", "n_hits", "score")


def test_large_dict_uses_join_not_inline(spark):
    """The mention detector size-gates the dictionary for streams as for
    batches: a large dict goes through a stream-static equi join (no
    driver-side collect of surfaces, no literal array in the plan)."""
    from data2neo_spark.pipeline.webtext import detect_mentions

    big_dict = spark.range(300_000).selectExpr(
        "concat('w', id) surface", "id entity_id",
        "concat('W', id) canonical", "'thing' kind",
    )
    docs = spark.createDataFrame(
        pd.DataFrame({"url": ["u1"], "text": ["w1 w2 w999 foo"]})
    )
    out = detect_mentions(docs, big_dict, count_hits=False)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "array_intersect" not in plan          # no inlined literal dict
    assert "Join" in plan
    got = {(r["url"], r["surface"]) for r in out.collect()}
    assert got == {("u1", "w1"), ("u1", "w2"), ("u1", "w999")}


def test_small_dict_keeps_array_strategy(spark):
    from data2neo_spark.pipeline.webtext import detect_mentions

    small_dict = spark.createDataFrame(pd.DataFrame({
        "surface": ["w1", "w2"], "entity_id": [1, 2],
        "canonical": ["W1", "W2"], "kind": ["t", "t"],
    }))
    docs = spark.createDataFrame(
        pd.DataFrame({"url": ["u1"], "text": ["w1 w3 w1"]})
    )
    out = detect_mentions(docs, small_dict, count_hits=False)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "array_intersect" in plan              # inlined zero-shuffle path
    assert [(r["url"], r["surface"]) for r in out.collect()] == [("u1", "w1")]


def test_stateless_mentions_count_hits(spark):
    """The count_hits path computes per-surface occurrence counts inside
    the row (no aggregation → still stateless)."""
    from data2neo_spark.pipeline.webtext import detect_mentions

    d = spark.createDataFrame(pd.DataFrame({
        "surface": ["w1", "w2"], "entity_id": [1, 2],
        "canonical": ["W1", "W2"], "kind": ["t", "t"],
    }))
    docs = spark.createDataFrame(
        pd.DataFrame({"url": ["u1"], "text": ["w1 w3 w1 w2"]})
    )
    got = {(r["surface"]): r["n_hits"]
           for r in detect_mentions(docs, d).collect()}
    assert got == {"w1": 2, "w2": 1}


def test_stream_incremental_dedup_boundary_invariant(spark, tmp_path):
    """Streaming dedup against the signature store: the union of
    within-batch and batch-vs-store candidate pairs over ANY micro-batch
    chopping equals the one-shot batch operator's candidates (unordered),
    and each doc's signatures are written to the store exactly once."""
    from data2neo_spark.operators.dedup import minhash_lsh_candidates
    from data2neo_spark.streaming.ingest import stream_incremental_dedup

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").where("doc_id < 120")
    src = str(tmp_path / "src")
    # three single-file batches → maxFilesPerTrigger=1 forces 3 micro-batches
    for i in range(3):
        docs.where(F.col("doc_id") % 3 == i).coalesce(1) \
            .write.mode("append" if i else "overwrite").parquet(src)
    store = str(tmp_path / "store")
    q = stream_incremental_dedup(
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(src),
        store,
        available_now=True,
    )
    q.awaitTermination(180)

    got = {frozenset((r["new_id"], r["corpus_id"])): r["n_shared_bands"]
           for r in spark.read.parquet(store + "/pairs").collect()}
    want = {frozenset((r["id_a"], r["id_b"])): r["n_shared_bands"]
            for r in minhash_lsh_candidates(
                docs, "doc_id", num_hashes=32, bands=8).collect()}
    assert got == want and want
    # store holds each doc's bands exactly once
    bands = spark.read.parquet(store + "/bands")
    per_doc = bands.groupBy("doc_id").count().collect()
    assert all(r["count"] == 8 for r in per_doc)
    assert len(per_doc) == docs.count()
    n_bands = bands.count()

    # replay idempotence: rerunning the whole stream (fresh query, same
    # store) overwrites the per-batch partitions — no duplicate pairs or
    # signatures accumulate
    q2 = stream_incremental_dedup(
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(src),
        store,
        available_now=True,
    )
    q2.awaitTermination(180)
    again = {frozenset((r["new_id"], r["corpus_id"])): r["n_shared_bands"]
             for r in spark.read.parquet(store + "/pairs").collect()}
    assert again == want
    assert spark.read.parquet(store + "/bands").count() == n_bands


def test_streaming_hll_state_accumulates(spark, tmp_path):
    """HLL registers as a STATEFUL streaming aggregation: with one file
    per micro-batch the final (complete-mode) state must equal the
    batch sketch over all data — registers are a commutative monoid, so
    incremental accumulation converges exactly."""
    from pyspark.sql import functions as F
    from data2neo_spark.operators.sketch import hll_registers

    df = spark.range(2_000).select(F.col("id").cast("string").alias("v"))
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    df.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    batches = []

    def _overwrite(batch_df, batch_id):
        batches.append(batch_id)
        batch_df.write.mode("overwrite").parquet(sink)

    q = (
        hll_registers(stream, "v", p=6)
        .writeStream.foreachBatch(_overwrite)
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(batches) >= 3  # state really accumulated across batches
    got = {(r.register, r.rho) for r in spark.read.parquet(sink).collect()}
    want = {(r.register, r.rho) for r in hll_registers(df, "v", p=6).collect()}
    assert got == want
