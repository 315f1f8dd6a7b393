"""Round-6 optimization equivalence gates: every rewritten internal must
produce byte-identical results to the formulation it replaced.

These tests reconstruct the ORIGINAL (pre-r6) Column formulations inline
and assert equality against the shipped fast paths, so a future change
that drifts the fast path's values fails here, not at the oracle."""

import os

import pytest
from pyspark.sql import functions as F

DOCS = "/root/testdata/sf0.001/documents.parquet"
EMB = "/root/testdata/sf0.001/embeddings.parquet"
LI = "/root/testdata/sf0.001/lineitem.parquet"


def _old_shingle_expr(words, n):
    return F.transform(
        F.sequence(F.lit(0), F.size(words) - F.lit(n)),
        lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
    )


def test_shingle_arrays_arrow_matches_column_formulation(spark):
    """Arrow shingling (``_sig_frame``'s ``sh_arr``) ==
    array_distinct(transform(...)) including element ORDER (first
    occurrence) and the size>=n row filter."""
    from data2neo_spark.operators.dedup import _sig_frame

    docs = spark.read.parquet(DOCS).limit(200)
    fast = {
        r["doc_id"]: r["sh_arr"]
        for r in _sig_frame(
            docs, "doc_id", "text", 3, with_shingles=True
        ).collect()
    }
    bound = docs.withColumn("_w", F.split("text", " "))
    slow = {
        r["doc_id"]: r["sh"]
        for r in bound.where(F.size("_w") >= 3).select(
            "doc_id",
            F.array_distinct(_old_shingle_expr(F.col("_w"), 3)).alias("sh"),
        ).collect()
    }
    assert fast == slow and fast


def test_minhash_signatures_match_column_formulation(spark):
    """numpy affine mins == the old per-hash transform/array_min."""
    from data2neo_spark.operators.dedup import (
        P30, P31, affine_coeffs, md5_hash60, minhash_signatures,
    )

    docs = spark.read.parquet(DOCS).limit(100)
    fast = {r["doc_id"]: r["sig"]
            for r in minhash_signatures(docs, "doc_id").collect()}

    bound = docs.withColumn("_w", F.split("text", " "))
    arrays = bound.where(F.size("_w") >= 3).select(
        "doc_id",
        F.array_distinct(_old_shingle_expr(F.col("_w"), 3)).alias("sh_arr"),
    ).withColumn(
        "_base", F.transform(F.col("sh_arr"), lambda s: md5_hash60(s) % P30)
    )

    def _amin(a, b):
        return F.array_min(
            F.transform(F.col("_base"), lambda h: (F.lit(a) * h + F.lit(b)) % P31)
        )

    elems = [_amin(*affine_coeffs(i)) for i in range(64)]
    slow = {r["doc_id"]: r["sig"] for r in arrays.select(
        "doc_id", F.array(*elems).alias("sig")).collect()}
    assert fast == slow and fast


def test_banded_frame_matches_column_formulation(spark):
    """Arrow band buckets == md5 over the comma-joined signature slice."""
    from data2neo_spark.operators.dedup import (
        _banded_frame, md5_hash60, minhash_signatures,
    )

    docs = spark.read.parquet(DOCS).limit(100)
    fast = {(r["doc_id"], r["band"]): r["bucket"]
            for r in _banded_frame(docs, "doc_id", "text", 32, 8, 3).collect()}
    sig = minhash_signatures(docs, "doc_id", num_hashes=32)
    rpb = 32 // 8
    band_hashes = [
        md5_hash60(F.concat_ws(",", *[
            F.col("sig")[j].cast("string") for j in range(b * rpb, (b + 1) * rpb)
        ]))
        for b in range(8)
    ]
    slow = {(r["doc_id"], r["band"]): r["bucket"] for r in sig.select(
        "doc_id", F.posexplode(F.array(*band_hashes)).alias("band", "bucket")
    ).collect()}
    assert fast == slow and fast


def test_read_with_key_spreads_the_scan(spark):
    """The entry's ``_read(..., key=)`` keeps the scan's rows, spreads
    them over defaultParallelism partitions, and hashes each key to the
    same partition on every call (deterministic, so retry-safe)."""
    import __spark_entry__ as entry

    sf_dir = os.path.dirname(DOCS)
    n = spark.sparkContext.defaultParallelism

    def placement():
        out = entry._read(spark, sf_dir, "documents", key="doc_id")
        assert out.rdd.getNumPartitions() == n
        rows = out.select("*", F.spark_partition_id().alias("_p")).collect()
        return ({r["doc_id"]: r["_p"] for r in rows},
                sorted(tuple(r)[:-1] for r in rows))

    first, rows = placement()
    second, _ = placement()
    assert rows == sorted(map(tuple, spark.read.parquet(DOCS).collect()))
    assert first == second and len(set(first.values())) > 1


def test_hamming_join_path_equals_grouped_path(spark):
    """The codegen join path (uncapped, default) emits exactly the pair
    set of the grouped-pairs path (forced via a cap far above every
    bucket size)."""
    from data2neo_spark.operators.dedup import hamming_near_duplicates, simhash

    docs = spark.read.parquet(DOCS).limit(300)
    sig = simhash(docs, "doc_id")
    joined = {(r["id_a"], r["id_b"], r["hamming"]) for r in
              hamming_near_duplicates(sig, "doc_id", "simhash",
                                      max_hamming=8).collect()}
    grouped = {(r["id_a"], r["id_b"], r["hamming"]) for r in
               hamming_near_duplicates(sig, "doc_id", "simhash", max_hamming=8,
                                       max_bucket_size=10**9).collect()}
    assert joined == grouped and joined


def test_pq_encode_arrow_matches_python_reference(spark):
    """Corpus PQ codes == a pure-python floor/argmin reference (the exact
    integer math the oracle replays)."""
    import math

    from data2neo_spark.operators.similarity import (
        _pq_codebooks_rows, _pq_encode_arrow,
    )

    emb = spark.read.parquet(EMB).limit(120)
    m, s, n_codes = 8, 8, 8
    books = _pq_codebooks_rows(emb, "vec_id", "embedding", m, s, n_codes)
    got = {r["neighbor_id"]: r["_codes"] for r in
           _pq_encode_arrow(emb, "vec_id", "embedding", books).collect()}
    for r in emb.collect():
        micro = [math.floor(float(x) * 1_000_000) for x in r["embedding"]]
        want = []
        for j in range(m):
            sub = micro[j * s:(j + 1) * s]
            dists = [
                sum((a - b) * (a - b) for a, b in zip(sub, code))
                for code in books[j]
            ]
            want.append(dists.index(min(dists)))  # first min = smallest code
        assert got[r["vec_id"]] == want


def test_cooccurrence_grouped_equals_windowed(spark):
    """The one-groupBy collect_set/slice formulation == the original
    distinct + row_number window + pivot self-join."""
    from pyspark.sql import Window

    from data2neo_spark.operators.graph import cooccurrence_edges

    li = spark.read.parquet(LI).where("l_orderkey % 5 = 0")
    fast = {(r["a"], r["b"]): r["weight"] for r in cooccurrence_edges(
        li, "l_orderkey", "l_partkey", max_group_size=6).collect()}

    gi = li.select(F.col("l_orderkey").alias("g"),
                   F.col("l_partkey").alias("item")).distinct()
    w = Window.partitionBy("g").orderBy("item")
    gi = gi.withColumn("_rk", F.row_number().over(w)).where("_rk <= 6").drop("_rk")
    a = gi.select("g", F.col("item").alias("a"))
    b = gi.select("g", F.col("item").alias("b"))
    slow = {(r["a"], r["b"]): r["weight"] for r in (
        a.join(b, "g").where(F.col("a") < F.col("b"))
        .groupBy("a", "b").agg(F.count(F.lit(1)).alias("weight"))
    ).collect()}
    assert fast == slow and fast


def _link_prediction_reference(edge_list, max_pivot_degree, top_k, scale):
    """Plain-Python link prediction over the undirected simple graph of
    ``edge_list``: (jaccard rows, adamic-adar rows), each the top_k by
    (score desc, a, b). A self-loop makes a node its own neighbor once;
    an edge with a NULL endpoint is ignored."""
    nbrs = {}
    for s, d in edge_list:
        if s is None or d is None:
            continue
        nbrs.setdefault(s, set()).add(d)
        nbrs.setdefault(d, set()).add(s)
    deg = {v: len(us) for v, us in nbrs.items()}
    common, aa = {}, {}
    for v, us in nbrs.items():
        capped = sorted(us)[:max_pivot_degree]
        w = scale // max(1, deg[v].bit_length() - 1)
        for i, x in enumerate(capped):
            for y in capped[i + 1:]:
                common[(x, y)] = common.get((x, y), 0) + 1
                aa[(x, y)] = aa.get((x, y), 0) + w
    cand = [p for p in common if p[1] not in nbrs[p[0]]]
    jac = sorted(
        ((a, b, common[(a, b)], deg[a], deg[b],
          common[(a, b)] * scale // (deg[a] + deg[b] - common[(a, b)]))
         for a, b in cand),
        key=lambda r: (-r[5], r[0], r[1]),
    )[:top_k]
    ada = sorted(
        ((a, b, common[(a, b)], aa[(a, b)]) for a, b in cand),
        key=lambda r: (-r[3], r[0], r[1]),
    )[:top_k]
    return jac, ada


def test_link_prediction_matches_reference_formulation(spark):
    """Both link-prediction operators equal a plain-Python formulation on
    canonical co-occurrence edges and on a generic edge list with
    duplicate, reversed, self-loop and NULL-endpoint edges."""
    from data2neo_spark.operators.graph import (
        cooccurrence_edges, link_prediction_adamic_adar,
        link_prediction_jaccard,
    )

    li = spark.read.parquet(LI).where("l_orderkey % 5 = 0")
    cooc = cooccurrence_edges(li, "l_orderkey", "l_partkey",
                              max_group_size=6).select(
        F.col("a").alias("src"), F.col("b").alias("dst"))
    generic = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 2), (2, 3), (3, 3), (3, 4), (4, 1), (4, 3),
         (2, 2), (5, 5), (5, 6), (6, 7), (7, 5), (8, 6), (6, 8), (1, 6),
         (None, 3), (7, None)],
        "src long, dst long",
    )
    for edges, cap in ((cooc, 64), (generic, 64), (generic, 2)):
        edge_list = [(r.src, r.dst) for r in edges.collect()]
        jac, ada = _link_prediction_reference(edge_list, cap, 20, 1_000_000)
        got_jac = [tuple(r) for r in link_prediction_jaccard(
            edges, max_pivot_degree=cap, top_k=20).collect()]
        got_ada = [tuple(r) for r in link_prediction_adamic_adar(
            edges, max_pivot_degree=cap, top_k=20).collect()]
        assert got_jac == jac and jac
        assert got_ada == ada and ada


def _hash_exchanges(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum("Exchange hashpartitioning" in line for line in plan.splitlines())


def test_link_prediction_plans_one_edge_dedup(spark):
    """The canonical edge set is built once and feeds the adjacency, the
    degrees, the pivots and the anti-join. On the entry query's input the
    static plans (AQE off) hold at most 11 (Jaccard) and 14 (Adamic-Adar)
    hash-exchange nodes, reused ones included; the two-sided dedup they
    replace planned 15 and 16."""
    from data2neo_spark.operators.graph import (
        cooccurrence_edges, link_prediction_adamic_adar,
        link_prediction_jaccard,
    )

    li = spark.read.parquet(LI).where(F.col("l_orderkey") % 10 == 0)
    edges = cooccurrence_edges(li, "l_orderkey", "l_partkey",
                               max_group_size=8).select(
        F.col("a").alias("src"), F.col("b").alias("dst"))
    before = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        jac = _hash_exchanges(link_prediction_jaccard(
            edges, max_pivot_degree=64, top_k=50))
        ada = _hash_exchanges(link_prediction_adamic_adar(
            edges, max_pivot_degree=64, top_k=50))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", before)
    assert jac <= 11
    assert ada <= 14
