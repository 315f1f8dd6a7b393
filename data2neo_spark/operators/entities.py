"""Entity-name resolution — the canonicalization stage of the north-rule
KG pipeline (detect → link → CANONICALIZE → materialize).

Web-extracted entities arrive with typo'd / OCR'd / off-by-one surface
forms ("Supplier#000000001" vs "Supplier#00000001"). This module finds
name pairs within a small edit distance and collapses them to a canonical
representative, without ever comparing all pairs:

* ``name_near_duplicates`` — SymSpell-style symmetric-delete blocking
  (public algorithm, Garbe 2012): two strings within Levenshtein
  distance 1 necessarily share a key in {s} ∪ deletes₁(s), so blocking
  on those n+2 keys per name has EXACT recall at d=1 while buckets stay
  tiny (a key pins all but one character). Candidates are verified with
  the built-in ``levenshtein`` (JVM-side, identical semantics in DuckDB,
  so the oracle replays pair-for-pair).
* ``canonicalize_names`` — collapses the verified pairs to a canonical id
  per connected cluster via the dedup module's pointer-jumping connected
  components.

Reference parity: the reference repo (data2neo) has no resolver — its
merge collapses EXACT primary keys only (core/converter.py commit path).
This is a first-class extension for web-scale extraction where surface
forms are dirty.

Shape at 100 TB: deletes₁ explodes each name into len+2 rows (names are
short — tens of bytes), one groupBy(key) with map-side partials pairs
them, pairs dedupe on (id_a, id_b) in the same shuffle, and the
Levenshtein verify is a zero-shuffle projection. Never all-pairs; hot
keys are capped like the LSH buckets (star-pairing above the cap, exact
below).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _delete1_keys(name: Column) -> Column:
    """{name} ∪ all single-character deletions — the SymSpell d=1 key set.
    Distinct (duplicate deletions of repeated chars collapse) so a pair
    is produced once per shared key, then deduped once more on ids."""
    deletes = F.transform(
        F.sequence(F.lit(1), F.length(name)),
        lambda i: F.concat(
            F.substring(name, F.lit(1), i - 1),
            F.substring(name, i + 1, F.length(name)),
        ),
    )
    return F.array_distinct(F.concat(F.array(name), deletes))


def name_near_duplicates(
    df: DataFrame,
    id_col: str,
    name_col: str,
    max_bucket_size: Optional[int] = None,
) -> DataFrame:
    """(id_a, id_b, name_a, name_b, distance) for every pair of rows whose
    names are within Levenshtein distance 1 (id_a < id_b) — exact recall
    by the symmetric-delete pigeonhole. Identical names are reported too
    (distance 0); route those through exact dedup first if they dominate.

    ``max_bucket_size`` optionally star-pairs keys hotter than the cap
    (the LSH degenerate-bucket guard, see dedup.py) — candidate recall
    only; leave ``None`` (default) for the exact contract.
    """
    keyed = df.select(
        F.col(id_col).alias("_id"),
        F.col(name_col).alias("_name"),
        F.explode(_delete1_keys(F.col(name_col))).alias("_key"),
    )
    grouped = keyed.groupBy("_key").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("_id").alias("i"),
                                    F.col("_name").alias("n")))
        ).alias("_members")
    ).where(F.size("_members") > 1)
    if max_bucket_size is not None:
        star = F.slice("_members", 1, 1)[0]
        pairs = grouped.select(
            F.when(
                F.size("_members") > max_bucket_size,
                F.transform(
                    F.slice("_members", 2, F.size("_members") - 1),
                    lambda mb: F.struct(star.alias("a"), mb.alias("b")),
                ),
            ).otherwise(
                F.flatten(
                    F.transform(
                        F.col("_members"),
                        lambda ma, i: F.transform(
                            F.slice(F.col("_members"), i + 2,
                                    F.size("_members")),
                            lambda mb: F.struct(ma.alias("a"),
                                                mb.alias("b")),
                        ),
                    )
                )
            ).alias("_pairs")
        )
    else:
        pairs = grouped.select(
            F.flatten(
                F.transform(
                    F.col("_members"),
                    lambda ma, i: F.transform(
                        F.slice(F.col("_members"), i + 2, F.size("_members")),
                        lambda mb: F.struct(ma.alias("a"), mb.alias("b")),
                    ),
                )
            ).alias("_pairs")
        )
    cand = (
        pairs.select(F.explode("_pairs").alias("_p"))
        .select(
            F.col("_p.a.i").alias("id_a"), F.col("_p.b.i").alias("id_b"),
            F.col("_p.a.n").alias("name_a"), F.col("_p.b.n").alias("name_b"),
        )
        .where(F.col("id_a") < F.col("id_b"))
    )
    # verify BEFORE the cross-key dedup: distance is a pure function of
    # the pair, so filter-then-distinct is row-identical to
    # distinct-then-filter, and the distinct no longer shuffles the d=2
    # false candidates (two distinct deletions sharing a key) — on
    # digit-run name spaces those dominate the candidate stream
    return (
        cand.withColumn(
            "distance", F.levenshtein("name_a", "name_b").cast("long")
        )
        .where(F.col("distance") <= 1)
        .distinct()
    )


def canonicalize_names(
    df: DataFrame,
    id_col: str,
    name_col: str,
) -> DataFrame:
    """(id, name, canonical_id, canonical_name): every row mapped to the
    smallest-id member of its near-duplicate cluster (rows with no
    near-duplicate map to themselves). Clusters come from connected
    components over the verified distance-≤1 pairs, so chains
    (A~B, B~C) collapse together even when A–C is distance 2 — the
    standard transitive-closure canonicalization.
    """
    from .dedup import duplicate_clusters

    pairs = name_near_duplicates(df, id_col, name_col)
    clusters = duplicate_clusters(pairs.select("id_a", "id_b"))
    canon = clusters.select(
        F.col("doc_id").alias("_cid"), F.col("cluster_id").alias("_root")
    )
    base = df.select(F.col(id_col), F.col(name_col))
    names = df.select(
        F.col(id_col).alias("_nid"), F.col(name_col).alias("canonical_name")
    )
    return (
        base.join(canon, F.col(id_col) == F.col("_cid"), "left")
        .withColumn(
            "canonical_id", F.coalesce(F.col("_root"), F.col(id_col))
        )
        .join(names, F.col("canonical_id") == F.col("_nid"))
        .select(id_col, name_col, "canonical_id", "canonical_name")
    )
