"""Knowledge fusion (truth discovery) over conflicting extracted triples.

A web-scale KG-construction pipeline extracts the same (subject,
predicate) fact from many pages/extractors with conflicting objects —
the fusion stage picks one object per (subject, predicate) and scores
each source's reliability (the Knowledge-Vault / TruthFinder family of
algorithms; the reference pipeline has no fusion stage because its
row→Cypher model writes last-writer-wins, `data2neo/neo4j/
graph_elements.py:206-264` — fusion is the scale-out replacement for
"whichever row committed last wins").

Algorithm (two-round weighted voting, deliberately the closed-form
non-iterative variant so results are exactly replayable):

1. claims are deduplicated to one vote per (subj, pred, obj, source);
   a claim with a NULL source has no voter and is dropped, by both
   :func:`source_accuracy` and :func:`fuse_claims`;
2. round 0: the majority object per (subj, pred) wins (ties broken by
   the greater object string — deterministic);
3. source accuracy = floor(scale · #claims-agreeing-with-round-0 /
   #claims) per source — an integer in [0, scale];
4. round 1: per (subj, pred), the object with the greatest summed
   source accuracy wins (ties: vote count, then object string).

Everything is integer arithmetic (counts and floor-divided scaled
accuracies), so a SQL engine replays the fused table bit-for-bit —
float confidence products would diverge in summation order.

Scale shape: claim dedup and the two vote aggregations are
key-partitioned groupBys with map-side partials; hot (subj, pred) keys
(hub entities × popular predicates) are pre-aggregated to one row per
distinct object before any winner selection, so skew is bounded by the
number of DISTINCT conflicting objects, not mention frequency. The
per-source accuracy table has one row per source (thousands at most) —
it is broadcast back onto the claim set, never shuffled.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .rounds import persist

__all__ = ["fuse_claims", "source_accuracy"]


def _votes(claims: DataFrame, subj: str, pred: str, obj: str,
           source: str) -> DataFrame:
    """One row per (subj, pred, obj, source) — a source votes once; NULL
    sources do not vote."""
    return claims.where(F.col(source).isNotNull()).select(
        F.col(subj).alias("subj"), F.col(pred).alias("pred"),
        F.col(obj).alias("obj"), F.col(source).alias("source"),
    ).distinct()


def _round0_winner(votes: DataFrame) -> DataFrame:
    """(subj, pred, obj0) — majority object, ties to the greater obj."""
    counted = votes.groupBy("subj", "pred", "obj").agg(
        F.count(F.lit(1)).alias("n_votes")
    )
    return counted.groupBy("subj", "pred").agg(
        F.max_by("obj", F.struct("n_votes", "obj")).alias("obj0")
    )


def _accuracy_from_votes(votes: DataFrame, scale: int) -> DataFrame:
    """(source, n_claims, n_majority, acc) over an already-deduplicated
    vote set; ``div`` keeps the scaled fraction in exact integer math."""
    w0 = _round0_winner(votes)
    joined = votes.join(w0, ["subj", "pred"])
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_claims"),
        F.sum((F.col("obj") == F.col("obj0")).cast("long")).alias("n_majority"),
    ).select(
        "source", "n_claims", "n_majority",
        F.expr(f"({scale} * n_majority) div n_claims").alias("acc"),
    )


def source_accuracy(claims: DataFrame, subj: str = "subj",
                    pred: str = "pred", obj: str = "obj",
                    source: str = "source",
                    scale: int = 10 ** 6) -> DataFrame:
    """(source, n_claims, n_majority, acc) — acc is the scaled-integer
    fraction of the source's votes that match the round-0 majority."""
    return _accuracy_from_votes(
        _votes(claims, subj, pred, obj, source), scale
    )


def fuse_claims(claims: DataFrame, subj: str = "subj", pred: str = "pred",
                obj: str = "obj", source: str = "source",
                scale: int = 10 ** 6) -> DataFrame:
    """Fuse conflicting claims to one object per (subj, pred).

    Returns (subj, pred, obj, n_sources, weight): the accuracy-weighted
    winner, how many sources voted for it, and its summed scaled
    accuracy. ``scale`` is the integer accuracy denominator (round-0
    agreement fraction × scale, floored).
    """
    # r6 shape: ONE groupBy collapses the claim stream to (subj, pred,
    # obj, source-SET) — collect_set IS the one-vote-per-source dedup, so
    # every later stage works on object-level rows (bounded by distinct
    # conflicting objects, the skew contract above) instead of re-shuffling
    # vote-level rows. Identical values by construction:
    #   n_votes(s,p,o)   = size(set)            (votes.groupBy(s,p,o).count)
    #   per-source votes = explode(set)          (votes rows, exactly once)
    # Persisted: round-0, accuracy and weighted stages all probe it.
    spo = persist(
        claims.where(F.col(source).isNotNull())
        .select(
            F.col(subj).alias("subj"), F.col(pred).alias("pred"),
            F.col(obj).alias("obj"), F.col(source).alias("source"),
        )
        .groupBy("subj", "pred", "obj")
        .agg(F.collect_set("source").alias("_srcs"))
    )
    w0 = spo.groupBy("subj", "pred").agg(
        F.max_by(
            "obj", F.struct(F.size("_srcs").alias("n_votes"), F.col("obj"))
        ).alias("obj0")
    )
    acc = (
        spo.join(w0, ["subj", "pred"])
        .select(
            F.explode("_srcs").alias("source"),
            (F.col("obj") == F.col("obj0")).cast("long").alias("_m"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_claims"),
            F.sum("_m").alias("n_majority"),
        )
        .select(
            "source", F.expr(f"({scale} * n_majority) div n_claims").alias("acc")
        )
    )
    # one row per source — broadcast; the object-level frame is never
    # reshuffled by the accuracy join (groupBy reuses spo's partitioning)
    weighted = (
        spo.select("subj", "pred", "obj", F.explode("_srcs").alias("source"))
        .join(F.broadcast(acc), "source")
        .groupBy("subj", "pred", "obj")
        .agg(
            F.count(F.lit(1)).alias("n_sources"),
            F.sum("acc").alias("weight"),
        )
    )
    fused = weighted.groupBy("subj", "pred").agg(
        F.max_by(
            F.struct("obj", "n_sources", "weight"),
            F.struct("weight", "n_sources", "obj"),
        ).alias("w")
    ).select("subj", "pred", "w.obj", "w.n_sources", "w.weight")
    return fused
