"""Corpus cleaning — the canonical training-data preparation pipeline.

Composes the text-analysis and dedup operators into the standard CC-style
filter chain: quality gate → language gate → exact dedup → (optional)
near-dup removal. Every stage is a DataFrame transform; the output is the
kept corpus plus a per-stage attrition report.

Single-plan design: stage membership is computed as FLAG COLUMNS in one
projection (+ one window for the dedup keeper), so
* ``kept`` is one filter over that plan — the caller's first action runs the
  chain exactly once;
* ``report`` is a LAZY aggregation over the same plan — collecting it costs
  one pass, not consumed at all it costs zero.
The previous implementation issued four driver-side ``count()`` actions that
each recomputed the filter chain — at 100 TB that's four redundant full
scans for a log line.
"""

from __future__ import annotations

from typing import List, Optional, Tuple

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..core.types import inline_values
from .dedup import minhash_lsh_duplicates
from .text import with_gopher_quality, with_langid, with_quality_features


def clean_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 10,
    max_words: int = 100_000,
    max_digit_ratio: float = 0.3,
    keep_langs: Optional[List[str]] = None,
    near_dedup: bool = False,
    near_threshold: float = 0.8,
    max_frac_dup_lines: Optional[float] = None,
    max_symbol_word_ratio: Optional[float] = None,
    min_frac_alpha_words: Optional[float] = None,
    langid: str = "stopword",
    min_quality_logit: Optional[int] = None,
    near_max_bucket_size: Optional[int] = 1000,
    normalize: bool = False,
    url_col: Optional[str] = None,
    domain_blocklist: Optional[DataFrame] = None,
) -> Tuple[DataFrame, DataFrame]:
    """Returns (kept_docs, report).

    kept_docs: the surviving rows of ``docs`` (original columns).
    report: one row per stage — (stage, rows_in, rows_out) — computed lazily
    from the same single plan as kept_docs.

    Exact dedup keeps the smallest id per identical text (deterministic):
    the keeper is a windowed conditional min over md5(text) — one shuffle,
    no join. Near-dedup (MinHash+LSH, verified Jaccard) drops the larger id
    of each near-dup pair — transitively safe because pairs are recomputed
    against the exact-deduped set.

    ``near_max_bucket_size``: the pipeline path keeps the LSH
    degenerate-bucket guard ON by default (star pairs above the cap) —
    near-dedup here runs AFTER exact dedup, so a clipped bucket means
    near-identical-but-not-equal boilerplate, where dropping to the star
    center is the intended web-scale behavior. Pass ``None`` for exact
    pairwise semantics on small corpora.

    ``normalize=True`` runs :func:`~data2neo_spark.operators.text.
    normalize_text` FIRST and all downstream gates, dedup hashes, and the
    returned text operate on the normalized form — the full canonical
    chain is then normalize → url-gate → quality → lang → exact dedup →
    near dedup in ONE pass. ``url_col`` + ``domain_blocklist`` add the
    URL-hygiene gate: rows whose eTLD+1 is blocklisted fail eligibility
    (like :func:`~data2neo_spark.operators.web.filter_domain_blocklist`:
    lists of at most ``web.BLOCKLIST_MAX_INLINE`` rows inline as an isin
    literal — zero extra shuffle — longer ones flag via a join that Spark
    sizes itself).
    """
    if normalize:
        from .text import normalize_text

        docs = (
            normalize_text(docs, text_col, out_col="_tnorm")
            .withColumn(text_col, F.col("_tnorm"))
            .drop("_tnorm")
        )
    flagged = with_quality_features(docs, text_col)
    if url_col is not None and domain_blocklist is not None:
        from .web import BLOCKLIST_MAX_INLINE, with_url_parts

        flagged = with_url_parts(flagged, url_col)
        domains = inline_values(domain_blocklist, "domain", BLOCKLIST_MAX_INLINE)
        if domains is not None:
            url_ok = (
                ~F.col("registered_domain").isin(domains)
                | F.col("registered_domain").isNull()
            )
            flagged = flagged.withColumn("_url_ok", url_ok)
        else:
            blk = domain_blocklist.select(
                F.col("domain").alias("registered_domain"),
                F.lit(True).alias("_blk"),
            )
            flagged = flagged.join(blk, "registered_domain", "left") \
                .withColumn("_url_ok", F.col("_blk").isNull()).drop("_blk")
    else:
        flagged = flagged.withColumn("_url_ok", F.lit(True))
    q_ok = (
        (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words)
        & (F.col("digit_ratio") <= max_digit_ratio)
    )
    # Gopher/C4 repetition + content gates ride the same zero-shuffle flag
    # projection (with_gopher_quality is per-row Column math) — enabling
    # them adds no pass and no shuffle to the chain
    gopher_gates = [
        ("frac_dup_lines", max_frac_dup_lines, "le"),
        ("symbol_word_ratio", max_symbol_word_ratio, "le"),
        ("frac_alpha_words", min_frac_alpha_words, "ge"),
    ]
    if any(v is not None for _, v, _d in gopher_gates):
        flagged = with_gopher_quality(flagged, text_col)
        for col, v, d in gopher_gates:
            if v is None:
                continue
            q_ok = q_ok & (
                (F.col(col) <= v) if d == "le" else (F.col(col) >= v)
            )
    if min_quality_logit is not None:
        # model-based gate (operators/quality_model): another zero-shuffle
        # Column term riding the same flag projection
        from .quality_model import with_quality_score

        flagged = with_quality_score(flagged, text_col)
        q_ok = q_ok & (F.col("quality_logit_micro") >= min_quality_logit)
    flagged = flagged.withColumn("_q_ok", q_ok)
    if keep_langs is not None:
        if langid == "ct":
            # rank-order n-gram model (operators/langid.py, ~20 languages):
            # per-doc predictions join back on id — costs the langid
            # pipeline's own shuffles, unlike the zero-shuffle stopword
            # scorer, so it is opt-in
            from .langid import with_langid_ct

            preds = with_langid_ct(docs, id_col, text_col).select(
                id_col, "lang_pred"
            )
            flagged = flagged.join(preds, id_col, "left")
        elif langid == "stopword":
            flagged = with_langid(flagged, text_col)
        else:
            raise ValueError("langid must be 'stopword' or 'ct'")
        flagged = flagged.withColumn(
            "_elig",
            F.col("_url_ok") & F.col("_q_ok")
            & F.col("lang_pred").isin(keep_langs),
        )
    else:
        flagged = flagged.withColumn("_elig", F.col("_url_ok") & F.col("_q_ok"))
    # exact-dedup keeper: min id among ELIGIBLE rows of each identical-text
    # group; a row survives iff it is its group's keeper
    w = Window.partitionBy(F.md5(F.col(text_col)))
    flagged = flagged.withColumn(
        "_keep",
        F.col("_elig")
        & (F.col(id_col) == F.min(F.when(F.col("_elig"), F.col(id_col))).over(w)),
    )

    kept = flagged.where(F.col("_keep")).select(*docs.columns)

    if near_dedup:
        pairs = minhash_lsh_duplicates(kept, id_col, text_col,
                                       threshold=near_threshold,
                                       max_bucket_size=near_max_bucket_size)
        drop = pairs.select(F.col("id_b").alias(id_col)).distinct()
        final = kept.join(drop, id_col, "left_anti")
        drop_n = drop.agg(F.count(F.lit(1)).alias("_nd"))
    else:
        final = kept
        drop_n = None

    counts = flagged.agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum(F.col("_url_ok").cast("long")).alias("nu"),
        F.sum((F.col("_url_ok") & F.col("_q_ok")).cast("long")).alias("n1"),
        F.sum(F.col("_elig").cast("long")).alias("n2"),
        F.sum(F.col("_keep").cast("long")).alias("n3"),
    )
    if drop_n is not None:
        counts = counts.crossJoin(drop_n).withColumn("n4", F.col("n3") - F.col("_nd"))
    else:
        counts = counts.withColumn("n4", F.col("n3"))
    report = counts.selectExpr(
        "stack(5, 'url', n0, nu, 'quality', nu, n1, 'langid', n1, n2, "
        "'exact_dedup', n2, n3, 'near_dedup', n3, n4) AS (stage, rows_in, rows_out)"
    )
    return final, report


def corpus_stats(
    docs: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """Per-language corpus profile — the standard pre-training data report:
    (lang, n_docs, sum_tokens, avg_tokens, med_tokens, sum_chars).

    One shuffle (groupBy lang); median is exact (Spark's median and DuckDB's
    interpolate identically, verified by the oracle). At 100 TB this is a
    single aggregation pass with map-side partials for everything except the
    median, whose per-group sort is bounded by the language count."""
    nw = F.size(F.split(F.col(text_col), " ")).cast("long")
    return (
        docs.withColumn("_nw", nw)
        .groupBy(F.col(lang_col).alias("lang"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_nw").alias("sum_tokens"),
            F.round(F.avg("_nw"), 4).alias("avg_tokens"),
            F.median("_nw").alias("med_tokens"),
            F.sum(F.length(F.col(text_col)).cast("long")).alias("sum_chars"),
        )
    )


def key_skew_report(
    df: DataFrame,
    key_col: str,
    top_k: int = 20,
) -> DataFrame:
    """Hot-key diagnostic for join/aggregation planning: the ``top_k``
    heaviest keys with their share of all rows — the measurement that
    decides whether a key needs salting (A7) or an AQE skew join before
    the job runs at scale. One groupBy shuffle with map-side partials;
    ties break deterministically by key string.

    Returns (key, n_rows, share, rank)."""
    from pyspark.sql import Window

    counts = df.groupBy(F.col(key_col).cast("string").alias("key")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    total = counts.agg(F.sum("n_rows").alias("_t"))
    w = Window.orderBy(F.col("n_rows").desc(), F.col("key").asc())
    return (
        counts.crossJoin(F.broadcast(total))
        .withColumn("share", F.round(F.col("n_rows") / F.col("_t"), 6))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= top_k)
        .select("key", "n_rows", "share", "rank")
    )


def corpus_length_quantiles(
    docs: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
    probabilities: Tuple[float, ...] = (0.1, 0.5, 0.9),
) -> DataFrame:
    """Per-language token-length distribution: one row per (lang, p) with
    the exact linearly-interpolated quantile — the corpus-shape report
    behind chunk-size and filter-threshold choices.

    One groupBy(lang); Spark's percentile() and DuckDB's quantile_cont()
    both use linear interpolation on the sorted values, so the oracle
    value-hash-matches (the same cross-engine identity corpus_stats'
    exact median relies on). The per-group sort is bounded by language
    count, like corpus_stats."""
    nw = F.size(F.split(F.col(text_col), " ")).cast("long")
    probs = list(probabilities)
    agg = (
        docs.withColumn("_nw", nw)
        .groupBy(F.col(lang_col).alias("lang"))
        .agg(F.percentile("_nw", probs).alias("_qs"))
    )
    pairs = F.arrays_zip(
        F.array(*[F.lit(p) for p in probs]).alias("p"),
        F.col("_qs").alias("q"),
    )
    return agg.select(
        "lang", F.explode(pairs).alias("_pq")
    ).select(
        "lang",
        F.col("_pq.p").alias("p"),
        F.round(F.col("_pq.q"), 4).alias("n_tokens_q"),
    )


def sample_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    rate: float = None,
    rates_by: str = None,
    rates: dict = None,
    seed: int = 0,
) -> DataFrame:
    """Deterministic hash-based sampling — the training-data MIXING stage:
    keep a row iff ``md5_hash60(seed‖id) % 10^6 < rate·10^6``.

    Either a global ``rate`` or per-group ``rates`` keyed by the values of
    column ``rates_by`` (e.g. per-language mixture weights; groups absent
    from ``rates`` drop). Properties the pipeline relies on:

    * deterministic and ORDER-FREE — the same (seed, id) always makes the
      same decision on any cluster size, partitioning, or engine (md5 is
      bit-identical everywhere, unlike Spark's per-partition rand());
    * NESTED — rate 0.1 selects a subset of rate 0.2's selection at the
      same seed, so mixture weights can be retuned without resampling
      churn;
    * zero-shuffle (a filter), and exactly SQL-replayable.
    """
    from .dedup import md5_hash60

    bucket = F.pmod(
        md5_hash60(F.concat(F.lit(str(seed)), F.lit("|"),
                            F.col(id_col).cast("string"))),
        F.lit(1_000_000),
    )
    if rates is not None:
        if rates_by is None:
            raise ValueError("rates requires rates_by")
        thresh = F.lit(-1)
        for key, r in sorted(rates.items()):
            thresh = F.when(F.col(rates_by) == key,
                            F.lit(int(round(r * 1_000_000)))).otherwise(thresh)
    elif rate is not None:
        thresh = F.lit(int(round(rate * 1_000_000)))
    else:
        raise ValueError("pass rate or rates")
    return docs.where(bucket < thresh)


def train_test_split(
    docs: DataFrame,
    id_col: str = "doc_id",
    test_rate: float = 0.1,
    seed: int = 0,
) -> DataFrame:
    """Adds ``split`` ('train' | 'test') with the same deterministic
    order-free hash rule as :func:`sample_corpus` — a document's split
    never changes with cluster size, partitioning, or data additions."""
    from .dedup import md5_hash60

    bucket = F.pmod(
        md5_hash60(F.concat(F.lit(str(seed)), F.lit("|"),
                            F.col(id_col).cast("string"))),
        F.lit(1_000_000),
    )
    return docs.withColumn(
        "split",
        F.when(bucket < F.lit(int(round(test_rate * 1_000_000))),
               F.lit("test")).otherwise(F.lit("train")),
    )


def sample_weighted(
    docs: DataFrame,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (A-ES /
    exponential-sort, Efraimidis & Spirakis 2006): each row draws the
    exponential key ``-ln(u) / w`` from the order-free uniform
    ``u = (md5_hash60(seed‖id) + 1) / 2^60`` and the k SMALLEST keys
    win — inclusion probability proportional to ``weight_col`` at every
    prefix, so quality-weighted corpus subsets are reproducible at any
    cluster size (same hash rule contract as :func:`sample_corpus`).

    Rows with null, zero, or negative weight never win (dropped before
    keying, mirroring the rate<=0 behavior of sample_corpus).

    Scale shape: the key is a zero-shuffle projection; the global top-k
    is Spark's TakeOrderedAndProject (per-partition heap of k, then a
    driver merge of P·k candidate rows) — no full sort, no single-
    reducer exchange. SQL-replayable as ORDER BY key LIMIT k.
    """
    from .dedup import md5_hash60

    if k < 1:
        raise ValueError("k must be >= 1")
    u = (
        md5_hash60(
            F.concat(F.lit(str(seed)), F.lit("|"), F.col(id_col).cast("string"))
        )
        + F.lit(1)
    ) / F.lit(float(2**60))
    key = -F.log(u) / F.col(weight_col).cast("double")
    return (
        docs.where(F.col(weight_col).isNotNull() & (F.col(weight_col) > 0))
        .withColumn("_aes_key", key)
        .orderBy("_aes_key", id_col)
        .limit(k)
        .drop("_aes_key")
    )
