"""Text-analysis operators for large-scale training-data pipelines.

All hot-path logic is native Column expressions (JVM-side, whole-stage
codegen); no python UDFs. Each operator is designed to be SQL-reproducible so
the DuckDB oracle can verify it value-for-value.
"""

from __future__ import annotations

from typing import Dict, List, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# language-marker stopwords: occurrences of " word " in the text.
# literal, SQL-reproducible heuristic (no external models)
LANG_MARKERS: Dict[str, List[str]] = {
    "en": ["the", "and", "of"],
    "de": ["der", "die", "und"],
    "fr": ["le", "la", "et"],
    "es": ["el", "los", "que"],
}


def _occurrences(text: Column, token: str) -> Column:
    """Number of non-overlapping occurrences of ' token ' in ' text '."""
    padded = F.concat(F.lit(" "), text, F.lit(" "))
    return F.size(F.split(padded, f" {token} ")) - F.lit(1)


def _shingle_rows(text: str, n: int):
    """Per-document distinct n-word shingles, first-occurrence order —
    byte-identical to ``array_distinct(transform(sequence(...),
    i -> concat_ws(' ', slice(split(text, ' '), i+1, n))))`` (python
    ``str.split(' ')`` matches Java ``split(/ /, -1)`` including empty
    tokens around consecutive separators)."""
    words = text.split(" ")
    if len(words) < n:
        return None
    return list(dict.fromkeys(
        " ".join(words[i:i + n]) for i in range(len(words) - n + 1)
    ))


_ID_PD_DTYPE = {"bigint": "int64", "int": "int32", "smallint": "int16",
                "string": "object", "double": "float64", "float": "float32"}


def with_quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length/word statistics used for quality filtering.

    Assumes single-space tokenization (the synthetic corpus guarantees it);
    all expressions have exact DuckDB equivalents.
    """
    text = F.col(text_col)
    n_chars = F.length(text)
    words = F.split(text, " ")
    n_words = F.size(words)
    non_space = n_chars - (n_words - F.lit(1))
    return (
        df.withColumn("n_chars_calc", n_chars.cast("long"))
        .withColumn("n_words", n_words.cast("long"))
        .withColumn(
            "avg_word_len",
            F.round(non_space.cast("double") / n_words, 4),
        )
        .withColumn(
            "digit_ratio",
            F.round(
                (n_chars - F.length(F.regexp_replace(text, "[0-9]", ""))).cast("double")
                / n_chars,
                4,
            ),
        )
    )


def with_token_count(
    df: DataFrame, text_col: str = "text", tokenizer: str = "ws",
    merges=None,
) -> DataFrame:
    """Whitespace + regex (alnum-run) token counts; ``tokenizer="bpe"``
    additionally adds the real subword count (``bpe_tokens``, the unit
    training budgets are denominated in — see operators/bpe.py).
    ``merges`` overrides the embedded seed table (e.g. a
    :func:`~data2neo_spark.operators.bpe.load_merges_file` vocabulary)."""
    text = F.col(text_col)
    out = df.withColumn(
        "ws_tokens", F.size(F.split(text, " ")).cast("long")
    ).withColumn(
        "re_tokens",
        F.size(F.regexp_extract_all(text, F.lit("[A-Za-z0-9]+"), 0)).cast("long"),
    )
    if tokenizer == "bpe":
        from .bpe import bpe_count_column

        out = out.withColumn("bpe_tokens", bpe_count_column(text, merges))
    elif tokenizer != "ws":
        raise ValueError("tokenizer must be 'ws' or 'bpe'")
    return out


def with_langid(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic stopword-count language ID (n-gram-heuristic class).

    Scores each language by marker-word occurrences; ties break in fixed
    en>de>fr>es order; zero hits → 'und' (undetermined).
    """
    text = F.col(text_col)
    scores = {
        lang: sum([_occurrences(text, w) for w in words], F.lit(0))
        for lang, words in LANG_MARKERS.items()
    }
    best = F.greatest(*scores.values())
    expr = F.when(best == 0, F.lit("und"))
    for lang in ["en", "de", "fr", "es"]:
        expr = expr.when(scores[lang] == best, F.lit(lang))
    out = df
    for lang, score in scores.items():
        out = out.withColumn(f"score_{lang}", score.cast("long"))
    return out.withColumn("lang_pred", expr)


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprint: md5 over whitespace-normalized lowercase text."""
    norm = F.lower(F.regexp_replace(F.col(text_col), "\\s+", " "))
    return df.withColumn("fingerprint", F.md5(norm))


def word_shingles(
    df: DataFrame, id_col: str, text_col: str = "text", n: int = 3
) -> DataFrame:
    """Distinct n-word shingles per document: (id, shingle).

    Computed array-side per document (a doc's shingles live in its own
    row — zero shuffle), via the Arrow batch map
    (:func:`~data2neo_spark.operators.dedup._sig_frame`): python string
    slicing replaces the old interpreted higher-order ``transform``/
    ``slice`` lambdas, which get no whole-stage codegen (guide §4.2) —
    identical rows.
    """
    from .dedup import _sig_frame

    return _sig_frame(df, id_col, text_col, n, with_shingles=True).select(
        F.col(id_col), F.explode("sh_arr").alias("shingle")
    )


def word_shingle_counts(
    df: DataFrame, id_col: str, text_col: str = "text", n: int = 3
) -> DataFrame:
    """(id, n_sh) distinct-shingle count per document — computed array-side
    in one zero-shuffle projection (the groupBy-count over the exploded
    shingle frame costs a shuffle AND a full shingle recomputation);
    shingling itself goes through the Arrow fast path."""
    from .dedup import _sig_frame

    return _sig_frame(df, id_col, text_col, n, with_shingles=True).select(
        F.col(id_col),
        F.size("sh_arr").cast("long").alias("n_sh"),
    )


def tfidf_top_terms(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """Top-k TF-IDF terms per document: (id, word, tf, score, rank).

    tf = raw term count in the doc; idf = ln((N+1)/(df+1)) + 1 (smoothed);
    score = round(tf·idf, 4); ties rank alphabetically. Two shuffles
    ((id, word) count → per-doc window); the document frequency side is a
    word-keyed aggregation joined back by word. SQL-reproducible for the
    DuckDB oracle.
    """
    from pyspark.sql import Window

    tok = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("word")
    )
    tf = tok.groupBy(id_col, "word").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.select(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "word")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.round(
                F.col("tf")
                * (F.log((F.col("n_docs") + 1) / (F.col("df") + 1)) + F.lit(1.0)),
                4,
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(), F.col("word").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(F.col(id_col), "word", "tf", "score", F.col("rank").cast("long").alias("rank"))
    )


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    max_tokens: int = 100,
    overlap: int = 20,
) -> DataFrame:
    """Split documents into training-sized chunks with token overlap:
    (id, chunk_id, chunk_text, n_tokens).

    Chunk k covers tokens [k·stride, k·stride + max_tokens) with
    stride = max_tokens − overlap; the last chunk may be short; documents
    shorter than max_tokens yield one chunk. Zero-shuffle (array math over
    the bound word column) and SQL-reproducible for the oracle."""
    if overlap >= max_tokens:
        raise ValueError("overlap must be smaller than max_tokens")
    stride = max_tokens - overlap
    bound = df.withColumn("_words", F.split(F.col(text_col), " "))
    words = F.col("_words")
    n_chunks = F.greatest(
        F.lit(1),
        F.ceil((F.size(words) - F.lit(overlap)).cast("double") / stride).cast("int"),
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda k: F.struct(
            k.cast("long").alias("chunk_id"),
            F.concat_ws(" ", F.slice(words, k * stride + 1, max_tokens)).alias("chunk_text"),
            F.least(
                F.lit(max_tokens), F.size(words) - k * stride
            ).cast("long").alias("n_tokens"),
        ),
    )
    return bound.select(
        F.col(id_col), F.explode(chunks).alias("_c")
    ).select(
        F.col(id_col),
        F.col("_c.chunk_id"),
        F.col("_c.chunk_text"),
        F.col("_c.n_tokens"),
    )


# Gopher quality-filter stopwords (Rae et al. 2021, §A1.1 uses a "stop word"
# presence check; this fixed list keeps the signal SQL-reproducible)
GOPHER_STOPWORDS: List[str] = ["the", "a", "of", "and", "to", "in"]

# PII detector classes — deliberately restricted to regex features with
# identical semantics in Java regex (Spark) and RE2 (DuckDB oracle):
# \b, bounded repetition, plain character classes
PII_PATTERNS: Dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+[0-9]{7,15}",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
}


def with_gopher_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher/C4-style repetition + content signals (Rae et al. 2021 §A1.1,
    Raffel et al. 2020 §2.2) as ONE zero-shuffle native projection:

    * frac_dup_lines / frac_dup_paragraphs — fraction of ``\\n`` lines /
      ``\\n\\n`` paragraphs that are repeats of an earlier one;
    * frac_bullet_lines — lines starting with a bullet ("- ", "* ", "• ");
    * frac_ellipsis_lines — lines ending in "..." or "…";
    * symbol_word_ratio — ("#" + ellipsis occurrences) / words;
    * frac_stop_words — GOPHER_STOPWORDS occurrences / words;
    * frac_alpha_words — words containing at least one [A-Za-z];
    * n_words.

    All metrics are per-row Column expressions (whole-stage codegen, no
    shuffle, no python); the word/line splits are bound to real columns once
    so higher-order lambdas don't re-evaluate them per element (see
    word_shingles note). The repetition companion that DOES need an
    aggregation (top n-gram share) lives in :func:`top_ngram_share`.
    """
    text = F.col(text_col)
    bound = (
        df.withColumn("_words", F.split(text, " "))
        .withColumn("_lines", F.split(text, "\n"))
        .withColumn("_paras", F.split(text, "\n\n"))
    )
    words, lines, paras = F.col("_words"), F.col("_lines"), F.col("_paras")
    n_words = F.size(words)
    n_lines = F.size(lines)
    n_paras = F.size(paras)

    def _frac(num, den):
        return F.round(num.cast("double") / den, 4)

    stop_hits = sum(
        [_occurrences(text, w) for w in GOPHER_STOPWORDS], F.lit(0)
    )
    hash_cnt = F.length(text) - F.length(F.replace(text, F.lit("#"), F.lit("")))
    ell_cnt = (
        F.length(text) - F.length(F.replace(text, F.lit("..."), F.lit("")))
    ) / F.lit(3)
    bullet = F.filter(
        lines,
        lambda l: (
            F.ltrim(l).startswith("- ")
            | F.ltrim(l).startswith("* ")
            | F.ltrim(l).startswith("• ")
        ),
    )
    ellipsis_lines = F.filter(
        lines, lambda l: l.endswith("...") | l.endswith("…")
    )
    alpha = F.filter(words, lambda w: w.rlike("[A-Za-z]"))
    return (
        bound.withColumn("n_words", n_words.cast("long"))
        .withColumn(
            "frac_dup_lines", _frac(n_lines - F.size(F.array_distinct(lines)), n_lines)
        )
        .withColumn(
            "frac_dup_paragraphs",
            _frac(n_paras - F.size(F.array_distinct(paras)), n_paras),
        )
        .withColumn("frac_bullet_lines", _frac(F.size(bullet), n_lines))
        .withColumn("frac_ellipsis_lines", _frac(F.size(ellipsis_lines), n_lines))
        .withColumn("symbol_word_ratio", _frac(hash_cnt + ell_cnt, n_words))
        .withColumn("frac_stop_words", _frac(stop_hits, n_words))
        .withColumn("frac_alpha_words", _frac(F.size(alpha), n_words))
        .drop("_words", "_lines", "_paras")
    )


def top_ngram_share(
    df: DataFrame, id_col: str, text_col: str = "text", n: int = 2
) -> DataFrame:
    """Fraction of a document's word n-gram occurrences taken by its single
    most frequent n-gram (the Gopher "top n-gram character share" family):
    (id, top_c, n_grams, top_ngram_share).

    Shape: explode n-grams → groupBy(id, gram) count → groupBy(id)
    max/sum — two shuffles, both with map-side partial aggregation; this
    codegen'd path beats an interpreted per-row higher-order fold (the
    same measured tradeoff as SimHash, see operators/dedup.py). Documents
    shorter than ``n`` words are absent from the result.
    """
    bound = df.withColumn("_words", F.split(F.col(text_col), " "))
    words = F.col("_words")
    grams = F.transform(
        F.sequence(F.lit(0), F.size(words) - F.lit(n)),
        lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
    )
    g = bound.where(F.size(words) >= n).select(
        F.col(id_col), F.explode(grams).alias("gram")
    )
    per = g.groupBy(id_col, "gram").agg(F.count(F.lit(1)).alias("c"))
    return (
        per.groupBy(id_col)
        .agg(F.max("c").alias("top_c"), F.sum("c").alias("n_grams"))
        .withColumn(
            "top_ngram_share",
            F.round(F.col("top_c").cast("double") / F.col("n_grams"), 4),
        )
    )


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    patterns: Optional[Dict[str, str]] = None,
    out_col: str = "redacted",
) -> DataFrame:
    """PII detection + redaction (the C4/CCNet privacy pass): per-class hit
    counts ``n_<class>`` and a ``redacted`` text with each match replaced by
    ``<CLASS>``.

    Zero-shuffle native projection — regexp_count / regexp_replace are
    JVM-side codegen'd expressions, value-reproducible in the DuckDB oracle
    (len(regexp_extract_all) / regexp_replace 'g'). Classes are applied in
    dict order; the defaults are ordered so earlier redactions cannot
    create or destroy later matches (emails first — their local parts may
    contain digits a phone pattern could otherwise claim).
    """
    pats = patterns or PII_PATTERNS
    text = F.col(text_col)
    out = df
    for kind, pat in pats.items():
        out = out.withColumn(
            f"n_{kind}", F.regexp_count(text, F.lit(pat)).cast("long")
        )
    red = text
    for kind, pat in pats.items():
        red = F.regexp_replace(red, pat, f"<{kind.upper()}>")
    return out.withColumn(out_col, red)


def dedupe_lines(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "text_deduped",
    paragraph: bool = False,
) -> DataFrame:
    """C4-style within-document repetition removal: drop every line (or
    paragraph with ``paragraph=True``) that repeats an earlier one,
    preserving first occurrences and their order; adds ``n_lines`` /
    ``n_lines_kept`` counters.

    Zero-shuffle per-row array math: a line is kept iff its position is the
    FIRST occurrence (``array_position`` returns the first match). The
    check is O(lines²) per document — lines-per-doc is bounded in practice;
    the whole transform stays inside the scan stage. DuckDB twin:
    ``list_filter(lines, (x, i) -> list_position(lines, x) = i)`` (both
    engines' lambda index and position are consistent after the 0/1-base
    shift)."""
    sep = "\n\n" if paragraph else "\n"
    bound = df.withColumn("_lines", F.split(F.col(text_col), sep))
    lines = F.col("_lines")
    kept = F.filter(lines, lambda l, i: F.array_position(lines, l) == i + 1)
    return (
        bound.withColumn("n_lines", F.size(lines).cast("long"))
        .withColumn(out_col, F.concat_ws(sep, kept))
        .withColumn(
            "n_lines_kept",
            F.size(F.split(F.col(out_col), sep)).cast("long"),
        )
        .drop("_lines")
    )


def remove_shared_ngrams(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 8,
    min_docs: int = 2,
    out_col: str = "text_cleaned",
) -> DataFrame:
    """Substring-level cross-document dedup (Lee et al. 2021,
    "Deduplicating Training Data"): every token window of ``n`` words that
    appears in at least ``min_docs`` DISTINCT documents is removed from all
    of them; overlapping windows merge into spans. Returns the input plus
    ``out_col`` (rebuilt text) and ``n_tokens_removed``.

    Shape: one posexplode of the window stream → groupBy(window) distinct-
    doc count → repeated windows join back → per-doc covered-position
    arrays → zero-shuffle span-union + token filter (higher-order array
    functions) rebuilds the text in the scan stage. Two window-keyed
    shuffles + one id-keyed join; the window string itself is the key (the
    DuckDB oracle replays it verbatim — hash it with md5 to shrink shuffle
    width at scale, at the cost of oracle simplicity). A window shared by k
    docs emits k rows here — linear, never k² (contrast candidate
    generation in dedup.ngram_jaccard_pairs, which must pair them).
    """
    from .dedup import _shingle_expr

    bound = df.withColumn("_words", F.split(F.col(text_col), " "))
    words = F.col("_words")
    # docs shorter than n emit no windows (they can't share one) — and the
    # guard is load-bearing: sequence(0, size-n) with a negative end counts
    # DOWN in Spark, producing i = -1 and an invalid slice(…, 0) (found by
    # the hypothesis property suite)
    wins = bound.where(F.size(words) >= n).select(
        F.col(id_col), F.posexplode(_shingle_expr(words, n)).alias("pos", "sh")
    )
    shared = (
        wins.groupBy("sh")
        .agg(F.count_distinct(F.col(id_col)).alias("_nd"))
        .where(F.col("_nd") >= min_docs)
        .select("sh")
    )
    covered = (
        wins.join(shared, "sh")
        .groupBy(id_col)
        .agg(F.collect_list("pos").alias("_poss"))
    )
    cleaned = bound.join(covered, id_col, "left")
    cov = F.when(F.col("_poss").isNull(), F.array().cast("array<int>")).otherwise(
        F.array_distinct(
            F.flatten(
                F.transform(F.col("_poss"), lambda p: F.sequence(p, p + F.lit(n - 1)))
            )
        )
    )
    cleaned = cleaned.withColumn("_cov", cov)
    kept = F.filter(
        words, lambda w, i: ~F.array_contains(F.col("_cov"), i)
    )
    return (
        cleaned.withColumn(out_col, F.concat_ws(" ", kept))
        .withColumn("n_tokens_removed", F.size("_cov").cast("long"))
        .drop("_words", "_poss", "_cov")
    )


def remove_duplicate_lines_corpus(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    min_docs: int = 2,
    keep: str = "none",
    out_col: str = "text_cleaned",
) -> DataFrame:
    """CORPUS-level duplicate-line removal (the C4 recipe's cross-document
    counterpart of :func:`dedupe_lines`): every line that appears in at
    least ``min_docs`` DISTINCT documents is removed from all of them.
    ``keep="first"`` retains the single globally-first occurrence (smallest
    ``(id, position)`` — deterministic across cluster sizes); ``keep="none"``
    (default) removes every occurrence, the boilerplate-nuke mode. Returns
    the input plus ``out_col`` (rebuilt text) and ``n_lines_removed``.

    Shape mirrors :func:`remove_shared_ngrams`: one posexplode of the line
    stream → groupBy(line) with map-side partial distinct-doc count (and a
    ``min(struct(id, pos))`` in the same aggregate — the keeper pick rides
    the shuffle for free) → shared lines join back → per-doc covered
    positions → zero-shuffle index filter rebuilds the text in the scan
    stage. A line shared by k docs moves k rows — linear, never k². At
    100 TB the line string is the shuffle key; hot boilerplate lines
    ("privacy policy") are exactly the hot keys the partial aggregation
    absorbs map-side before the exchange.
    """
    if keep not in ("none", "first"):
        raise ValueError(f"keep must be 'none' or 'first', got {keep!r}")
    bound = df.withColumn("_lines", F.split(F.col(text_col), "\n"))
    ex = bound.select(
        F.col(id_col), F.posexplode(F.col("_lines")).alias("pos", "line")
    )
    shared = (
        ex.groupBy("line")
        .agg(
            F.count_distinct(F.col(id_col)).alias("_nd"),
            F.min(
                F.struct(F.col(id_col).alias("i"), F.col("pos").alias("p"))
            ).alias("_first"),
        )
        .where(F.col("_nd") >= min_docs)
        .select("line", "_first")
    )
    removed = ex.join(shared, "line")
    if keep == "first":
        removed = removed.where(
            ~(
                (F.col(id_col) == F.col("_first.i"))
                & (F.col("pos") == F.col("_first.p"))
            )
        )
    covered = removed.groupBy(id_col).agg(F.collect_list("pos").alias("_poss"))
    cleaned = bound.join(covered, id_col, "left").withColumn(
        "_cov",
        F.when(
            F.col("_poss").isNull(), F.array().cast("array<int>")
        ).otherwise(F.col("_poss")),
    )
    kept = F.filter(
        F.col("_lines"), lambda l, i: ~F.array_contains(F.col("_cov"), i)
    )
    return (
        cleaned.withColumn(out_col, F.concat_ws("\n", kept))
        .withColumn("n_lines_removed", F.size("_cov").cast("long"))
        .drop("_lines", "_poss", "_cov")
    )


def with_unigram_scores(
    df: DataFrame, id_col: str, text_col: str = "text"
) -> DataFrame:
    """Corpus-statistics quality scores per document (the CCNet-style
    "LM-lite" signal without an external model): for each word occurrence,
    its corpus unigram probability and its surprisal, aggregated per doc:

    * ``avg_word_ppb`` — mean unigram probability in parts-per-billion;
      high = common-word soup, low = rare-word-dense text;
    * ``sum_surprise_bits`` — Σ (ilog2(total) − ilog2(count)): total
      integer-quantized surprisal, the deterministic stand-in for summed
      −log₂ p(w).

    All arithmetic is integer-exact (counts × 10⁹ floor-divided by the
    token total; ilog2 = floor(log2(n)), exact for n < 2⁴⁰ in both
    engines), so the oracle hash-matches — a float ln() pipeline cannot be
    hash-compared cross-engine (libm last-ulp differences hit floor/round
    boundaries).

    Shape: one (word) groupBy for the frequency table, one join of the
    token stream against it (broadcast-eligible — vocabularies are small
    relative to corpora), one per-doc groupBy. All partial-agg shuffles.
    """
    tok = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("word")
    )
    freq = tok.groupBy("word").agg(F.count(F.lit(1)).alias("c"))
    total = freq.agg(F.sum("c").alias("t"))
    scored = (
        tok.join(freq, "word")
        .crossJoin(F.broadcast(total))
        .withColumn("_ppb", F.expr("(c * 1000000000L) div t"))
        .withColumn(
            "_bits",
            (F.floor(F.log2("t")) - F.floor(F.log2("c"))).cast("long"),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("_ppb").alias("_sppb"),
            F.sum("_bits").alias("sum_surprise_bits"),
        )
        .withColumn("avg_word_ppb", F.expr("_sppb div n_words"))
        .select(id_col, "n_words", "avg_word_ppb", "sum_surprise_bits")
    )


def _ngram_stream(
    df: DataFrame, id_col: Optional[str], text_col: str, n: int
) -> DataFrame:
    """([id,] w1, ..., wn) — one row per run of n adjacent words. The
    n-gram array is built inside the scan stage (sequence+element_at, zero
    shuffle); docs shorter than n words emit nothing (sequence(0, -1) would
    count DOWN — the same guard as remove_shared_ngrams)."""
    bound = df.withColumn("_words", F.split(F.col(text_col), " "))
    words = F.col("_words")
    names = [f"w{k}" for k in range(1, n + 1)]
    grams = F.transform(
        F.sequence(F.lit(0), F.size(words) - F.lit(n)),
        lambda i: F.struct(*[
            F.element_at(words, i + k).alias(w) for k, w in enumerate(names, 1)
        ]),
    )
    keep = [F.col(id_col)] if id_col is not None else []
    return (
        bound.where(F.size(words) >= n)
        .select(*keep, F.explode(grams).alias("_g"))
        .select(
            *([id_col] if id_col is not None else []),
            *[F.col(f"_g.{w}").alias(w) for w in names],
        )
    )


def train_bigram_lm(
    df: DataFrame, text_col: str = "text", scale: int = 1_000_000
) -> DataFrame:
    """Corpus bigram language model: ``(w1, w2, c2, c1, cond_ppm, bits)``
    where ``c2 = count(w1 w2)``, ``c1 = Σ_w c(w1 w)`` (the left-context
    total), ``cond_ppm = (c2·scale) div c1`` — the integer-quantized
    conditional probability P(w2|w1) — and ``bits = ilog2(c1) − ilog2(c2)``
    (quantized −log₂ P, the surprisal). All integer-exact, so scoring is
    hash-reproducible cross-engine (see with_unigram_scores on why float
    ln() isn't); ilog2 is computed as ``length(bin(x)) - 1`` rather than
    ``floor(log2(x))`` because float log2 rounds differently across engines
    at exact powers of two (log(8)/log(2) can land just below 3.0).

    Shape: one (w1, w2) groupBy with map-side partials, then a w1-keyed
    whole-partition window for the left totals — two shuffles total, both
    on model-sized (vocab²-bounded) data, independent of corpus width. At
    100 TB the model is trained once (typically on a reference slice) and
    reused; pass the result to with_bigram_lm_scores(model=...).
    """
    from pyspark.sql import Window

    big = _ngram_stream(df, None, text_col, 2)
    c2 = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    m = c2.withColumn("c1", F.sum("c2").over(Window.partitionBy("w1")))
    return m.select(
        "w1",
        "w2",
        "c2",
        "c1",
        F.expr(f"(c2 * {int(scale)}L) div c1").alias("cond_ppm"),
        (F.length(F.bin("c1")) - F.length(F.bin("c2"))).cast("long").alias("bits"),
    )


def with_bigram_lm_scores(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    model: Optional[DataFrame] = None,
    scale: int = 1_000_000,
) -> DataFrame:
    """CCNet-style LM quality scoring, one step up from the unigram signal:
    each document is scored by its bigrams' conditional probabilities under
    a corpus bigram model (perplexity filtering without an external KenLM).
    Per document:

    * ``n_bigrams`` — adjacent-pair count (≥1; sub-2-word docs drop out);
    * ``avg_cond_ppm`` — mean integer-quantized P(w2|w1): high = fluent /
      formulaic, low = incoherent word soup;
    * ``sum_bigram_bits`` — Σ quantized surprisal, the −log₂-perplexity
      stand-in (sort ascending per token for "most predictable" docs).

    ``model`` defaults to a model trained on ``df`` itself (self-scoring,
    what the oracle verifies); the 100 TB flow trains once on a trusted
    reference corpus via train_bigram_lm and scores against it here.
    Shape: one doc→model equi join, which Spark broadcasts while the
    (vocab²-bounded) model is under its broadcast threshold and shuffles
    on (w1, w2) past it, then one per-doc groupBy.
    """
    if model is None:
        model = train_bigram_lm(df, text_col=text_col, scale=scale)
    mside = model.select("w1", "w2", "cond_ppm", "bits")
    big = _ngram_stream(df, id_col, text_col, 2)
    scored = big.join(mside, ["w1", "w2"])
    return (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("cond_ppm").alias("_sppm"),
            F.sum("bits").alias("sum_bigram_bits"),
        )
        .withColumn("avg_cond_ppm", F.expr("_sppm div n_bigrams"))
        .select(id_col, "n_bigrams", "avg_cond_ppm", "sum_bigram_bits")
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    budget: int,
    text_col: str = "text",
    tokenizer: str = "ws",
    n_buckets: int = 0,
    merges=None,
) -> DataFrame:
    """Training-sequence packing: documents are concatenated in ``id_col``
    order and split into fixed ``budget``-token sequences; returns
    (id, n_tokens, cum_before, seq_id, offset_in_seq) where ``seq_id`` is
    the sequence the document STARTS in (a document longer than the
    remaining space spills into subsequent sequences — the standard
    concat-then-chunk semantics) and ``cum_before`` is the exclusive
    global token cumsum.

    Scale shape: the global cumsum is NOT a single-reducer window — ids
    are cut into ``n_buckets`` CONTIGUOUS LOGICAL ranges computed from
    one min/max aggregation (bucket = (id−min)·K/(max−min+1), a pure
    function of the id — physical-partition-independent, unlike
    spark_partition_id which AQE re-maps), per-bucket totals collect as K
    driver longs, and the cumsum is offset[bucket] + an in-bucket window.
    Deterministic on any cluster size and exactly SQL-replayable (the
    oracle uses a plain window cumsum)."""
    from pyspark.sql import Window

    if tokenizer == "bpe":
        from .bpe import bpe_count_column

        n_tok = bpe_count_column(F.col(text_col), merges)
    elif tokenizer == "ws":
        n_tok = F.size(F.split(F.col(text_col), " ")).cast("long")
    else:
        raise ValueError("tokenizer must be 'ws' or 'bpe'")
    counts = df.select(F.col(id_col), n_tok.alias("n_tokens"))
    from pyspark.sql import types as _T

    id_type = counts.schema[id_col].dataType
    if not isinstance(id_type, (_T.ByteType, _T.ShortType, _T.IntegerType,
                                _T.LongType)):
        raise ValueError(
            f"pack_sequences needs an integer id column for the logical "
            f"range buckets; got {id_type.simpleString()} — register a "
            f"surrogate id first (IDRegistry)"
        )

    k = n_buckets or max(df.sparkSession.sparkContext.defaultParallelism, 1)
    lo_hi = counts.agg(
        F.min(id_col).alias("lo"), F.max(id_col).alias("hi")
    ).collect()[0]
    if lo_hi["lo"] is None:
        return counts.withColumn("cum_before", F.lit(0).cast("long")) \
            .withColumn("seq_id", F.lit(0).cast("long")) \
            .withColumn("offset_in_seq", F.lit(0).cast("long"))
    lo, hi = int(lo_hi["lo"]), int(lo_hi["hi"])
    span = hi - lo + 1
    bucket = (((F.col(id_col) - F.lit(lo)) * F.lit(k) - F.pmod(
        (F.col(id_col) - F.lit(lo)) * F.lit(k), F.lit(span)
    )) / F.lit(span)).cast("long")
    b = counts.withColumn("_b", bucket)
    totals = {
        r["_b"]: r["_t"]
        for r in b.groupBy("_b").agg(F.sum("n_tokens").alias("_t")).collect()
    }
    offsets = {}
    acc = 0
    for bid in sorted(totals):
        offsets[bid] = acc
        acc += totals[bid]
    w = Window.partitionBy("_b").orderBy(id_col) \
        .rowsBetween(Window.unboundedPreceding, -1)
    cum_local = F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long")
    if len(offsets) <= 100:
        off = F.lit(0).cast("long")
        for bid, o in offsets.items():
            off = F.when(F.col("_b") == bid, F.lit(o).cast("long")).otherwise(off)
        out = b.withColumn("cum_before", off + cum_local)
    else:
        # a chained CASE is O(K) expression DEPTH — pathological plan
        # (analysis + codegen) for n_buckets ≫ 100; a broadcast-joined
        # (bucket, offset) frame keeps the plan flat and the join
        # shuffle-free at any K
        off_df = df.sparkSession.createDataFrame(
            [(int(bid), int(o)) for bid, o in offsets.items()],
            "_b long, _boff long",
        )
        out = (
            b.join(F.broadcast(off_df), "_b", "left")
            .withColumn(
                "cum_before",
                F.coalesce(F.col("_boff"), F.lit(0)).cast("long") + cum_local,
            )
        )
    seq = ((F.col("cum_before") - F.pmod(F.col("cum_before"), F.lit(budget)))
           / F.lit(budget)).cast("long")
    return (
        out.withColumn("seq_id", seq)
        .withColumn("offset_in_seq",
                    F.pmod(F.col("cum_before"), F.lit(budget)).cast("long"))
        .select(id_col, "n_tokens", "cum_before", "seq_id", "offset_in_seq")
    )


def pack_sequences_by_key(
    df: DataFrame,
    key_col: str,
    budget: int,
    text_col: str = "text",
    tokenizer: str = "ws",
    n_buckets: int = 0,
    registry=None,
):
    """One-call packing for corpora keyed by STRINGS (urls, uuids):
    registers the keys in an :class:`~data2neo_spark.core.registry.
    IDRegistry` (sorted assignment — deterministic and SQL-replayable),
    packs on the surrogate ids, and joins the key back. This is the
    single 100 TB code path for "pack this crawl by url": pass a
    path-backed registry to keep ids stable across daily batches (new
    keys extend monotonically, so packing order of existing docs is
    reproducible).

    Returns (key, sid, n_tokens, cum_before, seq_id, offset_in_seq) and
    the registry used (``(DataFrame, IDRegistry)`` tuple) so callers can
    persist/reuse it."""
    from ..core.registry import IDRegistry

    reg = registry if registry is not None else IDRegistry(df.sparkSession)
    reg.register(df.select(F.col(key_col)), key_col)
    keyed = reg.lookup(df.select(key_col, text_col), key_col)
    packed = pack_sequences(
        keyed, "sid", budget, text_col=text_col, tokenizer=tokenizer,
        n_buckets=n_buckets,
    )
    back = reg.table.select(F.col("sid"), F.col("key").alias(key_col))
    out = packed.join(back, "sid").select(
        key_col, "sid", "n_tokens", "cum_before", "seq_id", "offset_in_seq"
    )
    return out, reg


# unicode whitespace class shared with the SQL oracle: \s plus NBSP,
# ogham, en/em-family, zero-width, narrow/medium NBSP, ideographic, BOM
_WS_CLASS = ("[\\s" + "".join(
    chr(c) for c in [0x00A0, 0x1680, *range(0x2000, 0x200C),
                     0x202F, 0x205F, 0x3000, 0xFEFF]
) + "]+")


def normalize_text(df: DataFrame, text_col: str = "text",
                   out_col: str = "text_norm") -> DataFrame:
    """Unicode cleanup — the ftfy-lite normalization pass crawl text gets
    before tokenization: NFC composition (combining marks → precomposed),
    control characters stripped, all unicode whitespace (NBSP, zero-width,
    ideographic space, tabs) collapsed to single spaces, trimmed.

    NFC runs in an Arrow pandas UDF (python ``unicodedata`` — verified
    codepoint-identical to DuckDB's ``nfc_normalize``, so the oracle
    replays it); the regex steps are native Columns with Java∩RE2-safe
    classes."""
    @F.pandas_udf("string")
    def _nfc(s):
        import unicodedata

        return s.map(lambda t: unicodedata.normalize("NFC", t)
                     if t is not None else None)

    c = _nfc(F.col(text_col))
    c = F.regexp_replace(c, r"\p{Cc}", " ")
    c = F.regexp_replace(c, _WS_CLASS, " ")
    return df.withColumn(out_col, F.trim(c))


def train_trigram_lm(
    df: DataFrame, text_col: str = "text", scale: int = 1_000_000
) -> DataFrame:
    """Corpus trigram model ``(w1, w2, w3, c3, c12, cond_ppm)`` with
    ``cond_ppm = (c3·scale) div c12`` the integer-quantized
    P(w3|w1,w2) — same integer-exact contract as train_bigram_lm.
    Shape: one (w1,w2,w3) groupBy + one (w1,w2)-partitioned window for
    context totals; both on model-sized data."""
    from pyspark.sql import Window

    tri = _ngram_stream(df, None, text_col, 3)
    c3 = tri.groupBy("w1", "w2", "w3").agg(F.count(F.lit(1)).alias("c3"))
    m = c3.withColumn("c12", F.sum("c3").over(Window.partitionBy("w1", "w2")))
    return m.select(
        "w1", "w2", "w3", "c3", "c12",
        F.expr(f"(c3 * {int(scale)}L) div c12").alias("cond_ppm"),
    )


def with_trigram_lm_scores(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    trigram_model: Optional[DataFrame] = None,
    bigram_model: Optional[DataFrame] = None,
    train_on: Optional[DataFrame] = None,
    scale: int = 1_000_000,
) -> DataFrame:
    """Stupid-backoff trigram scoring (Brants et al. 2007, public):
    each document trigram scores

    * P(w3|w1,w2) from the trigram model when the triple was seen,
    * else 0.4 · P(w3|w2) from the bigram model (integer form:
      ``(2·cond_ppm) div 5``),
    * else the floor 1 ppm (out-of-vocabulary continuation).

    Per document: ``(id, n_trigrams, avg_score_ppm, n_backoff_bigram,
    n_backoff_floor)`` — the backoff counts measure how far the doc
    strays from the training slice (train on a trusted corpus via
    ``train_on``/explicit models; score the crawl). All integer
    arithmetic — hash-reproducible cross-engine.

    Shape: two left joins (trigram then bigram model, both
    vocab-bounded; Spark broadcasts each under its broadcast threshold and
    shuffles past it) + one per-doc groupBy. The corpus side never
    shuffles when both models broadcast.
    """
    base = train_on if train_on is not None else df
    if trigram_model is None:
        trigram_model = train_trigram_lm(base, text_col=text_col, scale=scale)
    if bigram_model is None:
        bigram_model = train_bigram_lm(base, text_col=text_col, scale=scale)

    t = trigram_model.select("w1", "w2", "w3", F.col("cond_ppm").alias("_p3"))
    b = bigram_model.select(
        F.col("w1").alias("w2"), F.col("w2").alias("w3"),
        F.col("cond_ppm").alias("_p2"),
    )

    tri = _ngram_stream(df, id_col, text_col, 3)
    scored = (
        tri.join(t, ["w1", "w2", "w3"], "left")
        .join(b, ["w2", "w3"], "left")
        .select(
            id_col,
            F.coalesce(
                F.col("_p3"),
                F.expr("(2 * _p2) div 5"),
                F.lit(1).cast("long"),
            ).alias("_score"),
            F.col("_p3").isNull().cast("long").alias("_bo"),
            (F.col("_p3").isNull() & F.col("_p2").isNull()).cast("long").alias("_floor"),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_trigrams"),
            F.sum("_score").alias("_ssum"),
            (F.sum("_bo") - F.sum("_floor")).alias("n_backoff_bigram"),
            F.sum("_floor").alias("n_backoff_floor"),
        )
        .select(
            id_col,
            "n_trigrams",
            F.expr("_ssum div n_trigrams").alias("avg_score_ppm"),
            "n_backoff_bigram",
            "n_backoff_floor",
        )
    )


def with_readability(
    df: DataFrame, id_col: str, text_col: str = "text"
) -> DataFrame:
    """Flesch-Kincaid grade-level readability, integer-quantized:
    ``fk_grade_x100 = (39·W) div S + (1180·Sy) div W − 1559`` (the
    standard 0.39·W/S + 11.8·Sy/W − 15.59 scaled ×100 with floor
    division — engine-portable longs, no float drift). Heuristics, all
    Column-native: words = non-empty whitespace tokens (min 1);
    sentences = runs of ``[.!?]`` (min 1); syllables = vowel-group runs
    per word, min 1 per word (covers vowelless tokens).

    Zero-shuffle scan projection; a quality gate alongside the
    Gopher/C4 battery (very low grade ≈ fragmented boilerplate, very
    high ≈ run-on garbage)."""
    words = F.filter(F.split(F.col(text_col), " "), lambda w: w != "")
    n_words = F.greatest(F.lit(1), F.size(words)).cast("long")
    n_sent = F.greatest(
        F.lit(1),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit("[.!?]+"), F.lit(0))),
    ).cast("long")
    syl = F.aggregate(
        F.transform(
            words,
            lambda w: F.greatest(
                F.lit(1),
                F.size(F.regexp_extract_all(w, F.lit("[aeiouyAEIOUY]+"), F.lit(0))),
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    out = df.select(
        F.col(id_col),
        n_sent.alias("n_sentences"),
        n_words.alias("n_words"),
        syl.alias("n_syllables"),
    )
    return out.withColumn(
        "fk_grade_x100",
        F.expr("(39 * n_words) div n_sentences "
               "+ (1180 * n_syllables) div n_words - 1559").cast("long"),
    )


def mention_contexts(
    df: DataFrame,
    terms,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 3,
) -> DataFrame:
    """KWIC (keyword-in-context) extraction: one row per occurrence of
    each dictionary term — ``(id, surface, pos, left_ctx, right_ctx)``
    with ±``window`` words of context. The training-pair generator for
    entity linkers/disambiguators (surface + local context → entity),
    the per-occurrence counterpart of pipeline.webtext.detect_mentions
    (which collapses to distinct doc–term pairs).

    Column-native: ONE posexplode of the token array (the array rides
    along, so contexts are in-row ``slice`` calls — no self-join back
    to the document), term filter pushed into the explode output.
    Zero shuffles; dictionary inlines as a literal set (detect_mentions
    joins dictionaries too big to inline).
    """
    if not terms:
        raise ValueError("terms must be non-empty")
    words = F.split(F.col(text_col), " ")
    base = df.select(F.col(id_col), words.alias("_ws")).select(
        id_col, "_ws", F.posexplode("_ws").alias("pos", "surface")
    )
    hit = base.where(F.col("surface").isin(list(terms)))
    left_start = F.greatest(F.lit(1), F.col("pos") + 1 - F.lit(window))
    left_len = F.least(F.lit(window), F.col("pos"))
    right_start = F.col("pos") + 2
    return hit.select(
        id_col,
        "surface",
        F.col("pos").cast("long").alias("pos"),
        F.array_join(F.slice("_ws", left_start, left_len), " ").alias("left_ctx"),
        F.array_join(
            F.slice("_ws", right_start, F.lit(window)), " "
        ).alias("right_ctx"),
    )
