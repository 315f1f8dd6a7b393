"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup.

Scale notes (the point of this module):
* exact dedup is ONE hash-shuffle (groupBy md5) — map-side partial agg free;
* n-gram Jaccard generates candidates from document-frequency-capped
  shingles (a shingle shared by k docs materializes k² candidate rows, so
  hot shingles are excluded from candidate generation — never from the
  exact verification);
* MinHash+LSH banding turns all-pairs into per-bucket joins; candidate pairs
  are verified with exact Jaccard afterwards (classic two-phase);
* SimHash blocking derives its chunk count from ``max_hamming`` via the
  pigeonhole principle, so recall is guaranteed, not approximate;
* all of it is native Column expressions — no python in the hot path.

Hash family: every signature here is built from ``md5_hash60`` — the leading
60 bits of md5 — NOT xxhash64, deliberately: md5 is bit-identical across
engines, so the DuckDB oracle replays the full MinHash/SimHash pipeline and
verifies candidates + verdicts value-for-value (no "trust me" rows-only
checks). The md5-per-shingle cost is paid ONCE; the 64 MinHash functions are
derived from it with a cheap affine family (a_i·h + b_i mod p).
"""

from __future__ import annotations

from typing import List, Optional, Tuple

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from ..core.types import observed_value
from . import rounds
from .rounds import persist
from .text import word_shingles

# affine hash-family moduli: largest prime < 2^30 (keeps a_i * h < 2^60,
# no 64-bit overflow) and the Mersenne prime 2^31-1
P30 = 1_073_741_789
P31 = 2_147_483_647


def md5_hash60(col: Column) -> Column:
    """First 60 bits of md5 as a non-negative long.

    Cross-engine reproducible: DuckDB equivalent is
    ``CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT)``."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def affine_coeffs(i: int) -> Tuple[int, int]:
    """Seeded coefficients of the i-th MinHash function (pure arithmetic so
    the SQL oracle derives the same values from i)."""
    a = ((2 * i + 1) * 2654435761) % P30
    b = ((i + 12345) * 1103515245) % P30
    return a, b


def exact_duplicates(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Group identical texts by md5; returns (h, keeper_id, n_dups)."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("h"))
        .agg(
            F.min(F.col(id_col)).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def _shingle_expr(words: Column, n: int) -> Column:
    """Array of n-word shingles over a BOUND word-array column (bind first —
    higher-order lambdas get no CSE, see operators/text.word_shingles)."""
    return F.transform(
        F.sequence(F.lit(0), F.size(words) - F.lit(n)),
        lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
    )


def _sig_frame(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int,
    num_hashes: Optional[int] = None,
    bands: Optional[int] = None,
    with_shingles: bool = False,
    with_sig: bool = False,
) -> DataFrame:
    """ONE Arrow pass over the corpus producing any combination of
    ``sh_arr`` (distinct shingle array), ``sig`` (MinHash signature) and
    ``_buckets`` (per-band bucket hashes) per document. Rows with NULL
    text or fewer than ``shingle_n`` words are dropped — identical to the
    Column formulation's ``where(size(words) >= n)``.

    This replaces the interpreted higher-order-function pipeline (one
    ``transform`` per affine hash — no whole-stage codegen, an array
    allocation per lambda) with vectorized numpy over md5 base hashes
    (guide §4.2); values are bit-identical: md5 → leading 60 bits → mod
    P30, then ``min((aᵢ·h + bᵢ) mod P31)`` in int64 (no overflow:
    a·h < 2^60), band bucket = md5 of the comma-joined signature slice."""
    import numpy as np  # noqa: F401 — driver-side presence check

    from .text import _ID_PD_DTYPE, _shingle_rows

    if bands and not num_hashes:
        raise ValueError("_sig_frame: bands requires num_hashes")
    id_type = df.schema[id_col].dataType.simpleString()
    id_dtype = _ID_PD_DTYPE.get(id_type, "object")
    if num_hashes:
        coeff = [affine_coeffs(i) for i in range(num_hashes)]
        rpb = (num_hashes // bands) if bands else 0
    fields = [f"{id_col} {id_type}"]
    if with_shingles:
        fields.append("sh_arr array<string>")
    if with_sig:
        fields.append("sig array<bigint>")
    if bands:
        fields.append("_buckets array<bigint>")
    schema = ", ".join(fields)

    def fn(batches):
        import hashlib

        import numpy as _np
        import pandas as _pd

        md5 = hashlib.md5
        if num_hashes:
            A = _np.array([c[0] for c in coeff], dtype=_np.int64)[:, None]
            B = _np.array([c[1] for c in coeff], dtype=_np.int64)[:, None]
        for pdf in batches:
            ids, shs, sigs, buckets = [], [], [], []
            for did, text in zip(pdf[id_col].tolist(), pdf[text_col].tolist()):
                if text is None:
                    continue
                sh = _shingle_rows(text, shingle_n)
                if sh is None:
                    continue
                ids.append(did)
                if with_shingles:
                    shs.append(sh)
                if num_hashes:
                    base = _np.fromiter(
                        (
                            (int.from_bytes(
                                md5(s.encode("utf-8")).digest()[:8], "big"
                            ) >> 4) % P30
                            for s in sh
                        ),
                        dtype=_np.int64,
                        count=len(sh),
                    )
                    mins = ((A * base + B) % P31).min(axis=1).tolist()
                    if with_sig:
                        sigs.append(mins)
                    if bands:
                        buckets.append([
                            int.from_bytes(
                                md5(
                                    ",".join(
                                        map(str, mins[b * rpb:(b + 1) * rpb])
                                    ).encode("utf-8")
                                ).digest()[:8],
                                "big",
                            ) >> 4
                            for b in range(bands)
                        ])
            data = {id_col: _pd.Series(ids, dtype=id_dtype)}
            if with_shingles:
                data["sh_arr"] = _pd.Series(shs, dtype="object")
            if with_sig:
                data["sig"] = _pd.Series(sigs, dtype="object")
            if bands:
                data["_buckets"] = _pd.Series(buckets, dtype="object")
            yield _pd.DataFrame(data)

    return df.select(id_col, text_col).mapInPandas(fn, schema)


def contamination_check(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    bench_text_col: Optional[str] = None,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents that share ANY word
    n-gram with a benchmark/eval set (exact n-gram membership — the
    standard train/test contamination test for LLM corpora). Returns one
    row per CONTAMINATED document:
    (id, n_hits, n_shingles, contaminated_frac) where n_hits is the number
    of the document's distinct n-grams found in the benchmark set.

    Scale shape: the benchmark side is small by definition (eval suites are
    thousands of docs, the corpus is billions), so its distinct n-gram set
    is BROADCAST into a hash join against the corpus n-gram stream; the
    only corpus-wide shuffle is the per-doc groupBy. No self-join and no
    all-pairs plan anywhere (plan-gated in tests/test_plans.py). For a
    benchmark too large to broadcast, pass the pre-exploded n-grams through
    the same join without the hint and let AQE pick the strategy.

    The reference has no such operator — first-class training-pipeline
    extension (SURVEY §2 additions)."""
    btext = bench_text_col or text_col
    bbound = benchmark.withColumn("_bwords", F.split(F.col(btext), " "))
    bwords = F.col("_bwords")
    bench_sh = (
        bbound.where(F.size(bwords) >= n)
        .select(F.explode(F.array_distinct(_shingle_expr(bwords, n))).alias("shingle"))
        .distinct()
    )
    corp = _sig_frame(corpus, id_col, text_col, n, with_shingles=True)
    return (
        corp.select(
            F.col(id_col),
            F.size("sh_arr").cast("long").alias("_n_sh"),
            F.explode("sh_arr").alias("shingle"),
        )
        .join(F.broadcast(bench_sh), "shingle")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.first("_n_sh").alias("n_shingles"),
        )
        .withColumn(
            "contaminated_frac",
            F.round(F.col("n_hits").cast("double") / F.col("n_shingles"), 4),
        )
    )


def _verified_jaccard(
    cand: DataFrame,
    a_arrays: DataFrame,
    b_arrays: DataFrame,
    id_col: str,
    threshold: float,
) -> DataFrame:
    """Exact Jaccard over candidate pairs: (id_a, id_b, jaccard ≥ threshold).

    Verification is pair-local: each candidate doc's distinct-shingle ARRAY
    is joined to the pair list (two equi joins, candidate-bounded build
    side), and the intersection is computed per pair with array_intersect —
    no shingle-level self-join, no corpus-wide shuffle, one corpus scan.
    A hot shingle shared by k docs therefore never materializes k² rows
    here; the candidate stage is the only place pair blowup can occur, and
    it is capped/bucketed by construction.

    ``a_arrays`` / ``b_arrays``: the (id, sh_arr) frames of the ``id_a``
    and ``id_b`` documents, built by the candidate stage's
    :func:`_sig_frame` pass, so the shingle pass is paid once. Self-dedup
    passes one frame for both sides; it is probed twice and a mapInPandas
    plan gets no ReuseExchange dedup, so that frame comes cached."""
    # no hint: Spark broadcasts the bare pair list when its size estimate
    # is under autoBroadcastJoinThreshold and shuffles it otherwise (at
    # low thresholds the candidate list is O(corpus)); AQE promotes either
    # join at run time when a side turns out small
    pairs = cand.select("id_a", "id_b")
    joined = (
        a_arrays.select(F.col(id_col).alias("id_a"),
                        F.col("sh_arr").alias("_sa"))
        .join(pairs, "id_a")
        .join(b_arrays.select(F.col(id_col).alias("id_b"),
                              F.col("sh_arr").alias("_sb")), "id_b")
    )
    # bind the intersection size once: it appears in numerator AND union,
    # and higher-order exprs get no CSE
    joined = joined.withColumn(
        "_inter", F.size(F.array_intersect(F.col("_sa"), F.col("_sb")))
    )
    union = F.size(F.col("_sa")) + F.size(F.col("_sb")) - F.col("_inter")
    return (
        joined.withColumn(
            "jaccard", F.round(F.col("_inter").cast("double") / union, 4)
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_id: Optional[int] = None,
    max_shingle_df: Optional[int] = None,
) -> DataFrame:
    """Document pairs with n-gram Jaccard ≥ threshold.

    (id_a, id_b, jaccard) with id_a < id_b, jaccard rounded to 4dp.

    ``max_shingle_df``: candidate pairs are generated only from shingles
    shared by at most this many documents — the scale guard (a shingle in k
    docs emits k² candidate rows; without a cap one boilerplate shingle can
    re-create the all-pairs join). Verification still uses ALL shingles of
    the candidate documents, so the reported jaccard is exact; only pairs
    whose ENTIRE overlap consists of ultra-hot shingles are missed, and
    those are boilerplate, not duplicates. None = unbounded (exact
    recall; only safe on small/capped inputs).
    """
    from .text import word_shingle_counts

    if max_id is not None:
        df = df.where(F.col(id_col) < max_id)
    sh = word_shingles(df, id_col, text_col, n)

    # grouped-pairs candidate generation + EXACT intersection counting in
    # the same pair aggregation: ONE shuffle of the shingle frame
    # (groupBy shingle), pairs emitted array-side from the capped id lists,
    # then groupBy(pair).count() = the pair's shared-RARE-shingle count.
    grp = sh.groupBy("shingle").agg(
        F.array_sort(F.collect_list(F.col(id_col))).alias("_ids")
    )
    rare = grp.where(F.size("_ids") >= 2)
    if max_shingle_df is not None:
        rare = rare.where(F.size("_ids") <= max_shingle_df)
    inter_rare = (
        rare.select(F.explode(_pairs_expr("_ids")).alias("_p"))
        .select(F.col("_p.id_a"), F.col("_p.id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("_inter_rare"))
    )

    if max_shingle_df is not None:
        # exactness correction: a candidate pair may ALSO share shingles
        # hotter than the cap. Hot shingles are few and each document
        # carries few of them, so per-doc hot-membership ARRAYS stay tiny —
        # intersecting those per pair restores the exact count without ever
        # enumerating a hot shingle's k² pairs.
        hot_members = (
            grp.where(F.size("_ids") > max_shingle_df)
            .select("shingle", F.explode("_ids").alias(id_col))
            .groupBy(id_col)
            .agg(F.collect_list("shingle").alias("_hot"))
        )
        pairs = (
            inter_rare
            .join(hot_members.select(F.col(id_col).alias("id_a"),
                                     F.col("_hot").alias("_hot_a")),
                  "id_a", "left")
            .join(hot_members.select(F.col(id_col).alias("id_b"),
                                     F.col("_hot").alias("_hot_b")),
                  "id_b", "left")
            .withColumn(
                "_inter",
                F.col("_inter_rare")
                + F.when(
                    F.col("_hot_a").isNotNull() & F.col("_hot_b").isNotNull(),
                    F.size(F.array_intersect(F.col("_hot_a"), F.col("_hot_b"))),
                ).otherwise(F.lit(0)),
            )
        )
    else:
        pairs = inter_rare.withColumn("_inter", F.col("_inter_rare"))

    sizes = word_shingle_counts(df, id_col, text_col, n)
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("_na"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("_nb"))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("_inter").cast("double")
                / (F.col("_na") + F.col("_nb") - F.col("_inter")),
                4,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, sig array<long>) MinHash signatures over word shingles.

    ZERO-shuffle: a document's shingles live in its own row, so the
    signature is per-row array math — computed in ONE vectorized Arrow
    pass (:func:`_sig_frame`; the old per-hash higher-order ``transform``
    lambdas ran interpreted, no whole-stage codegen — guide §4.2). The
    family is SQL-reproducible — the DuckDB oracle replays identical
    signatures."""
    return _sig_frame(
        df, id_col, text_col, shingle_n, num_hashes=num_hashes, with_sig=True
    ).select(F.col(id_col), F.col("sig"))


def _pairs_expr(ids_col: str) -> Column:
    """All ordered pairs from a sorted id-array column, emitted array-side
    (the grouped-pairs pattern — the group size must be bounded by the
    caller, since a k-id group emits k²/2 structs in one row)."""
    return F.flatten(
        F.transform(
            F.sequence(F.lit(0), F.size(ids_col) - 2),
            lambda i: F.transform(
                F.slice(F.col(ids_col), i + 2, F.size(ids_col)),
                lambda b: F.struct(
                    F.get(F.col(ids_col), i).alias("id_a"), b.alias("id_b")
                ),
            ),
        )
    )


def _star_pairs_expr(ids_col: str) -> Column:
    """Star pairs from a sorted id-array: every member paired to the bucket
    MIN id — O(k) structs instead of O(k²). At the CANDIDATE stage the
    star keeps the bucket connected, so :func:`duplicate_clusters` over
    the raw candidates recovers exactly the same components as all-pairs
    emission. After a verification filter (Jaccard/Hamming threshold) the
    equivalence no longer holds: a star edge can fail the threshold where
    member-to-member edges would have passed, splitting a true cluster —
    which is why the verified-pair APIs leave the cap opt-in."""
    ids = F.col(ids_col)
    return F.transform(
        F.slice(ids, 2, F.size(ids)),
        lambda b: F.struct(F.get(ids, 0).alias("id_a"), b.alias("id_b")),
    )


def _capped_pairs(ids_col: str, max_bucket_size: Optional[int]) -> Column:
    """Pair-emission expression with the degenerate-bucket guard: all pairs
    up to ``max_bucket_size`` members, star pairs above it. A boilerplate
    bucket of 10⁵ identical docs (routine at Common-Crawl scale) emits 10⁵
    structs in one row instead of 5·10⁹ — row width is linear in bucket
    size, never quadratic. ``None`` disables the cap (exact pairwise
    recall; only safe on exact-deduped or small inputs)."""
    if max_bucket_size is None:
        return _pairs_expr(ids_col)
    return F.when(
        F.size(ids_col) <= max_bucket_size, _pairs_expr(ids_col)
    ).otherwise(_star_pairs_expr(ids_col))


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    max_bucket_size: Optional[int] = 1000,
    observation: Optional[Observation] = None,
) -> DataFrame:
    """LSH banding: docs sharing any band bucket → candidate pairs
    (id_a, id_b, n_shared_bands).

    Band buckets are derived array-side straight from the per-row base
    hashes (each affine min feeds exactly ONE band hash — routing the
    banding through the signature COLUMN lets CollapseProject inline the
    whole 64-transform signature into the per-band lambda, re-evaluating it
    per band; measured 5×). Candidates come from ONE groupBy(band, bucket)
    with array-side pair emission — no self-join, so the signature pipeline
    runs once, not once per join side.

    ``max_bucket_size`` is the degenerate-bucket guard (see
    :func:`_capped_pairs`): buckets above it emit star pairs to the bucket
    min id — component-equivalent under :func:`duplicate_clusters`, O(k)
    row width instead of O(k²). No-silent-caps: pass an ``observation`` to
    get ``clipped_buckets`` / ``max_bucket`` metrics with the job (the cap
    itself never changes cluster membership, only which pairwise edges are
    listed)."""
    assert num_hashes % bands == 0
    banded = _banded_frame(df, id_col, text_col, num_hashes, bands, shingle_n)
    return _candidates_from_banded(banded, id_col, max_bucket_size, observation)


def _candidates_from_banded(
    banded: DataFrame,
    id_col: str,
    max_bucket_size: Optional[int],
    observation: Optional[Observation],
) -> DataFrame:
    """Shared candidate stage over a (id, band, bucket) frame: ONE
    groupBy(band, bucket) with array-side pair emission, then the
    per-pair shared-band count."""
    grp = (
        banded.groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_list(F.col(id_col))).alias("_ids"))
        .where(F.size("_ids") >= 2)
    )
    if observation is not None:
        cap = max_bucket_size if max_bucket_size is not None else (1 << 62)
        grp = grp.observe(
            observation,
            F.sum((F.size("_ids") > cap).cast("long")).alias("clipped_buckets"),
            F.max(F.size("_ids")).alias("max_bucket"),
        )
    return (
        grp.select(F.explode(_capped_pairs("_ids", max_bucket_size)).alias("_p"))
        .select(F.col("_p.id_a"), F.col("_p.id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


def minhash_lsh_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    threshold: float = 0.7,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    max_bucket_size: Optional[int] = None,
) -> DataFrame:
    """Candidates from LSH, verified with exact Jaccard ≥ threshold.

    ``max_bucket_size`` defaults to ``None`` here (unlike the candidate
    API): in a VERIFIED output, star-pairing a clipped bucket can drop
    member-to-member edges that would pass the threshold while the star
    edges fail it, silently splitting true clusters. Web-scale corpora
    with degenerate boilerplate buckets should pass an explicit cap (and
    ideally exact-dedup first) — the clipping is then observable via
    :func:`minhash_lsh_candidates`' ``observation`` hook."""
    assert num_hashes % bands == 0
    # ONE Arrow pass computes both the band buckets (candidate stage) and
    # the shingle arrays (verification stage); persisted because the two
    # stages and both pair-join sides probe it
    sig = persist(_sig_frame(
        df, id_col, text_col, shingle_n,
        num_hashes=num_hashes, bands=bands, with_shingles=True,
    ))
    banded = sig.select(
        F.col(id_col), F.posexplode("_buckets").alias("band", "bucket")
    )
    cand = _candidates_from_banded(banded, id_col, max_bucket_size, None)
    arrays = sig.select(F.col(id_col), "sh_arr")
    return _verified_jaccard(cand, arrays, arrays, id_col, threshold)


def simhash(df: DataFrame, id_col: str, text_col: str = "text", bits: int = 60) -> DataFrame:
    """SimHash over word tokens: (id, simhash long), default 60 bits.

    Per-bit weighted sums as ``bits`` native aggregations in one groupBy —
    deliberately NOT a per-row higher-order fold: HOF lambdas execute
    interpreted (no whole-stage codegen), and 60 interpreted folds measured
    ~2× slower than the codegen'd hash aggregate despite its shuffle. Token
    hash = md5_hash60, so the signature is bit-identical in the DuckDB
    oracle; 60 bits keep the value non-negative in a signed long (no
    sign-bit special case)."""
    tok = df.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), " ")).alias("word"),
    ).withColumn("h", md5_hash60(F.col("word")))
    aggs = [
        F.sum(
            F.when(
                F.shiftrightunsigned(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(bits)
    ]
    per_bit = tok.groupBy(id_col).agg(*aggs)
    sim = F.lit(0).cast("long")
    for i in range(bits):
        sim = sim + F.when(F.col(f"b{i}") > 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return per_bit.select(F.col(id_col), sim.alias("simhash"))


def _chunk_bounds(bits: int, n_chunks: int) -> List[Tuple[int, int]]:
    """(offset, width) per chunk, distributing bits as evenly as possible."""
    base, extra = divmod(bits, n_chunks)
    bounds = []
    off = 0
    for j in range(n_chunks):
        width = base + (1 if j < extra else 0)
        bounds.append((off, width))
        off += width
    return bounds


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    max_hamming: int = 3,
    bits: int = 60,
    max_bucket_size: Optional[int] = None,
    observation: Optional[Observation] = None,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming.

    Signature = :func:`simhash`; blocking/verification =
    :func:`hamming_near_duplicates` (pigeonhole chunks, exact recall).
    ``max_bucket_size`` is opt-in here (None): in a verified output,
    star-pairing a clipped bucket can split true clusters (star edges may
    exceed ``max_hamming`` where member edges don't) — web-scale callers
    with boilerplate buckets should pass an explicit cap and an
    ``observation`` to surface the clipping."""
    sh = simhash(df, id_col, text_col, bits)
    return hamming_near_duplicates(
        sh, id_col, "simhash", max_hamming=max_hamming, bits=bits,
        max_bucket_size=max_bucket_size, observation=observation,
    )


def hamming_near_duplicates(
    sig: DataFrame,
    id_col: str,
    hash_col: str,
    max_hamming: int = 3,
    bits: int = 60,
    max_bucket_size: Optional[int] = None,
    observation: Optional[Observation] = None,
) -> DataFrame:
    """Pairs of rows whose ``hash_col`` values differ in ≤ ``max_hamming``
    bits — the generic Hamming-blocked join behind SimHash text near-dup
    and pHash image near-dup.

    Blocking: ``max_hamming + 1`` chunks — by pigeonhole, two hashes with
    ≤ max_hamming differing bits MUST agree on at least one chunk, so recall
    is exact while candidates join per chunk bucket instead of all-pairs.
    (A fixed 4×16-bit blocking would silently lose recall for
    max_hamming > 3.) Wider max_hamming ⇒ narrower chunks ⇒ hotter buckets:
    at extreme corpus sizes raise ``bits`` rather than max_hamming.

    ``max_bucket_size``: degenerate-bucket guard — a bucket above the cap
    emits star pairs to its min id (O(k) structs per row instead of O(k²)),
    so a 10⁵-doc boilerplate cluster cannot OOM a task. The cap preserves
    connected components only at the candidate stage; after the
    ``hamming ≤ max_hamming`` filter below, star edges may drop true
    clusters' internal edges — hence the opt-in default. Pass
    ``observation`` to surface ``clipped_buckets`` / ``max_bucket`` with
    the job (no-silent-caps).

    Candidate emission (r6): the uncapped/unobserved path is a codegen'd
    equi self-join per chunk bucket over the PERSISTED signature frame
    (one row per doc — the lightweight proxy, guide §8) instead of
    interpreted per-bucket struct lambdas: a hot 15-bit bucket of k docs
    emits its k² candidates through whole-stage codegen rather than one
    O(k²)-struct array allocation. The Hamming filter runs BEFORE the
    dedup-across-chunks distinct — ``sa``/``sb`` are functions of the id
    pair, so filter-then-distinct is row-identical to
    distinct-then-filter, and the distinct now shuffles only surviving
    pairs (28M candidate rows → the output's size, measured on the
    bench graph). The capped/observed path keeps the grouped-pairs
    emission (the cap and the metrics need the bucket arrays)."""
    n_chunks = max_hamming + 1
    sig = persist(sig)  # probed once per join side / grouping — tiny
    chunks = sig.select(
        F.col(id_col),
        hash_col,
        F.posexplode(
            F.array(*[
                F.shiftrightunsigned(F.col(hash_col), off).bitwiseAND(
                    F.lit((1 << width) - 1)
                )
                for off, width in _chunk_bounds(bits, n_chunks)
            ])
        ).alias("chunk_idx", "chunk"),
    )
    hamming = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    if max_bucket_size is None and observation is None:
        a = chunks.select(
            "chunk_idx", "chunk",
            F.col(id_col).alias("id_a"), F.col(hash_col).alias("sa"),
        )
        b = chunks.select(
            "chunk_idx", "chunk",
            F.col(id_col).alias("id_b"), F.col(hash_col).alias("sb"),
        )
        pairs = (
            a.join(b, ["chunk_idx", "chunk"])
            .where(F.col("id_a") < F.col("id_b"))
        )
        return (
            pairs.withColumn("hamming", hamming)
            .where(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming")
            .distinct()
        )
    # grouped-pairs per chunk bucket; buckets above max_bucket_size fall
    # back to star pairs (linear row width).
    grp = (
        chunks.groupBy("chunk_idx", "chunk")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col(id_col).alias("i"), F.col(hash_col).alias("s"))
                )
            ).alias("_m")
        )
        .where(F.size("_m") >= 2)
    )
    if observation is not None:
        cap = max_bucket_size if max_bucket_size is not None else (1 << 62)
        grp = grp.observe(
            observation,
            F.sum((F.size("_m") > cap).cast("long")).alias("clipped_buckets"),
            F.max(F.size("_m")).alias("max_bucket"),
        )
    all_pair_structs = F.flatten(
        F.transform(
            F.sequence(F.lit(0), F.size("_m") - 2),
            lambda i: F.transform(
                F.slice(F.col("_m"), i + 2, F.size("_m")),
                lambda b: F.struct(
                    F.get(F.col("_m"), i).getField("i").alias("id_a"),
                    b.getField("i").alias("id_b"),
                    F.get(F.col("_m"), i).getField("s").alias("sa"),
                    b.getField("s").alias("sb"),
                ),
            ),
        )
    )
    star_pair_structs = F.transform(
        F.slice(F.col("_m"), 2, F.size("_m")),
        lambda b: F.struct(
            F.get(F.col("_m"), 0).getField("i").alias("id_a"),
            b.getField("i").alias("id_b"),
            F.get(F.col("_m"), 0).getField("s").alias("sa"),
            b.getField("s").alias("sb"),
        ),
    )
    if max_bucket_size is None:
        pair_structs = all_pair_structs
    else:
        pair_structs = F.when(
            F.size("_m") <= max_bucket_size, all_pair_structs
        ).otherwise(star_pair_structs)
    pairs = (
        grp.select(F.explode(pair_structs).alias("_p"))
        .select("_p.id_a", "_p.id_b", "_p.sa", "_p.sb")
    )
    # filter before the cross-chunk distinct (sa/sb are functions of the
    # pair, so the surviving row set is identical) — the distinct then
    # shuffles only pairs that pass the Hamming gate
    return (
        pairs.withColumn("hamming", hamming)
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )


def embedding_near_duplicates_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str = "embedding",
    dim: int = 64,
    threshold: float = 0.9,
    n_planes: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Scale path for embedding near-dup: random-hyperplane buckets, exact
    cosine only within buckets. All-pairs never materializes — at 10^9
    vectors the bucket join is the only shuffle. Recall < 1 by construction
    (tunable via n_planes; near-identical vectors almost always share a
    bucket since they disagree on a plane with prob ≈ angle/π)."""
    from .similarity import cosine_expr, lsh_signature, with_norm

    sig = with_norm(
        lsh_signature(df, vec_col, dim, n_planes, seed), vec_col, dim=dim
    )
    a = sig.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
                   F.col("_norm").alias("na"), "bucket")
    b = sig.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
                   F.col("_norm").alias("nb"), "bucket")
    pairs = a.join(b, "bucket").where(F.col("id_a") < F.col("id_b"))
    cos = cosine_expr("va", "vb", "na", "nb", dim)
    return (
        pairs.withColumn("cos", F.round(cos, 4))
        .where(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
        .distinct()
    )


def embedding_near_duplicates(
    df: DataFrame,
    id_col: str,
    vec_col: str = "embedding",
    threshold: float = 0.9,
    max_id: Optional[int] = None,
) -> DataFrame:
    """Cosine near-dup pairs (id_a, id_b, cos rounded 4dp) ≥ threshold.

    EXACT all-pairs (non-equi nested-loop join) — the oracle/verification
    slice, deliberately gated by ``max_id``; the scale path is
    :func:`embedding_near_duplicates_lsh`."""
    from .similarity import cosine_expr, with_norm

    if max_id is not None:
        df = df.where(F.col(id_col) < max_id)
    n = with_norm(df, vec_col)
    a = n.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
                 F.col("_norm").alias("na"))
    b = n.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
                 F.col("_norm").alias("nb"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    cos = cosine_expr("va", "vb", "na", "nb")
    return (
        pairs.withColumn("cos", F.round(cos, 4))
        .where(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def duplicate_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    checkpoint_dir: Optional[str] = None,
) -> DataFrame:
    """Connected components over a duplicate-pair list → (doc_id,
    cluster_id), cluster_id = the smallest doc id in the component. The
    standard "keep one per duplicate CLUSTER" step after any pairwise dedup
    (pairs are not transitive: a~b, b~c must collapse a,b,c together).

    Algorithm: iterative min-label propagation (hash-to-min). Each round is
    one equi join + one groupBy (both with partial aggregation), then a
    POINTER JUMP (lab ← lab[lab], one self-join), then a single action
    that also yields the convergence count. Labels are monotone
    non-increasing and stay inside their component, so the jump leaves
    the fixpoint unchanged but cuts the rounds from the graph diameter to
    O(log diameter) — adversarial chain-shaped graphs do not degenerate
    (the alternating large-star/small-star of Kiveris et al. 2014 gives
    the same bound with a more intricate edge rewrite). A round reads the
    previous labels twice, so each round's labels are materialized with
    their lineage cut (operators/rounds.py): the plan stays one round
    deep at any depth. Raises ``RuntimeError`` when ``max_iter`` rounds pass without one that
    changes no label: the labels would not be the components yet.

    The whole computation is expressible as a recursive min-reachability
    query, which is exactly how the DuckDB oracle replays it (WITH
    RECURSIVE), so even this iterative operator is value-hash verified.

    ``checkpoint_dir`` makes a long run RESUMABLE (operators/rounds.py):
    each round's label table is written to ``<dir>/labels_round_<i>`` and
    a killed job restarts from the highest complete round below
    ``max_iter`` instead of round 0 — the propagation is monotone (labels
    only decrease), so resuming from any completed round is exact. The
    disk write replaces the in-memory persist and cuts the lineage too.
    """
    # symmetrize in ONE pass over the (possibly expensive) pairs plan: a
    # union of two selects would recompute the upstream dedup pipeline per
    # branch — the explode emits both directions from a single scan
    edges = persist(
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col(id_a).alias("u"), F.col(id_b).alias("v")),
                    F.struct(F.col(id_b).alias("u"), F.col(id_a).alias("v")),
                )
            ).alias("_e")
        )
        .select("_e.u", "_e.v")
        .distinct()
    )
    done, lab = rounds.resume(
        pairs.sparkSession, checkpoint_dir, "labels_round", max_iter
    ) or (-1, persist(
        edges.select(F.col("u").alias("v")).distinct()
        .select(F.col("v"), F.col("v").alias("lab"))
    ))
    for i in range(done + 1, max_iter):
        flowed = edges.join(lab.withColumnRenamed("v", "u"), "u").select(
            F.col("v"), F.col("lab")
        )
        # the convergence signal rides INSIDE the round job (r4): the old
        # label is tagged through the same union+groupBy the round needs
        # anyway, and an observe() metric counts pre-jump changes — no
        # separate convergence join+scan per round. Stopping on pre-jump
        # stability is exact: at the fixpoint the jump is the identity.
        tagged = (
            lab.select("v", "lab", F.lit(True).alias("_o"))
            .unionByName(flowed.withColumn("_o", F.lit(False)))
        )
        new_lab = tagged.groupBy("v").agg(
            F.min("lab").alias("lab"),
            F.min(F.when(F.col("_o"), F.col("lab"))).alias("_old"),
        )
        obs = Observation()
        # metric may double-count if the subtree executes twice (jump
        # self-join) — only the ==0 test matters, which is unaffected
        new_lab = new_lab.observe(
            obs,
            F.sum((F.col("lab") != F.col("_old")).cast("long")).alias("changed"),
        ).select("v", "lab")
        # pointer jump: lab ← lab[lab]. Every label is itself a node id
        # with an entry, lab(x) ≤ x, so the jumped label can only
        # decrease and never leaves the component
        targets = new_lab.select(
            F.col("v").alias("lab"), F.col("lab").alias("_lab2")
        )
        new_lab, _ = rounds.materialize(
            new_lab.join(targets, "lab", "left").select(
                F.col("v"),
                F.coalesce(F.col("_lab2"), F.col("lab")).alias("lab"),
            ),
            checkpoint_dir, "labels_round", i, cut=True,
        )
        # non-blocking metric read (blocking Observation.get deadlocks for
        # CollectMetrics inside foreachBatch micro-batches); metric
        # unavailable → explicit count
        changed = observed_value(obs, "changed")
        if changed is None:
            changed = (
                new_lab.join(lab.withColumnRenamed("lab", "_old"), "v")
                .where(F.col("lab") != F.col("_old"))
                .count()
            )
        rounds.release(lab)
        lab = new_lab
        if changed == 0:
            break
    else:
        rounds.release(edges, lab)
        raise RuntimeError(
            f"duplicate_clusters did not converge within max_iter={max_iter}"
            " rounds; raise max_iter"
        )
    rounds.release(edges)
    return lab.select(F.col("v").alias("doc_id"), F.col("lab").alias("cluster_id"))


def _banded_frame(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    bands: int,
    shingle_n: int,
) -> DataFrame:
    """(id, band, bucket) — per-row MinHash band buckets (shared by the
    self- and cross-frame candidate generators). One vectorized Arrow
    pass (:func:`_sig_frame`) + a JVM posexplode."""
    return _sig_frame(
        df, id_col, text_col, shingle_n, num_hashes=num_hashes, bands=bands
    ).select(F.col(id_col), F.posexplode("_buckets").alias("band", "bucket"))


def band_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """The PERSISTABLE MinHash band-signature frame: (id, band, bucket).

    At daily-crawl scale the corpus side of incremental dedup should not
    re-run its signature pipeline per batch — write this frame once
    (parquet/catalog, ideally partitioned or bucketed by ``band``), then
    pass it to :func:`minhash_lsh_candidates_between` /
    :func:`incremental_near_duplicates` as ``corpus_bands``. After each
    batch, append the NEW docs' frame (computed here on the batch alone)
    to the store — the corpus pipeline cost is paid once per document
    ever, not once per document per day. Buckets are md5-derived from the
    signature values, so a stored frame is engine- and run-stable."""
    return _banded_frame(df, id_col, text_col, num_hashes, bands, shingle_n)


def minhash_lsh_candidates_between(
    new_docs: DataFrame,
    corpus: DataFrame,
    id_col: str,
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    max_bucket_size: int = 1000,
    corpus_bands: Optional[DataFrame] = None,
) -> DataFrame:
    """INCREMENTAL dedup candidates: new-batch documents that share any
    MinHash band bucket with the EXISTING corpus →
    (new_id, corpus_id, n_shared_bands). The growth-path operator — a
    daily crawl batch is checked against the accumulated corpus without
    re-pairing the corpus with itself (new×new candidates come from the
    ordinary self-join operator on the batch alone).

    Shape: both sides band zero-shuffle; the corpus side groups per
    (band, bucket) into a SORTED id array capped at ``max_bucket_size``
    (a degenerate boilerplate bucket links a new doc to the cap's worth
    of corpus ids — ample to flag it as a duplicate — instead of 10⁵),
    then one equi join on (band, bucket) + an explode. No corpus
    self-pairing ever happens here.

    ``corpus_bands``: a PRECOMPUTED (id, band, bucket) frame from
    :func:`band_signatures` — typically read back from the signature
    store — replacing the corpus-side signature pipeline entirely. The
    caller owns parameter consistency: the stored frame must have been
    built with the same ``num_hashes``/``bands``/``shingle_n``.

    Caller contract: the two id spaces must be disjoint."""
    new_banded = _banded_frame(new_docs, id_col, text_col,
                               num_hashes, bands, shingle_n)
    if corpus_bands is not None:
        corpus_banded = corpus_bands.select(
            F.col(id_col), F.col("band"), F.col("bucket")
        )
    else:
        corpus_banded = _banded_frame(corpus, id_col, text_col,
                                      num_hashes, bands, shingle_n)
    return _candidates_between_banded(
        new_banded, corpus_banded, id_col, max_bucket_size
    )


def _candidates_between_banded(
    new_banded: DataFrame,
    corpus_banded: DataFrame,
    id_col: str,
    max_bucket_size: int,
) -> DataFrame:
    """Shared cross-frame candidate stage over two (id, band, bucket)
    frames: corpus buckets group to capped sorted id arrays, ONE
    (band, bucket) equi join, explode, per-pair shared-band count."""
    grouped = corpus_banded.groupBy("band", "bucket").agg(
        F.slice(
            F.array_sort(F.collect_list(F.col(id_col))), 1, max_bucket_size
        ).alias("_ids")
    )
    return (
        new_banded.withColumnRenamed(id_col, "new_id")
        .join(grouped, ["band", "bucket"])
        .select("new_id", F.explode("_ids").alias("corpus_id"))
        .groupBy("new_id", "corpus_id")
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


def incremental_near_duplicates(
    new_docs: DataFrame,
    corpus: DataFrame,
    id_col: str,
    text_col: str = "text",
    threshold: float = 0.7,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    max_bucket_size: int = 1000,
    corpus_bands: Optional[DataFrame] = None,
) -> DataFrame:
    """Cross-frame candidates verified with exact Jaccard ≥ threshold:
    (id_a = new_id, id_b = corpus_id, jaccard). Pass ``corpus_bands``
    (a stored :func:`band_signatures` frame) to skip the corpus-side
    signature pipeline — verification still shingles the corpus TEXT, in
    one Arrow pass read by the ``id_b`` side only."""
    # the new batch's Arrow pass produces band buckets AND shingle arrays
    # at once (candidate + verification stages share it — persisted)
    new_sig = persist(_sig_frame(
        new_docs, id_col, text_col, shingle_n,
        num_hashes=num_hashes, bands=bands, with_shingles=True,
    ))
    new_banded = new_sig.select(
        F.col(id_col), F.posexplode("_buckets").alias("band", "bucket")
    )
    if corpus_bands is not None:
        corpus_banded = corpus_bands.select(
            F.col(id_col), F.col("band"), F.col("bucket")
        )
        corpus_arrays = _sig_frame(
            corpus, id_col, text_col, shingle_n, with_shingles=True
        )
    else:
        corpus_sig = persist(_sig_frame(
            corpus, id_col, text_col, shingle_n,
            num_hashes=num_hashes, bands=bands, with_shingles=True,
        ))
        corpus_banded = corpus_sig.select(
            F.col(id_col), F.posexplode("_buckets").alias("band", "bucket")
        )
        corpus_arrays = corpus_sig.select(F.col(id_col), "sh_arr")
    cand = _candidates_between_banded(
        new_banded, corpus_banded, id_col, max_bucket_size
    ).select(F.col("new_id").alias("id_a"), F.col("corpus_id").alias("id_b"))
    return _verified_jaccard(cand, new_sig.select(F.col(id_col), "sh_arr"),
                             corpus_arrays, id_col, threshold)
