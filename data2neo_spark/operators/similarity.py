"""Similarity search over embedding columns (array<float>).

* ``cosine_topk`` — brute-force exact top-k: broadcast the (small) query set,
  one scan over the corpus, per-query window top-k. The JVM-side
  zip_with/aggregate dot product keeps it UDF-free.
* ``lsh_ann_topk`` — random-hyperplane LSH: seeded deterministic planes,
  signature buckets, candidates re-ranked exactly. The scale path — the
  corpus shuffles once on bucket, never all-pairs.
"""

from __future__ import annotations

from typing import List, Optional

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot_expr(a: str, b: str, dim: Optional[int] = None) -> Column:
    """Left-fold dot product (higher-order fold). ``dim`` is accepted for
    signature stability but ignored: an unrolled flat Add chain was
    A/B-measured ~2.5× SLOWER than the fold (one 64-deep expression tree
    defeats JIT inlining and pays per-element null/bounds checks), so the
    fold stays."""
    return F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def with_norm(
    df: DataFrame, vec_col: str, out: str = "_norm", dim: Optional[int] = None
) -> DataFrame:
    """L2 norm; same fold contract as :func:`dot_expr` (``dim`` ignored —
    see there)."""
    return df.withColumn(
        out,
        F.sqrt(
            F.aggregate(F.col(vec_col), F.lit(0.0), lambda acc, x: acc + x * x)
        ),
    )


def cosine_expr(
    a: str, b: str, norm_a: str, norm_b: str, dim: Optional[int] = None
) -> Column:
    return dot_expr(a, b, dim) / (F.col(norm_a) * F.col(norm_b))


def cosine_topk(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    query_max_id: int,
    k: int = 10,
    dim: Optional[int] = None,
) -> DataFrame:
    """Exact top-k neighbors for every vector with id < query_max_id.

    Returns (query_id, neighbor_id, cos) — cos rounded to 4dp, self-pairs
    excluded. Queries are broadcast; the corpus is scanned once.
    ``dim`` (optional) unrolls the dot/norm folds into codegen
    expressions (identical values — see :func:`dot_expr`).
    """
    queries = corpus.where(F.col(id_col) < query_max_id)
    qn = with_norm(queries, vec_col, dim=dim).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.col("_norm").alias("qnorm"),
    )
    cn = with_norm(corpus, vec_col, dim=dim).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        F.col("_norm").alias("cnorm"),
    )
    scored = (
        cn.join(F.broadcast(qn), F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos", F.round(cosine_expr("qv", "cv", "qnorm", "cnorm", dim), 4)
        )
        .select("query_id", "neighbor_id", "cos")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def ivf_ann_topk(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    query_max_id: int,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 2,
    sample_size: int = 2000,
    seed: int = 42,
    centroid_strategy: str = "kmeans",
) -> DataFrame:
    """IVF (inverted-file) ANN: coarse cells, probe the n_probe nearest
    cells per query, exact re-rank inside them.

    ``centroid_strategy``:
    * ``"kmeans"`` (default) — centroids trained driver-side on a bounded
      deterministic sample (numpy Lloyd iterations — the sample is small by
      construction, the assignment pass over the full corpus is distributed
      Column math).
    * ``"rows"`` — centroids are the corpus vectors with id < n_cells: no
      training pass, fully SQL-reproducible (the DuckDB oracle replays the
      identical assignment), coarser cells. The IVF structure — one corpus
      shuffle on cell id, broadcast queries — is the same.

    At 100 TB the corpus side shuffles ONCE on cell id; queries broadcast.
    """
    import numpy as np

    if centroid_strategy == "rows":
        centroids = np.array(
            corpus.where(F.col(id_col) < n_cells)
            .orderBy(F.col(id_col))
            .select(vec_col)
            .toPandas()[vec_col]
            .tolist(),
            dtype="float64",
        )
    else:
        sample = np.array(
            corpus.select(vec_col)
            .orderBy(F.col(id_col))
            .limit(sample_size)
            .toPandas()[vec_col]
            .tolist(),
            dtype="float64",
        )
        rng = np.random.RandomState(seed)
        centroids = sample[rng.choice(len(sample), size=min(n_cells, len(sample)), replace=False)]
        for _ in range(10):  # Lloyd iterations on the sample
            d2 = ((sample[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(len(centroids)):
                members = sample[assign == c]
                if len(members):
                    centroids[c] = members.mean(axis=0)

    with_d = corpus.select("*", *[
        F.aggregate(
            F.zip_with(
                F.col(vec_col),
                F.array(*[F.lit(float(v)) for v in cen]),
                lambda x, y: (x - y) * (x - y),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias(f"_d{ci}")
        for ci, cen in enumerate(centroids)
    ])
    # rank cells by (distance, index): one struct array sort — O(c log c)
    # per row and deterministic on ties (the old array_position re-scan was
    # O(c²) and tie-ambiguous)
    dist_structs = F.array(*[
        F.struct(F.col(f"_d{i}").alias("d"), F.lit(i + 1).alias("i"))
        for i in range(len(centroids))
    ])
    assigned = with_d.withColumn(
        "_cells",
        F.transform(
            F.slice(F.array_sort(dist_structs), 1, n_probe),
            lambda s: s.getField("i").cast("long"),
        ),
    ).drop(*[f"_d{i}" for i in range(len(centroids))])

    # corpus side: primary cell only; query side: probe n_probe cells
    cn = with_norm(
        assigned.withColumn("cell", F.element_at(F.col("_cells"), 1)).drop("_cells"),
        vec_col,
        dim=dim,
    ).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"),
        F.col("_norm").alias("cnorm"), "cell",
    )
    qn = with_norm(
        assigned.where(F.col(id_col) < query_max_id)
        .select(F.col(id_col), F.col(vec_col), F.explode("_cells").alias("cell")),
        vec_col,
        dim=dim,
    ).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"),
        F.col("_norm").alias("qnorm"), "cell",
    )
    scored = (
        cn.join(F.broadcast(qn), "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos", F.round(cosine_expr("qv", "cv", "qnorm", "cnorm", dim), 4)
        )
        .select("query_id", "neighbor_id", "cos")
        .distinct()
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def _planes(dim: int, n_planes: int, seed: int = 42) -> List[List[float]]:
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim).astype(float).tolist()


def lsh_signature(df: DataFrame, vec_col: str, dim: int, n_planes: int = 16,
                  seed: int = 42, out: str = "bucket") -> DataFrame:
    """Random-hyperplane signature: n_planes sign bits packed into a long.

    Plane dot products stay higher-order folds — an unrolled flat chain
    was A/B-measured slower (see dot_expr)."""
    planes = _planes(dim, n_planes, seed)
    sig = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        arr = F.array(*[F.lit(v) for v in plane])
        d = F.aggregate(
            F.zip_with(F.col(vec_col), arr, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        sig = sig.bitwiseOR(F.when(d > 0, F.lit(1 << i)).otherwise(F.lit(0)).cast("long"))
    return df.withColumn(out, sig)


def lsh_ann_topk(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    query_max_id: int,
    k: int = 10,
    n_planes: int = 12,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: candidates share an LSH bucket, re-ranked exactly.

    At 100TB scale the bucket join replaces the brute-force crossJoin; recall
    is tunable via n_planes (fewer planes → bigger buckets → higher recall).
    """
    sig = lsh_signature(corpus, vec_col, dim, n_planes, seed)
    queries = sig.where(F.col(id_col) < query_max_id)
    qn = with_norm(queries, vec_col, dim=dim).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"),
        F.col("_norm").alias("qnorm"), F.col("bucket"),
    )
    cn = with_norm(sig, vec_col, dim=dim).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"),
        F.col("_norm").alias("cnorm"), F.col("bucket"),
    )
    scored = (
        cn.join(F.broadcast(qn), "bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos", F.round(cosine_expr("qv", "cv", "qnorm", "cnorm", dim), 4)
        )
        .select("query_id", "neighbor_id", "cos")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def embedding_centroids(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    dim: int = 64,
    scale: int = 1_000_000,
) -> DataFrame:
    """Per-label centroid of an embedding column as (label, dim, centroid):
    the class-prototype computation behind IVF coarse quantizers and
    label-conditioned dedup.

    Cross-engine exactness: each component is scaled to a LONG
    (``CAST(e[d] * scale AS BIGINT)``) before summing — integer sums are
    order-independent, so the oracle hash-matches where a float sum would
    drift in the last ulp. One posexplode + one (label, dim) groupBy with
    map-side partials; the output is tiny (labels × dim)."""
    comp = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col)).alias("dim", "_x"),
    ).withColumn(
        # floor, not a straight cast: Spark's double→long cast truncates
        # toward zero while DuckDB's rounds to nearest — floor() agrees
        "_xs", F.floor(F.col("_x").cast("double") * scale).cast("long")
    )
    return (
        comp.groupBy("label", "dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("_xs").alias("_s"),
        )
        # centroid_micro is the EXACT integer mean in 1/scale units
        # (floor(sum/n) — quotients here are far from integer boundaries,
        # so double division + floor is deterministic cross-engine);
        # `centroid` is the float convenience view derived from it
        .withColumn(
            "centroid_micro",
            F.floor(F.col("_s").cast("double") / F.col("n")).cast("long"),
        )
        .withColumn("centroid", F.col("centroid_micro") / F.lit(scale))
        .select(
            "label", F.col("dim").cast("long").alias("dim"), "n",
            "centroid_micro", "centroid",
        )
    )


def _pq_codebooks_rows(
    corpus: DataFrame, id_col: str, vec_col: str, m: int, s: int, n_codes: int
) -> List[List[List[int]]]:
    """codebooks[j][c] = micro-int subvector j of corpus row c (< n_codes)
    — the SQL-reproducible codebook strategy (same idea as ivf_ann_topk's
    ``rows``): no training pass, the DuckDB oracle replays the identical
    assignment."""
    import math

    rows = (
        corpus.where(F.col(id_col) < n_codes)
        .orderBy(F.col(id_col))
        .select(vec_col)
        .toPandas()[vec_col]
        .tolist()
    )
    micro = [[math.floor(float(x) * 1_000_000) for x in v] for v in rows]
    return [[v[j * s : (j + 1) * s] for v in micro] for j in range(m)]


def _pq_codebooks_kmeans(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    m: int,
    s: int,
    n_codes: int,
    sample_size: int,
    seed: int,
) -> List[List[List[int]]]:
    """Per-subspace Lloyd k-means on a bounded deterministic driver sample
    (the ivf_ann_topk pattern), micro-int quantized so encode/ADC stay
    integer-exact."""
    import math

    sample = np.array(
        corpus.select(vec_col)
        .orderBy(F.col(id_col))
        .limit(sample_size)
        .toPandas()[vec_col]
        .tolist(),
        dtype="float64",
    )
    rng = np.random.RandomState(seed)
    books: List[List[List[int]]] = []
    for j in range(m):
        sub = sample[:, j * s : (j + 1) * s]
        cents = sub[rng.choice(len(sub), size=min(n_codes, len(sub)), replace=False)]
        for _ in range(10):
            d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(len(cents)):
                members = sub[assign == c]
                if len(members):
                    cents[c] = members.mean(axis=0)
        books.append(
            [[math.floor(float(x) * 1_000_000) for x in cen] for cen in cents]
        )
    return books


def _pq_encode_arrow(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    books,
    cents=None,
    out_id: str = "neighbor_id",
) -> DataFrame:
    """Corpus-side PQ / IVFADC encode as ONE vectorized Arrow map
    (guide §4.2): micro-int quantize (floor(float64(x)·10⁶) — IEEE-
    identical to the Column formulation), optional cell argmin + residual
    (``cents`` given → IVFADC), then per-subspace code argmin. All
    distances are int64 sums of squares — order-free integer math, and
    numpy ``argmin`` returns the FIRST minimum, matching the
    array_sort-struct (d, index) tiebreak. Replaces ~m·n_codes
    interpreted higher-order lambda trees per row with batch matrix ops.
    Output: ``(out_id, [cell,] _codes array<int>)``; NULL vectors keep
    their row with NULL codes (the old transform-over-null semantics)."""
    from .text import _ID_PD_DTYPE

    id_type = corpus.schema[id_col].dataType.simpleString()
    id_dtype = _ID_PD_DTYPE.get(id_type, "object")
    m = len(books)
    s = len(books[0][0])
    books_arg = [[list(map(int, code)) for code in bj] for bj in books]
    cents_arg = None if cents is None else [list(map(int, c)) for c in cents]
    fields = [f"{out_id} {id_type}"]
    if cents is not None:
        fields.append("cell int")
    fields.append("_codes array<int>")
    schema = ", ".join(fields)

    def fn(batches):
        import numpy as _np
        import pandas as _pd

        B = _np.array(books_arg, dtype=_np.int64)       # (m, n_codes, s)
        C = (
            None if cents_arg is None
            else _np.array(cents_arg, dtype=_np.int64)  # (n_cells, dim)
        )
        for pdf in batches:
            ids = pdf[id_col].tolist()
            vecs = pdf[vec_col].tolist()
            mask = _np.array([v is not None for v in vecs], dtype=bool)
            n = len(ids)
            cell_out = _np.zeros(n, dtype=_np.int64)
            codes_list = [None] * n
            good_idx = _np.nonzero(mask)[0]
            if len(good_idx):
                V = _np.stack([
                    _np.asarray(vecs[i], dtype=_np.float64) for i in good_idx
                ])
                micro = _np.floor(V * 1_000_000.0).astype(_np.int64)
                if C is not None:
                    d_cells = (
                        (micro[:, None, :] - C[None, :, :]) ** 2
                    ).sum(axis=2)
                    cell = d_cells.argmin(axis=1)
                    cell_out[good_idx] = cell
                    micro = micro - C[cell]
                codes = _np.empty((len(good_idx), m), dtype=_np.int32)
                for j in range(m):
                    sub = micro[:, j * s:(j + 1) * s]
                    d = ((sub[:, None, :] - B[j][None, :, :]) ** 2).sum(axis=2)
                    codes[:, j] = d.argmin(axis=1)
                for row, i in enumerate(good_idx):
                    codes_list[i] = codes[row].tolist()
            data = {out_id: _pd.Series(ids, dtype=id_dtype)}
            if cents_arg is not None:
                c_series = _pd.array(
                    [int(cell_out[i]) if mask[i] else None for i in range(n)],
                    dtype="Int32",
                )
                data["cell"] = c_series
            data["_codes"] = _pd.Series(codes_list, dtype="object")
            yield _pd.DataFrame(data)

    return corpus.select(id_col, vec_col).mapInPandas(fn, schema)


def pq_ann_topk(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    query_max_id: int,
    k: int = 10,
    m: int = 8,
    n_codes: int = 16,
    codebook_strategy: str = "rows",
    sample_size: int = 2000,
    seed: int = 42,
) -> DataFrame:
    """Product-quantization ANN (Jégou et al. 2011): vectors compress to
    ``m`` sub-codes (one byte-ish code per ``dim/m``-wide subspace), and
    query↔corpus distances come from per-query distance TABLES instead of
    full float math — the memory-bound brute-force path of a billion-scale
    index (IVF cells × PQ codes is the classic IVFADC composition; this is
    the PQ half, ivf_ann_topk the IVF half).

    All distances are squared-L2 over micro-int (floor(x·10⁶)) components:
    integer-exact, so encode, the ADC lookup, AND the final ranking
    hash-match the DuckDB oracle (``codebook_strategy="rows"`` — codebooks
    are the first ``n_codes`` corpus rows; ``"kmeans"`` trains per-subspace
    Lloyd on a bounded driver sample, same structure, better cells).

    Shape at 100 TB: encoding is a zero-shuffle scan projection (the
    codebook folds into the plan as literals — m·n_codes aggregate
    expressions over s-wide slices); the corpus never moves — the ADC pass
    broadcasts the query distance tables (m·n_codes longs per query) and
    reads only (id, codes) — dim·4 bytes/row become ~m bytes/row, which is
    the point of PQ; one window shuffle ranks the top-k per query.

    Returns (query_id, neighbor_id, approx_d, rank), approx_d in squared
    micro units.
    """
    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m} subspaces")
    s = dim // m
    if codebook_strategy == "rows":
        books = _pq_codebooks_rows(corpus, id_col, vec_col, m, s, n_codes)
    elif codebook_strategy == "kmeans":
        books = _pq_codebooks_kmeans(
            corpus, id_col, vec_col, m, s, n_codes, sample_size, seed
        )
    else:
        raise ValueError(f"unknown codebook_strategy {codebook_strategy!r}")
    n_codes = len(books[0])

    vm = corpus.select(
        F.col(id_col),
        F.transform(
            F.col(vec_col),
            lambda x: F.floor(x.cast("double") * F.lit(1_000_000)).cast("long"),
        ).alias("_vm"),
    )

    # the codebook folds in as ONE literal nested array (data, not 256
    # separate aggregate expressions — m·n_codes distinct lambda trees made
    # Catalyst analysis+codegen the dominant cost, the multimodal-synth
    # lesson); nested HOF lambdas capture the subspace index j to slice _vm
    books_lit = F.array(*[
        F.array(*[
            F.array(*[F.lit(int(v)) for v in code]) for code in books[j]
        ])
        for j in range(m)
    ])

    def _dist_to(code: Column, j: Column) -> Column:
        return F.aggregate(
            F.zip_with(
                F.slice(F.col("_vm"), j * F.lit(s) + 1, s), code,
                lambda x, y: (x - y) * (x - y),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    # corpus side: argmin code per subspace (ties → smallest code) — the
    # vectorized Arrow encode (integer-exact, see _pq_encode_arrow); the
    # old per-row nested struct-sort lambdas ran interpreted
    encoded = _pq_encode_arrow(corpus, id_col, vec_col, books)

    # query side: full distance table (m × n_codes longs per query row)
    qtab = vm.where(F.col(id_col) < query_max_id).select(
        F.col(id_col).alias("query_id"),
        F.transform(
            books_lit,
            lambda b, j: F.transform(b, lambda code: _dist_to(code, j)),
        ).alias("_qtab"),
    )

    adc = F.aggregate(
        F.sequence(F.lit(1), F.lit(m)),
        F.lit(0).cast("long"),
        lambda acc, j: acc
        + F.element_at(
            F.element_at(F.col("_qtab"), j),
            F.element_at(F.col("_codes"), j) + 1,
        ),
    )
    scored = (
        encoded.crossJoin(F.broadcast(qtab))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", adc.cast("long").alias("approx_d"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_d").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "approx_d", "rank")
    )


def quantize_embeddings(
    df: DataFrame,
    id_col: str,
    vec_col: str = "embedding",
    bits: int = 8,
) -> DataFrame:
    """Symmetric int quantization of an embedding column — the standard
    serving/storage compression for ANN indexes (4× smaller than float32
    at int8 with ~no recall loss): (id, q array<int>, scale_micro).

    q_i = floor(x_i · Q / max|x|) with Q = 2^(bits−1) − 1; dequantize as
    q_i · max|x| / Q. All math is per-row array algebra (zero shuffle);
    floor() on IEEE doubles is deterministic cross-engine, so the DuckDB
    oracle replays the quantized vectors exactly (a straight double→int
    CAST would not be: Spark truncates, DuckDB rounds). ``scale_micro`` =
    floor(max|x| · 10^6) records the scale as an exact integer. All-zero
    vectors quantize to zeros with scale 0."""
    q = (1 << (bits - 1)) - 1
    vec = F.col(vec_col)
    bound = df.withColumn(
        "_maxabs",
        F.array_max(F.transform(vec, lambda x: F.abs(x.cast("double")))),
    )
    m = F.col("_maxabs")
    quant = F.when(
        m > 0,
        F.transform(
            vec, lambda x: F.floor(x.cast("double") * F.lit(q) / m).cast("int")
        ),
    ).otherwise(F.transform(vec, lambda x: F.lit(0).cast("int")))
    return bound.select(
        F.col(id_col),
        quant.alias("q"),
        F.floor(m * F.lit(1_000_000)).cast("long").alias("scale_micro"),
    )


def ivfpq_ann_topk(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    query_max_id: int,
    k: int = 10,
    n_cells: int = 8,
    n_probe: int = 2,
    m: int = 8,
    n_codes: int = 16,
) -> DataFrame:
    """IVFADC (Jégou et al. 2011) — the billion-scale composition of the
    two halves this module already ships: an IVF coarse quantizer prunes
    the corpus to ``n_probe`` cells per query, and inside the cells
    distances come from PQ codes over RESIDUALS (vector − cell centroid)
    via per-(query, cell) ADC tables. This is the memory layout every
    production ANN index (faiss IVFx,PQy) uses: the corpus stores one
    cell id + m sub-codes per vector.

    ``rows`` strategies on both quantizers (centroids = micro-int rows
    ``< n_cells``, residual codebooks = the residuals of rows
    ``< n_codes``) keep every distance an exact integer, so cell
    assignment, encode, probe order, ADC, and the final ranking all
    hash-match the DuckDB oracle. For trained quantizers use the halves'
    ``kmeans`` strategies as drop-in codebook sources.

    Shape at 100 TB: encoding is a zero-shuffle scan projection — both
    quantizer tables fold into the plan as literals (n_cells·dim +
    m·n_codes·(dim/m) ints ≈ KBs), and the per-row work is bound ONCE per
    expensive intermediate (micro vector, cell, residual) via
    single-element ``transform(array(e), v -> ...)`` bindings because
    whole-stage codegen does not CSE higher-order expressions. The query
    side (query_max_id·n_probe rows, each carrying an m·n_codes ADC
    table) broadcasts; the corpus joins on its stored cell id without
    moving; one window shuffle ranks the top-k.
    """
    import math

    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m} subspaces")
    s = dim // m
    need = max(n_cells, n_codes)
    seed_rows = (
        corpus.where(F.col(id_col) < need)
        .orderBy(F.col(id_col))
        .select(vec_col)
        .toPandas()[vec_col]
        .tolist()
    )
    micro = [[math.floor(float(x) * 1_000_000) for x in v] for v in seed_rows]
    cents = micro[:n_cells]

    def _l2(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    # codebooks = residuals of the first n_codes rows w.r.t. their own
    # (ties -> smallest index) cell — the exact integer math the plan and
    # the oracle replay
    books = []
    res_rows = []
    for v in micro[:n_codes]:
        cell = min(range(n_cells), key=lambda c: (_l2(v, cents[c]), c))
        res_rows.append([x - y for x, y in zip(v, cents[cell])])
    books = [[r[j * s:(j + 1) * s] for r in res_rows] for j in range(m)]

    cents_lit = F.array(*[
        F.array(*[F.lit(int(x)) for x in ce]) for ce in cents
    ])
    books_lit = F.array(*[
        F.array(*[F.array(*[F.lit(int(x)) for x in code]) for code in books[j]])
        for j in range(m)
    ])

    micro_expr = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * F.lit(1_000_000)).cast("long"),
    )

    def _dist(a: Column, b: Column) -> Column:
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    def _bind(expr: Column, fn) -> Column:
        # evaluate `expr` exactly once: WSCG does not CSE higher-order
        # expressions, so every expensive array intermediate gets a single
        # lambda-bound consumer
        return F.element_at(F.transform(F.array(expr), fn), 1)

    def _cell_ranking(vm: Column) -> Column:
        return F.array_sort(
            F.transform(
                cents_lit,
                lambda ce, i: F.struct(_dist(vm, ce).alias("d"), i.alias("i")),
            )
        )

    def _residual(vm: Column, cell: Column) -> Column:
        return F.zip_with(
            vm, F.element_at(cents_lit, cell + 1), lambda x, y: x - y
        )

    def _subdist(res: Column, code: Column, j: Column) -> Column:
        return _dist(F.slice(res, j * F.lit(s) + 1, s), code)

    # corpus side: cell argmin + residual PQ codes — the vectorized Arrow
    # encode (_pq_encode_arrow with cents; integer-exact, first-min ties);
    # the old nested _bind/struct-sort lambda trees ran interpreted
    corpus_enc = _pq_encode_arrow(
        corpus, id_col, vec_col, books, cents=cents
    ).withColumnRenamed("_codes", "codes")

    probes_expr = _bind(micro_expr, lambda vm: F.transform(
        F.slice(_cell_ranking(vm), 1, n_probe),
        lambda p: F.struct(
            p.getField("i").alias("cell"),
            _bind(
                _residual(vm, p.getField("i")),
                lambda res: F.transform(
                    books_lit,
                    lambda b, j: F.transform(
                        b, lambda code: _subdist(res, code, j)
                    ),
                ),
            ).alias("qtab"),
        ),
    ))
    qp = (
        corpus.where(F.col(id_col) < query_max_id)
        .select(F.col(id_col).alias("query_id"),
                F.explode(probes_expr).alias("_p"))
        .select("query_id", F.col("_p.cell").alias("cell"),
                F.col("_p.qtab").alias("_qtab"))
    )

    adc = F.aggregate(
        F.sequence(F.lit(1), F.lit(m)),
        F.lit(0).cast("long"),
        lambda acc, j: acc
        + F.element_at(
            F.element_at(F.col("_qtab"), j),
            F.element_at(F.col("codes"), j) + 1,
        ),
    )
    scored = (
        corpus_enc.join(F.broadcast(qp), "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", adc.cast("long").alias("approx_d"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_d").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "approx_d", "rank")
    )
