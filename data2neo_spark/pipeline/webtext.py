"""Web-text KG-construction pipeline (the BASELINE.json north rule).

Stages (all DataFrame-native):
  pages (url, warc_ts, html, text, lang)
    → extract     html → text (deterministic, byte-identical per url)
    → mention     tokenize + dictionary lookup (inlined up to
                  ARRAY_STRATEGY_MAX_DICT rows, else an equi join Spark
                  sizes itself); each surface links to the candidate the
                  dictionary alone decides (smallest entity_id), chosen
                  once per surface, not per mention
    → link        score each mention (hit count × surface length)
    → materialize nodes / edges / (subj, pred, obj) triples via the same
                  merge machinery as the schema engine

Batches and streams share every step: the stream functions in
``streaming.ingest`` call the same detector, link projection, triple
projection and :data:`PAGE_GRAPH_SCHEMA`.

The small ``mention_triples`` slice runs the same shape over the driver's
``documents`` table with a static term dictionary so the DuckDB oracle can
verify it value-for-value.
"""

from __future__ import annotations

from typing import Callable, List, Optional, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..core.types import inline_values

# static term dictionary for the oracle-checked slice (kept in sync with
# __spark_entry__.oracle_sql's kg_webtext_mentions)
TERM_DICT: List[str] = [
    "spark", "join", "window", "batch", "stream", "table", "query", "shuffle",
]


def mention_triples(documents: DataFrame, terms: Optional[List[str]] = None) -> DataFrame:
    """Dictionary-based mention detection + linking over a text corpus.

    (Doc:<id>, MENTIONS, Term:<word>) triples, distinct per (doc, term).
    The word explode happens AFTER an `exists` prefilter on the tokenized
    array, so documents with no dictionary hits never reach the shuffle.
    """
    terms = terms if terms is not None else TERM_DICT
    words = F.split(F.col("text"), " ")
    term_arr = F.array(*[F.lit(t) for t in terms])
    hits = documents.select(
        F.col("doc_id"),
        F.array_distinct(
            F.filter(words, lambda w: F.array_contains(term_arr, w))
        ).alias("mentions"),
    ).where(F.size("mentions") > 0)
    return hits.select(
        F.concat(F.lit("Doc:"), F.col("doc_id").cast("string")).alias("subj"),
        F.lit("MENTIONS").alias("pred"),
        F.explode("mentions").alias("term"),
    ).select(
        "subj", "pred", F.concat(F.lit("Term:"), F.col("term")).alias("obj")
    )


# ---------------------------------------------------------------------------
# full north-rule pipeline over the pages corpus
# ---------------------------------------------------------------------------

def extract_text(html_col: Column) -> Column:
    """Deterministic html→text extraction: drop the <head> block, strip tags,
    trim. This IS the reference extractor for the per-url byte-identity
    invariant (the reference repo has no extractor of its own — SURVEY.md M6
    defines it here and pins it with golden tests)."""
    s = F.decode(html_col, "utf-8")
    s = F.regexp_replace(s, "<head>.*?</head>", "")
    s = F.regexp_replace(s, "<[^>]*>", "")
    return F.trim(s)


def extract_pages(pages: DataFrame) -> DataFrame:
    """pages → (url, warc_ts, lang, text) with text re-derived from html."""
    return pages.select(
        "url", "warc_ts", "lang", extract_text(F.col("html")).alias("text")
    )


# dictionaries of up to this many rows inline into the row (zero shuffle)
ARRAY_STRATEGY_MAX_DICT = 50_000


def mention_detector(entity_dict: DataFrame) -> Callable[..., DataFrame]:
    """Decide once how ``entity_dict`` is looked up and return
    ``detect(docs, text_col="text", count_hits=True, keep=("url",))``,
    which finds the mentions with that lookup: one row per distinct
    mentioned surface per input row, (*keep, surface, entity_id,
    canonical, kind, n_hits), for batches and streams alike (no
    aggregation, so no state store). A URL crawled twice gives one row per
    crawl.

    Each surface links to one entity, its candidate with the smallest
    ``entity_id``. Every candidate of a surface has the same hit count and
    length in a row, so no mention can tell them apart: the winner is a
    property of the dictionary and is picked here, on the dictionary.
    A dictionary with no repeated surface is used as is; otherwise one
    dictionary-sized ``groupBy("surface")`` keeps each winner.

    The dictionary's row count decides the lookup (one bounded collect of
    at most ``ARRAY_STRATEGY_MAX_DICT + 1`` surfaces, here and not per
    call of ``detect``, so a stream's micro-batches pay it once):

    * at most ``ARRAY_STRATEGY_MAX_DICT`` rows — the surface set folds
      into the row as a literal array; mentions are found inside
      the scan stage with higher-order functions, then a join attaches
      entity metadata. Only those surfaces reach the join.
    * larger — each row's distinct words explode and equi-join the
      dictionary with no plan bloat (and the winners are always picked,
      since no surface list was collected to show they are unique).

    Spark sizes the metadata join either way: it broadcasts the
    dictionary under ``spark.sql.autoBroadcastJoinThreshold`` (zero
    shuffle), otherwise it shuffles.

    ``count_hits`` counts each surface's occurrences in its row (else
    ``n_hits`` is 1). ``keep`` names the input columns carried through
    (the windowed stream carries ``warc_ts``).
    """
    surfaces = inline_values(entity_dict, "surface", ARRAY_STRATEGY_MAX_DICT)
    surf_arr = (None if surfaces is None
                else F.array(*[F.lit(s) for s in sorted(set(surfaces))]))
    if surfaces is None or len(set(surfaces)) < len(surfaces):
        entity_dict = entity_dict.groupBy("surface").agg(F.min_by(
            F.struct("entity_id", "canonical", "kind"), F.col("entity_id")
        ).alias("_w")).select("surface", "_w.*")

    def detect(
        docs: DataFrame,
        text_col: str = "text",
        count_hits: bool = True,
        keep: Tuple[str, ...] = ("url",),
    ) -> DataFrame:
        words = F.split(F.col(text_col), " ")
        base = F.array_distinct(words)
        if surf_arr is not None:
            base = F.array_intersect(base, surf_arr)
        # CAREFUL with expression duplication: whole-stage codegen does not
        # CSE across a Filter + Project of the same array expression (lambda
        # exprs disable subexpression elimination), so the mention array
        # feeds ONE generator directly — explode of an empty array emits no
        # rows
        if count_hits:
            exploded = docs.select(
                *keep,
                F.explode(
                    F.transform(base, lambda m: F.struct(
                        m.alias("surface"),
                        F.size(F.filter(words, lambda w: w == m))
                        .cast("long").alias("n_hits"),
                    ))
                ).alias("_m"),
            ).select(*keep, F.col("_m.surface").alias("surface"),
                     F.col("_m.n_hits").alias("n_hits"))
        else:
            exploded = docs.select(
                *keep, F.explode(base).alias("surface")
            ).withColumn("n_hits", F.lit(1).cast("long"))
        return exploded.join(entity_dict, "surface").select(
            *keep, "surface", "entity_id", "canonical", "kind", "n_hits"
        )

    return detect


def detect_mentions(
    docs: DataFrame,
    entity_dict: DataFrame,
    text_col: str = "text",
    count_hits: bool = True,
    keep: Tuple[str, ...] = ("url",),
) -> DataFrame:
    """Tokenize + dictionary lookup: :func:`mention_detector` of
    ``entity_dict`` applied to ``docs``."""
    return mention_detector(entity_dict)(docs, text_col, count_hits, keep)


def link_entities(mentions: DataFrame) -> DataFrame:
    """Deterministic link score of each detected mention: hit count
    weighted by surface length. The entity was already chosen per surface
    by :func:`mention_detector`, so this is a projection (no shuffle)."""
    return mentions.withColumn(
        "score", F.col("n_hits") * F.length(F.col("surface"))
    )


def link_entities_contextual(
    docs: DataFrame,
    candidates: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    prior_weight: int = 10,
    overlap_weight: int = 3,
) -> DataFrame:
    """Entity DISAMBIGUATION — the north rule's "entity-link scoring" with
    an AMBIGUOUS dictionary (several candidate entities per surface), the
    step plain link_entities can't do: the winner depends on the document,
    not just the surface.

    ``candidates`` columns: (surface, entity_id, canonical, prior, desc) —
    ``prior`` an integer popularity prior, ``desc`` a space-separated bag
    of context terms. Score per (doc, surface, candidate):

        score = prior·prior_weight
              + |context ∩ desc_terms|·overlap_weight

    where context = the document's distinct tokens restricted to the
    candidate description vocabulary (so the carried context array is
    bounded by the dictionary, not the document). Winner per (doc, surface)
    = max score, ties to the smallest entity_id. Integer-exact, so the
    DuckDB oracle hash-verifies every score.

    Shape: the dictionary (surfaces + desc vocabulary) folds into the scan
    as literal arrays — mention detection AND context extraction are
    zero-shuffle higher-order expressions; candidates join on surface
    (Spark sizes that join); one (doc, surface) max_by hash aggregation
    picks winners (no sort-based window). At 100 TB the only corpus-wide
    movement is that single partial-agg shuffle of ~1 row per mention;
    dictionaries too big to inline take detect_mentions' dictionary join
    instead.
    """
    rows = candidates.select("surface", "desc").collect()
    surfaces = sorted({r["surface"] for r in rows})
    vocab = sorted({t for r in rows for t in r["desc"].split(" ") if t})
    surf_arr = F.array(*[F.lit(s) for s in surfaces])
    vocab_arr = F.array(*[F.lit(t) for t in vocab])

    # bind the word array once; ONE consumer per expensive higher-order
    # expression (whole-stage codegen does not CSE lambda expressions)
    bound = docs.select(
        F.col(id_col), F.array_distinct(F.split(F.col(text_col), " ")).alias("_dw")
    )
    mentions = bound.select(
        F.col(id_col),
        F.array_intersect(F.col("_dw"), vocab_arr).alias("_ctx"),
        F.explode(F.array_intersect(F.col("_dw"), surf_arr)).alias("surface"),
    )
    cand = candidates.withColumn("_desc_arr", F.split(F.col("desc"), " "))
    scored = mentions.join(
        cand.select("surface", "entity_id", "canonical", "prior", "_desc_arr"),
        "surface",
    ).withColumn(
        "score",
        (
            F.col("prior") * F.lit(int(prior_weight))
            + F.size(F.array_intersect(F.col("_ctx"), F.col("_desc_arr")))
            * F.lit(int(overlap_weight))
        ).cast("long"),
    )
    order = F.struct(F.col("score"), -F.col("entity_id"))
    picked = scored.groupBy(id_col, "surface").agg(
        F.max_by(F.struct("entity_id", "canonical", "score"), order).alias("_best")
    )
    return picked.select(
        id_col,
        "surface",
        F.col("_best.entity_id").alias("entity_id"),
        F.col("_best.canonical").alias("canonical"),
        F.col("_best.score").alias("score"),
    )


def pages_to_triples(pages: DataFrame, entity_dict: DataFrame) -> DataFrame:
    """Full pipeline: extract → detect → (subj, pred, obj) triples, one per
    linked surface per page row. Works unchanged on a streaming ``pages``
    (:func:`~data2neo_spark.streaming.stream_pages_to_triples`)."""
    mentions = detect_mentions(extract_pages(pages), entity_dict, count_hits=False)
    return mentions.select(
        F.concat(F.lit("Page:"), F.col("url")).alias("subj"),
        F.lit("MENTIONS").alias("pred"),
        F.concat(F.lit("Entity:"), F.col("canonical")).alias("obj"),
    )


# Page nodes, Entity nodes (merged on canonical — the IDStore-as-keyed-
# DataFrame path) and MENTIONS edges with n_hits/score props; the default
# of streaming.stream_pages_to_graph(schema=) too.
# The '+ surface' primary key makes the edge identity content-based
# (src, type, dst, surface): a URL crawled twice merges into one edge per
# surface whose properties come from the later row, as Page.lang does, and
# re-runs and replayed micro-batches are idempotent.
PAGE_GRAPH_SCHEMA = """
ENTITY("pages"):
    NODE("Page") page:
        + url = pages.url
        - lang = pages.lang

ENTITY("mentions"):
    NODE("Entity") ent:
        + canonical = mentions.canonical
        - kind = mentions.kind
    RELATIONSHIP(MATCH("Page", url = mentions.url), "MENTIONS", ent):
        + surface = mentions.surface
        - n_hits = INT(mentions.n_hits)
        - score = INT(mentions.score)
"""


def _convert_pages(docs: DataFrame, detect: Callable[..., DataFrame], store,
                   schema: str = PAGE_GRAPH_SCHEMA, run_id: int = 0):
    """Run the Converter over extracted ``docs`` and their linked mentions
    (``link_entities(detect(docs))``) into ``store`` — the one graph step
    of :func:`pages_to_graph` and each micro-batch of
    :func:`~data2neo_spark.streaming.stream_pages_to_graph`."""
    from ..core.converter import Converter

    # no persist needed: the Converter persists a source itself when a
    # shuffle feeds it (an ambiguous dictionary's winner pick, a shuffled
    # dictionary join), which freezes its row ids across the two passes
    sources = [("pages", docs), ("mentions", link_entities(detect(docs)))]
    return Converter(schema, sources, store=store, run_id=run_id)(docs.sparkSession)


def pages_to_graph(pages: DataFrame, entity_dict: DataFrame, store):
    """Materialize the full node/edge graph (:data:`PAGE_GRAPH_SCHEMA`)
    through the schema engine."""
    return _convert_pages(extract_pages(pages), mention_detector(entity_dict), store)
