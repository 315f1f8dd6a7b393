"""Web/URL operators for crawl corpora: URL parsing, per-domain corpus
statistics, and domain blocklist filtering — the domain-level hygiene
stage every Common-Crawl pipeline runs (spam domains dominate raw crawls;
per-domain quality statistics drive the keep/drop lists).

All parsing is plain Column regex/string algebra with identical Java/RE2
semantics, so everything is value-hash oracle-able; the blocklist filter
inlines a list of at most ``BLOCKLIST_MAX_INLINE`` rows as an isin literal
and anti-joins a longer one.

The reference repo has no web operators — first-class training-pipeline
extension (SURVEY.md §2 additions).
"""

from __future__ import annotations

from typing import List

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..core.types import inline_values

# registrable-suffix heuristic: public-suffix lists are data, not code —
# this fixture covers the common two-label suffixes so registered_domain
# takes THREE labels for e.g. example.co.uk (documented approximation;
# swap in the full PSL as a broadcast table for production)
TWO_LABEL_SUFFIXES: List[str] = ["co.uk", "com.au", "co.jp", "com.br", "co.in"]

# blocklists up to this many rows inline as an isin literal (zero shuffle);
# shared by filter_domain_blocklist and corpus.clean_corpus
BLOCKLIST_MAX_INLINE = 10_000

_HOST_RE = r"^[a-z][a-z0-9+.-]*://([^/?#]+)"


def host_col(url: Column) -> Column:
    """Host (lowercased, port stripped) from an absolute URL; null when
    the URL has no scheme://host prefix."""
    h = F.lower(F.regexp_extract(url, _HOST_RE, 1))
    h = F.regexp_replace(h, ":[0-9]+$", "")
    return F.when(h == "", F.lit(None).cast("string")).otherwise(h)


def registered_domain_col(host: Column) -> Column:
    """eTLD+1 under the fixture suffix list: three labels for known
    two-label suffixes, else the last two labels."""
    two = F.regexp_extract(host, r"([^.]+\.[^.]+)$", 1)
    three = F.regexp_extract(host, r"([^.]+\.[^.]+\.[^.]+)$", 1)
    # a host whose last two labels ARE a listed suffix needs three labels
    cond = F.lit(False)
    for suf in TWO_LABEL_SUFFIXES:
        cond = cond | (two == F.lit(suf))
    return F.when(host.isNull(), F.lit(None).cast("string")).otherwise(
        F.when(cond & (three != ""), three).otherwise(
            F.when(two == "", host).otherwise(two)
        )
    )


def with_url_parts(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Adds host, registered_domain, tld, path_depth (number of non-empty
    path segments) — zero-shuffle projection."""
    url = F.col(url_col)
    host = host_col(url)
    reg = registered_domain_col(host)
    tld = F.regexp_extract(host, r"\.([^.]+)$", 1)
    path = F.regexp_extract(url, r"^[a-z][a-z0-9+.-]*://[^/?#]+(/[^?#]*)?", 1)
    depth = F.when(
        (path == "") | path.isNull(), F.lit(0)
    ).otherwise(F.size(F.filter(F.split(path, "/"), lambda s: s != "")))
    return (
        df.withColumn("host", host)
        .withColumn("registered_domain", reg)
        .withColumn("tld", F.when(tld == "", F.lit(None).cast("string")).otherwise(tld))
        .withColumn("path_depth", depth.cast("long"))
    )


def domain_stats(
    df: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
) -> DataFrame:
    """Per-registered-domain corpus profile: (registered_domain, n_docs,
    total_chars, avg_words_x10, n_hosts). ONE groupBy shuffle with
    map-side partials; n_hosts is an exact distinct (second partial-agg
    phase handled by Spark's expand — acceptable because the domain
    cardinality, not the doc count, bounds the agg state)."""
    parts = with_url_parts(df, url_col)
    words = F.size(F.split(F.col(text_col), " "))
    return (
        parts.where(F.col("registered_domain").isNotNull())
        .groupBy("registered_domain")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length(F.col(text_col)).cast("long")).alias("total_chars"),
            ((F.sum(words.cast("long")) * 10
              - F.pmod(F.sum(words.cast("long")) * 10, F.count(F.lit(1))))
             / F.count(F.lit(1))).cast("long").alias("avg_words_x10"),
            F.countDistinct("host").alias("n_hosts"),
        )
    )


def filter_domain_blocklist(
    df: DataFrame,
    blocklist: DataFrame,
    url_col: str = "url",
    domain_col: str = "domain",
) -> DataFrame:
    """Drop rows whose registered domain is blocklisted. A blocklist of at
    most ``BLOCKLIST_MAX_INLINE`` rows (one bounded collect counts them)
    inlines as an isin literal (zero shuffle); a longer one runs a LEFT
    ANTI join that Spark sizes itself (broadcast or shuffle)."""
    parts = with_url_parts(df, url_col)
    domains = inline_values(blocklist, domain_col, BLOCKLIST_MAX_INLINE)
    if domains is not None:
        out = parts.where(
            ~F.col("registered_domain").isin(domains)
            | F.col("registered_domain").isNull()
        )
    else:
        out = parts.join(
            blocklist.select(F.col(domain_col).alias("registered_domain")),
            "registered_domain",
            "left_anti",
        )
    return out.select(*df.columns)


def extract_links(
    pages: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
) -> DataFrame:
    """One row per ``<a href="...">`` in each page's html:
    ``(src_host, dst_host, dst_url)``. Native regexp_extract_all over the
    decoded html — zero shuffles, no UDF; hrefs with no scheme://host
    (relative links) resolve to the page's own host.

    At crawl scale the anchor extraction is the map side of the web-graph
    build: it runs inside the same scan as text extraction, so the link
    graph costs one extra projection, not a second pass over the corpus.
    """
    hrefs = F.expr(
        f"regexp_extract_all(decode({html_col}, 'utf-8'), "
        "'<a href=\"([^\"]+)\"', 1)"
    )
    src = host_col(F.col(url_col))
    out = pages.select(
        src.alias("src_host"), F.explode(hrefs).alias("dst_url")
    )
    # host_col yields NULL for scheme-less (relative) hrefs → own host
    dst = host_col(F.col("dst_url"))
    return out.select(
        "src_host",
        F.coalesce(dst, F.col("src_host")).alias("dst_host"),
        "dst_url",
    )


def link_graph(
    pages: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
    drop_self_loops: bool = True,
) -> DataFrame:
    """Host-level web link graph: ``(src_host, dst_host, n_links)``
    aggregated over every anchor in the corpus — the input PageRank,
    hub detection, and domain-hygiene scoring expect. ONE groupBy
    shuffle with map-side partials on top of the zero-shuffle
    :func:`extract_links` projection; host pairs are low-cardinality
    relative to pages, so the shuffle is the reduced frame, not the
    corpus."""
    links = extract_links(pages, url_col, html_col)
    if drop_self_loops:
        links = links.where(F.col("src_host") != F.col("dst_host"))
    return links.groupBy("src_host", "dst_host").agg(
        F.count(F.lit(1)).alias("n_links")
    )


#: query parameters that never change page identity (tracking junk) —
#: dropped by canonical_url. Prefix match for utm_*, exact for the rest.
TRACKING_PARAM_PREFIXES = ("utm_",)
TRACKING_PARAMS = ("fbclid", "gclid", "msclkid", "ref", "mc_cid", "mc_eid")


def canonical_url(url: Column) -> Column:
    """Canonical form of a URL for crawl-level dedup: lowercased scheme
    and host, port stripped, fragment dropped, tracking query params
    removed (``utm_*`` + the known click-id set), remaining params
    SORTED, trailing slash trimmed from non-root paths, empty path →
    ``/``. Everything is native Column string/array ops — zero-shuffle,
    replayable in SQL.

    Two URLs that differ only in parameter order, tracking junk, case
    of the host, or a fragment map to the same canonical string —
    crawl frontiers and dedup both key on it.
    """
    scheme = F.lower(F.regexp_extract(url, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    # scheme matching is case-insensitive here (host_col's anchored
    # lowercase regex would null out HTTPS:// URLs)
    host = F.lower(
        F.regexp_extract(url, r"(?i)^[a-z][a-z0-9+.-]*://([^/?#]+)", 1)
    )
    host = F.regexp_replace(host, ":[0-9]+$", "")
    path = F.regexp_extract(url, r"(?i)^[a-z][a-z0-9+.-]*://[^/?#]+([^?#]*)", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    # trim ONE trailing slash from non-root paths
    path = F.when(path == "/", path).otherwise(F.regexp_replace(path, "/$", ""))
    query = F.regexp_extract(url, r"\?([^#]*)", 1)
    def _keep(p):
        cond = p != ""
        for pre in TRACKING_PARAM_PREFIXES:
            cond = cond & ~F.lower(p).startswith(pre)
        return cond & ~F.split(F.lower(p), "=")[0].isin(
            *[F.lit(t) for t in TRACKING_PARAMS]
        )

    params = F.filter(F.split(query, "&"), _keep)
    q2 = F.array_join(F.array_sort(params), "&")
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(q2 == "", F.lit("")).otherwise(F.concat(F.lit("?"), q2)),
    )


def dedup_urls(
    pages: DataFrame, url_col: str = "url", keep: str = "first_id"
) -> DataFrame:
    """Crawl URL dedup: group by :func:`canonical_url` and keep one
    representative per canonical form — ``(canonical_url, n_variants,
    keep_url)`` with ``keep_url`` the lexicographically smallest member
    (deterministic at any cluster size). ONE groupBy shuffle with
    map-side partials; the canonicalization itself rides the scan."""
    c = canonical_url(F.col(url_col))
    return (
        pages.select(c.alias("canonical_url"), F.col(url_col).alias("u"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_variants"),
            F.min("u").alias("keep_url"),
        )
    )


def anchor_texts(
    pages: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
) -> DataFrame:
    """One row per anchor WITH its link text:
    ``(src_host, dst_host, anchor_text)``. The whole-anchor match is
    extracted once per page scan (native regexp_extract_all, one
    explode) and href/text re-extract from the SHORT match string —
    never the full page (the extract_svo contract). Nested markup
    inside the anchor is out of scope (text stops at the first tag).
    """
    anchors = F.expr(
        f"regexp_extract_all(decode({html_col}, 'utf-8'), "
        "'(<a href=\"[^\"]+\"[^>]*>[^<]*</a>)', 1)"
    )
    src = host_col(F.col(url_col))
    m = pages.select(src.alias("src_host"), F.explode(anchors).alias("_a"))
    dst_url = F.regexp_extract(F.col("_a"), '<a href="([^"]+)"', 1)
    txt = F.regexp_extract(F.col("_a"), ">([^<]*)</a>", 1)
    dst = host_col(dst_url)
    return m.select(
        "src_host",
        F.coalesce(dst, F.col("src_host")).alias("dst_host"),
        txt.alias("anchor_text"),
    )


def alias_dictionary(
    pages: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
    min_count: int = 1,
) -> DataFrame:
    """Anchor-text alias dictionary: ``(dst_host, anchor_text, n)`` —
    how the web refers to each target. The classic entity-linking prior
    (anchor texts are crowd-sourced entity aliases); feed the result to
    the mention-detection dictionary join in pipeline/webtext.
    Empty-text anchors drop. ONE groupBy with map-side partials over
    the zero-shuffle anchor scan."""
    a = anchor_texts(pages, url_col, html_col)
    return (
        a.where(F.col("anchor_text") != "")
        .groupBy("dst_host", "anchor_text")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= min_count)
    )
