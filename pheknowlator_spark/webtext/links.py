"""Anchor-link extraction over raw crawl html → a url-level link graph.

The reference's graph is built from curated edge files it downloads
(pkt_kg/edge_list.py:33 CreatesEdgeList over resource files); a
Common-Crawl-scale corpus instead DERIVES its navigational graph from the
pages themselves: every ``<a href="...">`` becomes a (page, target) edge,
which then feeds the same downstream operators the reference graph uses
(pagerank, connected components, k-core, degree stats).

Parsing is deliberately regexp-only — like :mod:`.urls`, every extraction
rule replays byte-for-byte as a DuckDB oracle, and the whole operator is
JVM-side Column expressions (``regexp_extract_all`` + ``explode``): no
Arrow crossing, no Python worker, and the explode is a generator inside
the scan stage, not a shuffle.

100 TB plan: link extraction is embarrassingly parallel (per-page), so the
operator adds ZERO exchanges — the output keeps the page table's
partitioning. The downstream link-graph aggregations (in/out degree,
pagerank) are where the shuffles live, keyed on the resolved target url,
and those reuse the existing graph operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["extract_links", "host_degrees", "anchor_texts", "top_anchors"]

# one capture group: the href value of an anchor tag
_HREF_RE = r'<a\s[^>]*href="([^"]*)"'
_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://"
_HOSTPORT_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)"
_PATH_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)"


def extract_links(df: DataFrame) -> DataFrame:
    """Explode every ``<a href="...">`` in ``html`` into one row per
    link with the href resolved against the page url: ``(url, href,
    link_url)``.

    Resolution rules (RFC 3986 subset, documented not full):

    * fragment (``#...``) stripped from the href first;
    * empty / ``javascript:`` / ``mailto:`` / ``data:`` / ``tel:`` hrefs
      (and any non-http(s) scheme) are dropped;
    * absolute ``http(s)://...`` kept as-is, the scheme matched
      case-insensitively (``HTTP://`` is absolute too);
    * protocol-relative ``//host/p`` gets the page's scheme;
    * root-relative ``/p`` gets the page's ``scheme://host``;
    * path-relative ``p`` resolves against the page path's directory
      (no ``..`` dot-segment collapse — that needs an iterative pass;
      crawl hygiene normally drops such hrefs anyway).

    ``html`` may be ``binary`` (WARC payload) or ``string``; binary is
    utf-8 decoded JVM-side via cast.
    """
    html = F.col("html").cast("string")
    base = F.col("url")
    scheme = F.lower(F.regexp_extract(base, _SCHEME_RE, 1))
    host = F.regexp_extract(
        F.lower(F.regexp_extract(base, _HOSTPORT_RE, 1)), r"^([^:]*)", 1
    )
    base_dir = F.regexp_extract(
        F.regexp_extract(base, _PATH_RE, 1), r"^(.*/)", 1
    )
    base_dir = F.when(base_dir == "", F.lit("/")).otherwise(base_dir)

    raw = F.regexp_replace(F.col("href"), r"#.*$", "")
    has_scheme = raw.rlike(r"^[A-Za-z][A-Za-z0-9+.-]*:")
    resolved = (
        F.when(raw.rlike(r"(?i)^https?://"), raw)
        .when(raw.startswith("//"), F.concat(scheme, F.lit(":"), raw))
        .when(raw.startswith("/"), F.concat(scheme, F.lit("://"), host, raw))
        .when(
            ~has_scheme & (raw != ""),
            F.concat(scheme, F.lit("://"), host, base_dir, raw),
        )
        # any other scheme (javascript:, mailto:, data:, tel:, ftp:) → drop
        .otherwise(F.lit(None).cast("string"))
    )
    return (
        df.select(
            base.alias("url"),
            F.explode(F.regexp_extract_all(html, F.lit(_HREF_RE), 1)).alias(
                "href"
            ),
        )
        .withColumn("link_url", resolved)
        .filter(F.col("link_url").isNotNull())
    )


# two capture groups: href value and the visible anchor text (text kept
# tag-free via [^<]* so the same pattern replays identically in RE2/DuckDB)
_ANCHOR_RE = r'<a\s[^>]*href="([^"]*)"[^>]*>([^<]*)</a>'


def anchor_texts(df: DataFrame) -> DataFrame:
    """Explode every ``<a href="...">text</a>`` into one row per anchor:
    ``(url, href, anchor)`` with the anchor text whitespace-collapsed and
    trimmed; empty anchors (image links, icons) are dropped.

    Anchor text is the classic web-KG labeling signal (the reference takes
    node labels from curated ontology metadata, pkt_kg/metadata.py:33 —
    a crawl derives them from how pages *refer* to a target). Same scale
    shape as :func:`extract_links`: regexp + ``arrays_zip`` + one generator
    explode inside the scan stage, zero exchanges, no Python worker. The
    two ``regexp_extract_all`` calls over the same pattern return matches
    in document order, so zipping group 1 with group 2 re-pairs each href
    with its own anchor text.
    """
    html = F.col("html").cast("string")
    pairs = F.arrays_zip(
        F.regexp_extract_all(html, F.lit(_ANCHOR_RE), 1).alias("href"),
        F.regexp_extract_all(html, F.lit(_ANCHOR_RE), 2).alias("anchor"),
    )
    anchor = F.trim(F.regexp_replace(F.col("pair.anchor"), r"\s+", " "))
    return (
        df.select("url", F.explode(pairs).alias("pair"))
        .select(
            "url",
            F.col("pair.href").alias("href"),
            anchor.alias("anchor"),
        )
        .filter(F.col("anchor") != "")
    )


def top_anchors(anchors: DataFrame) -> DataFrame:
    """Most-frequent anchor text per link target: ``(href, top_anchor,
    n_anchor, n_total)`` — the crowd-sourced label for each target url.
    Ties break to the lexicographically smallest anchor so the result is
    deterministic. Two hash aggregations with map-side partial combine
    (count per (href, anchor), then ``min_by`` over an ordering struct) —
    no windows, no sort, scales with distinct targets not corpus size."""
    counts = anchors.groupBy("href", "anchor").agg(
        F.count(F.lit(1)).alias("n_anchor")
    )
    order = F.struct((-F.col("n_anchor")).alias("neg"), F.col("anchor"))
    return counts.groupBy("href").agg(
        F.min_by("anchor", order).alias("top_anchor"),
        F.max("n_anchor").alias("n_anchor"),
        F.sum("n_anchor").alias("n_total"),
    )


def host_degrees(links: DataFrame) -> DataFrame:
    """Host-level link-graph degrees from :func:`extract_links` output:
    one row per (src_host, dst_host) with the link count, plus per-edge
    distinct source pages — the seed table for host-graph pagerank and
    crawl-frontier prioritization. One shuffle (the groupBy); counts
    partial-aggregate map-side."""
    src = F.regexp_extract(
        F.lower(F.regexp_extract(F.col("url"), _HOSTPORT_RE, 1)),
        r"^([^:]*)",
        1,
    )
    dst = F.regexp_extract(
        F.lower(F.regexp_extract(F.col("link_url"), _HOSTPORT_RE, 1)),
        r"^([^:]*)",
        1,
    )
    return (
        links.select(
            src.alias("src_host"), dst.alias("dst_host"), F.col("url")
        )
        .groupBy("src_host", "dst_host")
        .agg(
            F.count(F.lit(1)).alias("n_links"),
            F.countDistinct("url").alias("n_pages"),
        )
    )
