"""Sitemap ingestion — seeds for the crawl loop from sitemap.xml.

A production frontier is seeded from robots-advertised sitemaps
(sitemaps.org protocol): a ``<sitemapindex>`` lists child sitemap urls,
a ``<urlset>`` lists page urls, both as XML-escaped ``<loc>`` elements.
This module turns a corpus of fetched sitemap documents into frontier
seeds with engine-native expressions:

- ``<loc>`` extraction is one ``regexp_extract_all`` (Java-regex/RE2
  common subset, same stance as functions/html.py) plus the XML entity
  decode — sitemap urls are XML-escaped, so ``&amp;`` in query strings
  MUST decode before the urls meet canonicalization.
- index recursion is a bounded iterative join against the fetched
  corpus (the sitemap protocol allows index -> sitemap nesting; depth
  is bounded and small, so the loop is driver-side over DataFrames with
  per-step lineage cuts, same pattern as operators/graph.py).

Scale shape: each step is one broadcast-or-SMJ equi-join of the pending
sitemap urls against the corpus plus a row-local extraction — no
shuffles beyond the join, no driver-side XML.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

LOC_PATTERN = r"(?is)<loc>\s*(.*?)\s*</loc>"

# XML predefined entities (sitemap urls are XML-escaped); &amp; last so
# "&amp;lt;" cannot double-decode — same ordering rule as functions/html.py.
_XML_ENTITIES = [
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&apos;", "'"),
    ("&amp;", "&"),
]


def _decode_xml(col: Column) -> Column:
    for ent, rep in _XML_ENTITIES:
        col = F.replace(col, F.lit(ent), F.lit(rep))
    return col


def sitemap_locs_expr(xml: Column) -> Column:
    """array<string> of entity-decoded <loc> values of a sitemap
    document (works for both urlset and sitemapindex)."""
    return F.transform(
        F.regexp_extract_all(xml, F.lit(LOC_PATTERN), 1),
        _decode_xml,
    )


def is_sitemap_index_expr(xml: Column) -> Column:
    """True when the document is a <sitemapindex> (child entries are
    sitemaps to recurse into, not page seeds)."""
    return xml.rlike(r"(?is)<\s*sitemapindex[\s>]")


def seeds_from_sitemaps(
    corpus: DataFrame,
    root_sitemaps: DataFrame,
    max_depth: int = 3,
) -> DataFrame:
    """Resolve sitemap indexes against a fetched corpus and return the
    page seeds: (url, sitemap_url) — one row per <loc> in every reached
    ``<urlset>``, tagged with the sitemap that listed it.

    ``corpus``: fetched sitemap documents (url, xml).
    ``root_sitemaps``: urls to start from (column ``sitemap_url``) — in a
    real deployment, the robots.txt ``Sitemap:`` lines.

    Unfetched references (an index entry whose url is not in the corpus)
    are silently absent from the output — fetching is the crawl loop's
    job; this operator only resolves what has landed.  ``max_depth``
    bounds index->index nesting (the protocol uses depth 2; >3 signals a
    loop and raises).
    """
    docs = corpus.select(
        F.col("url").alias("sitemap_url"),
        sitemap_locs_expr(F.col("xml")).alias("_locs"),
        is_sitemap_index_expr(F.col("xml")).alias("_is_index"),
    )
    pending = root_sitemaps.select("sitemap_url").distinct()
    seeds = None
    for _ in range(max_depth):
        hit = pending.join(docs, on="sitemap_url")
        entries = hit.select(
            "sitemap_url", "_is_index", F.explode("_locs").alias("loc")
        )
        new_seeds = entries.where(~F.col("_is_index")).select(
            F.col("loc").alias("url"), "sitemap_url"
        )
        seeds = new_seeds if seeds is None else seeds.unionByName(new_seeds)
        pending = (
            entries.where(F.col("_is_index"))
            .select(F.col("loc").alias("sitemap_url"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        if pending.isEmpty():
            return seeds.distinct()
    raise RuntimeError(
        f"sitemap index nesting exceeds max_depth={max_depth} "
        "(the protocol allows one level of <sitemapindex>; deeper nesting "
        "suggests an index cycle)"
    )
