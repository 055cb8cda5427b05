"""Link extraction + resolution (SURVEY.md §2.5 D4 — new-engine operator).

The reference never extracts links (its inputs are enumerated files); the
frontier engine discovers URLs from fetched HTML with
``regexp_extract_all`` on the JVM (whole-stage codegen, zero Python)
followed by ``explode``: :func:`hrefs_expr` then :func:`resolve_hrefs`
for outlinks, :func:`anchor_text_agg` for per-target anchor text.

Both resolve through one private pair: :func:`_parent_parts` parses the
parent URL once per page, before the explode, and :func:`_resolve_href`
resolves each exploded href against those columns.  Resolution handles
absolute http(s), root-relative, and directory-relative hrefs; other
schemes (mailto:, javascript:, data:) and intra-page fragments resolve
to NULL and are filtered.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

HREF_PATTERN = r'<a\s[^>]*href="([^"]*)"'


def _parent_parts(parent_url: Column) -> list[Column]:
    """``_base`` (scheme://authority) and ``_dir`` (path up to its last
    '/') of the parent URL.  Select these ONCE PER PAGE *before* the
    explode: resolving per exploded link would re-parse the same parent
    ~links-per-page times (three try_parse_url calls each — at CC weight
    that was ~75 redundant URI parses per page, the majority of the link
    phase; guide §1.2 per-task work)."""
    scheme = F.try_parse_url(parent_url, F.lit("PROTOCOL"))
    auth = F.try_parse_url(parent_url, F.lit("AUTHORITY"))
    parent_dir = F.regexp_replace(
        F.coalesce(F.try_parse_url(parent_url, F.lit("PATH")), F.lit("/")),
        "[^/]*$",
        "",
    )
    return [
        F.concat(scheme, F.lit("://"), auth).alias("_base"),
        parent_dir.alias("_dir"),
    ]


def _resolve_href(href: Column) -> Column:
    """Resolve an href against the ``_base``/``_dir`` columns of
    :func:`_parent_parts`; NULL for non-crawlable."""
    h = F.trim(href)
    return (
        F.when(h.rlike("^https?://"), h)
        .when(h.rlike("^[A-Za-z][A-Za-z0-9+.-]*:"), F.lit(None))  # other schemes
        .when((h == "") | h.startswith("#"), F.lit(None))
        .when(h.startswith("/"), F.concat(F.col("_base"), h))
        .otherwise(F.concat(F.col("_base"), F.col("_dir"), h))
    )


def hrefs_expr(html_col: Column) -> Column:
    """array<string> of raw (unresolved) hrefs in one JVM expression —
    exposed so a caller can fuse extraction into a wider projection (the
    crawl round computes digest + hrefs in ONE pass over the fetch join
    and caches the ~1 KiB href array instead of the 8 KiB body; see
    plans/crawl.py)."""
    return F.regexp_extract_all(
        F.decode(html_col, "UTF-8"), F.lit(HREF_PATTERN), 1
    )


def resolve_hrefs(
    pages: DataFrame,
    carry: tuple[str, ...] = ("priority",),
) -> DataFrame:
    """(url, *carry, link) from a PRE-computed ``array<string>`` hrefs
    column (see :func:`hrefs_expr`) — explode + resolve, pure JVM, the
    parent parsed once per page (:func:`_parent_parts`)."""
    exploded = pages.select(
        "url",
        *[F.col(c) for c in carry],
        *_parent_parts(F.col("url")),
        F.explode(F.col("_hrefs")).alias("_href"),
    )
    return exploded.select(
        "url", *carry, _resolve_href(F.col("_href")).alias("link")
    ).where(F.col("link").isNotNull())


# ------------------------------------------------------------- anchor text
# anchor pattern: href + the a-element's DIRECT text ('[^<]*</a>' demands
# text-only content, so anchors wrapping nested markup are skipped
# entirely; directly-empty anchors DO match and count as textless inlinks)
ANCHOR_PATTERN = r'<a\s[^>]*href="([^"]*)"[^>]*>([^<]*)</a>'


def anchor_text_agg(
    pages: DataFrame,
) -> DataFrame:
    """Aggregate anchor text per TARGET url — the WAT-style inlink
    feature search and LLM pipelines mine (anchor text describes the
    page better than the page does; cf. Common Crawl WAT consumers and
    anchor-augmented pretraining sets).

    Per target: total inlink anchors, distinct non-empty anchor texts,
    and the modal anchor (most frequent; ties broken lexicographically —
    deterministic under any partitioning).

    Scale shape: extraction is TWO ``regexp_extract_all`` over the SAME
    pattern (groups 1/2 — indexes align by construction) fused in one
    row-local projection with the parent parsed once per page, then
    ``arrays_zip`` + one explode; resolution and canonicalization are the
    frontier's own exprs (links stay joinable against the URL-seen set);
    then a (target, text) groupBy feeding a target groupBy — both map-side
    combined, no window over the full explode.  Anchor dedup-per-page is
    NOT applied (repeat anchors are signal), matching WAT semantics.
    """
    from warcit_spark.functions.urls import canonicalize_url_expr

    html_txt = F.decode(F.col("html"), "UTF-8")
    pairs = F.arrays_zip(
        F.regexp_extract_all(html_txt, F.lit(ANCHOR_PATTERN), 1).alias("href"),
        F.regexp_extract_all(html_txt, F.lit(ANCHOR_PATTERN), 2).alias("text"),
    )
    exploded = pages.select(
        *_parent_parts(F.col("url")), F.explode(pairs).alias("_p")
    ).select(
        canonicalize_url_expr(_resolve_href(F.col("_p")["href"])).alias(
            "target_url"
        ),
        F.trim(
            F.regexp_replace(F.col("_p")["text"], r"\s+", " ")
        ).alias("anchor"),
    )
    per_text = (
        exploded.where(F.col("target_url").isNotNull())
        .groupBy("target_url", "anchor")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    nonempty = F.col("anchor") != ""
    return per_text.groupBy("target_url").agg(
        F.sum("_c").alias("n_anchors"),
        F.count(F.when(nonempty, 1)).alias("n_unique_texts"),
        # modal non-empty anchor: max count, ties -> lexicographic min
        F.min_by(
            F.when(nonempty, F.col("anchor")),
            F.when(nonempty, F.struct((-F.col("_c")).alias("nc"), "anchor")),
        ).alias("top_anchor"),
    )
