"""In-page crawl directives: ``<meta name="robots">``, per-anchor
``rel`` attributes, and ``<link rel>`` alternates — the page-level
directives that govern INDEXING and LINK ENDORSEMENT (robots.txt,
RFC 9309, governs fetching and is out of scope here).

Why a training-data / KG pipeline needs them:
  * ``noindex`` pages must not enter the corpus or the KG — the
    publisher said so, and honoring it is both policy and dedup
    hygiene (noindex pages are overwhelmingly faceted-search chrome).
  * ``rel="nofollow"`` (and ``ugc``/``sponsored``) anchors must not
    flow endorsement: a PageRank/HITS pass that counts them imports
    comment-spam edges the publisher explicitly disclaimed. The link
    EXISTS for discovery; it carries no authority weight.
  * ``<link rel="alternate" hreflang>`` clusters are declared
    translation sets — the highest-precision bitext candidates there
    are (cf. operators/bitext.py's URL-template mining, which these
    confirm or seed).

Parsing: two-stage native regex — explode whole tags first
(``<meta …>`` / ``<a …>`` / ``<link …>``), then extract attributes
per tag, so attribute ORDER never matters and href/rel stay paired
within their tag. All whole-stage-codegen expressions (no UDF, no
shuffle except the final rollups); the tag and attribute patterns are
in the RE2/Java common subset and shared verbatim with the DuckDB
oracles. Attribute values are read in the double-quoted form
(the fixture-documented subset; a production hardening pass adds
single-quoted/bare variants the same way).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

META_TAG_RE = r"(?is)<meta\s[^>]*>"
A_TAG_RE = r"(?is)<a\s[^>]*>"
LINK_TAG_RE = r"(?is)<link\s[^>]*>"

_NAME_ATTR_RE = r'(?is)\sname="([^"]*)"'
_CONTENT_ATTR_RE = r'(?is)\scontent="([^"]*)"'
_HREF_ATTR_RE = r'(?is)\shref="([^"]*)"'
_REL_ATTR_RE = r'(?is)\srel="([^"]*)"'
_HREFLANG_ATTR_RE = r'(?is)\shreflang="([^"]*)"'


def _tags(html: Column, tag_re: str) -> Column:
    return F.regexp_extract_all(html, F.lit(tag_re), 0)


def _directive_tokens(content: Column) -> Column:
    """robots content="noindex, nofollow" → lowercased trimmed
    token array."""
    return F.filter(
        F.transform(
            F.split(F.lower(content), ","), lambda t: F.trim(t)
        ),
        lambda t: t != "",
    )


def robots_directives(
    df: DataFrame, html_col: str = "html", url_col: str = "url"
) -> DataFrame:
    """(url, noindex, nofollow, noarchive): the union (most
    restrictive wins) of every ``<meta name="robots">`` tag on the
    page; pages with no robots meta are all-false. One narrow
    explode + a url-keyed bool_or rollup."""
    tags = df.select(
        F.col(url_col).alias("url"),
        F.explode_outer(_tags(F.col(html_col), META_TAG_RE)).alias("tag"),
    )
    toks = tags.select(
        "url",
        F.when(
            F.lower(F.regexp_extract("tag", _NAME_ATTR_RE, 1)) == "robots",
            _directive_tokens(F.regexp_extract("tag", _CONTENT_ATTR_RE, 1)),
        ).otherwise(F.array().cast("array<string>")).alias("toks"),
    )
    return toks.groupBy("url").agg(
        F.max(F.array_contains("toks", "noindex")).alias("noindex"),
        F.max(F.array_contains("toks", "nofollow")).alias("nofollow"),
        F.max(F.array_contains("toks", "noarchive")).alias("noarchive"),
    )


def anchors_with_rel(
    df: DataFrame, html_col: str = "html", url_col: str = "url"
) -> DataFrame:
    """(url, href, nofollow): every anchor with an href, flagged when
    its rel tokens include nofollow/ugc/sponsored (the three
    no-endorsement values) OR the page-level robots meta says
    nofollow. Feed ``filter(~nofollow)`` into the link-graph builders
    so authority flows only over endorsed edges."""
    a = df.select(
        F.col(url_col).alias("url"),
        F.explode(_tags(F.col(html_col), A_TAG_RE)).alias("tag"),
    )
    rel = F.lower(F.regexp_extract("tag", _REL_ATTR_RE, 1))
    rel_toks = F.filter(
        F.transform(F.split(rel, r"[,\s]+"), lambda t: F.trim(t)),
        lambda t: t != "",
    )
    anchors = a.select(
        "url",
        F.regexp_extract("tag", _HREF_ATTR_RE, 1).alias("href"),
        (
            F.arrays_overlap(
                rel_toks, F.array(F.lit("nofollow"), F.lit("ugc"),
                                  F.lit("sponsored"))
            )
        ).alias("rel_nofollow"),
    ).filter(F.col("href") != "")
    pd = df.select(F.col(url_col).alias("url"), F.col(html_col).alias("html"))
    page_nofollow = robots_directives(pd).select(
        "url", F.col("nofollow").alias("page_nofollow")
    )
    return (
        anchors.join(page_nofollow, "url", "left")
        .select(
            "url",
            "href",
            (
                F.col("rel_nofollow")
                | F.coalesce(F.col("page_nofollow"), F.lit(False))
            ).alias("nofollow"),
        )
    )


def hreflang_alternates(
    df: DataFrame, html_col: str = "html", url_col: str = "url"
) -> DataFrame:
    """(url, hreflang, href): the declared translation set of each
    page, from ``<link rel="alternate" hreflang=…>`` tags (lowercased
    language tags, x-default kept). These rows pair pages into bitext
    clusters with publisher-level confidence."""
    tags = df.select(
        F.col(url_col).alias("url"),
        F.explode(_tags(F.col(html_col), LINK_TAG_RE)).alias("tag"),
    )
    rel = F.lower(F.regexp_extract("tag", _REL_ATTR_RE, 1))
    return (
        tags.select(
            "url",
            rel.alias("rel"),
            F.lower(F.regexp_extract("tag", _HREFLANG_ATTR_RE, 1)).alias(
                "hreflang"
            ),
            F.regexp_extract("tag", _HREF_ATTR_RE, 1).alias("href"),
        )
        .filter(
            (F.col("rel") == "alternate")
            & (F.col("hreflang") != "")
            & (F.col("href") != "")
        )
        .drop("rel")
    )
