"""Sitemap ingestion (SURVEY.md §2 A21): sitemaps.org protocol parsing
into frontier-shaped seed rows.

A production crawler reads /sitemap.xml before touching HTML — it is
the host's own declaration of its URL inventory, change dates, and
change frequencies, and the natural seed/refresh source for the
frontier.  Two document shapes exist (sitemaps.org/protocol.html):

- ``<urlset>`` — leaf sitemaps: one ``<url>`` entry per page with
  ``<loc>`` (required) and optional ``<lastmod>``/``<changefreq>``/
  ``<priority>``;
- ``<sitemapindex>`` — an index of child sitemap ``<loc>``s (hosts cap
  each file at 50k URLs and shard).

Parsing is pure JVM-side regexp expressions over the XML text — one
codegen map pass + explode per document, no Python, no shuffle — so it
runs inline in a fetch-round scan at any corpus size.  Regexes carry
``(?s)`` because real sitemap files put every entry on its own line
and Java's ``.`` does not cross newlines by default.  XML namespaces
(``<urlset xmlns=…>``) don't matter to the entry-level patterns.

Reference: mount empty (SURVEY.md §0.1); the reference crawler seeds
from a hard-coded list — sitemap ingestion is the A21 extension the
north rule's "seed … URL discovery" implies at web scale.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .frontier import PENDING
from .links import classify_expr, host_expr, priority_expr, url_hash_expr

_URL_ENTRY = r"(?s)<url>(.*?)</url>"
_SITEMAP_ENTRY = r"(?s)<sitemap>(.*?)</sitemap>"
_LOC = r"(?s)<loc>\s*([^<\s][^<]*?)\s*</loc>"
_LASTMOD = r"(?s)<lastmod>\s*([^<]*?)\s*</lastmod>"
_CHANGEFREQ = r"(?s)<changefreq>\s*([^<]*?)\s*</changefreq>"
_PRIORITY = r"(?s)<priority>\s*([^<]*?)\s*</priority>"


def urlset_entries(sitemaps: DataFrame, xml_col: str = "xml") -> DataFrame:
    """One row per ``<url>`` entry: (sitemap_url, loc, lastmod,
    changefreq, sm_priority).  Optional fields come back NULL when the
    entry omits them (empty regexp group -> nullif)."""
    e = sitemaps.select(
        F.col("url").alias("sitemap_url"),
        F.explode(
            F.regexp_extract_all(F.col(xml_col), F.lit(_URL_ENTRY), F.lit(1))
        ).alias("entry"),
    )

    def opt(pat: str):
        return F.nullif(F.regexp_extract("entry", pat, 1), F.lit(""))

    return e.select(
        "sitemap_url",
        F.regexp_extract("entry", _LOC, 1).alias("loc"),
        opt(_LASTMOD).alias("lastmod"),
        opt(_CHANGEFREQ).alias("changefreq"),
        opt(_PRIORITY).cast("double").alias("sm_priority"),
    ).where(F.col("loc") != "")


def sitemap_index_locs(sitemaps: DataFrame, xml_col: str = "xml") -> DataFrame:
    """Child sitemap locations from ``<sitemapindex>`` documents:
    (index_url, child_loc) — feed back through the fetch join and then
    :func:`urlset_entries`."""
    return (
        sitemaps.select(
            F.col("url").alias("index_url"),
            F.explode(
                F.regexp_extract_all(F.col(xml_col), F.lit(_SITEMAP_ENTRY), F.lit(1))
            ).alias("entry"),
        )
        .select(
            "index_url",
            F.regexp_extract("entry", _LOC, 1).alias("child_loc"),
        )
        .where(F.col("child_loc") != "")
    )


def sitemaps_from_robots(robots_pages: DataFrame, body_col: str = "text") -> DataFrame:
    """(host, sitemap_url) rows from ``Sitemap:`` directives in fetched
    robots.txt bodies — the discovery path that makes A10 feed A21
    (Sitemap is a GLOBAL robots directive, user-agent-independent).
    One JVM regexp pass per body; twin of functions/robots.parse_robots
    ``sitemaps`` (equality pinned in tests/test_sitemap_recrawl.py)."""
    return robots_pages.select(
        host_expr(F.col("url")).alias("host"),
        F.explode(
            F.regexp_extract_all(
                F.col(body_col),
                F.lit(r"(?im)^[ \t]*sitemap[ \t]*:[ \t]*(\S+)[ \t]*$"),
                F.lit(1),
            )
        ).alias("sitemap_url"),
    )


def sitemap_seed_list(sitemaps: DataFrame, xml_col: str = "xml") -> list[str]:
    """Driver-side seed list in document order ((sitemap_url, entry
    position) — the order a sequential crawler reads the file), for
    plugging straight into ``plans.crawl.run(spark, pages, seeds, …)``:
    a sitemap-seeded crawl is then exactly a list-seeded crawl.  The
    collect is bounded by seed-list size (one XML file holds ≤ 50k
    locs per the protocol), not by corpus size."""
    rows = (
        sitemaps.select(
            F.col("url").alias("s"),
            F.posexplode(
                F.regexp_extract_all(F.col(xml_col), F.lit(_URL_ENTRY), F.lit(1))
            ).alias("i", "entry"),
        )
        .select("s", "i", F.regexp_extract("entry", _LOC, 1).alias("loc"))
        .where(F.col("loc") != "")
        .orderBy("s", "i")
        .collect()
    )
    return [r.loc for r in rows]


def seeds_from_sitemaps(sitemaps: DataFrame, rnd: int = 0, xml_col: str = "xml") -> DataFrame:
    """A21 -> A1: urlset entries as canonical frontier rows at
    depth 0, classified and prioritized exactly like list seeds
    (frontier.seed_frontier) so a sitemap-seeded crawl is
    indistinguishable from an explicit-list crawl over the same URLs.
    link_pos is the entry's position within its sitemap (document
    order — the deterministic tiebreak A9 expects); canonicalization
    goes through the same vectorized pandas path as link extraction."""
    from ..functions.urlnorm import canonicalize_series

    @F.pandas_udf("string")
    def canon(u: pd.Series) -> pd.Series:
        return canonicalize_series(u)

    e = sitemaps.select(
        F.col("url").alias("sitemap_url"),
        F.posexplode(
            F.regexp_extract_all(F.col(xml_col), F.lit(_URL_ENTRY), F.lit(1))
        ).alias("link_pos", "entry"),
    ).select(
        "link_pos",
        canon(F.regexp_extract("entry", _LOC, 1)).alias("url"),
    ).where(F.col("url").isNotNull())
    return e.select(
        "url",
        url_hash_expr(F.col("url")).alias("url_hash"),
        host_expr(F.col("url")).alias("host"),
        classify_expr(F.col("url")).alias("page_type"),
        F.lit(0).alias("depth"),
        priority_expr(classify_expr(F.col("url"))).alias("priority"),
        F.lit(-1).cast("long").alias("parent_ord"),
        F.col("link_pos").cast("int").alias("link_pos"),
        F.lit(rnd).alias("discovered_round"),
        F.lit(PENDING).alias("state"),
    )
