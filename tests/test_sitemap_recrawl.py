"""A21 sitemap ingestion + A22 recrawl scheduling + D23 pipeline
invariants (the round-3 additive ops; hash twins are covered by
scripts/check_queries.py, these pin the SEMANTICS)."""

from __future__ import annotations

import datetime as dt
import os

SITEMAP_XML = """<?xml version="1.0" encoding="UTF-8"?>
<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
  <url>
    <loc>https://www.beeradvocate.com/beer/profile/3/</loc>
    <lastmod>2024-05-01</lastmod>
    <changefreq>weekly</changefreq>
    <priority>0.8</priority>
  </url>
  <url>
    <loc>
      https://www.beeradvocate.com/beer/profile/3/123/
    </loc>
  </url>
  <url><loc>HTTPS://WWW.BeerAdvocate.COM:443/place/directory/?utm_source=x</loc></url>
</urlset>
"""

INDEX_XML = """<?xml version="1.0"?>
<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
  <sitemap><loc>https://www.beeradvocate.com/sitemap-1.xml</loc>
    <lastmod>2024-01-01</lastmod></sitemap>
  <sitemap>
    <loc>https://www.beeradvocate.com/sitemap-2.xml</loc>
  </sitemap>
</sitemapindex>
"""


def test_urlset_entries_parse_real_shapes(spark):
    from beeradvocate_crawler_spark.operators.sitemap import urlset_entries

    df = spark.createDataFrame([("https://www.beeradvocate.com/sitemap.xml", SITEMAP_XML)], "url string, xml string")
    rows = urlset_entries(df).orderBy("loc").collect()
    assert len(rows) == 3
    full = rows[1]
    assert full.loc == "https://www.beeradvocate.com/beer/profile/3/"
    assert full.lastmod == "2024-05-01"
    assert full.changefreq == "weekly"
    assert full.sm_priority == 0.8
    # whitespace-padded loc is trimmed; optional fields come back NULL
    bare = rows[2]
    assert bare.loc == "https://www.beeradvocate.com/beer/profile/3/123/"
    assert bare.lastmod is None and bare.changefreq is None and bare.sm_priority is None


def test_sitemap_index_locs(spark):
    from beeradvocate_crawler_spark.operators.sitemap import sitemap_index_locs

    df = spark.createDataFrame([("https://www.beeradvocate.com/sitemap.xml", INDEX_XML)], "url string, xml string")
    locs = [r.child_loc for r in sitemap_index_locs(df).orderBy("child_loc").collect()]
    assert locs == [
        "https://www.beeradvocate.com/sitemap-1.xml",
        "https://www.beeradvocate.com/sitemap-2.xml",
    ]


def test_seeds_from_sitemaps_equals_list_seeding(spark):
    """A sitemap-seeded frontier must be row-identical to seeding from
    the equivalent explicit list (same canonicalization, classification,
    priority, link_pos) — so sitemap ingestion plugs into A1/A9
    without touching crawl-order semantics."""
    from beeradvocate_crawler_spark.functions.urlnorm import canonicalize_url
    from beeradvocate_crawler_spark.operators.frontier import seed_frontier
    from beeradvocate_crawler_spark.operators.sitemap import seeds_from_sitemaps

    raw = [
        "https://www.beeradvocate.com/place/directory/",
        "HTTPS://WWW.BeerAdvocate.COM:443/beer/profile/3/?utm_source=x",
        "https://www.beeradvocate.com/beer/profile/3/123/",
    ]
    xml = "<urlset>" + "".join(f"<url><loc>{u}</loc></url>" for u in raw) + "</urlset>"
    df = spark.createDataFrame([("https://www.beeradvocate.com/sitemap.xml", xml)], "url string, xml string")
    got = sorted(seeds_from_sitemaps(df).collect())
    want = sorted(seed_frontier(spark, raw).collect())
    assert got == want
    assert {r.url for r in got} == {canonicalize_url(u) for u in raw}
    assert {r.page_type for r in got} == {"place_dir", "brewery", "beer"}


def test_recrawl_schedule_orders_stale_short_gap_first(spark, tmp_path):
    """Page B: old last fetch + short observed change interval must
    outrank page A: recent last fetch + long interval; a once-fetched
    page uses the default interval."""
    from beeradvocate_crawler_spark.plans.relational import (
        RECRAWL_DEFAULT_GAP_SEC,
        TABLE_SCHEMAS,
        q_recrawl_schedule,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    # page 1 (A): fetched daily, last fetch at day 30 (horizon)
    for d in range(0, 31, 1):
        rows.append((len(rows), t0 + dt.timedelta(days=d), 1, "fetch", 0.0, "{}"))
    # page 2 (B): fetched hourly on day 0 only -> gap ~1h, age 30 days
    for h in range(0, 24):
        rows.append((len(rows), t0 + dt.timedelta(hours=h), 2, "fetch", 0.0, "{}"))
    # page 3 (C): fetched once on day 15 -> default gap
    rows.append((len(rows), t0 + dt.timedelta(days=15), 3, "fetch", 0.0, "{}"))
    # every sf*/events.parquet holds timestamp_ntz, the type ld reads
    df = spark.createDataFrame(rows, TABLE_SCHEMAS["events"])
    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    df.coalesce(1).write.parquet(f"{sf_dir}/events.parquet")

    out = {r.page_id: r for r in q_recrawl_schedule(spark, sf_dir).collect()}
    assert out[2].gap_sec == 3600
    assert out[3].gap_sec == RECRAWL_DEFAULT_GAP_SEC
    assert out[1].staleness_q == 0  # fetched at the horizon
    # B's staleness (30 days at 1h interval) dwarfs C's (15 days at 24h)
    assert out[2].staleness_q > out[3].staleness_q > out[1].staleness_q


def test_corpus_pipeline_invariants(spark):
    """End-to-end assembly: every gate actually drops rows, splits
    partition the survivors, and stats are internally consistent."""
    from beeradvocate_crawler_spark.plans.textops import q_corpus_pipeline

    rows = q_corpus_pipeline(spark, "/root/testdata/sf0.001").collect()
    assert rows
    n = sum(r.n_docs for r in rows)
    # 500 docs + 500 exact copies in; dedup alone must remove >= 500
    assert 0 < n <= 500
    assert {r.split for r in rows} <= {"train", "val", "test"}
    for r in rows:
        assert r.n_tokens > 0
        # quality gate: surviving docs average >= 0.5 on the 3x10000 scale
        assert r.sum_quality_q3 >= 15000 * r.n_docs


def test_sitemap_seed_list_roundtrips_the_crawl_seeds(spark):
    """The driver-side seed-list extraction preserves document order, so
    plans.crawl.run seeded from a sitemap of SEED_URLS is EXACTLY the
    list-seeded crawl (same list in, same engine path)."""
    from beeradvocate_crawler_spark.fixtures import site_model as sm
    from beeradvocate_crawler_spark.operators.sitemap import sitemap_seed_list

    xml = "<urlset>" + "".join(
        f"<url><loc>{u}</loc><changefreq>daily</changefreq></url>"
        for u in sm.SEED_URLS
    ) + "</urlset>"
    df = spark.createDataFrame(
        [("https://www.beeradvocate.com/sitemap.xml", xml)], "url string, xml string"
    )
    assert sitemap_seed_list(df) == list(sm.SEED_URLS)


ROBOTS_BODY = """# robots for ba
User-agent: googlebot
Disallow: /private/

Sitemap: https://www.beeradvocate.com/sitemap-index.xml
User-agent: *
Crawl-delay: 2
Disallow: /community/
sitemap: https://www.beeradvocate.com/sitemap-extra.xml
"""


def test_robots_sitemap_directive_pure_and_spark_agree(spark):
    """Sitemap: is a GLOBAL robots directive — collected from any group
    position, case-insensitively, by both the pure parser and the
    JVM-regexp extractor."""
    from beeradvocate_crawler_spark.functions.robots import parse_robots
    from beeradvocate_crawler_spark.operators.sitemap import sitemaps_from_robots

    want = [
        "https://www.beeradvocate.com/sitemap-index.xml",
        "https://www.beeradvocate.com/sitemap-extra.xml",
    ]
    rules = parse_robots(ROBOTS_BODY)
    assert rules.sitemaps == want
    assert rules.crawl_delay == 2.0  # star group still parsed normally

    df = spark.createDataFrame(
        [("https://www.beeradvocate.com/robots.txt", ROBOTS_BODY)],
        "url string, text string",
    )
    rows = sitemaps_from_robots(df).collect()
    assert [r.sitemap_url for r in rows] == want
    assert all(r.host == "www.beeradvocate.com" for r in rows)
