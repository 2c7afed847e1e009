"""RFC 9309 wildcard robots rules (SURVEY.md §2 A10 depth): ``*`` spans
and trailing-``$`` anchors, on BOTH sides — the pure matcher
(functions/robots.py::rule_matches, used by the sequential oracle) and
its relational twin (operators/politeness.py::rule_match_expr, used by
the engine's broadcast rules join) — plus their differential over a
metacharacter-laden rule/path grid and a check of ``decide_round``'s
``blocked`` flag against pure ``allowed()``."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from beeradvocate_crawler_spark.functions.robots import (
    parse_robots,
    rule_matches,
)
from beeradvocate_crawler_spark.operators.politeness import (
    decide_round,
    rule_match_expr,
)

# the documented reference examples (RFC 9309 §2.2.3 / Google's
# robots.txt matcher docs), plus literal-'$'-mid-rule and empty-path edges
CASES = [
    ("/fish", "/fish", True),
    ("/fish", "/fishheads", True),
    ("/fish", "/Fish.asp", False),
    ("/fish*", "/fish", True),
    ("/fish*", "/fishheads/yummyfish.php?id=anything", True),
    ("/fish/", "/fish/", True),
    ("/fish/", "/fish", False),
    ("/fish/", "/fish/salmon.htm", True),
    ("/*.php", "/filename.php", True),
    ("/*.php", "/folder/filename.php", True),
    ("/*.php", "/windows.PHP", False),
    ("/*.php", "/", False),
    ("/*.php$", "/filename.php", True),
    ("/*.php$", "/filename.php?parameters", False),
    ("/*.php$", "/filename.php/", False),
    ("/fish*.php", "/fish.php", True),
    ("/fish*.php", "/fishheads/catfish.php?parameters", True),
    ("/a$", "/a", True),
    ("/a$", "/ab", False),
    ("/a$b", "/a$b", True),   # '$' mid-rule is literal
    ("/a$b", "/ab", False),
    ("*", "/anything", True),
    ("/$", "/", True),
    ("/$", "/x", False),
]

RULES = sorted({r for r, _, _ in CASES} | {"/a+b", "/a(b)c", "/x[1]",
                                           "/w*x*y$", "/p?q=1", "/%7Ejoe"})
PATHS = sorted({p for _, p, _ in CASES} | {"", "/a+b", "/a+bc", "/a(b)c",
                                           "/x[1]", "/wXxYy", "/wXxYyZ",
                                           "/p?q=1", "/p?q=12", "/%7Ejoe/z"})


class TestPureMatcher:
    @pytest.mark.parametrize("rule,pq,want", CASES)
    def test_rfc_examples(self, rule, pq, want):
        assert rule_matches(rule, pq) is want

    def test_wildcard_rules_in_allowed_ranking(self):
        # most specific (longest pattern) wins; Allow on tie
        r = parse_robots(
            "User-agent: *\n"
            "Disallow: /*.php$\n"
            "Allow: /public*.php$\n"
            "Disallow: /private\n"
        )
        assert not r.allowed("/index.php")
        assert r.allowed("/public_api.php")       # longer Allow wins
        assert r.allowed("/index.php?x=1")        # $ anchor misses
        assert not r.allowed("/private/page")


class TestAgentGroups:
    BODY = (
        "User-agent: googlebot\n"
        "Disallow: /g/\n"
        "Crawl-delay: 7\n"
        "\n"
        "User-agent: a\n"
        "User-agent: b\n"          # adjacent UA lines share one group
        "Disallow: /ab/\n"
        "\n"
        "User-agent: *\n"
        "Disallow: /star/\n"
        "\n"
        "User-agent: GoogleBot\n"  # same token, different case: combined
        "Disallow: /g2/\n"
        "Sitemap: https://h.example/sm.xml\n"
    )

    def test_default_selects_star_only(self):
        r = parse_robots(self.BODY)
        assert [p for _, _, p in r.rules] == ["/star/"]
        assert r.crawl_delay == 1.0
        assert r.sitemaps == ["https://h.example/sm.xml"]

    def test_named_agent_combines_groups_and_skips_star(self):
        r = parse_robots(self.BODY, agent="Googlebot")
        assert [p for _, _, p in r.rules] == ["/g/", "/g2/"]
        assert r.crawl_delay == 7.0
        assert not r.allowed("/g2/x") and r.allowed("/star/x")

    def test_adjacent_ua_lines_share_one_group(self):
        for tok in ("a", "B"):
            r = parse_robots(self.BODY, agent=tok)
            assert [p for _, _, p in r.rules] == ["/ab/"]

    def test_unknown_agent_falls_back_to_star(self):
        r = parse_robots(self.BODY, agent="nobody")
        assert [p for _, _, p in r.rules] == ["/star/"]

    def test_no_star_group_and_unknown_agent_allows_all(self):
        r = parse_robots("User-agent: x\nDisallow: /\n", agent="y")
        assert r.allowed("/anything")


class TestRelationalTwin:
    def test_differential_grid(self, spark):
        rows = [(r, p) for r in RULES for p in PATHS]
        df = spark.createDataFrame(rows, "rule string, pq string")
        got = df.select(
            "rule", "pq", rule_match_expr(F.col("pq"), F.col("rule")).alias("m")
        ).collect()
        bad = [
            (r.rule, r.pq) for r in got
            if bool(r.m) != rule_matches(r.rule, r.pq)
        ]
        assert not bad, f"{len(bad)} relational-vs-pure mismatches: {bad[:10]}"

    def test_decide_round_blocks_wildcards(self, spark):
        body = ("User-agent: *\n"
                "Disallow: /*.php$\n"
                "Allow: /public*.php$\n"
                "Disallow: /tmp/\n")
        rr = parse_robots(body)
        urls = [
            "https://h.example/index.php",
            "https://h.example/public_api.php",
            "https://h.example/index.php?x=1",
            "https://h.example/tmp/cache",
            "https://h.example/ok.html",
        ]
        pending = spark.createDataFrame(
            [(u, "h.example", "beer", 70, 1, i, 0) for i, u in enumerate(urls)],
            "url string, host string, page_type string, priority int, "
            "depth int, parent_ord long, link_pos int",
        )
        host_state = spark.createDataFrame(
            [("h.example", 0.0, 1.0, True)],
            "host string, tokens double, crawl_delay double, robots_done boolean",
        )
        rules = spark.createDataFrame(
            [("h.example", o, a, p) for o, a, p in rr.rules],
            "host string, ord int, allow boolean, prefix string",
        )
        decided, _ = decide_round(pending, host_state, rules, 16)
        blocked = {r.url for r in decided.where("blocked").collect()}
        want = {
            u for u in urls
            if not rr.allowed(u.split("h.example", 1)[1])
        }
        assert blocked == want


WILDCARD_ROBOTS = (
    "# wildcard-rule variant of the smoke robots\n"
    "User-agent: *\n"
    "Disallow: /rate/\n"
    "Disallow: /beer/profile/*/?*view=beer$\n"   # every review-pagination page
    "Allow: /beer/profile/*/?start=25&view=beer$\n"  # carve start=25 back (longer)
    "Disallow: /community/members/*1/$\n"        # users whose uid ends in 1
    "Crawl-delay: 1\n"
)


class TestWildcardCrawlE2E:
    def test_engine_matches_oracle_under_wildcard_robots(self, spark, tmp_path,
                                                         seen_probe_path):
        """Full crawl differential on a smoke-site variant whose robots
        uses `*`/`$` rules that actually fire mid-crawl: every beer's
        review pagination is disallowed except the start=25 page, which
        a longer (more specific) Allow carves back.  The sequential
        oracle and the engine's relational matcher must agree on the
        whole run — order, seen set, parsed records."""
        import shutil
        import tempfile

        from beeradvocate_crawler_spark import oracle
        from beeradvocate_crawler_spark.config import CrawlConfig
        from beeradvocate_crawler_spark.fixtures import site_model as sm
        from beeradvocate_crawler_spark.fixtures.gen_site import generate_pages
        from beeradvocate_crawler_spark.plans import crawl as plans
        from beeradvocate_crawler_spark.sources.ingest import write_corpus
        from beeradvocate_crawler_spark.testing import compare

        pages = [dict(p) for p in generate_pages("smoke")]
        robots_url = sm.url_robots()
        for p in pages:
            if p["url"] == robots_url:
                p["html"] = WILDCARD_ROBOTS.encode("utf-8")
                p["text"] = WILDCARD_ROBOTS
        corpus = {p["url"]: p for p in pages}
        ores = oracle.crawl(corpus, sm.SEED_URLS, round_seconds=16)

        # the wildcard rules must actually fire: the pagination Disallow
        # is fully carved back by the longer Allow (every smoke-scale
        # pagination page IS start=25 — specificity ranking is what
        # keeps them crawlable), while the `*1/$` user rule must block
        # some but not all user pages — otherwise this differential
        # proves nothing
        fetched = {u for _rank, _rnd, u in ores.crawl_order}
        pag = [u for u in fetched if "view=beer" in u]
        assert pag and all("start=25&" in u for u in pag)
        users_fetched = [u for u in fetched if "/community/members/" in u]
        users_blocked = [
            u for u in ores.seen
            if "/community/members/" in u and u not in fetched
        ]
        assert users_fetched and users_blocked, (
            "wildcard user rule should block some but not all users; "
            f"fetched={len(users_fetched)} blocked={len(users_blocked)}"
        )
        assert all(u.rstrip("/").endswith("1") for u in users_blocked)

        tmp = tempfile.mkdtemp(prefix="ba_wildcard_e2e_")
        try:
            df = spark.createDataFrame(
                [(p["url"], p["warc_ts"], p["html"], p["text"], p["lang"])
                 for p in pages],
                "url string, warc_ts timestamp, html binary, "
                "text string, lang string",
            )
            pages_path = f"{tmp}/pages"
            write_corpus(df, pages_path)
            run_dir = f"{tmp}/run"
            plans.run(spark, pages_path, sm.SEED_URLS, run_dir,
                      CrawlConfig(round_seconds=16))
            errs = compare(spark, run_dir, ores, corpus)
            assert not errs, "\n".join(errs)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    def test_engine_matches_oracle_under_named_agent(
        self, spark, smoke_site, tmp_path
    ):
        """CrawlConfig.user_agent selects the named RFC 9309 group on
        BOTH sides: under agent 'googlebot' the smoke robots' `*` rules
        (which block one beer's pagination) do not apply, so the crawl
        fetches strictly more pages — and the engine must still match
        the (same-agent) sequential oracle exactly."""
        import shutil
        import tempfile

        from beeradvocate_crawler_spark import oracle
        from beeradvocate_crawler_spark.config import CrawlConfig
        from beeradvocate_crawler_spark.fixtures import site_model as sm
        from beeradvocate_crawler_spark.fixtures.gen_site import (
            write_pages_parquet,
        )
        from beeradvocate_crawler_spark.plans import crawl as plans
        from beeradvocate_crawler_spark.testing import compare

        _, corpus, ores_star = smoke_site
        ores = oracle.crawl(corpus, sm.SEED_URLS, round_seconds=16,
                            user_agent="googlebot")
        star_fetched = {u for _r, _n, u in ores_star.crawl_order}
        gbot_fetched = {u for _r, _n, u in ores.crawl_order}
        # the * group's pagination Disallow no longer applies
        assert star_fetched < gbot_fetched

        tmp = tempfile.mkdtemp(prefix="ba_agent_e2e_")
        try:
            pages_path = f"{tmp}/pages"
            write_pages_parquet(spark, "smoke", pages_path)
            run_dir = f"{tmp}/run"
            plans.run(spark, pages_path, sm.SEED_URLS, run_dir,
                      CrawlConfig(round_seconds=16, user_agent="googlebot"))
            errs = compare(spark, run_dir, ores, corpus)
            assert not errs, "\n".join(errs)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
