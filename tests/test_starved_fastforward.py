"""Starved-round fast-forward (round-4 VERDICT ask #4: adaptive
terminal-round batching).

A starved round (pending rows exist, zero admissions) changes nothing
but candidate hosts' token levels.  Because burst = 2x refill, a
candidate host either admits after the next refill or NEVER can
(burst < 1 token) — so a starved round either commits at its own
index or jumps to the round horizon in one commit.  Two differential
twins: a host that starves in single rounds between admissions (each
starved round commits at its own index, and the next, admitting
round starts from that snapshot), and the permanent case: a host whose
robots.txt sets Crawl-delay 4x the round budget (refill 0.25, burst
0.5 < 1 token) — the oracle idles from round 2 to max_rounds one
round at a time; the engine must reach the IDENTICAL end state
(ledger, seen, final round number, exact token float) in O(1) commits
instead of O(max_rounds).
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

from pyspark.sql import functions as F

from beeradvocate_crawler_spark import oracle
from beeradvocate_crawler_spark.config import CrawlConfig
from beeradvocate_crawler_spark.functions.xxh64 import xxh64_signed
from beeradvocate_crawler_spark.plans import crawl as plans
from beeradvocate_crawler_spark.sources.corpus import pages_schema
from beeradvocate_crawler_spark.sources.ingest import write_corpus

ROBOTS_URL = "https://slow.example/robots.txt"
BREWERY_URL = "https://slow.example/beer/profile/1/"
ROBOTS_BODY = "User-agent: *\nCrawl-delay: 16\n"
MAX_ROUNDS = 40


def _pages() -> list[dict]:
    from datetime import datetime

    t0 = datetime(2024, 1, 1)
    return [
        {"url": ROBOTS_URL, "warc_ts": t0, "html": ROBOTS_BODY.encode(),
         "text": ROBOTS_BODY, "lang": "en"},
        {"url": BREWERY_URL, "warc_ts": t0, "html": b"<html>quiet</html>",
         "text": "quiet", "lang": "en"},
    ]


def test_permanently_starved_host_fast_forwards(spark):
    pages = _pages()
    corpus = {p["url"]: p for p in pages}
    # round_seconds=4 vs Crawl-delay 16 -> refill 0.25/round, burst 0.5:
    # the brewery page can never be admitted after robots lands
    ores = oracle.crawl(corpus, [BREWERY_URL], round_seconds=4,
                        max_rounds=MAX_ROUNDS)
    assert ores.rounds == MAX_ROUNDS  # oracle idles to the horizon
    assert [u for _, _, u in ores.crawl_order] == [ROBOTS_URL]

    tmp = tempfile.mkdtemp(prefix="ba_starved_")
    try:
        pages_path = f"{tmp}/pages"
        write_corpus(spark.createDataFrame(pages, schema=pages_schema()),
                     pages_path, 16, 4)
        cat = plans.run(
            spark, pages_path, [BREWERY_URL], f"{tmp}/run",
            CrawlConfig(round_seconds=4, max_rounds=MAX_ROUNDS),
        )
        m = cat.latest()
        # identical end state, O(1) commits: the engine's final round
        # number equals the oracle's horizon, reached by ONE
        # fast-forward commit (manifest count stays tiny)
        assert m.round == ores.rounds == MAX_ROUNDS
        assert m.lineage.get("fast_forwarded_from") == 2
        got_order = [
            (r["rank"], r["round"], r["url"])
            for r in cat.read("crawl_order").orderBy("rank").collect()
        ]
        assert got_order == ores.crawl_order
        got_seen = {(r["url"], r["url_hash"])
                    for r in cat.read("seen").collect()}
        assert got_seen == {(u, xxh64_signed(u)) for u in ores.seen}
        # token float must match the oracle's ITERATED refills exactly
        # (min(burst, t + r) is a fixed point at burst after 2 steps)
        hs = {r["host"]: r for r in cat.read("host_state").collect()}
        assert hs["slow.example"]["tokens"] == 0.5
        assert hs["slow.example"]["crawl_delay"] == 16.0
        # the brewery row is still PENDING in the frontier (never
        # terminal — starvation is not a terminal state)
        pending = cat.read("frontier").where(F.col("state") == "PENDING")
        assert [r["url"] for r in pending.collect()] == [BREWERY_URL]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_starved_fastforward_resume_is_noop(spark):
    """Resume from the fast-forwarded snapshot: the horizon round is
    the latest manifest, so resume must terminate immediately with the
    state unchanged (exact-resume across a fast-forward boundary)."""
    pages = _pages()
    tmp = tempfile.mkdtemp(prefix="ba_starved_rs_")
    try:
        pages_path = f"{tmp}/pages"
        write_corpus(spark.createDataFrame(pages, schema=pages_schema()),
                     pages_path, 16, 4)
        run_dir = f"{tmp}/run"
        cfg = CrawlConfig(round_seconds=4, max_rounds=MAX_ROUNDS)
        cat = plans.run(spark, pages_path, [BREWERY_URL], run_dir, cfg)
        before = (cat.latest().round,
                  cat.read("crawl_order").count(), cat.read("seen").count())
        cat2 = plans.resume(spark, pages_path, run_dir, cfg)
        after = (cat2.latest().round,
                 cat2.read("crawl_order").count(), cat2.read("seen").count())
        assert before == after == (MAX_ROUNDS, 1, 2)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_starved_round_hands_its_carry_to_an_admitting_round(spark):
    """Crawl-delay 6 against round_seconds=4: refill 2/3, burst 4/3.
    After the robots round the host admits one URL, then alternately
    starves (2/3 - float rounding < 1 token) and admits, so rounds 3
    and 5 are starved and each is followed by an admitting round.
    The seed URLs are absent from the corpus (404), so nothing else is
    discovered, and round 7 is drained."""
    from datetime import datetime

    host = "https://every.example"
    robots_url = f"{host}/robots.txt"
    robots_body = "User-agent: *\nCrawl-delay: 6\n"
    seeds = [f"{host}/beer/profile/{i}/" for i in (1, 2, 3)]
    pages = [{"url": robots_url, "warc_ts": datetime(2024, 1, 1),
              "html": robots_body.encode(), "text": robots_body, "lang": "en"}]
    ores = oracle.crawl({robots_url: pages[0]}, seeds, round_seconds=4)
    assert ores.rounds == 7
    assert sorted({r for _, r, _ in ores.crawl_order}) == [1, 2, 4, 6]

    tmp = tempfile.mkdtemp(prefix="ba_starved_carry_")
    try:
        pages_path = f"{tmp}/pages"
        write_corpus(spark.createDataFrame(pages, schema=pages_schema()),
                     pages_path, 16, 4)
        run_dir = f"{tmp}/run"
        cat = plans.run(spark, pages_path, seeds, run_dir,
                        CrawlConfig(round_seconds=4))
        m = cat.latest()
        assert m.round == ores.rounds and m.lineage.get("drained")
        got_order = [
            (r["rank"], r["round"], r["url"])
            for r in cat.read("crawl_order").orderBy("rank").collect()
        ]
        assert got_order == ores.crawl_order
        got_seen = {(r["url"], r["url_hash"])
                    for r in cat.read("seen").collect()}
        assert got_seen == {(u, xxh64_signed(u)) for u in ores.seen}
        # the oracle's token float after round 6 (the drained round
        # writes no host_state): refill 4 before robots.txt lands,
        # then 4/6, less one token per admitted URL
        admitted = [0] * ores.rounds
        for _, r, _ in ores.crawl_order:
            admitted[r] += 1
        tokens, refill = 0.0, 4.0
        for r in range(1, ores.rounds):
            if r == 2:
                refill = 4 / 6
            tokens = min(2 * refill, tokens + refill) - admitted[r]
        hs = {r["host"]: r for r in cat.read("host_state").collect()}
        assert hs["every.example"]["tokens"] == tokens
        assert abs(tokens - 1 / 3) < 1e-9
        # every round committed at its own index: no fast-forward
        mdir = os.path.join(run_dir, "_manifests")
        names = sorted(os.listdir(mdir))
        assert len(names) == ores.rounds + 1
        for name in names:
            with open(os.path.join(mdir, name)) as f:
                assert "fast_forwarded_from" not in json.load(f)["lineage"]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
