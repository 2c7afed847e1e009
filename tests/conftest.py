from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from beeradvocate_crawler_spark.session import get_spark

    s = get_spark(master=os.environ.get("TEST_SPARK_MASTER", "local[8]"))
    yield s


@pytest.fixture(scope="session")
def smoke_site():
    """(pages list, corpus dict, oracle result) for the smoke scale."""
    from beeradvocate_crawler_spark import oracle
    from beeradvocate_crawler_spark.fixtures import site_model as sm
    from beeradvocate_crawler_spark.fixtures.gen_site import generate_pages

    pages = generate_pages("smoke")
    corpus = {p["url"]: p for p in pages}
    ores = oracle.crawl(corpus, sm.SEED_URLS, round_seconds=16)
    return pages, corpus, ores


@pytest.fixture
def seen_probe_path(monkeypatch):
    """Forces the seen dedupe's scale path at smoke scale: with the
    broadcast bound at 0 every round past seeding merges, probes the
    cuckoo filter blobs and anti-joins the "maybe seen" rows, and the
    blobs are built and compacted as past the bound."""
    from beeradvocate_crawler_spark.plans import crawl

    monkeypatch.setattr(crawl, "BROADCAST_SEEN_THRESHOLD", 0)
