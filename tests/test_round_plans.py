"""Round-plan properties of the crawl loop on the smoke polite crawl.

1. **Every block a crawl call creates is released by the time it
   returns.**  Round intermediates and the carry are localCheckpoint'd,
   and checkpoint blocks are invisible to ``DataFrame.unpersist()``, so
   a release that goes through the wrong handle leaks silently.
2. **Plans stay small.**  A round's shared intermediates are
   checkpoint leaves, so a downstream plan never embeds their source
   plans; a cached relation would, and Spark renders the resulting
   multi-megabyte plan strings at every SQL execution start and
   adaptive re-plan.  The guard pins the plan property, not a timing.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest

from beeradvocate_crawler_spark.config import CrawlConfig
from beeradvocate_crawler_spark.fixtures import site_model as sm
from beeradvocate_crawler_spark.fixtures.gen_site import write_pages_parquet
from beeradvocate_crawler_spark.plans import crawl as plans

MAX_PLAN_BYTES = 256 * 1024


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _executions(spark):
    """(id, physical-plan length) of every SQL execution in the status
    store, once the listener bus has delivered every event."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    out = []
    it = spark._jsparkSession.sharedState().statusStore().executionsList().iterator()
    while it.hasNext():
        e = it.next()
        out.append((e.executionId(), len(e.physicalPlanDescription())))
    return out


@pytest.fixture(scope="module")
def polite_calls(spark):
    """Crawl 5 rounds with ``run``, then 2 more with ``resume`` (the
    politeness-bound rounds), recording persistent-RDD counts around
    each call and the plan sizes of the resumed rounds' executions."""
    tmp = tempfile.mkdtemp(prefix="ba_round_plans_")
    pages = f"{tmp}/pages"
    write_pages_parquet(spark, "smoke", pages)
    cfg = CrawlConfig(round_seconds=16)
    rec = {}
    before = _persistent_rdds(spark)
    plans.run(spark, pages, sm.SEED_URLS, f"{tmp}/run", cfg, max_rounds=5)
    rec["run"] = (before, _persistent_rdds(spark))
    last_id = max((i for i, _ in _executions(spark)), default=-1)
    before = _persistent_rdds(spark)
    cat = plans.resume(spark, pages, f"{tmp}/run", cfg, max_rounds=2)
    rec["resume"] = (before, _persistent_rdds(spark))
    rec["round"] = cat.latest().round
    rec["plans"] = [n for i, n in _executions(spark) if i > last_id]
    yield rec
    shutil.rmtree(tmp, ignore_errors=True)


def test_crawl_calls_release_every_block(polite_calls):
    assert polite_calls["run"][1] == polite_calls["run"][0]
    assert polite_calls["resume"][1] == polite_calls["resume"][0]


def test_round_plans_stay_small(polite_calls):
    assert polite_calls["round"] == 7
    sizes = polite_calls["plans"]
    assert sizes, "no SQL executions recorded for the resumed rounds"
    assert max(sizes) <= MAX_PLAN_BYTES, (
        f"largest physical plan description is {max(sizes)} bytes")
