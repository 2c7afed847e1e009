"""Round-plan properties of the crawl loop on the smoke polite crawl.

1. **Every block a crawl call creates is released by the time it
   returns.**  Round intermediates are localCheckpoint'd, and
   checkpoint blocks are invisible to ``DataFrame.unpersist()``, so
   a release that goes through the wrong handle leaks silently.
2. **Plans stay small.**  A round's shared intermediates are
   checkpoint leaves, so a downstream plan never embeds their source
   plans; a cached relation would, and Spark renders the resulting
   multi-megabyte plan strings at every SQL execution start and
   adaptive re-plan.  The guard pins the plan property, not a timing.
3. **A warm round re-pays no round-invariant work.**  Resuming the same
   round again compiles (almost) no new classes, and reading a
   committed table runs no schema-inference job: the manifest carries
   its schema, and the corpus is read with its declared schema.  A
   manifest without schemas (written before they were recorded) still
   resumes bit-identically.

The guards pin counts, not timings.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from beeradvocate_crawler_spark.config import CrawlConfig
from beeradvocate_crawler_spark.fixtures import site_model as sm
from beeradvocate_crawler_spark.fixtures.gen_site import write_pages_parquet
from beeradvocate_crawler_spark.plans import crawl as plans
from beeradvocate_crawler_spark.sources.catalog import SnapshotCatalog

MAX_PLAN_BYTES = 256 * 1024
# order and seen hashes of the full smoke polite crawl (round 9, 77 URLs)
FULL_CRAWL = {"order": "-0x2330f2bdfef33cd2", "seen": "0x4ee3e0ce9d9f6c28"}
# classes a warm resumed round may still compile (about 130 when the
# codegen cache is too small to hold a round)
MAX_WARM_COMPILES = 4


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


def _compiles(spark) -> int:
    """Classes Spark's code generator has compiled in this JVM."""
    cm = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return cm.METRIC_COMPILATION_TIME().getCount()


def _crawl_hashes(cat) -> dict:
    order = cat.read("crawl_order").select(F.bit_xor(F.xxhash64(
        F.concat_ws("\x01", "rank", "round", "url")))).collect()[0][0]
    seen = cat.read("seen").select(F.bit_xor(F.xxhash64("url"))).collect()[0][0]
    return {"order": hex(order), "seen": hex(seen)}


@pytest.fixture(scope="module")
def polite_calls(spark):
    """Crawl 5 rounds with ``run``, then 2 more with ``resume`` (the
    politeness-bound rounds), recording persistent-RDD counts around
    each call and the plan sizes of the resumed rounds' executions.
    A copy of the 5-round snapshot is kept as ``base`` (its manifests
    name the original's data files, which later rounds never rewrite)."""
    tmp = tempfile.mkdtemp(prefix="ba_round_plans_")
    pages = f"{tmp}/pages"
    write_pages_parquet(spark, "smoke", pages)
    cfg = CrawlConfig(round_seconds=16)
    rec = {"tmp": tmp, "pages": pages, "cfg": cfg, "base": f"{tmp}/base"}
    before = _persistent_rdds(spark)
    plans.run(spark, pages, sm.SEED_URLS, f"{tmp}/run", cfg, max_rounds=5)
    rec["run"] = (before, _persistent_rdds(spark))
    shutil.copytree(f"{tmp}/run", rec["base"])
    last_id = max((i for i, _ in _executions(spark)), default=-1)
    before = _persistent_rdds(spark)
    cat = plans.resume(spark, pages, f"{tmp}/run", cfg, max_rounds=2)
    rec["resume"] = (before, _persistent_rdds(spark))
    rec["round"] = cat.latest().round
    rec["run_dir"] = f"{tmp}/run"
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


def test_big_batch_rank_releases_its_blocks(spark, polite_calls, monkeypatch):
    """The two-phase rank's range-partitioned input is released with
    the round's other intermediates."""
    from beeradvocate_crawler_spark.operators import ordering

    monkeypatch.setattr(ordering, "BIG_BATCH_THRESHOLD", 0)
    cfg = CrawlConfig(round_seconds=16)
    before = _persistent_rdds(spark)
    plans.run(spark, polite_calls["pages"], sm.SEED_URLS,
              f"{polite_calls['tmp']}/big", cfg, max_rounds=3)
    assert _persistent_rdds(spark) == before


def test_warm_resume_reuses_generated_classes(spark, polite_calls):
    """Resuming the same round twice: the second compiles (almost)
    nothing, because one round's classes fit the codegen cache."""
    compiled = []
    for copy in ("warm1", "warm2"):
        run_dir = f"{polite_calls['tmp']}/{copy}"
        shutil.copytree(polite_calls["base"], run_dir)
        c0 = _compiles(spark)
        plans.resume(spark, polite_calls["pages"], run_dir,
                     polite_calls["cfg"], max_rounds=1)
        compiled.append(_compiles(spark) - c0)
    assert compiled[1] <= MAX_WARM_COMPILES, compiled


def test_committed_tables_read_without_a_job(spark, polite_calls):
    cat = SnapshotCatalog(spark, polite_calls["run_dir"])
    sc = spark.sparkContext
    sc.setJobGroup("catalog_reads", "reads of committed tables")
    try:
        tables = {t: cat.read(t) for t in sorted(cat.latest().tables)}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert sc.statusTracker().getJobIdsForGroup("catalog_reads") == []
    assert all(df is not None for df in tables.values())


def test_resume_reads_the_corpus_in_one_job(spark, polite_calls):
    """A resume that runs no round starts at most one job: the corpus
    file listing.  Inferring the corpus schema would add a second."""
    run_dir = f"{polite_calls['tmp']}/no_rounds"
    shutil.copytree(polite_calls["base"], run_dir)
    sc = spark.sparkContext
    sc.setJobGroup("resume_no_rounds", "resume without a round")
    try:
        cat = plans.resume(spark, polite_calls["pages"], run_dir,
                           polite_calls["cfg"], max_rounds=0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup("resume_no_rounds")) <= 1
    assert cat.latest().round == 5


def test_resume_without_manifest_schemas_is_exact(spark, polite_calls):
    """A snapshot whose manifest carries no schemas (written before
    they were recorded) resumes to the same crawl; delta tables stay
    schema-less, replaced tables regain one at their next write."""
    run_dir = f"{polite_calls['tmp']}/no_schema"
    shutil.copytree(polite_calls["base"], run_dir)
    with open(os.path.join(run_dir, "_SNAPSHOT")) as f:
        mf = os.path.join(run_dir, "_manifests", json.load(f)["manifest"])
    with open(mf) as f:
        m = json.load(f)
    for t in m["tables"].values():
        assert t.pop("schema", None) is not None
    with open(mf, "w") as f:
        json.dump(m, f)
    cat = plans.resume(spark, polite_calls["pages"], run_dir,
                       polite_calls["cfg"])
    assert _crawl_hashes(cat) == FULL_CRAWL
    tables = cat.latest().tables
    assert "schema" not in tables["seen"] and "schema" in tables["frontier"]


@pytest.mark.parametrize("probe", [False, True])
def test_resume_snapshot_with_removed_config_keys(spark, polite_calls,
                                                  probe, monkeypatch):
    """A snapshot whose lineage config still names the options removed
    from ``CrawlConfig`` (``filter_kind``, ``use_cuckoo``,
    ``cache_pages``, ``cuckoo_min_seen_rows``; the corpus moduli, the
    filter layout, the salt count, the pre-merge broadcast bound and
    the three scale-path thresholds, here with values other than the
    constants) resumes, with the config taken from the lineage, to the
    full-crawl hashes.  The snapshot has
    no ``seen_filter`` table, as its rounds are below the seen bound.
    With the bound at 0 (``probe``) resume must rebuild the blobs from
    ``seen`` before its first round probes them."""
    if probe:
        monkeypatch.setattr(plans, "BROADCAST_SEEN_THRESHOLD", 0)
    run_dir = f"{polite_calls['tmp']}/old_keys_{probe}"
    shutil.copytree(polite_calls["base"], run_dir)
    with open(os.path.join(run_dir, "_SNAPSHOT")) as f:
        mf = os.path.join(run_dir, "_manifests", json.load(f)["manifest"])
    with open(mf) as f:
        m = json.load(f)
    assert "seen_filter" not in m["tables"]
    m["lineage"]["config"].update(
        filter_kind="cuckoo", use_cuckoo=not probe, cache_pages=False,
        cuckoo_min_seen_rows=0, n_filter_partitions=16,
        filter_compact_every=3, broadcast_seen_threshold=0,
        n_page_buckets=8, files_per_bucket=63, n_salts=4,
        big_batch_threshold=0, hot_host_threshold=0,
        broadcast_hosts_threshold=0)
    with open(mf, "w") as f:
        json.dump(m, f)
    cat = plans.resume(spark, polite_calls["pages"], run_dir)
    assert _crawl_hashes(cat) == FULL_CRAWL
    blobs = cat.latest().tables.get("seen_filter", {}).get("paths")
    assert bool(blobs) == probe
