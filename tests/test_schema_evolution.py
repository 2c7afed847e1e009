"""Additive schema evolution on snapshot tables (round-4 VERDICT ask
#8): catalog.evolve_table registers an Iceberg-style add-column; reads
merge mixed pre/post-evolution parquet schemas and fill the default;
time travel to pre-evolution rounds keeps the original schema; and a
CRAWL RESUMED ACROSS the schema-version boundary stays differentially
exact vs the oracle while its post-bump writers keep producing the old
schema.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from beeradvocate_crawler_spark.config import CrawlConfig
from beeradvocate_crawler_spark.fixtures import site_model as sm
from beeradvocate_crawler_spark.fixtures.gen_site import write_pages_parquet
from beeradvocate_crawler_spark.plans import crawl as plans
from beeradvocate_crawler_spark.sources.catalog import DELTA, SnapshotCatalog
from beeradvocate_crawler_spark.testing import compare


def test_delta_table_add_column_with_default(spark):
    d = tempfile.mkdtemp(prefix="ba_evo_")
    try:
        cat = SnapshotCatalog(spark, d)
        cat.write_round(
            "t", spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"),
            0, DELTA)
        cat.commit_round(0)
        cat.write_round(
            "t", spark.createDataFrame([(3, "c")], "id long, v string"),
            1, DELTA)
        cat.commit_round(1)

        # evolution amends the CURRENT snapshot (Iceberg add-column)
        cat.evolve_table("t", "w", "long", default=7)
        m1 = cat.latest()
        cat.commit_round(m1.round, lineage=m1.lineage, metrics=m1.metrics)

        # post-evolution writers may use the NEW schema...
        cat.write_round(
            "t", spark.createDataFrame([(4, "d", 40)], "id long, v string, w long"),
            2, DELTA)
        cat.commit_round(2)
        # ...or keep producing the OLD one (a resumed old binary)
        cat.write_round(
            "t", spark.createDataFrame([(5, "e")], "id long, v string"),
            3, DELTA)
        cat.commit_round(3)

        got = {r["id"]: (r["v"], r["w"]) for r in cat.read("t").collect()}
        assert got == {1: ("a", 7), 2: ("b", 7), 3: ("c", 7),
                       4: ("d", 40), 5: ("e", 7)}
        # time travel: a pre-evolution manifest reads the ORIGINAL
        # schema (round 1's manifest was amended BY the evolution, so
        # round 0 is the newest pre-evolution snapshot)
        old = cat.read("t", cat.manifest_for_round(0))
        assert old.columns == ["id", "v"] and old.count() == 2
        # default=None evolution: NULL-filled, typed
        cat.evolve_table("t", "note", "string")
        m = cat.latest()
        cat.commit_round(m.round, lineage=m.lineage, metrics=m.metrics)
        df = cat.read("t")
        assert dict(df.dtypes)["note"] == "string"
        assert df.where(F.col("note").isNull()).count() == 5
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_only_additive_columns_survive_roundtrip(spark):
    """The manifest records evolution as data: a fresh catalog instance
    (new process) applies it identically."""
    d = tempfile.mkdtemp(prefix="ba_evo2_")
    try:
        cat = SnapshotCatalog(spark, d)
        cat.write_round("t", spark.createDataFrame([(1,)], "id long"),
                        0, DELTA)
        cat.evolve_table("t", "score", "double", default=0.5)
        cat.commit_round(0)
        reopened = SnapshotCatalog(spark, d)
        rows = reopened.read("t").collect()
        assert [(r["id"], r["score"]) for r in rows] == [(1, 0.5)]
    finally:
        shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def evo_site_dirs(spark, smoke_site):
    tmp = tempfile.mkdtemp(prefix="ba_evo_crawl_")
    pages_path = f"{tmp}/pages"
    write_pages_parquet(spark, "smoke", pages_path)
    yield tmp, pages_path
    shutil.rmtree(tmp, ignore_errors=True)


def test_resume_across_schema_version_boundary(spark, smoke_site, evo_site_dirs,
                                               seen_probe_path):
    """run(2 rounds) -> add columns to seen + crawl_order -> resume to
    completion.  The resumed loop writes the OLD schema into the
    evolved tables; the crawl must stay bit-identical to the oracle and
    the evolved columns must read back with their defaults everywhere
    (the post-bump rows included)."""
    _, corpus, ores = smoke_site
    tmp, pages_path = evo_site_dirs
    run_dir = f"{tmp}/run_evo"
    cfg = CrawlConfig(round_seconds=16)
    plans.run(spark, pages_path, sm.SEED_URLS, run_dir, cfg, max_rounds=2)

    cat = SnapshotCatalog(spark, run_dir)
    cat.evolve_table("seen", "source", "string", default="crawl")
    cat.evolve_table("crawl_order", "fetch_ms", "long", default=-1)
    m = cat.latest()
    assert m.round == 2
    cat.commit_round(m.round, lineage=m.lineage, metrics=m.metrics)

    cat2 = plans.resume(spark, pages_path, run_dir, cfg)
    errs = compare(spark, run_dir, ores, corpus)
    assert not errs, "\n".join(errs)
    seen = cat2.read("seen")
    assert seen.where(F.col("source") != "crawl").count() == 0
    assert seen.count() == len(ores.seen)
    order = cat2.read("crawl_order")
    assert order.where(F.col("fetch_ms") != -1).count() == 0
    assert order.count() == len(ores.crawl_order)
