"""Spark-engine tests: expression parity with the pure functions,
e2e differential vs the oracle, exact resume, crash injection at the
round commit (SURVEY.md §5.3 e2e + property layers)."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from beeradvocate_crawler_spark.config import CrawlConfig
from beeradvocate_crawler_spark.fixtures import site_model as sm
from beeradvocate_crawler_spark.fixtures.gen_site import write_pages_parquet
from beeradvocate_crawler_spark.operators.links import classify_expr
from beeradvocate_crawler_spark.plans import crawl as plans
from beeradvocate_crawler_spark.testing import compare


@pytest.fixture(scope="module")
def site_dirs(spark, smoke_site):
    tmp = tempfile.mkdtemp(prefix="ba_spark_test_")
    pages_path = f"{tmp}/pages"
    write_pages_parquet(spark, "smoke", pages_path)
    yield tmp, pages_path
    shutil.rmtree(tmp, ignore_errors=True)


class TestExpressionParity:
    def test_xxhash64_matches_pure(self, spark, smoke_site):
        from beeradvocate_crawler_spark.functions.xxh64 import xxh64_signed

        pages, _, _ = smoke_site
        urls = [p["url"] for p in pages[:50]]
        df = spark.createDataFrame([(u,) for u in urls], "url string")
        got = {r["url"]: r["h"] for r in df.select("url", F.xxhash64("url").alias("h")).collect()}
        assert got == {u: xxh64_signed(u) for u in urls}

    def test_classifier_matches_pure(self, spark, smoke_site):
        from beeradvocate_crawler_spark.functions.urlnorm import classify_url

        pages, _, _ = smoke_site
        urls = [p["url"] for p in pages] + [
            "https://ba.example/beer/profile/1/101/?start=25&view=beer",
            "https://x.example/nothing",
        ]
        df = spark.createDataFrame([(u,) for u in urls], "url string")
        got = {r["url"]: r["t"] for r in df.select("url", classify_expr(F.col("url")).alias("t")).collect()}
        assert got == {u: classify_url(u) for u in urls}


class TestCorpusMeta:
    def test_sparse_residues_no_false_404(self, spark):
        """files_per_bucket larger than the page count leaves most
        residues unoccupied; pruning keyed off the sidecar layout must
        still find every page (the max(file_in_bucket)+1 inference this
        replaces would prune the wrong files here)."""
        from datetime import datetime

        from beeradvocate_crawler_spark.operators.fetch import fetch_join
        from beeradvocate_crawler_spark.operators.links import (
            classify_expr as ce,
            host_expr,
        )
        from beeradvocate_crawler_spark.sources.corpus import (
            CorpusLayout,
            pages_schema,
        )

        rows = [
            {
                "url": f"https://ba.example/beer/profile/{i}/",
                "warc_ts": datetime(2024, 1, 1),
                "html": b"<html>x</html>",
                "text": "x",
                "lang": "en",
            }
            for i in range(10)
        ]
        tmp = tempfile.mkdtemp(prefix="ba_sparse_")
        pages_path = f"{tmp}/pages"
        # 97 files per bucket >> 10 pages: top residue certainly unoccupied
        layout = CorpusLayout(16, 97)
        df = spark.createDataFrame(rows, schema=pages_schema())
        (
            layout.with_partition_cols(df)
            .write.mode("overwrite")
            .partitionBy("bucket", "file_in_bucket")
            .parquet(pages_path)
        )
        layout.write(pages_path)
        assert CorpusLayout.read(pages_path) == layout
        assert CorpusLayout.read(tmp) is None
        pages = spark.read.parquet(pages_path)
        sched = spark.createDataFrame(
            [(r["url"],) for r in rows], "url string"
        ).select(
            "url", ce(F.col("url")).alias("page_type"),
            host_expr(F.col("url")).alias("host"),
        )
        fetched = fetch_join(sched, pages, layout, batch_rows=10)
        got = {r["url"]: r["html"] for r in fetched.collect()}
        assert len(got) == 10 and all(v is not None for v in got.values())
        shutil.rmtree(tmp, ignore_errors=True)

    def test_any_recorded_layout_crawls_to_the_oracle(self, spark, smoke_site):
        """The crawl takes the corpus layout from its sidecar alone: a
        corpus written with 8 buckets of 5 files crawls to the oracle
        under a default config."""
        from beeradvocate_crawler_spark.fixtures.gen_site import pages_df
        from beeradvocate_crawler_spark.sources.ingest import write_corpus

        _, corpus, ores = smoke_site
        tmp = tempfile.mkdtemp(prefix="ba_layout_")
        pages_path = f"{tmp}/pages"
        write_corpus(pages_df(spark, "smoke"), pages_path,
                     n_buckets=8, files_per_bucket=5)
        plans.run(spark, pages_path, sm.SEED_URLS, f"{tmp}/run", CrawlConfig())
        errs = compare(spark, f"{tmp}/run", ores, corpus)
        shutil.rmtree(tmp, ignore_errors=True)
        assert not errs, "\n".join(errs)


class TestSeenFilter:
    """The scale-path dedupe on its own: cuckoo probe, then the exact
    anti-join of the rows it flags."""

    @staticmethod
    def _urls(spark, lo, hi, step=1):
        return spark.createDataFrame(
            [(f"https://ba.example/beer/profile/{i}/",)
             for i in range(lo, hi, step)],
            "url string",
        ).select(F.xxhash64("url").alias("url_hash"), "url")

    def test_probe_flags_every_seen_key(self, spark):
        """Blobs from one compaction and two delta rounds, as a crawl
        past the bound leaves them; candidates are half seen (drawn
        from all three) and half new."""
        from functools import reduce

        from beeradvocate_crawler_spark.operators import seen as S

        parts = [self._urls(spark, 0, 300), self._urls(spark, 300, 450),
                 self._urls(spark, 450, 600)]
        seen = reduce(lambda a, b: a.unionByName(b), parts)
        blobs = (S.compact_blobs(parts[0], 8)
                 .unionByName(S.build_delta_blobs(parts[1], 9, 150))
                 .unionByName(S.build_delta_blobs(parts[2], 10, 150)))
        seen_cand = self._urls(spark, 0, 600, 2)
        new_cand = self._urls(spark, 600, 900)
        pre = S.cuckoo_prefilter(seen_cand.unionByName(new_cand), blobs)
        maybe = pre.filter(F.col("maybe_seen")).drop("maybe_seen")
        flagged = {r.url_hash for r in maybe.collect()}
        assert {r.url_hash for r in seen_cand.collect()} <= flagged
        new = pre.filter(~F.col("maybe_seen")).drop("maybe_seen").unionByName(
            S.dedupe_exact(maybe, seen))
        got = sorted((r.url_hash, r.url) for r in new.collect())
        want = sorted((r.url_hash, r.url) for r in new_cand.collect())
        assert got == want

    def test_probe_without_blobs_raises(self, spark):
        """No blobs prove nothing new: the probe must not answer
        "definitely new" for every row."""
        from beeradvocate_crawler_spark.operators import seen as S

        with pytest.raises(ValueError, match="seen_filter"):
            S.cuckoo_prefilter(self._urls(spark, 0, 10), None)


class TestE2EDifferential:
    def test_engine_matches_oracle_exactly(self, spark, smoke_site, site_dirs,
                                           seen_probe_path):
        """With the seen bound at 0 every round probes the filter blobs,
        so the differential covers the full cuckoo pipeline, fed with
        the back-links to seen urls that most children are."""
        _, corpus, ores = smoke_site
        tmp, pages_path = site_dirs
        run_dir = f"{tmp}/run_e2e"
        plans.run(spark, pages_path, sm.SEED_URLS, run_dir,
                  CrawlConfig(round_seconds=16))
        errs = compare(spark, run_dir, ores, corpus)
        assert not errs, "\n".join(errs)

    def test_below_bound_round_runs_one_dedupe(self, spark, smoke_site,
                                               site_dirs, monkeypatch):
        """Below the seen bound (every smoke round) the broadcast
        anti-join before the merge is the whole dedupe: no probe, no
        exact anti-join, no filter blob and no ``seen_filter`` table."""
        from beeradvocate_crawler_spark.operators import seen as S

        def unexpected(*args, **kwargs):
            raise AssertionError("seen filter path ran below the bound")

        for name in ("cuckoo_prefilter", "dedupe_exact", "build_delta_blobs",
                     "compact_blobs"):
            monkeypatch.setattr(S, name, unexpected)
        _, corpus, ores = smoke_site
        tmp, pages_path = site_dirs
        run_dir = f"{tmp}/run_one_dedupe"
        cat = plans.run(spark, pages_path, sm.SEED_URLS, run_dir, CrawlConfig())
        errs = compare(spark, run_dir, ores, corpus)
        assert not errs, "\n".join(errs)
        assert "seen_filter" not in cat.latest().tables

    def test_crossing_the_bound_replaces_stale_blobs(
        self, spark, smoke_site, site_dirs, monkeypatch
    ):
        """The smoke crawl's seen grows 2, 2, 4, 10, 34, 78 over rounds
        0-5.  Two rounds at bound 0 write blobs covering 4 urls; one
        round at bound 20 leaves them stale (10 seen); the resumed crawl
        crosses 20 in round 4, whose compaction must replace them, and
        probes from round 5 on.  Still the oracle's crawl."""
        _, corpus, ores = smoke_site
        tmp, pages_path = site_dirs
        run_dir = f"{tmp}/run_crossing"

        def blob_keys(cat):
            return cat.read("seen_filter").agg(F.sum("n_keys")).collect()[0][0]

        monkeypatch.setattr(plans, "BROADCAST_SEEN_THRESHOLD", 0)
        cat = plans.run(spark, pages_path, sm.SEED_URLS, run_dir,
                        CrawlConfig(), max_rounds=2)
        assert blob_keys(cat) == cat.rows("seen") == 4
        monkeypatch.setattr(plans, "BROADCAST_SEEN_THRESHOLD", 20)
        cat = plans.resume(spark, pages_path, run_dir, max_rounds=1)
        assert (blob_keys(cat), cat.rows("seen")) == (4, 10)
        cat = plans.resume(spark, pages_path, run_dir)
        errs = compare(spark, run_dir, ores, corpus)
        assert not errs, "\n".join(errs)
        assert blob_keys(cat) == cat.rows("seen") == len(ores.seen)

    def test_resume_equivalence(self, spark, smoke_site, site_dirs):
        """run(N rounds) + resume == run-to-completion, bit-identical."""
        _, corpus, ores = smoke_site
        tmp, pages_path = site_dirs
        run_dir = f"{tmp}/run_resume"
        cat = plans.run(
            spark, pages_path, sm.SEED_URLS, run_dir,
            CrawlConfig(round_seconds=16), max_rounds=4,
        )
        assert cat.latest().round == 4
        plans.resume(spark, pages_path, run_dir)
        errs = compare(spark, run_dir, ores, corpus)
        assert not errs, "\n".join(errs)

    def test_resume_detects_corrupt_partition(self, spark, smoke_site, site_dirs):
        """A19 lineage: truncate one part file of the newest round's
        seen delta; resume must detect it via the manifest's per-file
        inventory, roll back to the previous snapshot, deterministically
        re-run the lost round, and still match the oracle exactly."""
        import os

        from beeradvocate_crawler_spark.sources.catalog import SnapshotCatalog

        _, corpus, ores = smoke_site
        tmp, pages_path = site_dirs
        run_dir = f"{tmp}/run_corrupt"
        cat = plans.run(
            spark, pages_path, sm.SEED_URLS, run_dir,
            CrawlConfig(round_seconds=16), max_rounds=4,
        )
        m = cat.latest()
        last = m.round
        victims = [
            fe["path"] for fe in m.tables["seen"]["files"]
            if fe["path"].startswith(f"seen/r={last:06d}")
        ]
        assert victims, "expected a seen delta in the last round"
        victim = os.path.join(run_dir, victims[0])
        with open(victim, "r+b") as f:
            f.truncate(max(os.path.getsize(victim) // 2, 1))

        cat2 = SnapshotCatalog(spark, run_dir)
        assert cat2.validate(), "corruption must be visible to validate()"
        plans.resume(spark, pages_path, run_dir)
        errs = compare(spark, run_dir, ores, corpus)
        assert not errs, "\n".join(errs)

    def test_two_phase_rank_equivalence(self, spark, smoke_site, site_dirs,
                                        monkeypatch):
        """Force the big-batch two-phase global rank path; results must
        be identical to the single-window path (§4.2 total order)."""
        from beeradvocate_crawler_spark.operators import ordering

        monkeypatch.setattr(ordering, "BIG_BATCH_THRESHOLD", 0)
        _, corpus, ores = smoke_site
        tmp, pages_path = site_dirs
        run_dir = f"{tmp}/run_twophase"
        plans.run(spark, pages_path, sm.SEED_URLS, run_dir,
                  CrawlConfig(round_seconds=16))
        errs = compare(spark, run_dir, ores, corpus)
        assert not errs, "\n".join(errs)

    def test_salted_and_shuffle_host_paths_equivalence(
        self, spark, smoke_site, site_dirs, monkeypatch
    ):
        """Force every scale path at once — hot-host salted two-phase
        admission (A14, HOT_HOST_THRESHOLD=0 makes every constrained
        host 'hot'), shuffle host_state joins
        (BROADCAST_HOSTS_THRESHOLD=0) and the shuffled fetch join
        (BROADCAST_FETCH_THRESHOLD=0) — outputs must stay exact."""
        from beeradvocate_crawler_spark.operators import fetch, politeness

        monkeypatch.setattr(politeness, "HOT_HOST_THRESHOLD", 0)
        monkeypatch.setattr(plans, "BROADCAST_HOSTS_THRESHOLD", 0)
        monkeypatch.setattr(fetch, "BROADCAST_FETCH_THRESHOLD", 0)
        _, corpus, ores = smoke_site
        tmp, pages_path = site_dirs
        run_dir = f"{tmp}/run_salted"
        plans.run(spark, pages_path, sm.SEED_URLS, run_dir,
                  CrawlConfig(round_seconds=16))
        errs = compare(spark, run_dir, ores, corpus)
        assert not errs, "\n".join(errs)


class TestDistributedFixtureGen:
    def test_pages_df_equals_driver_generator(self, spark, smoke_site):
        """Distributed mapInPandas corpus render == the sequential
        driver-side generator, byte-for-byte (url, warc_ts, html, text,
        lang) — so bench-scale corpora are trustworthy fixtures."""
        from beeradvocate_crawler_spark.fixtures.gen_site import (
            generate_pages,
            pages_df,
        )

        want = {
            p["url"]: (p["warc_ts"], p["html"], p["text"], p["lang"])
            for p in generate_pages("smoke")
        }
        got_rows = pages_df(spark, "smoke").collect()
        got = {
            r["url"]: (r["warc_ts"], bytes(r["html"]), r["text"], r["lang"])
            for r in got_rows
        }
        assert len(got_rows) == len(want)  # no dup urls
        assert got == want


class TestMissingPages404:
    def test_engine_matches_oracle_with_404s(self, spark, smoke_site):
        """Corpus with holes: a beer page, a user page, and one noise
        host's robots.txt are absent -> fetches 404, robots falls back
        to ALLOW_ALL, pagination of the missing beer never expands —
        the engine must match the oracle on the degraded corpus too."""
        import tempfile

        from beeradvocate_crawler_spark import oracle
        from beeradvocate_crawler_spark.fixtures.gen_site import generate_pages
        from beeradvocate_crawler_spark.testing import compare

        from beeradvocate_crawler_spark.functions.urlnorm import classify_url

        pages = generate_pages("smoke")
        by_type: dict[str, list[str]] = {}
        for p in pages:
            by_type.setdefault(classify_url(p["url"]), []).append(p["url"])
        # one beer page, one user page, one robots (deterministic picks)
        drop = {
            sorted(by_type["beer"])[0],
            sorted(by_type["user"])[0],
            "https://noise0.example/robots.txt",
        }
        kept = [p for p in pages if p["url"] not in drop]
        corpus = {p["url"]: p for p in kept}
        ores = oracle.crawl(corpus, sm.SEED_URLS, round_seconds=16)

        from beeradvocate_crawler_spark.sources.corpus import (
            CorpusLayout,
            pages_schema,
        )

        tmp = tempfile.mkdtemp(prefix="ba_404_")
        pages_path = f"{tmp}/pages"
        layout = CorpusLayout(16, 4)
        df = spark.createDataFrame(kept, schema=pages_schema())
        (
            layout.with_partition_cols(df)
            .repartition(8)
            .write.mode("overwrite")
            .partitionBy("bucket", "file_in_bucket")
            .parquet(pages_path)
        )
        layout.write(pages_path)
        plans.run(spark, pages_path, sm.SEED_URLS, f"{tmp}/run",
                  CrawlConfig(round_seconds=16))
        errs = compare(spark, f"{tmp}/run", ores, corpus)
        assert not errs, "\n".join(errs)


@pytest.fixture(scope="module")
def default_crawl(spark, site_dirs):
    """Run dir of a default-config smoke crawl, run to completion."""
    tmp, pages_path = site_dirs
    run_dir = f"{tmp}/run_tt"
    plans.run(spark, pages_path, sm.SEED_URLS, run_dir,
              CrawlConfig(round_seconds=16))
    return run_dir


class TestTimeTravel:
    def test_manifest_for_round_reconstructs_history(
        self, spark, smoke_site, default_crawl
    ):
        """Time travel by round (catalog.py manifest_for_round, the
        Iceberg-snapshot semantics SURVEY §7.4 claims): reading the
        tables through EVERY historical manifest must reproduce the
        sequential oracle's state as of that round — ledger == oracle
        crawl_order truncated at r, seen grows monotonically to the
        oracle's final set, pending frontier ⊆ seen and disjoint from
        the already-fetched ledger, and each old manifest still passes
        file-level validation (old snapshots are immutable)."""
        from beeradvocate_crawler_spark.sources.catalog import SnapshotCatalog

        _, corpus, ores = smoke_site
        cat = SnapshotCatalog(spark, default_crawl)
        last = cat.latest().round
        assert last == ores.rounds

        prev_seen: set | None = None
        for r in range(1, last + 1):
            m = cat.manifest_for_round(r)
            assert m.round == r
            assert cat.validate(m) == []

            df = cat.read("crawl_order", m)
            order = (
                []
                if df is None
                else [(x["rank"], x["round"], x["url"])
                      for x in df.orderBy("rank").collect()]
            )
            assert order == [t for t in ores.crawl_order if t[1] <= r], (
                f"ledger at round {r} is not the oracle prefix"
            )

            seen = {x["url"] for x in cat.read("seen", m).collect()}
            if prev_seen is not None:
                assert prev_seen <= seen, f"seen shrank at round {r}"
            prev_seen = seen

            fr = cat.read("frontier", m)
            pend = set() if fr is None else {x["url"] for x in fr.collect()}
            assert pend <= seen, f"pending url not in seen at round {r}"
            assert not pend & {u for _, _, u in order}, (
                f"pending url already fetched at round {r}"
            )

        assert prev_seen == ores.seen

    def test_manifest_row_counts_are_exact(self, spark, default_crawl):
        """Every table of every manifest records as ``rows`` the sum of
        its part files' footer counts (including tables a round only
        carries forward), and at the head that is the number of rows
        the table reads back."""
        from beeradvocate_crawler_spark.sources.catalog import SnapshotCatalog

        cat = SnapshotCatalog(spark, default_crawl)
        mfs = sorted(os.listdir(os.path.join(default_crawl, "_manifests")))
        assert len(mfs) == cat.latest().round + 1
        for mf in mfs:
            m = cat.manifest_for_round(int(mf[len("manifest-"):-len(".json")]))
            for name, t in m.tables.items():
                assert t["rows"] == sum(f["rows"] for f in t["files"]), (
                    f"round {m.round}, table {name}")
        m = cat.latest()
        assert set(m.tables) >= {"crawl_order", "frontier", "frontier_log",
                                 "host_state", "parsed", "robots_rules",
                                 "round_metrics", "seen"}
        for name in m.tables:
            assert cat.rows(name, m) == cat.read(name, m).count(), name


class TestCommitConcurrency:
    """Optimistic-concurrency commit protocol (catalog.py): the Iceberg
    semantics that two writers on one run dir cannot silently clobber
    each other.  No Spark jobs — commit_round with nothing staged
    carries tables forward, which is all the protocol needs."""

    def _cat(self, spark, d):
        from beeradvocate_crawler_spark.sources.catalog import SnapshotCatalog

        return SnapshotCatalog(spark, d)

    def test_racing_writers_second_commit_fails(self, spark):
        from beeradvocate_crawler_spark.sources.catalog import (
            CommitConflictError,
        )

        d = tempfile.mkdtemp(prefix="ba_cc_")
        a = self._cat(spark, d)
        a.commit_round(0)
        b = self._cat(spark, d)  # base = round 0, same as a
        b.commit_round(1)  # b wins round 1
        with pytest.raises(CommitConflictError, match="staged against"):
            a.commit_round(1)  # a must NOT clobber b's round 1
        with pytest.raises(CommitConflictError):
            a.commit_round(2)  # nor commit past a snapshot it never saw
        assert self._cat(spark, d).latest().round == 1
        shutil.rmtree(d, ignore_errors=True)

    def test_round_numbers_monotone_not_contiguous(self, spark):
        """Round numbers may jump FORWARD (a starved round fast-forwards
        past its no-op successors and commits at the skipped-to round);
        they must never go backward, and amending one's own current
        round stays sanctioned."""
        from beeradvocate_crawler_spark.sources.catalog import (
            CommitConflictError,
        )

        d = tempfile.mkdtemp(prefix="ba_cc_")
        a = self._cat(spark, d)
        a.commit_round(0)
        a.commit_round(2)  # forward jump: sanctioned (fast-forward)
        with pytest.raises(CommitConflictError):
            a.commit_round(1)  # backward: never
        a.commit_round(2)  # amending one's own current round is fine
        a.commit_round(3)  # sequential is fine
        shutil.rmtree(d, ignore_errors=True)

    def test_live_lock_holder_conflicts_dead_lock_cleared(self, spark):
        import json as J
        import os as O

        from beeradvocate_crawler_spark.sources.catalog import (
            CommitConflictError,
        )

        d = tempfile.mkdtemp(prefix="ba_cc_")
        a = self._cat(spark, d)
        lock = O.path.join(d, "_COMMIT_LOCK")
        # live holder (this process) -> genuine conflict
        with open(lock, "w") as f:
            J.dump({"pid": O.getpid(), "round": 0}, f)
        with pytest.raises(CommitConflictError, match="lock"):
            a.commit_round(0)
        O.unlink(lock)
        # dead holder -> stale lock is cleared and the commit proceeds
        with open(lock, "w") as f:
            J.dump({"pid": 2**22 + 7, "round": 0}, f)  # beyond pid_max
        a.commit_round(0)
        assert not O.path.exists(lock)
        shutil.rmtree(d, ignore_errors=True)

    def test_resume_after_rollback_still_commits(self, spark, smoke_site, site_dirs):
        """The CAS check must not break the sanctioned re-commit flow
        rollback_to_valid -> re-run lost rounds.  (The other one, the
        blob rebuild's amend of its own round, runs in every crawl
        with the seen bound at 0.)"""
        _, corpus, ores = smoke_site
        tmp, pages_path = site_dirs
        run_dir = f"{tmp}/run_cc_resume"
        plans.run(spark, pages_path, sm.SEED_URLS, run_dir,
                  CrawlConfig(round_seconds=16), max_rounds=3)
        cat = self._cat(spark, run_dir)
        # corrupt the newest snapshot's frontier file -> rollback territory
        m = cat.latest()
        fe = m.tables["frontier"]["files"][0]
        p = f"{run_dir}/{fe['path']}"
        with open(p, "r+b") as f:
            f.truncate(max(1, fe["bytes"] // 2))
        plans.resume(spark, pages_path, run_dir)
        errs = compare(spark, run_dir, ores, corpus)
        assert not errs, "\n".join(errs)


class TestCatalogMaintenance:
    """compact_table + expire_snapshots (catalog.py): the Iceberg
    rewrite_data_files / expire_snapshots analogues that keep the
    append-only tables' file lists bounded over thousands of rounds."""

    def test_compact_preserves_data_and_time_travel(self, spark):
        from beeradvocate_crawler_spark.sources.catalog import (
            DELTA,
            SnapshotCatalog,
        )

        d = tempfile.mkdtemp(prefix="ba_cm_")
        cat = SnapshotCatalog(spark, d)
        for r in range(3):
            df = spark.range(r * 10, r * 10 + 10).withColumnRenamed("id", "v")
            cat.write_round("t", df, r, DELTA)
            cat.commit_round(r)
        assert len(cat.latest().tables["t"]["paths"]) == 3
        cat.compact_table("t", target_files=2)
        m = cat.latest()
        assert m.round == 2  # amend, not a new round
        assert len(m.tables["t"]["paths"]) == 1
        assert cat.validate(m) == []
        got = sorted(x["v"] for x in cat.read("t").collect())
        assert got == list(range(30))
        # time travel to PRE-compaction manifests still reads old dirs
        old = sorted(
            x["v"] for x in cat.read("t", cat.manifest_for_round(1)).collect()
        )
        assert old == list(range(20))
        # a later delta appends on top of the compacted base
        cat.write_round("t", spark.range(30, 35).withColumnRenamed("id", "v"),
                        3, DELTA)
        cat.commit_round(3)
        assert sorted(x["v"] for x in cat.read("t").collect()) == list(range(35))
        shutil.rmtree(d, ignore_errors=True)

    def test_expire_reclaims_unreferenced_dirs(self, spark):
        import os as O

        from beeradvocate_crawler_spark.sources.catalog import (
            DELTA,
            SnapshotCatalog,
        )

        d = tempfile.mkdtemp(prefix="ba_ex_")
        cat = SnapshotCatalog(spark, d)
        for r in range(4):
            df = spark.range(r * 10, r * 10 + 10).withColumnRenamed("id", "v")
            cat.write_round("t", df, r, DELTA)
            cat.commit_round(r)
        cat.compact_table("t", target_files=1)
        stats = cat.expire_snapshots(keep_last=1)
        assert stats["manifests_removed"] == 3
        assert stats["dirs_removed"] == 4  # the four superseded deltas
        assert sorted(O.listdir(O.path.join(d, "t"))) == ["r=000003c"]
        m = cat.latest()
        assert cat.validate(m) == []
        assert sorted(x["v"] for x in cat.read("t").collect()) == list(range(40))
        with pytest.raises(FileNotFoundError):
            cat.manifest_for_round(0)  # expired — time travel horizon moved
        shutil.rmtree(d, ignore_errors=True)

    def test_maintenance_mid_crawl_then_resume_matches_oracle(
        self, spark, smoke_site, site_dirs
    ):
        """Compaction + expiry between run legs must not disturb exact
        resume: the resumed crawl still reproduces the oracle."""
        from beeradvocate_crawler_spark.sources.catalog import SnapshotCatalog

        _, corpus, ores = smoke_site
        tmp, pages_path = site_dirs
        run_dir = f"{tmp}/run_maint"
        plans.run(spark, pages_path, sm.SEED_URLS, run_dir,
                  CrawlConfig(round_seconds=16), max_rounds=3)
        cat = SnapshotCatalog(spark, run_dir)
        for t in ("seen", "frontier_log", "crawl_order", "parsed"):
            if cat.latest().tables.get(t, {}).get("paths"):
                cat.compact_table(t, target_files=2)
        cat.expire_snapshots(keep_last=1)
        plans.resume(spark, pages_path, run_dir)
        errs = compare(spark, run_dir, ores, corpus)
        assert not errs, "\n".join(errs)


class TestPipelinedCommitCrash:
    """Crash injection in round ``crash_round``, at one of three points:
    ``decide_round`` raises, before the round's first write;
    ``commit_round`` raises, after the round's writes are staged and
    before its manifest pointer swap; or the pooled ``write_round`` of
    one table raises, which fails the round's commit while it waits on
    the round's writes.  The failure must propagate out of ``run`` with
    round ``crash_round - 1`` still the catalog head (no later round
    may commit on top of the failed one), and a plain ``resume`` must
    re-run to the exact oracle state: staged-but-uncommitted files of
    the dead round stay invisible."""

    def _crash_then_resume(self, spark, smoke_site, site_dirs, crash_round,
                           point, monkeypatch):
        from beeradvocate_crawler_spark.sources.catalog import SnapshotCatalog

        _, corpus, ores = smoke_site
        tmp, pages_path = site_dirs
        run_dir = f"{tmp}/run_crash_{point}_{crash_round}"

        class Crash(RuntimeError):
            pass

        if point == "decide_round":
            orig_decide = plans.decide_round
            calls = []

            def dying(*a, **k):
                # one call per round, and the smoke crawl fast-forwards
                # no round before ``crash_round``
                calls.append(1)
                if len(calls) == crash_round:
                    raise Crash(f"simulated failure of round {crash_round}'s decide")
                return orig_decide(*a, **k)

            monkeypatch.setattr(plans, "decide_round", dying)
        elif point == "commit_round":
            orig_commit = SnapshotCatalog.commit_round

            def dying(self, rnd, *a, **k):
                if rnd == crash_round:
                    raise Crash(f"simulated death before round-{rnd} pointer swap")
                return orig_commit(self, rnd, *a, **k)

            monkeypatch.setattr(SnapshotCatalog, "commit_round", dying)
        else:
            orig_write = SnapshotCatalog.write_round

            def dying(self, name, df, rnd, *a, **k):
                if (name, rnd) == (point, crash_round):
                    raise Crash(f"simulated failure of the round-{rnd} {name} write")
                return orig_write(self, name, df, rnd, *a, **k)

            monkeypatch.setattr(SnapshotCatalog, "write_round", dying)
        with pytest.raises(Crash):
            plans.run(spark, pages_path, sm.SEED_URLS, run_dir,
                      CrawlConfig(round_seconds=16))
        monkeypatch.undo()

        cat = SnapshotCatalog(spark, run_dir)
        assert cat.latest().round == crash_round - 1

        plans.resume(spark, pages_path, run_dir)
        errs = compare(spark, run_dir, ores, corpus)
        assert not errs, "\n".join(errs)

    @pytest.mark.parametrize("point", ["commit_round", "host_state"])
    def test_crash_between_bg_submit_and_pointer_swap_resumes_cleanly(
        self, spark, smoke_site, site_dirs, point, monkeypatch
    ):
        """Round 3 is an admitting round followed by another.  The
        ``host_state`` write is among the round's last, submitted just
        before its commit."""
        self._crash_then_resume(spark, smoke_site, site_dirs, 3, point,
                                monkeypatch)

    @pytest.mark.parametrize("crash_round,point", [
        (1, "commit_round"), (8, "commit_round"), (9, "frontier")])
    def test_crash_at_commit_of_waiting_or_last_admitting_round(
        self, spark, smoke_site, site_dirs, crash_round, point, monkeypatch
    ):
        """Round 1 changes the robots rules.  Round 8 is followed by
        the drained round 9, which must not start, let alone commit on
        top of round 7.  A failed ``frontier`` write of the drained
        round 9 fails the crawl's last commit."""
        self._crash_then_resume(spark, smoke_site, site_dirs, crash_round,
                                point, monkeypatch)

    def test_crash_before_first_write_resumes_cleanly(
        self, spark, smoke_site, site_dirs, monkeypatch
    ):
        """Round 4's decide raises before the round stages anything."""
        self._crash_then_resume(spark, smoke_site, site_dirs, 4,
                                "decide_round", monkeypatch)
