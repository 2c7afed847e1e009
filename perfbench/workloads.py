"""The benchmark's workloads: inputs, one timed unit, and its exactness gate.

Each workload drives the engine through its public API only:
``plans.crawl.run`` / ``plans.crawl.resume`` for the crawl and the
``__spark_entry__.queries()`` registry for the analytics queries.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import time
from typing import NamedTuple

HERE = os.path.dirname(os.path.abspath(__file__))
PINS_FILE = os.path.join(HERE, "pins.json")


class Unit(NamedTuple):
    """One timed unit: when it started, how long it took, how many items
    (URLs or queries) it completed, and its exactness misses."""

    start: float
    wall: float
    items: int
    problems: list[str]


def load_pins() -> dict:
    with open(PINS_FILE) as f:
        return json.load(f)


def gate(observed: dict, pinned: dict) -> list[str]:
    """Exactness gate: every pinned key must be observed with the same
    value.  Returns the mismatches (empty list = exact)."""
    return [f"{k}: got {observed.get(k)!r}, pinned {v!r}"
            for k, v in sorted(pinned.items()) if observed.get(k) != v]


def force(df) -> tuple[int, str]:
    """Evaluate every column of ``df``; return (row count, xor hash)."""
    from pyspark.sql import functions as F

    row = df.select(
        F.count("*").alias("n"),
        F.bit_xor(F.xxhash64(F.struct(*df.columns))).alias("h"),
    ).collect()[0]
    return int(row["n"]), hex(row["h"] or 0)


def crawl_hashes(cat, manifest=None) -> dict:
    """Order and seen hashes of a crawl catalog, as the engine's scaling
    bench computes them (``scripts/crawl_bench_once.py``)."""
    from pyspark.sql import functions as F

    m = manifest or cat.latest()
    order = cat.read("crawl_order", m).select(
        F.bit_xor(F.xxhash64(F.concat_ws("\x01", "rank", "round", "url"))).alias("h")
    ).collect()[0]["h"]
    seen = cat.read("seen", m).select(
        F.bit_xor(F.xxhash64("url")).alias("h")).collect()[0]["h"]
    return {"round": m.round, "urls": cat.rows("crawl_order", m),
            "order": hex(order or 0), "seen": hex(seen or 0)}


def source_key(root: str) -> str:
    """Hash of the engine's sources and of the code and pins that make a
    build: a cached build is reused only by the code that made it."""
    h = hashlib.sha256()
    paths = [os.path.join(d, f)
             for d, dirs, files in os.walk(os.path.join(root, "beeradvocate_crawler_spark"))
             for f in files if f.endswith((".py", ".json"))]
    paths += [os.path.abspath(__file__), PINS_FILE]
    for p in sorted(paths):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


class PoliteCrawl:
    """Per-round fixed-cost regime: the ``smoke`` corpus with
    ``round_seconds=16``.  The build crawls the first ``base_round``
    rounds once and keeps that snapshot; each unit copies it and
    resumes exactly one round, so every unit does the same work."""

    name = "polite_crawl"

    def __init__(self, spark, root: str, work: str, seed: int):
        from beeradvocate_crawler_spark.config import CrawlConfig

        self.spark, self.work = spark, work
        self.pins = load_pins()[self.name]
        self.cfg = CrawlConfig(round_seconds=self.pins["round_seconds"])
        # relative paths: the catalog records them, and the benchmark
        # always runs from the checkout root
        self.build_dir = os.path.join(".perfbench_build", self.name,
                                      source_key(root))
        self.pages = os.path.join(self.build_dir, "pages")
        self.base = os.path.join(self.build_dir, "base")
        self.n = 0

    def build(self) -> dict:
        """Write the corpus and the base snapshot once per source tree."""
        record = os.path.join(self.build_dir, "build.json")
        if self.is_built():
            with open(record) as f:
                return {**json.load(f), "cached": True}
        from beeradvocate_crawler_spark.fixtures import site_model as sm
        from beeradvocate_crawler_spark.fixtures.gen_site import write_pages_parquet
        from beeradvocate_crawler_spark.plans import crawl as plans

        # builds of other source trees are stale
        shutil.rmtree(os.path.dirname(self.build_dir), ignore_errors=True)
        t0 = time.time()
        write_pages_parquet(self.spark, self.pins["scale"], self.pages)
        gen_s = time.time() - t0
        cat = plans.run(self.spark, self.pages, sm.SEED_URLS, self.base,
                        self.cfg, max_rounds=self.pins["base_round"])
        problems = gate(crawl_hashes(cat), self.pins["base"])
        if problems:
            raise RuntimeError("base snapshot differs from its pins: "
                               + "; ".join(problems))
        out = {"gen_s": gen_s, "build_s": time.time() - t0}
        with open(record, "w") as f:
            json.dump(out, f)
        return out

    def is_built(self) -> bool:
        return os.path.exists(os.path.join(self.build_dir, "build.json"))

    def gen_s(self) -> float:
        """Time to write the corpus again, into the run's scratch dir."""
        from beeradvocate_crawler_spark.fixtures.gen_site import write_pages_parquet

        t0 = time.time()
        write_pages_parquet(self.spark, self.pins["scale"],
                            os.path.join(self.work, "gen"))
        return time.time() - t0

    def unit(self, tracer=None) -> Unit:
        """Resume one round from a copy of the base snapshot."""
        from beeradvocate_crawler_spark.plans import crawl as plans

        self.n += 1
        run_dir = os.path.join(self.work, f"run{self.n}")
        shutil.copytree(self.base, run_dir)
        if tracer is not None:
            tracer.install_crawl()
        t0 = time.time()
        try:
            cat = plans.resume(self.spark, self.pages, run_dir, self.cfg,
                               max_rounds=1)
        finally:
            wall = time.time() - t0
            if tracer is not None:
                tracer.uninstall()
        got = crawl_hashes(cat)
        shutil.rmtree(run_dir, ignore_errors=True)
        urls = got["urls"] - self.pins["base"]["urls"]
        return Unit(t0, wall, urls, gate(got, self.pins["unit"]))


class CorpusAnalytics:
    """Read-only use of the same session: a fixed set of ``queries()``
    entries over the engine's sf0.01 test tables, kept in
    ``perfbench/data/sf0.01``.  A unit is one pass over every query, in
    an order drawn from the seed, so every unit does the same work."""

    name = "corpus_analytics"

    def __init__(self, spark, root: str, work: str, seed: int):
        import __spark_entry__ as entry

        self.spark = spark
        pins = load_pins()[self.name]
        self.pins = pins["queries"]
        registry = entry.queries()
        self.items = [(n, registry[n]) for n in sorted(self.pins)]
        self.rng = random.Random(seed)
        self.data = os.path.join(HERE, "data", pins["tables"])
        self.query_s: dict[str, list[float]] = {}

    def is_built(self) -> bool:
        return True  # the tables are part of the benchmark

    def build(self) -> dict:
        return {"build_s": 0.0}

    def gen_s(self) -> float:
        return 0.0  # no corpus: the tables are read as they are

    def unit(self, tracer=None) -> Unit:
        """One pass over the queries, each forced and then uncached."""
        from beeradvocate_crawler_spark.plans.textops import release_caches

        order = list(self.items)
        self.rng.shuffle(order)
        problems = []
        start = time.time()
        for name, fn in order:
            if tracer is not None:
                fn = tracer.query(fn.__module__.rsplit(".", 1)[-1], fn)
            t0 = time.time()
            try:
                n, h = force(fn(self.spark, self.data))
            finally:
                self.query_s.setdefault(name, []).append(time.time() - t0)
                release_caches()
            rows, hashed = self.pins[name]
            problems += [f"{name}: {p}" for p in
                         gate({"rows": n, "hash": h}, {"rows": rows, "hash": hashed})]
        if tracer is not None:
            tracer.set_base(None)
        return Unit(start, time.time() - start, len(order), problems)


WORKLOADS = {w.name: w for w in (PoliteCrawl, CorpusAnalytics)}
