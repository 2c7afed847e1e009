"""Benchmark runner (driver contract): one JSON line with the
north-star crawl throughput plus per-query wall times at
$SPARK_GRAFT_SF_DIR on local[$SPARK_GRAFT_CPUS].

Headline metric = URLs scheduled+parsed per second on the synthetic
crawl corpus (BASELINE.json metric).  The N-vs-4N scaling evidence
(local[8] vs local[32]) is produced by scripts/bench_scaling.py into
BENCH/BASELINE.md; this file is the single-config measurement the
per-round driver records.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F


def force(df) -> int:
    """Evaluate the full plan (hash over every column defeats
    count-only pruning); returns row count."""
    row = df.select(
        F.count("*").alias("n"),
        # bit_xor can't overflow under ANSI mode (sum(xxhash64) can)
        F.bit_xor(F.xxhash64(F.struct(*df.columns))).alias("h"),
    ).collect()[0]
    return row["n"]


def box_health() -> dict:
    """Environmental probe recorded with every bench line.

    The shared VM's effective memory bandwidth swings >3x with host
    neighbors (round-3 diagnosis: the same crawl binary measured 1428,
    671 and 478 URLs/s within 90 minutes while load stayed ~0.2 and
    steal time was zero — a 1.1 GB/s single-thread memcpy reading,
    vs ~10+ healthy, was the only observable).  Recording cpu + memcpy
    micro-numbers alongside the headline makes a slow line attributable
    to the box instead of silently reading as an engine regression.

    Two memcpy figures: single-thread (latency-bound) and an 8-thread
    aggregate (what a 32-task Spark stage actually contends for — the
    collapsed state measured 1.1 / 3.7 GB/s vs ~30 / ~20+ healthy)."""
    import threading

    import numpy as np

    t0 = time.time()
    x = 0
    for i in range(2_000_000):
        x += i * i
    cpu_ms = (time.time() - t0) * 1000
    a = np.zeros(12_500_000)  # 100 MB of doubles
    b = np.empty_like(a)
    np.copyto(b, a)  # warm/fault pages untimed
    t0 = time.time()
    for _ in range(5):
        np.copyto(b, a)
    memcpy_gbps = 5 * a.nbytes * 2 / (time.time() - t0) / 1e9

    # 8-thread aggregate: numpy copyto releases the GIL
    bufs = [(np.zeros(6_250_000), np.empty(6_250_000)) for _ in range(8)]
    for src, dst in bufs:
        np.copyto(dst, src)

    def worker(src, dst):
        for _ in range(5):
            np.copyto(dst, src)

    threads = [threading.Thread(target=worker, args=p) for p in bufs]
    t0 = time.time()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    mt_gbps = 8 * 5 * bufs[0][0].nbytes * 2 / (time.time() - t0) / 1e9
    return {"cpu_loop_ms": round(cpu_ms, 1),
            "memcpy_gbps": round(memcpy_gbps, 2),
            "memcpy_mt8_gbps": round(mt_gbps, 2)}


def crawl_throughput(spark, scale: str, round_seconds: int) -> dict:
    from beeradvocate_crawler_spark.config import CrawlConfig
    from beeradvocate_crawler_spark.fixtures import site_model as sm
    from beeradvocate_crawler_spark.fixtures.gen_site import write_pages_parquet
    from beeradvocate_crawler_spark.plans import crawl as plans
    from beeradvocate_crawler_spark.sources.corpus import pages_schema

    tmp = tempfile.mkdtemp(prefix="ba_bench_")
    try:
        pages_path = f"{tmp}/pages"
        write_pages_parquet(spark, scale, pages_path)
        # UNTIMED warm-up (official protocol, BENCH/BASELINE.md): a
        # smoke-scale crawl JITs the whole code path, then a full
        # corpus scan (html column included) pins the page cache — the
        # round-1 driver leg ran cold and landed 1.9x under the
        # recorded number; warm vs cold must not be a coin flip.
        warm = f"{tmp}/warm"
        write_pages_parquet(spark, "smoke", f"{warm}/pages")
        plans.run(spark, f"{warm}/pages", sm.SEED_URLS, f"{warm}/run",
                  CrawlConfig(round_seconds=round_seconds))
        shutil.rmtree(warm, ignore_errors=True)
        spark.read.schema(pages_schema()).parquet(pages_path).select(
            F.count("*"), F.sum(F.length("html"))
        ).collect()
        t0 = time.time()
        cat = plans.run(
            spark, pages_path, sm.SEED_URLS, f"{tmp}/run",
            CrawlConfig(round_seconds=round_seconds),
        )
        wall = time.time() - t0
        m = cat.latest()
        n_urls = cat.rows("crawl_order", m)
        return {
            "crawl_urls": n_urls,
            "crawl_rounds": m.round,
            "crawl_wall_sec": round(wall, 2),
            "urls_per_sec": round(n_urls / wall, 2),
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main() -> int:
    from beeradvocate_crawler_spark.session import get_spark, session_defaults

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = session_defaults()[0]
    # headline runs on the ~106k-page corpus: big enough that the
    # per-round fixed cost amortizes and throughput reflects the
    # parallel fetch+parse path (the thing that matters at 100 TB)
    scale = os.environ.get("SPARK_GRAFT_BENCH_SCALE", "bench")
    rs = int(os.environ.get("SPARK_GRAFT_BENCH_ROUND_SECONDS", "100000"))

    import __spark_entry__ as E

    health = box_health()
    # no console progress bar: its \r redraws can land on the same
    # physical line as the final JSON emission the driver parses
    spark = get_spark(master=f"local[{cpus}]",
                      extra={"spark.ui.showConsoleProgress": "false"})
    crawl = crawl_throughput(spark, scale, rs)
    # re-probe AFTER the crawl leg: the shared VM's bandwidth can
    # collapse mid-run (measured 79 -> 180 s walls minutes apart with a
    # healthy PRE-probe both times), so one sample can't attribute it
    health_post = box_health()

    from beeradvocate_crawler_spark.plans.textops import release_caches

    def sweep(items) -> dict[str, float]:
        times: dict[str, float] = {}
        for name, fn in items:
            t0 = time.time()
            try:
                force(fn(spark, sf_dir))
                times[name] = round(time.time() - t0, 2)
            except Exception as e:  # keep the bench line emittable
                times[name] = -1.0
                print(f"# bench error {name}: {type(e).__name__}: "
                      f"{str(e)[:150]}", file=sys.stderr)
            finally:
                # drop query-scoped persists so cached blocks from the
                # near-dup pipelines don't hold memory across queries
                # (the cache A/B in BENCH/BASELINE.md measured the effect
                # on query time as nil-to-negative: hygiene, not a
                # timing confounder)
                release_caches()
        return times

    # Constituent twins of the consolidated SIGNED slots: each of these
    # re-executes work its union entry (graph_signals, near_dup_keep_sets,
    # lang_quality, crawl_scheduling) already timed in the same sweep —
    # round-4 VERDICT #3 measured ~25 s/sweep of double-run graph+neardup
    # work.  They stay registered (the driver smoke and check_queries.py
    # still hash-verify them); the default bench sweep skips them.
    # SPARK_GRAFT_BENCH_ALL=1 restores the exhaustive sweep.
    constituent_twins = {
        "near_dup_keep", "near_dup_keep_cc", "lang_id", "quality_score",
        "pagerank_links", "hits_links", "seed_distance",
        "recrawl_schedule", "sitemap_frontier",
        # not a twin but converge-until-delta: ~40 sweeps at 1% tol —
        # the fixed-sweep graph_signals entry is the timed graph slot
        "graph_fixpoint",
    }
    items = [
        (n, f) for n, f in E.queries().items()
        if os.environ.get("SPARK_GRAFT_BENCH_ALL")
        or n not in constituent_twins
    ]
    qtimes = sweep(items)
    # Second timed pass: every query has now run once in THIS process,
    # so pass 2 is same-context by construction (JIT + page cache warm,
    # identical session state).  Cross-round per-query comparisons
    # should use this block; pass 1 keeps continuity with r01–r04 lines.
    qtimes_warm = sweep(items)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": "urls_scheduled_parsed_per_sec",
        "value": crawl["urls_per_sec"],
        "unit": "sec",
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "crawl": crawl,
        "box": health,
        "box_post_crawl": health_post,
        "cpus": cpus,
        "scaling": load_scaling_evidence(),
        "queries": qtimes,
        "queries_same_context": qtimes_warm,
        "cache_hygiene": "per-query",
    }
    # The driver records only the LAST 2000 chars of stdout, then
    # parses the final line as JSON.  The round-2 AND round-4 lines
    # overflowed that buffer (r04: carried-provenance string + 63
    # queries = >2000 chars -> "parsed": null); the round-4 addition of
    # the queries_same_context block alone is ~1300 chars.  So the
    # machine channel and the human record are now strictly separate:
    # the FULL record goes to BENCH/last_run.json, and stdout gets a
    # compact line that is GUARANTEED (not estimated) to fit — optional
    # blocks are dropped in documented order until len <= 1900.
    bench_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH")
    try:
        os.makedirs(bench_dir, exist_ok=True)
        with open(os.path.join(bench_dir, "last_run.json"), "w") as f:
            json.dump(out, f, indent=1)
    except OSError:
        pass

    # Leading newline: Spark's console progress bar redraws with bare
    # carriage returns, so without it the final stage-progress fragment
    # shares the JSON's physical line and a line-oriented parse of the
    # captured tail fails (BENCH_r02 "parsed": null).  flush so the line
    # survives an immediate process exit.
    sys.stdout.write("\n" + compact_line(out) + "\n")
    sys.stdout.flush()
    return 0


# the keys the driver reads off the final stdout line
REQUIRED_LINE_KEYS = ("metric", "value", "unit", "sf", "queries")


def compact_line(out: dict, budget: int = 1900) -> str:
    """Serialize the record for the driver's bounded stdout tail.

    Never on the line (full values live in BENCH/last_run.json): the
    warm-pass sweep, the post-crawl box probe, scaling provenance
    strings.  Then optional blocks are dropped in documented order
    until the serialization fits ``budget``; then query timings are
    coarsened and shed from the end.  If the line still does not fit
    (or has no ``queries`` to shed), only the required driver keys
    stay — scalars that total well under the budget."""
    def size(d: dict) -> int:
        return len(json.dumps(d, separators=(",", ":")))

    line = dict(out)
    line.pop("queries_same_context", None)
    line.pop("box_post_crawl", None)
    if line.get("scaling"):
        # keep the decision-bearing fields; provenance strings are in
        # BENCH/scaling_official.json + BASELINE.md
        sc = line["scaling"]
        line["scaling"] = {
            k: sc[k]
            for k in ("pair", "efficiency", "efficiency_per_sample",
                      "pass", "urls_per_sec_N", "urls_per_sec_4N",
                      "order_hash_equal",
                      # when the LATEST run differs from the official
                      # record (e.g. a box-noise-failed sample), the
                      # line must carry the official verdict too, or a
                      # noisy sample reads as an engine regression
                      "official_efficiency", "stale_official")
            if k in sc
        }
    for drop in ("box", "cache_hygiene", "scaling", "crawl"):
        if size(line) <= budget:
            break
        line.pop(drop, None)
    q = line.get("queries")
    if q and size(line) > budget:
        # registry grew past what 2-decimal timings fit: coarsen to 1
        line["queries"] = q = {k: round(v, 1) for k, v in q.items()}
    while q and size(line) > budget:
        # an unparseable line loses EVERYTHING, so shed trailing query
        # entries and say so on the line itself
        q.pop(next(reversed(q)))
        line["queries_truncated"] = True
    if size(line) > budget:
        # last resort: something outside the known blocks overflows
        line = {k: line[k] for k in REQUIRED_LINE_KEYS + ("queries_truncated",)
                if k in line}
    return json.dumps(line, separators=(",", ":"))


def load_scaling_evidence() -> dict | None:
    """N->4N scaling evidence for the driver line.

    bench.py's single-config run can't measure a two-cluster-size pair
    itself; scripts/bench_scaling.py produces the records.  Emit the
    LATEST run (scaling_last.json) with an explicit pass flag — not
    only the best-passing record — so a scaling regression is visible
    in bench output rather than silently carried over (the official
    record is still referenced for the grader; full log + pair
    analysis in BENCH/BASELINE.md).
    """
    bench_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH")

    def read(name):
        p = os.path.join(bench_dir, name)
        if os.path.exists(p):
            with open(p) as f:
                return json.load(f)
        return None

    last = read("scaling_last.json")
    official = read("scaling_official.json")
    if last is None and official is None:
        return None
    rec = last or official
    eff = rec.get("efficiency")
    # round-3 lesson: ONE 4N sample is not evidence.  The criterion is
    # ALL recorded 4N samples >= 0.8 (falls back to the headline
    # efficiency for pre-round-4 records without per-sample data).
    effs = rec.get("efficiency_per_sample") or ([eff] if eff is not None else [])
    ok = bool(rec.get("deterministic_across_parallelism")) and (
        bool(effs) and all(e >= 0.8 for e in effs))
    out = {
        "pair": rec.get("pair"),
        "efficiency": eff,
        "efficiency_per_sample": effs,
        "pass": ok,
        "urls_per_sec_N": rec.get("urls_per_sec_N"),
        "urls_per_sec_4N": rec.get("urls_per_sec_4N"),
        "order_hash_equal": bool(rec.get("deterministic_across_parallelism")),
        "source": "scaling_last.json" if last is not None else "scaling_official.json",
        "ts": rec.get("timestamp_utc"),
    }
    if rec.get("wall_sec_N_source"):
        out["wall_sec_N_source"] = rec["wall_sec_N_source"]
    if (official is not None and last is not None
            and official.get("timestamp_utc") != last.get("timestamp_utc")):
        out["official_efficiency"] = official.get("efficiency")
        out["stale_official"] = True
    return out


if __name__ == "__main__":
    sys.exit(main())
