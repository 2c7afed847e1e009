"""One crawl benchmark run (invoked via spark-submit --py-files, the
BASELINE.json ship shape).  Writes a JSON result with throughput and
output-equality hashes so scripts/bench_scaling.py can prove the
N-vs-4N determinism + scaling-efficiency criterion.

Usage:
  spark-submit --master local[8] --py-files dist/beeradvocate_crawler_spark.zip \
      scripts/crawl_bench_once.py --scale bench --round-seconds 100000 --out /tmp/r8.json
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scale", default="correctness")
    ap.add_argument("--round-seconds", type=int, default=4096)
    ap.add_argument("--out", required=True)
    ap.add_argument("--master", default=None)  # spark-submit usually sets it
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    ap.add_argument(
        "--pages-dir", default=None,
        help="pre-generated corpus dir shared across parallelism levels "
             "(skips generation; the IDENTICAL-input requirement of the "
             "N-vs-4N criterion)",
    )
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from beeradvocate_crawler_spark.config import CrawlConfig
    from beeradvocate_crawler_spark.fixtures import site_model as sm
    from beeradvocate_crawler_spark.fixtures.gen_site import write_pages_parquet
    from beeradvocate_crawler_spark.plans import crawl as plans
    from beeradvocate_crawler_spark.session import get_spark
    from beeradvocate_crawler_spark.sources.corpus import pages_schema

    spark = get_spark(
        master=args.master, shuffle_partitions=args.shuffle_partitions
    )
    n_threads = spark.sparkContext.defaultParallelism
    tmp = tempfile.mkdtemp(prefix="ba_bench1_")
    try:
        if args.pages_dir:
            pages_path = args.pages_dir
            gen_sec = 0.0
        else:
            pages_path = f"{tmp}/pages"
            t_gen = time.time()
            write_pages_parquet(spark, args.scale, pages_path)
            gen_sec = time.time() - t_gen

        # untimed corpus pre-touch: both parallelism levels start with
        # the same (warm) page-cache state — otherwise whichever leg
        # runs second inherits the first leg's eviction pattern and the
        # efficiency ratio measures the OS cache, not the engine
        spark.read.schema(pages_schema()).parquet(pages_path).select(
            F.count("*"),
            F.sum(
                F.octet_length("html") + F.length("text") + F.length("url")
            ),
        ).collect()

        t0 = time.time()
        cat = plans.run(
            spark, pages_path, sm.SEED_URLS, f"{tmp}/run",
            CrawlConfig(round_seconds=args.round_seconds),
        )
        wall = time.time() - t0
        m = cat.latest()
        n_urls = cat.rows("crawl_order", m)

        # output-equality evidence: hashes over the TOTAL ordered ledger
        # and the seen set — must be identical across parallelism levels.
        # Distributed: each ledger row's hash INCLUDES its rank, so the
        # commutative bit_xor combine is still sequence-faithful (any
        # reordering changes some (rank,url) pair), and nothing large is
        # collected to the driver.
        order_hash = hex(
            cat.read("crawl_order", m)
            .select(
                F.bit_xor(
                    F.xxhash64(F.concat_ws("\x01", "rank", "round", "url"))
                ).alias("h")
            )
            .collect()[0]["h"] or 0
        )
        seen_hash = hex(
            cat.read("seen", m)
            .select(F.bit_xor(F.xxhash64("url")).alias("h"))
            .collect()[0]["h"] or 0
        )
        n_reviews = plans.result_tables(spark, f"{tmp}/run")["reviews"].count()

        result = {
            "master": spark.sparkContext.master,
            "parallelism": n_threads,
            "scale": args.scale,
            "round_seconds": args.round_seconds,
            "gen_sec": round(gen_sec, 2),
            "wall_sec": round(wall, 2),
            "rounds": m.round,
            "n_urls": n_urls,
            "n_reviews": n_reviews,
            "urls_per_sec": round(n_urls / wall, 2),
            "order_hash": order_hash,
            "seen_hash": seen_hash,
        }
        with open(args.out, "w") as f:
            json.dump(result, f, indent=1)
        print(json.dumps(result))
        return 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
