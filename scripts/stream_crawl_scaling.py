"""Round-4 VERDICT ask #5: run the S6 streaming crawl (crawl_stream —
one politeness round per foreachBatch micro-batch, catalog as the
cross-batch state store) ONCE on the 1.44M-URL scaling corpus and
verify its crawl-order/seen hashes equal the batch loop's goldens
(0x522c7b81cd84b3f0 / 0x1be8f4c132539d29, BENCH/scaling_official.json).
Previously the streaming mode was differential-tested at fixture scale
only (streaming/rounds.py:132).

Usage: python scripts/stream_crawl_scaling.py [--pages-dir /tmp/ba_scaling_pages]
"""

from __future__ import annotations

import argparse
import datetime
import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

ORDER_GOLD = "0x522c7b81cd84b3f0"
SEEN_GOLD = "0x1be8f4c132539d29"


def main() -> int:
    from beeradvocate_crawler_spark.session import session_defaults

    ap = argparse.ArgumentParser()
    ap.add_argument("--pages-dir", default="/tmp/ba_scaling_pages")
    ap.add_argument("--cpus", default=session_defaults()[0])
    ap.add_argument("--round-seconds", type=int, default=100_000_000)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from beeradvocate_crawler_spark.config import CrawlConfig
    from beeradvocate_crawler_spark.fixtures import site_model as sm
    from beeradvocate_crawler_spark.fixtures.gen_site import write_pages_parquet
    from beeradvocate_crawler_spark.session import get_spark
    from beeradvocate_crawler_spark.streaming.rounds import crawl_stream

    spark = get_spark(master=f"local[{args.cpus}]",
                      extra={"spark.ui.showConsoleProgress": "false"})
    if not os.path.exists(os.path.join(args.pages_dir, "_SUCCESS")):
        print(f"+ generating scaling corpus -> {args.pages_dir}", flush=True)
        write_pages_parquet(spark, "scaling", args.pages_dir)

    tmp = tempfile.mkdtemp(prefix="ba_stream_scaling_")
    try:
        t0 = time.time()
        cat = crawl_stream(
            spark, args.pages_dir, sm.SEED_URLS, f"{tmp}/run",
            CrawlConfig(round_seconds=args.round_seconds),
            ticks_per_leg=16, max_legs=4,
        )
        wall = time.time() - t0
        m = cat.latest()
        order_hash = hex(
            cat.read("crawl_order", m)
            .select(F.bit_xor(F.xxhash64(
                F.concat_ws("\x01", "rank", "round", "url"))).alias("h"))
            .collect()[0]["h"] or 0
        )
        seen_hash = hex(
            cat.read("seen", m)
            .select(F.bit_xor(F.xxhash64("url")).alias("h"))
            .collect()[0]["h"] or 0
        )
        n_urls = cat.rows("crawl_order", m)
        rec = {
            "mode": "crawl_stream (S6, one round per micro-batch)",
            "master": spark.sparkContext.master,
            "corpus_scale": "scaling",
            "wall_sec": round(wall, 2),
            "rounds": m.round,
            "n_urls": n_urls,
            "urls_per_sec": round(n_urls / wall, 2),
            "order_hash": order_hash,
            "seen_hash": seen_hash,
            "order_hash_equals_batch": order_hash == ORDER_GOLD,
            "seen_hash_equals_batch": seen_hash == SEEN_GOLD,
        }
        print(json.dumps(rec, indent=1))
        with open(os.path.join(REPO, "BENCH", "stream_scaling.json"), "w") as f:
            json.dump(rec, f, indent=1)
        stamp = datetime.datetime.now(datetime.timezone.utc).strftime(
            "%Y-%m-%d %H:%M UTC")
        ok = rec["order_hash_equals_batch"] and rec["seen_hash_equals_batch"]
        with open(os.path.join(REPO, "BENCH", "BASELINE.md"), "a") as f:
            f.write(f"""
## S6 streaming crawl at scaling scale — {stamp}

`crawl_stream` (one politeness round per foreachBatch micro-batch, the
snapshot catalog as the cross-batch state store) on the 1442292-URL
scaling corpus, local[{args.cpus}]: wall {rec['wall_sec']} s
({rec['urls_per_sec']} URLs/s), {rec['rounds']} rounds.
**crawl_order + seen hashes {'EQUAL' if ok else 'DIFFER FROM'} the
batch loop's goldens** ({ORDER_GOLD} / {SEEN_GOLD}) — the streaming
mode is output-identical to the batch engine at 1.44M-URL scale, not
just at fixture scale.  (Streaming adds a ``resume`` call and a
micro-batch per round to the batch loop's work — its wall is expected
to sit above the batch figure at equal parallelism; the exactness is
the claim here.)
""")
        return 0 if ok else 1
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
