"""Parse-layer bench: ``parse_fetched`` plus its parquet write, timed on
one fixed input.

The input is a parquet directory of fetched rows ``(url, page_type,
html)``, e.g. one round's fetched rows cut from a bench-scale crawl.
One untimed pass warms the JVM and the Python workers, then each timed
pass parses the whole input and writes the parsed table.  Prints one
JSON line: rows, seconds per pass, rows/s per pass, the parsed table's
bytes per URL, and the box probe (``bench.box_health()``) with the
1-minute load average taken before the passes.

Usage:
  python scripts/bench_parse_layer.py INPUT_DIR --master local[4] --passes 3
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("input")
    ap.add_argument("--master", default="local[4]")
    ap.add_argument("--passes", type=int, default=3)
    args = ap.parse_args()

    import bench
    from beeradvocate_crawler_spark.operators.parse import parse_fetched
    from beeradvocate_crawler_spark.session import get_spark

    spark = get_spark(master=args.master)
    fetched = spark.read.parquet(args.input)
    n = fetched.count()
    tmp = tempfile.mkdtemp(prefix="parse_layer_")
    try:
        def one_pass(i: int) -> float:
            out = os.path.join(tmp, f"p{i}")
            t0 = time.time()
            parse_fetched(fetched).write.parquet(out)
            return time.time() - t0

        one_pass(-1)
        probe = {"loadavg_1m": os.getloadavg()[0], **bench.box_health()}
        secs = [one_pass(i) for i in range(args.passes)]
        out = os.path.join(tmp, "p0")
        size = sum(os.path.getsize(os.path.join(out, f))
                   for f in os.listdir(out) if f.endswith(".parquet"))
        print(json.dumps({
            "rows": n,
            "seconds": [round(s, 3) for s in secs],
            "rows_per_s": [round(n / s, 1) for s in secs],
            "parsed_bytes_per_url": round(size / n, 1),
            "probe": probe,
        }))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
