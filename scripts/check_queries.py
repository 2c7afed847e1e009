"""Local replica of the driver's correctness harness: run every
queries() entry on Spark and its oracle_sql() twin on DuckDB, compare
row count + schema-insensitive column names + order-insensitive value
hash.  Usage:
    python scripts/check_queries.py [sf_dir] [only_query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if v != v:
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.6g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def value_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x01".join(norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import __spark_entry__ as E
    from beeradvocate_crawler_spark.plans.relational import TABLE_SCHEMAS
    from beeradvocate_crawler_spark.session import get_spark

    spark = get_spark(master="local[8]")
    con = duckdb.connect()
    for t in TABLE_SCHEMAS:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = E.queries()
    sqls = E.oracle_sql()
    n_pass = n_fail = n_rows_only = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            cols = [c.lower() for c in df.columns]
            rows = [tuple(r) for r in df.collect()]
        except Exception as e:
            print(f"FAIL {name}: SPARK ERROR {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            continue
        finally:
            from beeradvocate_crawler_spark.plans.textops import release_caches

            release_caches()
        if name not in sqls:
            print(f"rows-only {name}: {len(rows)} rows ({time.time()-t0:.1f}s)")
            n_rows_only += 1
            continue
        try:
            res = con.sql(sqls[name])
            ocols = [c.lower() for c in res.columns]
            orows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: DUCKDB ERROR {str(e)[:300]}")
            n_fail += 1
            continue
        problems = []
        if sorted(cols) != sorted(ocols):
            problems.append(f"schema: spark={sorted(cols)} duck={sorted(ocols)}")
        if len(rows) != len(orows):
            problems.append(f"rowcount: spark={len(rows)} duck={len(orows)}")
        if not problems:
            hs = value_hash(cols, rows)
            ho = value_hash(ocols, orows)
            if hs != ho:
                problems.append("value-hash mismatch")
                # show first differing normalized line
                order_s = sorted(range(len(cols)), key=lambda i: cols[i])
                order_o = sorted(range(len(ocols)), key=lambda i: ocols[i])
                ls = sorted("\x01".join(norm_cell(r[i]) for i in order_s) for r in rows)
                lo = sorted("\x01".join(norm_cell(r[i]) for i in order_o) for r in orows)
                for a, b in zip(ls, lo):
                    if a != b:
                        problems.append(f"  spark: {a[:220]}")
                        problems.append(f"  duck : {b[:220]}")
                        break
        if problems:
            print(f"FAIL {name} ({time.time()-t0:.1f}s):")
            for p in problems:
                print("   ", p)
            n_fail += 1
        else:
            print(f"ok   {name}: {len(rows)} rows ({time.time()-t0:.1f}s)")
            n_pass += 1
    print(f"\n{n_pass} ok, {n_rows_only} rows-only, {n_fail} FAILED")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
