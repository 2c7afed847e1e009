"""Relational operator surface (SURVEY.md §2.C) — one builder per
operator family, each with a DuckDB oracle-SQL twin for the driver's
differential harness (__spark_entry__.py contract).

Conventions that keep the value-hash comparison honest:
- every computed column is aliased IDENTICALLY in Spark and SQL;
- timestamps are emitted as epoch seconds (bigint) — Spark session TZ
  is UTC, DuckDB is UTC-naive, epoch ints are unambiguous;
- double aggregates are rounded (2dp for big sums, 4dp for ratios) on
  BOTH sides to absorb summation-order FP noise;
- deterministic tie-breaks (an id column) in every window/top-k.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _cols(**types: T.DataType) -> T.StructType:
    return T.StructType([T.StructField(n, t) for n, t in types.items()])


_INT, _LONG, _DBL, _STR = T.IntegerType(), T.LongType(), T.DoubleType(), T.StringType()
_TS = T.TimestampNTZType()

# The queries() tables, exactly as Spark infers them from the parquet
# footers (file reads are always nullable; the timestamps carry no UTC
# adjustment, so they read as timestamp_ntz).  ``ld`` reads with these,
# so a table load starts no footer-reading job; a new table needs an
# entry here.
TABLE_SCHEMAS: dict[str, T.StructType] = {
    "region": _cols(r_regionkey=_INT, r_name=_STR),
    "nation": _cols(n_nationkey=_INT, n_name=_STR, n_regionkey=_INT),
    "customer": _cols(c_custkey=_LONG, c_name=_STR, c_nationkey=_INT,
                      c_acctbal=_DBL, c_mktsegment=_STR),
    "supplier": _cols(s_suppkey=_LONG, s_name=_STR, s_nationkey=_INT,
                      s_acctbal=_DBL),
    "part": _cols(p_partkey=_LONG, p_name=_STR, p_brand=_STR, p_type=_STR,
                  p_size=_INT, p_retailprice=_DBL),
    "orders": _cols(o_orderkey=_LONG, o_custkey=_LONG, o_orderstatus=_STR,
                    o_totalprice=_DBL, o_orderdate=_TS, o_orderpriority=_STR),
    "lineitem": _cols(l_orderkey=_LONG, l_partkey=_LONG, l_suppkey=_LONG,
                      l_linenumber=_INT, l_quantity=_DBL,
                      l_extendedprice=_DBL, l_discount=_DBL, l_tax=_DBL,
                      l_returnflag=_STR, l_linestatus=_STR, l_shipdate=_TS),
    "events": _cols(event_id=_LONG, ts=_TS, user_id=_LONG, event_type=_STR,
                    value=_DBL, props=_STR),
    "documents": _cols(doc_id=_LONG, text=_STR, lang=_STR, source=_STR,
                       n_chars=_LONG),
    "embeddings": _cols(vec_id=_LONG, embedding=T.ArrayType(T.FloatType()),
                        label=_INT),
}


def ld(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.schema(TABLE_SCHEMAS[name]).parquet(f"{sf_dir}/{name}.parquet")


def spread(df: DataFrame, *keys: str) -> DataFrame:
    """Hash-spread rows across the cluster before CPU-heavy per-row
    expressions (regex, JSON parse, count-distinct expand).  The
    small-SF tables are single parquet files -> one scan partition,
    which serializes the whole map stage into one task; at 100 TB the
    scan has thousands of splits and this collapses into a cheap
    rebalance (same rationale as textops._spread)."""
    sp = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(sp, *keys) if keys else df.repartition(sp)


# --- C1/C3: scan + pushdown ----------------------------------------------------

def q_scan_filter_project(spark, sf):
    # predicate chosen to SELECT rows on the driver's data (min
    # l_shipdate is 1995-01-02): a 0-row result makes the rows+hash
    # check vacuous (round-2 VERDICT what's-wrong #6)
    return (
        ld(spark, sf, "lineitem")
        .where(F.col("l_shipdate") < "1996-01-01")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    )


SQL_SCAN = """
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
FROM lineitem WHERE l_shipdate < TIMESTAMP '1996-01-01'
"""

# --- C11: TPC-H Q1-style hash aggregation --------------------------------------

def q_tpch_q1(spark, sf):
    """C11 hash-agg + C22 math functions in one signed slot (round-3
    consolidation: the floor/log/abs/pmod aggregates from the former
    ``math_funcs`` entry run over the SAME lineitem groupBy, so the
    family stays hash-checked on the driver grid without spending a
    second slot — mirrors the string+hash merge)."""
    li = ld(spark, sf, "lineitem").where(F.col("l_shipdate") <= "1998-09-02")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.round(F.avg("l_discount"), 4).alias("avg_disc"),
        F.count("*").alias("count_order"),
        F.sum(F.floor("l_quantity")).alias("sum_floor_qty"),
        F.round(F.sum(F.log(F.col("l_extendedprice") + 1)), 2).alias("sum_log_price"),
        F.round(F.sum(F.abs(F.col("l_discount") - 0.05)), 2).alias("sum_absdev"),
        F.sum(F.pmod(F.col("l_partkey"), F.lit(7))).alias("sum_pmod7"),
    )


SQL_TPCH_Q1 = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)      AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 4)      AS avg_qty,
       round(avg(l_discount), 4)      AS avg_disc,
       count(*)                       AS count_order,
       sum(floor(l_quantity))::BIGINT AS sum_floor_qty,
       round(sum(ln(l_extendedprice + 1)), 2) AS sum_log_price,
       round(sum(abs(l_discount - 0.05)), 2)  AS sum_absdev,
       sum(l_partkey % 7)::BIGINT     AS sum_pmod7
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""

# --- C5: broadcast join ---------------------------------------------------------

def q_broadcast_nation_region(spark, sf):
    n = ld(spark, sf, "nation")
    r = ld(spark, sf, "region")
    return n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        "n_nationkey", "n_name", "r_name"
    )


SQL_NATION_REGION = """
SELECT n_nationkey, n_name, r_name
FROM nation JOIN region ON n_regionkey = r_regionkey
"""

# --- C6: sort-merge large-large join -------------------------------------------

def q_lineitem_orders_join(spark, sf):
    li = ld(spark, sf, "lineitem")
    o = ld(spark, sf, "orders")
    # hint SMJ so the physical plan exercises the merge path at any size
    return (
        li.hint("merge")
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
        )
    )


SQL_LI_ORDERS = """
SELECT o_orderpriority, count(*) AS n_items,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""

# --- C7: semi / anti joins (A7 is an anti-join) ---------------------------------

def q_semi_anti_join(spark, sf):
    """C7 semi AND anti in one grid entry (round-3 consolidation so
    every oracle-bearing family fits the driver's 50-entry window):
    customers WITH at least one urgent order ('semi') union customers
    with NONE ('anti').  The urgent filter makes BOTH sides non-empty
    at every SF — the unfiltered anti-join returned 0 rows and its
    check was vacuous (round-2 VERDICT what's-wrong #6)."""
    c = ld(spark, sf, "customer")
    o = ld(spark, sf, "orders").where(F.col("o_orderpriority") == "1-URGENT")
    semi = c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        F.lit("semi").alias("side"), "c_custkey", "c_acctbal"
    )
    anti = c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        F.lit("anti").alias("side"), "c_custkey", "c_acctbal"
    )
    return semi.unionByName(anti)


SQL_SEMI_ANTI = """
SELECT 'semi' AS side, c_custkey, c_acctbal FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
UNION ALL
SELECT 'anti' AS side, c_custkey, c_acctbal FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
"""

# --- C8: range (theta) join -----------------------------------------------------

def q_range_join_events(spark, sf):
    e = ld(spark, sf, "events")
    e1 = e.select(
        F.col("user_id"), F.col("event_id").alias("id1"), F.col("ts").alias("ts1")
    )
    e2 = e.select(
        F.col("user_id"), F.col("event_id").alias("id2"), F.col("ts").alias("ts2")
    )
    pairs = e1.join(
        e2,
        (e1.user_id == e2.user_id)
        & (F.col("ts2") > F.col("ts1"))
        & (F.col("ts2") <= F.col("ts1") + F.expr("INTERVAL 10 MINUTES"))
        & (F.col("id1") != F.col("id2")),
    )
    return pairs.groupBy(e1.user_id.alias("user_id")).agg(
        F.count("*").alias("n_pairs")
    )


SQL_RANGE_JOIN = """
SELECT e1.user_id AS user_id, count(*) AS n_pairs
FROM events e1 JOIN events e2
  ON e1.user_id = e2.user_id
 AND e2.ts > e1.ts AND e2.ts <= e1.ts + INTERVAL 10 MINUTE
 AND e1.event_id <> e2.event_id
GROUP BY e1.user_id
"""

# --- C9: as-of join (latest event per user at a cutoff) -------------------------

def q_asof_latest_event(spark, sf):
    e = ld(spark, sf, "events").where(F.col("ts") <= "2024-01-15 00:00:00")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        e.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            "event_id",
            F.unix_timestamp("ts").alias("ts_epoch"),
            F.round("value", 4).alias("value"),
        )
    )


SQL_ASOF = """
SELECT user_id, event_id, floor(epoch(ts))::BIGINT AS ts_epoch, round(value, 4) AS value
FROM events WHERE ts <= TIMESTAMP '2024-01-15 00:00:00'
QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
"""

# --- C10: cross join ------------------------------------------------------------

def q_cross_join(spark, sf):
    r = ld(spark, sf, "region").select("r_name")
    n = ld(spark, sf, "nation").select("n_name")
    return r.crossJoin(n)


SQL_CROSS = "SELECT r_name, n_name FROM region CROSS JOIN nation"

# --- C12: distinct (exact + approx) ---------------------------------------------

def q_distinct_counts(spark, sf):
    # no spread(): countDistinct's partial-agg expand is cheap per row,
    # and repartitioning lineitem costs more than the serialized scan
    # saves (measured 0.9 s -> 1.5 s WITH the shuffle at sf0.1)
    li = ld(spark, sf, "lineitem")
    return li.agg(
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
    )


SQL_DISTINCT = """
SELECT count(DISTINCT l_orderkey) AS n_orders,
       count(DISTINCT l_partkey)  AS n_parts,
       count(DISTINCT l_suppkey)  AS n_supps
FROM lineitem
"""


def q_approx_distinct(spark, sf):
    # sketch values are engine-specific -> rows-only check (no oracle)
    li = ld(spark, sf, "lineitem")
    return li.agg(
        F.approx_count_distinct("l_orderkey").alias("approx_orders"),
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
    )


# --- C13: rollup / cube / grouping sets (one grid entry) -------------------------

def q_grouping_analytics(spark, sf):
    """C13's three grouping shapes in ONE grid entry (round-3
    consolidation): ROLLUP (event_type, day_epoch) ∪ CUBE (event_type,
    weekday) ∪ explicit GROUPING SETS over orders — harmonized to
    (gset, k1, k2, gid, n, sum_val) so each arm stays hash-checkable.
    grouping_id() disambiguates aggregation levels in every arm."""
    e = (
        ld(spark, sf, "events")
        .withColumn("day_epoch", F.unix_timestamp(F.date_trunc("day", "ts")))
        .withColumn("weekday", F.dayofweek("ts").cast("int"))
    )
    aggs = [
        F.count("*").alias("n"),
        F.round(F.sum("value"), 2).alias("sum_val"),
        F.grouping_id().alias("gid"),
    ]
    r = e.rollup("event_type", "day_epoch").agg(*aggs).select(
        F.lit("rollup").alias("gset"),
        F.col("event_type").alias("k1"),
        F.col("day_epoch").cast("string").alias("k2"),
        "gid", "n", "sum_val",
    )
    c = e.cube("event_type", "weekday").agg(*aggs).select(
        F.lit("cube").alias("gset"),
        F.col("event_type").alias("k1"),
        F.col("weekday").cast("string").alias("k2"),
        "gid", "n", "sum_val",
    )
    o = ld(spark, sf, "orders")
    g = spark.sql(
        """
        SELECT 'gsets' AS gset, o_orderstatus AS k1, o_orderpriority AS k2,
               grouping_id() AS gid, count(*) AS n,
               round(sum(o_totalprice), 2) AS sum_val
        FROM {o}
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """,
        o=o,
    )
    return r.unionByName(c).unionByName(g)


SQL_GROUPING_ANALYTICS = """
WITH e AS (
  SELECT event_type, epoch(date_trunc('day', ts))::BIGINT AS day_epoch,
         (dayofweek(ts) + 1)::INT AS weekday, value
  FROM events)
SELECT 'rollup' AS gset, event_type AS k1, day_epoch::VARCHAR AS k2,
       GROUPING(event_type, day_epoch) AS gid,
       count(*) AS n, round(sum(value), 2) AS sum_val
FROM e GROUP BY ROLLUP (event_type, day_epoch)
UNION ALL
SELECT 'cube' AS gset, event_type AS k1, weekday::VARCHAR AS k2,
       GROUPING(event_type, weekday) AS gid,
       count(*) AS n, round(sum(value), 2) AS sum_val
FROM e GROUP BY CUBE (event_type, weekday)
UNION ALL
SELECT 'gsets' AS gset, o_orderstatus AS k1, o_orderpriority AS k2,
       GROUPING(o_orderstatus, o_orderpriority) AS gid,
       count(*) AS n, round(sum(o_totalprice), 2) AS sum_val
FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""

# --- C14 + C21: sort-based agg / ordered collect + date-time buckets --------------

def q_collect_sorted(spark, sf):
    """C14 ordered collect + C21 date/time in one per-user aggregation
    (round-3 consolidation — same table, same grouping key)."""
    e = ld(spark, sf, "events")
    return e.groupBy("user_id").agg(
        F.array_join(F.sort_array(F.collect_list("event_type")), ",").alias("types"),
        F.count("*").alias("n"),
        F.unix_timestamp(F.min("ts")).alias("first_epoch"),
        F.unix_timestamp(F.max("ts")).alias("last_epoch"),
        F.countDistinct(F.date_trunc("hour", "ts")).alias("n_active_hours"),
    )


SQL_COLLECT = """
SELECT user_id, string_agg(event_type, ',' ORDER BY event_type) AS types,
       count(*) AS n,
       floor(epoch(min(ts)))::BIGINT AS first_epoch,
       floor(epoch(max(ts)))::BIGINT AS last_epoch,
       count(DISTINCT date_trunc('hour', ts)) AS n_active_hours
FROM events GROUP BY user_id
"""

# --- C15: ranking window (A12 twin) ----------------------------------------------

def q_window_rank_orders(spark, sf):
    o = ld(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("price"), "rn")
    )


SQL_WINDOW_RANK = """
SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price,
       row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
FROM orders
QUALIFY rn <= 3
"""

# --- C16 + C17: analytic window (lag) + explicit frame (running sum) ---------------

def q_window_lag_runsum(spark, sf):
    """C16 lag + C17 running-sum frame over the SAME per-user window
    (round-3 consolidation): one sort, two window functions — the
    token-bucket audit twin."""
    e = ld(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return e.select(
        "user_id",
        "event_id",
        F.round("value", 4).alias("value"),
        F.round(F.lag("value").over(w), 4).alias("prev_value"),
        F.round(F.sum("value").over(wf), 2).alias("running_total"),
    )


SQL_WINDOW_LAG_RUNSUM = """
SELECT user_id, event_id, round(value, 4) AS value,
       round(lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 4) AS prev_value,
       round(sum(value) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
FROM events
"""

# --- C18: global top-k -------------------------------------------------------------

def q_topk_orders(spark, sf):
    o = ld(spark, sf, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("price"))
    )


SQL_TOPK = """
SELECT o_orderkey, round(o_totalprice, 2) AS price
FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
"""

# --- C19: set ops ------------------------------------------------------------------

def q_set_except(spark, sf):
    # except the FIRST-YEAR orderers only — the unfiltered version was
    # the same vacuous 0-row shape as q_anti_join (round-2 VERDICT
    # what's-wrong #6); ~20% of customers survive at every SF
    c = ld(spark, sf, "customer").select("c_custkey")
    o = (
        ld(spark, sf, "orders")
        .where(F.col("o_orderdate") < "1996-01-01")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return c.exceptAll(o.distinct()).distinct()


SQL_EXCEPT = """
SELECT c_custkey FROM customer
EXCEPT
SELECT o_custkey FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01'
"""

# --- C20: string functions ----------------------------------------------------------

def q_string_hash_funcs(spark, sf):
    """C20 string + C25 hash functions in one per-doc map pass
    (round-3 consolidation — same table, same row shape; the
    engine-internal xxhash64 stays a separate rows-only entry)."""
    # no spread(): these string expressions are cheap relative to the
    # fat ``text`` column a repartition would shuffle — the serialized
    # single-file scan finishes 7x faster than the spread plan at
    # sf0.1 (0.6 s vs 4.2 s).  At 100 TB the scan has thousands of
    # splits and parallelizes by itself; spread() is reserved for
    # genuinely CPU-bound maps (shingle hashing in textops).
    d = ld(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.length("text").alias("n_len"),
        F.upper(F.substring("text", 1, 12)).alias("head12"),
        F.size(F.split(F.trim("text"), r"\s+")).alias("n_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("data"), F.lit(0))).alias("n_data"),
        F.levenshtein(F.substring("text", 1, 8), F.lit("spark sql")).alias("lev"),
        F.md5(F.substring("text", 1, 32)).alias("head_md5"),
        F.sha2(F.substring("text", 1, 32), 256).alias("head_sha256"),
    )


SQL_STRING_HASH = r"""
SELECT doc_id,
       length(text) AS n_len,
       upper(substr(text, 1, 12)) AS head12,
       len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
       len(regexp_extract_all(text, 'data')) AS n_data,
       levenshtein(substr(text, 1, 8), 'spark sql') AS lev,
       md5(substr(text, 1, 32)) AS head_md5,
       sha256(substr(text, 1, 32)) AS head_sha256
FROM documents
"""

# --- C22: math — merged into q_tpch_q1 (round-3 grid consolidation) ----------------------

# --- C23: array / higher-order functions -------------------------------------------------

def q_array_hof(spark, sf):
    em = ld(spark, sf, "embeddings")
    vec = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return em.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(F.aggregate(vec, F.lit(0.0), lambda a, x: a + x), 4).alias("vec_sum"),
        F.round(
            F.aggregate(vec, F.lit(0.0), lambda a, x: a + x * x), 4
        ).alias("vec_norm2"),
        F.round(F.array_max(vec), 4).alias("vec_max"),
    )


SQL_ARRAY_HOF = """
SELECT vec_id,
       len(embedding) AS dim,
       round(list_reduce(list_transform(embedding, x -> x::DOUBLE), (a, x) -> a + x), 4) AS vec_sum,
       round(list_reduce(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE), (a, x) -> a + x), 4) AS vec_norm2,
       round(list_max(list_transform(embedding, x -> x::DOUBLE)), 4) AS vec_max
FROM embeddings
"""

# --- C24: JSON --------------------------------------------------------------------------

def q_json_extract(spark, sf):
    e = spread(ld(spark, sf, "events"), "event_id")
    return (
        e.withColumn("k", F.get_json_object("props", "$.k").cast("int"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


SQL_JSON = """
SELECT event_type, count(*) AS n,
       sum(CAST(props->>'$.k' AS INT))::BIGINT AS sum_k,
       min(CAST(props->>'$.k' AS INT)) AS min_k,
       max(CAST(props->>'$.k' AS INT)) AS max_k
FROM events GROUP BY event_type
"""

# --- C25: hash functions ------------------------------------------------------------------

def q_hash_xxhash64(spark, sf):
    # DuckDB has no xxhash64 -> rows-only check (E:36-37 weaker gate)
    c = ld(spark, sf, "customer")
    return c.select("c_custkey", F.xxhash64("c_name").alias("name_xxh64"))


# --- C26: scalar pandas UDF (A2 twin) ------------------------------------------------------

def q_pandas_udf_canonicalize(spark, sf):
    from ..functions.urlnorm import canonicalize_series

    @F.pandas_udf("string")
    def canon(u: pd.Series) -> pd.Series:
        return canonicalize_series(u)

    c = ld(spark, sf, "customer")
    dirty = F.concat(
        F.lit("HTTPS://BA.Example:443/c/"),
        F.col("c_custkey"),
        F.lit("/?utm_source=x&b=2&a=1#frag"),
    )
    return c.select("c_custkey", canon(dirty).alias("canon_url"))


SQL_CANON = """
SELECT c_custkey,
       'https://ba.example/c/' || c_custkey || '/?a=1&b=2' AS canon_url
FROM customer
"""

# --- C27: grouped-map pandas UDF (A11/A15 twin) --------------------------------------------

def q_grouped_map_zscore(spark, sf):
    e = ld(spark, sf, "events")

    def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf["value"]
        std = v.std()  # ddof=1 == stddev_samp
        z = (v - v.mean()) / std if std and std > 0 else v * float("nan")
        return pd.DataFrame(
            {"event_type": pdf["event_type"], "event_id": pdf["event_id"], "z": z}
        )

    out = e.groupBy("event_type").applyInPandas(
        normalize, "event_type string, event_id long, z double"
    )
    # round JVM-side (HALF_UP, same as DuckDB); drop NaN/null like SQL NULL
    return out.where(F.col("z").isNotNull() & ~F.isnan("z")).withColumn(
        "z", F.round("z", 4)
    )


SQL_ZSCORE = """
SELECT event_type, event_id,
       round((value - avg(value) OVER (PARTITION BY event_type))
             / stddev_samp(value) OVER (PARTITION BY event_type), 4) AS z
FROM events
QUALIFY z IS NOT NULL
"""

# --- C28: grouped-agg pandas UDF (custom UDAF) ----------------------------------------------

def q_grouped_agg_p95(spark, sf):
    @F.pandas_udf("double")
    def p95(v: pd.Series) -> float:
        return float(np.percentile(v, 95))  # linear interp == quantile_cont

    e = ld(spark, sf, "events")
    return e.groupBy("event_type").agg(F.round(p95("value"), 4).alias("p95_value"))


SQL_P95 = """
SELECT event_type, round(quantile_cont(value, 0.95), 4) AS p95_value
FROM events GROUP BY event_type
"""

# --- C29: mapInPandas -------------------------------------------------------------------------

def q_map_in_pandas_tokens(spark, sf):
    d = ld(spark, sf, "documents")

    def tok(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_tokens": pdf["text"].str.split().str.len().astype("int64"),
                    "n_chars_seen": pdf["text"].str.len().astype("int64"),
                }
            )

    return d.mapInPandas(tok, "doc_id long, n_tokens long, n_chars_seen long")


SQL_TOKENS = r"""
SELECT doc_id,
       len(regexp_extract_all(text, '\S+'))::BIGINT AS n_tokens,
       length(text)::BIGINT AS n_chars_seen
FROM documents
"""

# --- crawl-operator relational twins (A6/A16/A9/A12) ----------------------------------------

def q_classify_urls(spark, sf):
    """A6 twin: the engine's JVM classifier over synthetic URLs."""
    from ..operators.links import classify_expr

    d = ld(spark, sf, "documents")
    url = F.concat(
        F.lit("https://ba.example"),
        F.when(F.col("doc_id") % 5 == 0, F.concat(F.lit("/beer/profile/"), F.col("doc_id"), F.lit("/")))
        .when(F.col("doc_id") % 5 == 1, F.concat(F.lit("/beer/profile/"), F.col("doc_id"), F.lit("/"), F.col("doc_id") + 1, F.lit("/")))
        .when(F.col("doc_id") % 5 == 2, F.concat(F.lit("/place/list/?c_id="), F.col("doc_id")))
        .when(F.col("doc_id") % 5 == 3, F.concat(F.lit("/community/members/u"), F.col("doc_id"), F.lit("."), F.col("doc_id"), F.lit("/")))
        .otherwise(F.concat(F.lit("/other/"), F.col("doc_id"))),
    )
    return (
        ld(spark, sf, "documents")
        .select("doc_id", url.alias("url"))
        .withColumn("page_type", classify_expr(F.col("url")))
    )


SQL_CLASSIFY = """
SELECT doc_id,
       'https://ba.example' || CASE doc_id % 5
         WHEN 0 THEN '/beer/profile/' || doc_id || '/'
         WHEN 1 THEN '/beer/profile/' || doc_id || '/' || (doc_id + 1) || '/'
         WHEN 2 THEN '/place/list/?c_id=' || doc_id
         WHEN 3 THEN '/community/members/u' || doc_id || '.' || doc_id || '/'
         ELSE '/other/' || doc_id END AS url,
       CASE doc_id % 5
         WHEN 0 THEN 'brewery' WHEN 1 THEN 'beer' WHEN 2 THEN 'place'
         WHEN 3 THEN 'user' ELSE 'other' END AS page_type
FROM documents
"""


def q_pagination_expand(spark, sf):
    """A16 twin: sequence/explode pagination arithmetic over events."""
    e = ld(spark, sf, "events").where(F.floor("value") > 25)
    nr = F.floor("value").cast("int")
    starts = F.sequence(F.lit(25), nr - 1, F.lit(25))
    return e.select("event_id", F.explode(starts).alias("start"))


# DuckDB can't lateral-join generate_series on a column expression, so
# cross-join a static series and filter — value is bounded small.
SQL_PAGINATION = """
SELECT event_id, (25 * g)::INT AS start
FROM events, (SELECT unnest(range(1, 100)) AS g) s
WHERE floor(value) > 25 AND (25 * g) <= floor(value) - 1
"""


def q_frontier_merge(spark, sf):
    """A9 twin: min(struct(depth, parent_ord, link_pos)) first-discovery
    merge over synthetic multi-parent discoveries built from events."""
    e = ld(spark, sf, "events")
    disc = e.select(
        (F.col("event_id") % 500).alias("url_id"),
        (F.col("event_id") % 7).cast("int").alias("depth"),
        (F.col("user_id")).alias("parent_ord"),
        (F.col("event_id") % 13).cast("int").alias("link_pos"),
    )
    m = disc.groupBy("url_id").agg(
        F.min(F.struct("depth", "parent_ord", "link_pos")).alias("m")
    )
    return m.select(
        "url_id",
        F.col("m.depth").alias("depth"),
        F.col("m.parent_ord").alias("parent_ord"),
        F.col("m.link_pos").alias("link_pos"),
    )


SQL_FRONTIER_MERGE = """
SELECT url_id, depth, parent_ord, link_pos FROM (
  SELECT event_id % 500 AS url_id,
         (event_id % 7)::INT AS depth,
         user_id AS parent_ord,
         (event_id % 13)::INT AS link_pos,
         row_number() OVER (PARTITION BY event_id % 500
                            ORDER BY event_id % 7, user_id, event_id % 13) AS rn
  FROM events) WHERE rn = 1
"""


def q_politeness_topk(spark, sf):
    """A12 twin: per-host (event_type) quota-capped priority admission."""
    e = ld(spark, sf, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").desc(), F.col("event_id")
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select("event_type", "event_id", F.round("value", 4).alias("value"), "rn")
    )


SQL_POLITENESS_TOPK = """
SELECT event_type, event_id, round(value, 4) AS value,
       row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rn
FROM events QUALIFY rn <= 5
"""


def q_sessionize(spark, sf):
    """Sessionization: 30-min-gap sessions per user via lag + cumsum."""
    e = ld(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = (
        F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w)) > 1800
    ).cast("int")
    sess = F.sum(F.coalesce(gap, F.lit(0))).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = e.withColumn("session_id", sess)
    return d.groupBy("user_id").agg(
        (F.max("session_id") + 1).alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


SQL_SESSIONIZE = """
WITH g AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800
              THEN 1 ELSE 0 END AS brk
  FROM events),
s AS (
  SELECT user_id,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM g)
SELECT user_id, (max(session_id) + 1)::BIGINT AS n_sessions, count(*) AS n_events
FROM s GROUP BY user_id
"""


# --- C4b: full outer join + null-safe equality ---------------------------------

def q_full_outer_join(spark, sf):
    """Customers FULL OUTER their orders-per-customer rollup, plus a
    null-safe (<=>) flag — exercises the join sides Catalyst can't
    convert to inner."""
    c = ld(spark, sf, "customer").select("c_custkey", "c_nationkey")
    o = (
        ld(spark, sf, "orders")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"))
    )
    j = c.join(o, c["c_custkey"] == o["o_custkey"], "full_outer")
    return j.select(
        "c_custkey",
        "o_custkey",
        "n_orders",
        F.col("c_custkey").eqNullSafe(F.col("o_custkey")).alias("keys_match"),
    )


SQL_FULL_OUTER = """
WITH o AS (SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY o_custkey)
SELECT c_custkey, o_custkey, n_orders,
       (c_custkey IS NOT DISTINCT FROM o_custkey) AS keys_match
FROM customer FULL OUTER JOIN o ON c_custkey = o_custkey
"""

# --- C29b: Python UDTF (Spark 4) — one row in, N typed rows out ----------------

def q_udtf_bigrams(spark, sf):
    """Arrow-optimized Python UDTF emitting (doc_id, pos, bigram) rows
    from each document — the table-function shape of link extraction.
    Oracle twin: DuckDB unnest-with-ordinality over the same tokens."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos: int, bigram: string")
    class Bigrams:
        def eval(self, doc_id: int, text: str):  # noqa: ANN001
            toks = [t for t in __import__("re").findall(r"[a-z0-9]+", text.lower())]
            for i in range(len(toks) - 1):
                yield i, toks[i] + " " + toks[i + 1]

    spark.udtf.register("ba_bigrams", Bigrams)
    d = ld(spark, sf, "documents").where(F.col("doc_id") < 50)
    d.createOrReplaceTempView("udtf_docs_in")
    return spark.sql(
        """
        SELECT d.doc_id, b.pos, b.bigram
        FROM udtf_docs_in d, LATERAL ba_bigrams(d.doc_id, d.text) b
        """
    )


SQL_UDTF_BIGRAMS = """
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
  FROM documents WHERE doc_id < 50)
SELECT doc_id, (i - 1)::INT AS pos, t[i] || ' ' || t[i + 1] AS bigram
FROM toks, unnest(range(1, len(t))) AS u(i)
"""


# --- A21/A22: continuous-crawl scheduling twins ------------------------------------

RECRAWL_DEFAULT_GAP_SEC = 86400  # pages fetched once: assume daily change
RECRAWL_TOP_K = 100


def q_recrawl_schedule(spark, sf):
    """A22 twin: freshness-driven recrawl scheduling (Cho &
    Garcia-Molina 2003, "Effective Page Refresh Policies for Web
    Crawlers").  ``events`` stands in for a fetch history — page :=
    ``user_id``, each event one observed fetch.  Per page the change
    interval is estimated from the observed history (the telescoped
    mean gap ``(last-first)/(n-1)``), staleness = age-at-horizon over
    that interval (integer-quantized x1000 — no float ordering), and
    the top-k stalest pages form the next refresh batch.

    Scale shape (10^10-URL frontier): one hash-agg on the page key
    (uniform, no skew), the crawl horizon is a 1-row broadcast join,
    and the batch cut is orderBy().limit(k) — TakeOrdered's
    per-partition heaps + an O(k) driver merge, never a global sort."""
    ts = F.unix_timestamp("ts")
    per = (
        ld(spark, sf, "events")
        .select(F.col("user_id").alias("page_id"), ts.alias("e"))
        .groupBy("page_id")
        .agg(
            F.count("*").alias("n_fetches"),
            F.min("e").alias("first_epoch"),
            F.max("e").alias("last_epoch"),
        )
    )
    horizon = per.agg(F.max("last_epoch").alias("horizon"))
    gap = F.when(
        F.col("n_fetches") > 1,
        F.greatest(
            F.expr("(last_epoch - first_epoch) div (n_fetches - 1)"), F.lit(1)
        ),
    ).otherwise(F.lit(RECRAWL_DEFAULT_GAP_SEC))
    return (
        per.crossJoin(F.broadcast(horizon))
        .withColumn("gap_sec", gap)
        .withColumn(
            "staleness_q",
            F.expr("((horizon - last_epoch) * 1000) div gap_sec"),
        )
        .orderBy(F.col("staleness_q").desc(), "page_id")
        .limit(RECRAWL_TOP_K)
        .select("page_id", "n_fetches", "last_epoch", "gap_sec", "staleness_q")
    )


SQL_RECRAWL = f"""
WITH per AS (
  SELECT user_id AS page_id, count(*) AS n_fetches,
         min(floor(epoch(ts))::BIGINT) AS first_epoch,
         max(floor(epoch(ts))::BIGINT) AS last_epoch
  FROM events GROUP BY user_id),
h AS (SELECT max(last_epoch) AS horizon FROM per),
s AS (
  SELECT page_id, n_fetches, last_epoch,
         CASE WHEN n_fetches > 1
              THEN greatest((last_epoch - first_epoch) // (n_fetches - 1), 1)
              ELSE {RECRAWL_DEFAULT_GAP_SEC} END AS gap_sec,
         horizon
  FROM per, h)
SELECT page_id, n_fetches, last_epoch, gap_sec,
       ((horizon - last_epoch) * 1000) // gap_sec AS staleness_q
FROM s
ORDER BY staleness_q DESC, page_id
LIMIT {RECRAWL_TOP_K}
"""


def q_sitemap_frontier(spark, sf):
    """A21 twin: sitemap ingestion — the standard seed/refresh source a
    production crawler reads before touching HTML (sitemaps.org
    protocol).  Deterministic fixture: one urlset per ``source`` built
    from the documents table (loc + lastmod + changefreq per doc, in
    doc_id order), then PARSED back into frontier rows with pure regexp
    expressions and classified into page-type priority (brewery 3 >
    beer 2 > review 1 — the A6 ordering).  Generation and parsing are
    independent code paths in both engines, so the hash check verifies
    the parser, not the template.

    Scale shape: sitemaps are per-host documents (small), parse is one
    codegen map pass + explode; nothing shuffles except the final
    per-host concat fixture (absent in production, where the XML
    arrives as fetched pages)."""
    d = ld(spark, sf, "documents").select("doc_id", "source")
    ptype = (
        F.when(F.col("doc_id") % 3 == 0, "brewery")
        .when(F.col("doc_id") % 3 == 1, "beer")
        .otherwise("review")
    )
    lastmod = F.date_add(F.lit("2024-01-01").cast("date"),
                         F.pmod(F.col("doc_id"), F.lit(365)).cast("int"))
    freq = F.when(F.col("doc_id") % 2 == 0, "daily").otherwise("weekly")
    frag = F.concat(
        F.lit("<url><loc>https://"), F.col("source"), F.lit(".example/"),
        ptype, F.lit("/"), F.col("doc_id").cast("string"),
        F.lit("</loc><lastmod>"), lastmod.cast("string"),
        F.lit("</lastmod><changefreq>"), freq, F.lit("</changefreq></url>"),
    )
    sitemaps = (
        d.select("source", "doc_id", frag.alias("frag"))
        .groupBy("source")
        .agg(
            F.concat(
                F.lit('<?xml version="1.0"?><urlset>'),
                F.concat_ws(
                    "",
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("doc_id", "frag"))),
                        lambda s: s.frag,
                    ),
                ),
                F.lit("</urlset>"),
            ).alias("xml")
        )
    )
    entries = sitemaps.select(
        "source",
        F.explode(
            F.regexp_extract_all("xml", F.lit(r"<url>(.*?)</url>"), F.lit(1))
        ).alias("entry"),
    )
    url = F.regexp_extract("entry", r"<loc>([^<]*)</loc>", 1)
    return entries.select(
        "source",
        url.alias("url"),
        F.regexp_extract("entry", r"<lastmod>([^<]*)</lastmod>", 1).alias("lastmod"),
        F.regexp_extract("entry", r"<changefreq>([^<]*)</changefreq>", 1).alias("changefreq"),
        F.when(url.rlike(r"\.example/brewery/"), 3)
        .when(url.rlike(r"\.example/beer/"), 2)
        .otherwise(1)
        .alias("priority"),
    )


SQL_SITEMAP = """
WITH frags AS (
  SELECT source, doc_id,
         '<url><loc>https://' || source || '.example/'
         || CASE WHEN doc_id % 3 = 0 THEN 'brewery'
                 WHEN doc_id % 3 = 1 THEN 'beer' ELSE 'review' END
         || '/' || doc_id
         || '</loc><lastmod>' || (DATE '2024-01-01' + (doc_id % 365)::INT)::VARCHAR
         || '</lastmod><changefreq>'
         || CASE WHEN doc_id % 2 = 0 THEN 'daily' ELSE 'weekly' END
         || '</changefreq></url>' AS frag
  FROM documents),
maps AS (
  SELECT source,
         '<?xml version="1.0"?><urlset>'
         || string_agg(frag, '' ORDER BY doc_id) || '</urlset>' AS xml
  FROM frags GROUP BY source),
entries AS (
  SELECT source, unnest(regexp_extract_all(xml, '<url>(.*?)</url>', 1)) AS entry
  FROM maps)
SELECT source,
       regexp_extract(entry, '<loc>([^<]*)</loc>', 1) AS url,
       regexp_extract(entry, '<lastmod>([^<]*)</lastmod>', 1) AS lastmod,
       regexp_extract(entry, '<changefreq>([^<]*)</changefreq>', 1) AS changefreq,
       CASE WHEN regexp_matches(entry, '\\.example/brewery/') THEN 3
            WHEN regexp_matches(entry, '\\.example/beer/') THEN 2
            ELSE 1 END AS priority
FROM entries
"""


def q_robots_match(spark, sf):
    """A10 relational twin over the RFC 9309 matcher (round 5):
    ``rule_match_expr`` (operators/politeness.py) — codegen'd
    literal-prefix fast path + in-plan wildcard/trailing-``$``
    translation to a Java regex — applied to a synthesized path grid
    × a broadcast rules table; the most specific rule wins (longest
    pattern in octets, Allow on ties), no match → allowed.  This is
    exactly the ``blocked`` decision ``decide_round`` makes per frontier
    candidate, as a driver-signable query: the oracle carries the same
    grid with HAND-anchored RE2 regexes, so any drift in the in-plan
    escape/translate logic hash-fails rather than silently admitting
    a disallowed URL.  Scale shape: rules tables are tiny (RFC 9309
    caps robots.txt at ~500 KiB) and broadcast; the candidate side is
    scanned once, never shuffled."""
    from ..operators.politeness import rule_match_expr

    d = ld(spark, sf, "documents")
    pq = (
        F.when(F.col("doc_id") % 6 == 0,
               F.concat(F.lit("/beer/profile/"), F.col("doc_id"), F.lit("/")))
        .when(F.col("doc_id") % 6 == 1,
              F.concat(F.lit("/beer/profile/"), F.col("doc_id"),
                       F.lit("/view.php")))
        .when(F.col("doc_id") % 6 == 2,
              F.concat(F.lit("/place/list/?c_id="), F.col("doc_id")))
        .when(F.col("doc_id") % 6 == 3,
              F.concat(F.lit("/private/u"), F.col("doc_id"), F.lit("/data")))
        .when(F.col("doc_id") % 6 == 4,
              F.concat(F.lit("/static/img"), F.col("doc_id"), F.lit(".png")))
        .otherwise(F.concat(F.lit("/other/"), F.col("doc_id")))
    )
    paths = d.select("doc_id", pq.alias("pq"))
    rules = spark.createDataFrame(
        [
            (0, False, "/private/"),          # literal disallow
            (1, True, "/private/u1"),         # longer literal allow wins
            (2, False, "/*.png$"),            # wildcard + end anchor
            (3, False, "/beer/*/view.php"),   # wildcard beats /beer/profile/
            (4, True, "/beer/profile/"),
            (5, False, "/place/list/?c_id=3"),  # literal '?' stays literal
        ],
        "rule_ord int, allow boolean, rule string",
    )
    m = paths.join(F.broadcast(rules),
                   rule_match_expr(F.col("pq"), F.col("rule")))
    w = Window.partitionBy("doc_id").orderBy(
        F.length("rule").desc(), F.col("allow").desc(), F.col("rule_ord"))
    best = (
        m.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", F.col("allow").alias("_a"))
    )
    return (
        paths.join(best, "doc_id", "left")
        .select("doc_id", "pq",
                F.coalesce("_a", F.lit(True)).alias("allowed"))
    )


SQL_ROBOTS_MATCH = """
WITH paths AS (
  SELECT doc_id,
         CASE doc_id % 6
           WHEN 0 THEN '/beer/profile/' || doc_id || '/'
           WHEN 1 THEN '/beer/profile/' || doc_id || '/view.php'
           WHEN 2 THEN '/place/list/?c_id=' || doc_id
           WHEN 3 THEN '/private/u' || doc_id || '/data'
           WHEN 4 THEN '/static/img' || doc_id || '.png'
           ELSE '/other/' || doc_id END AS pq
  FROM documents
), rules(rule_ord, allow, rule, rx) AS (
  SELECT * FROM (VALUES
    (0, FALSE, '/private/',           CAST(NULL AS VARCHAR)),
    (1, TRUE,  '/private/u1',         NULL),
    (2, FALSE, '/*.png$',             '^/.*\\.png$'),
    (3, FALSE, '/beer/*/view.php',    '^/beer/.*/view\\.php'),
    (4, TRUE,  '/beer/profile/',      NULL),
    (5, FALSE, '/place/list/?c_id=3', NULL)) v
), m AS (
  SELECT p.doc_id, r.allow, length(r.rule) AS l, r.rule_ord
  FROM paths p JOIN rules r
    ON CASE WHEN r.rx IS NULL THEN starts_with(p.pq, r.rule)
            ELSE regexp_matches(p.pq, r.rx) END
), best AS (
  SELECT doc_id, allow,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY l DESC, allow DESC, rule_ord) AS rn
  FROM m
)
SELECT p.doc_id, p.pq, coalesce(b.allow, TRUE) AS allowed
FROM paths p LEFT JOIN best b ON p.doc_id = b.doc_id AND b.rn = 1
"""


def q_crawl_scheduling(spark, sf):
    """A21+A22+A10 on one signed slot: sitemap ingestion and
    freshness-driven recrawl scheduling (the two frontier-feeding
    schedulers, round-4 VERDICT ask #3) plus the RFC 9309 robots rule
    matcher (round 5 — the frontier-FILTERING scheduler decision);
    union-tagged by ``op`` with every column of each op preserved
    (sitemap packs source|lastmod into ``attr1``; recrawl packs
    last_epoch|gap_sec into ``attr2``; robots carries doc_id in
    ``attr1`` and the allow/deny decision in ``attr2``/``qty``)."""
    sm = q_sitemap_frontier(spark, sf).select(
        F.lit("sitemap").alias("op"),
        F.col("url").alias("key"),
        F.concat_ws("|", "source", "lastmod").alias("attr1"),
        F.col("changefreq").alias("attr2"),
        F.col("priority").cast("long").alias("qty"),
    )
    rc = q_recrawl_schedule(spark, sf).select(
        F.lit("recrawl").alias("op"),
        F.col("page_id").cast("string").alias("key"),
        F.col("n_fetches").cast("string").alias("attr1"),
        F.concat_ws("|", "last_epoch", "gap_sec").alias("attr2"),
        F.col("staleness_q").cast("long").alias("qty"),
    )
    rb = q_robots_match(spark, sf).select(
        F.lit("robots").alias("op"),
        F.col("pq").alias("key"),
        F.col("doc_id").cast("string").alias("attr1"),
        F.when(F.col("allowed"), F.lit("allow")).otherwise(F.lit("deny")).alias("attr2"),
        F.col("allowed").cast("long").alias("qty"),
    )
    return sm.unionByName(rc).unionByName(rb)


SQL_CRAWL_SCHEDULING = f"""
SELECT 'sitemap' AS op, url AS key, source || '|' || lastmod AS attr1,
       changefreq AS attr2, priority::BIGINT AS qty
FROM ({SQL_SITEMAP}) sm_t
UNION ALL
SELECT 'recrawl' AS op, page_id::VARCHAR AS key, n_fetches::VARCHAR AS attr1,
       last_epoch::VARCHAR || '|' || gap_sec::VARCHAR AS attr2,
       staleness_q::BIGINT AS qty
FROM ({SQL_RECRAWL}) rc_t
UNION ALL
SELECT 'robots' AS op, pq AS key, doc_id::VARCHAR AS attr1,
       CASE WHEN allowed THEN 'allow' ELSE 'deny' END AS attr2,
       (CASE WHEN allowed THEN 1 ELSE 0 END)::BIGINT AS qty
FROM ({SQL_ROBOTS_MATCH}) rb_t
"""
