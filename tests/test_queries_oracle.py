"""Driver-harness replica over a representative queries() subset at
sf0.001: row count + column names + order-insensitive value hash vs
DuckDB (the full set is exercised by scripts/check_queries.py and the
driver itself at sf0.01)."""

from __future__ import annotations

import glob
import hashlib
import os

import duckdb
import pytest

from beeradvocate_crawler_spark.plans.relational import TABLE_SCHEMAS, ld

SF_DIR = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")
# every scale factor next to SF_DIR, plus the benchmark's own copy of
# sf0.01 (read only)
SCHEMA_DIRS = [
    *(pytest.param(d, id=os.path.basename(d))
      for d in sorted(glob.glob(f"{os.path.dirname(SF_DIR)}/sf*"))),
    pytest.param(
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     "perfbench", "data", "sf0.01"),
        id="perfbench-sf0.01"),
]

# fast + representative: one per operator family
SUBSET = [
    "tpch_q1", "full_outer_join", "semi_anti_join", "asof_latest_event",
    "grouping_analytics", "window_rank_orders", "window_lag_runsum",
    "collect_sorted", "string_hash_funcs",
    "array_hof", "json_extract", "pandas_udf_canonicalize",
    "grouped_map_zscore", "grouped_agg_p95", "map_in_pandas_tokens",
    "classify_urls", "pagination_expand", "frontier_merge",
    "dedup_exact", "ngram_jaccard_pairs", "minhash_lsh_dedup", "simhash",
    "near_dup_keep", "near_dup_keep_cc", "ann_exact_ivf", "token_count_bpe",
    "pagerank_links", "embedding_neardup", "lang_id", "quality_score",
    "doc_fingerprint", "multimodal_meta", "multimodal_frames",
    "split_quota_sample", "decontaminate",
    "repetition_filter", "tfidf_top_terms", "sessionize",
    # round-5 additions: RFC 9309 matcher, paragraph dedup, PII scrub,
    # per-source crawl-ops analytics
    "robots_match", "paragraph_dedup", "pii_redact", "host_stats",
]


def _norm(v):
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


def _vhash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x01".join(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode() + b"\n")
    return h.hexdigest()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLE_SCHEMAS:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


@pytest.fixture(scope="module")
def entrymod():
    import __spark_entry__ as E

    return E


@pytest.mark.parametrize("name", SUBSET)
def test_query_matches_oracle(name, spark, duck, entrymod):
    df = entrymod.queries()[name](spark, SF_DIR)
    cols = [c.lower() for c in df.columns]
    rows = [tuple(r) for r in df.collect()]
    res = duck.sql(entrymod.oracle_sql()[name])
    ocols = [c.lower() for c in res.columns]
    orows = res.fetchall()
    assert sorted(cols) == sorted(ocols)
    assert len(rows) == len(orows)
    assert _vhash(cols, rows) == _vhash(ocols, orows)


def test_every_query_has_unique_name(entrymod):
    qs = entrymod.queries()
    assert len(qs) >= 45
    extra_sql = set(entrymod.oracle_sql()) - set(qs)
    assert not extra_sql, f"oracle_sql keys without queries: {extra_sql}"


@pytest.mark.parametrize("sf_dir", SCHEMA_DIRS)
def test_declared_schemas_match_the_footers(spark, sf_dir):
    """``ld`` reads with TABLE_SCHEMAS instead of inferring, so each
    declaration must be what Spark infers from the files, nullability
    and ``containsNull`` included, and the tables must be the dir's."""
    files = {os.path.basename(p)[: -len(".parquet")]
             for p in glob.glob(f"{sf_dir}/*.parquet")}
    assert files == set(TABLE_SCHEMAS)
    for t, schema in TABLE_SCHEMAS.items():
        assert spark.read.parquet(f"{sf_dir}/{t}.parquet").schema == schema, t


def test_ld_starts_no_job(spark):
    sc = spark.sparkContext

    def newest_job():
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = sc._jsc.sc().statusStore().jobsList(None)  # newest first
        return jobs.apply(0).jobId() if jobs.size() else -1

    before = newest_job()
    dfs = [ld(spark, SF_DIR, t) for t in TABLE_SCHEMAS]
    assert newest_job() == before
    assert [df.schema for df in dfs] == list(TABLE_SCHEMAS.values())
    with pytest.raises(KeyError):  # no inference fallback
        ld(spark, SF_DIR, "pages")
