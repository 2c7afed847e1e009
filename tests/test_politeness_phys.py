"""Physical-strategy tests for decide_round (SURVEY.md §2 A11/A12/A14):
the salted hot-host top-k and the shuffle host-join fallback must
produce EXACTLY the admit set of the default strategies — the knobs are
plan-shape-only (§4.2 determinism)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from beeradvocate_crawler_spark.operators import politeness as P
from beeradvocate_crawler_spark.operators.politeness import decide_round

N_ROWS = 5000
QUOTA = 10  # round_seconds=10, tokens=0, crawl_delay=1 -> quota 10


def _skewed_pending(spark):
    """Two hot hosts (non-constant host column, so Catalyst can't
    constant-fold the equi-join away), N_ROWS/2 eligible rows each,
    quota << rows."""
    host = F.concat(F.lit("h"), F.pmod("id", F.lit(2)), F.lit(".example"))
    url = F.concat(F.lit("https://"), host, F.lit("/p/"), F.col("id"))
    return spark.range(N_ROWS).select(
        url.alias("url"),
        F.xxhash64(url).alias("url_hash"),
        host.alias("host"),
        F.lit("beer").alias("page_type"),
        F.lit(1).alias("depth"),
        F.lit(70).alias("priority"),
        F.col("id").cast("long").alias("parent_ord"),
        F.lit(0).alias("link_pos"),
        F.lit(1).alias("discovered_round"),
    )


EXPECT_ADMITS = sorted(
    f"https://h{i % 2}.example/p/{i}" for i in range(2 * QUOTA)
)


def _host_state(spark):
    return spark.createDataFrame(
        [("h0.example", 0.0, 1.0, True), ("h1.example", 0.0, 1.0, True)],
        "host string, tokens double, crawl_delay double, robots_done boolean",
    )


def _admits(decided):
    return sorted(
        r["url"] for r in decided.where(F.col("admit")).select("url").collect()
    )


class TestSaltedTopK:
    def test_salted_equals_unsalted_admit_set(self, spark, monkeypatch):
        pending, hs = _skewed_pending(spark), _host_state(spark)
        # the unsalted reference: the threshold is above every host's count
        monkeypatch.setattr(P, "HOT_HOST_THRESHOLD", N_ROWS)
        base = _admits(decide_round(pending, hs, None, 10)[0])
        monkeypatch.setattr(P, "HOT_HOST_THRESHOLD", 100)
        salted = decide_round(pending, hs, None, 10)[0]
        assert _admits(salted) == base
        # the deterministic top-QUOTA per host by (-priority, depth,
        # parent_ord, ...)
        assert base == EXPECT_ADMITS
        # plan shape: the salted two-phase branch is present
        plan = salted._jdf.queryExecution().optimizedPlan().toString()
        assert "_salt" in plan

    @pytest.mark.parametrize("threshold,salted_rows", [(N_ROWS, 0),
                                                       (100, N_ROWS)])
    def test_threshold_decides_which_rows_are_salted(
        self, spark, monkeypatch, threshold, salted_rows
    ):
        """The salted branch is always planned; ``HOT_HOST_THRESHOLD``
        decides which constrained hosts' rows it ranks: none when the
        threshold is above every host's eligible count, all of both
        hot hosts' rows below it."""
        pending, hs = _skewed_pending(spark), _host_state(spark)
        hot = []
        orig = P._salted_topk

        def spy(df):
            hot.append(df)
            return orig(df)

        monkeypatch.setattr(P, "HOT_HOST_THRESHOLD", threshold)
        monkeypatch.setattr(P, "_salted_topk", spy)
        out = decide_round(pending, hs, None, 10)[0]
        assert _admits(out) == EXPECT_ADMITS
        assert hot[0].count() == salted_rows


class TestHostJoinFallback:
    def test_shuffle_fallback_no_static_broadcast(self, spark):
        pending, hs = _skewed_pending(spark), _host_state(spark)
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            bcast = decide_round(pending, hs, None, 10, broadcast_hosts=True)[0]
            shuf = decide_round(pending, hs, None, 10, broadcast_hosts=False)[0]
            assert _admits(bcast) == _admits(shuf)
            p_b = bcast._jdf.queryExecution().sparkPlan().toString()
            p_s = shuf._jdf.queryExecution().sparkPlan().toString()
            assert "BroadcastHashJoin" in p_b
            # no STATIC broadcast when disabled (AQE may still convert
            # at runtime from observed stats — that's the point of the
            # guard: the 10^8-host estimate keeps it off)
            assert "BroadcastHashJoin" not in p_s
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
