"""Frontier state: discovery merge + robots injection (SURVEY.md §2 A9/A1).

The merge key — min(struct(depth, parent_ord, link_pos)) — is
associative and commutative, so shuffle/arrival order cannot change
which discovery wins (§4.2c).  Identical to oracle.crawl's per-round
``discovered`` dict merge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.urlnorm import PAGE_PRIORITY
from .links import (
    classify_expr,
    host_expr,
    priority_expr,
    robots_url_expr,
    url_hash_expr,
)

PENDING, DONE, ROBOTS_BLOCKED = "PENDING", "DONE", "ROBOTS_BLOCKED"


def seed_frontier(spark, seeds: list[str], rnd: int = 0) -> DataFrame:
    """A1: seed list -> canonical frontier rows at depth 0."""
    from ..functions.urlnorm import canonicalize_url

    rows = [(canonicalize_url(s), i) for i, s in enumerate(seeds)]
    df = spark.createDataFrame(rows, "url string, link_pos int")
    return df.select(
        "url",
        url_hash_expr(F.col("url")).alias("url_hash"),
        host_expr(F.col("url")).alias("host"),
        classify_expr(F.col("url")).alias("page_type"),
        F.lit(0).alias("depth"),
        priority_expr(classify_expr(F.col("url"))).alias("priority"),
        F.lit(-1).cast("long").alias("parent_ord"),
        F.col("link_pos"),
        F.lit(rnd).alias("discovered_round"),
        F.lit(PENDING).alias("state"),
    )


def merge_discoveries(children: DataFrame, rnd: int) -> DataFrame:
    """A9: one frontier row per URL — min (depth, parent_ord, link_pos)
    wins; page_type/host/etc are functions of the url so they ride
    inside the min struct unchanged."""
    merged = children.groupBy("url").agg(
        F.min(
            F.struct(
                "depth", "parent_ord", "link_pos", "page_type", "priority",
                "host", "url_hash",
            )
        ).alias("m")
    )
    return merged.select(
        "url",
        F.col("m.url_hash").alias("url_hash"),
        F.col("m.host").alias("host"),
        F.col("m.page_type").alias("page_type"),
        F.col("m.depth").alias("depth"),
        F.col("m.priority").alias("priority"),
        F.col("m.parent_ord").alias("parent_ord"),
        F.col("m.link_pos").alias("link_pos"),
        F.lit(rnd).alias("discovered_round"),
        F.lit(PENDING).alias("state"),
    )


def robots_injection(
    new_rows: DataFrame, host_state: DataFrame | None, rnd: int
) -> DataFrame:
    """Hosts first seen this round get a robots.txt frontier row —
    unless the robots URL is itself among the new rows (oracle.enqueue
    parity).  A host absent from ``host_state`` (all of them at seeding,
    which passes None) has by invariant never had ANY url enqueued, so
    its robots url cannot be in ``seen`` — membership in host_state
    subsumes the seen check, and the growing seen table stays out of
    this per-round subplan."""
    new_hosts = new_rows.select("host").distinct()
    if host_state is not None:
        new_hosts = new_hosts.join(host_state.select("host"), "host", "left_anti")
    cand = new_hosts.select(
        robots_url_expr(F.col("host")).alias("url"), "host"
    ).join(new_rows.select("url"), "url", "left_anti")
    return cand.select(
        "url",
        url_hash_expr(F.col("url")).alias("url_hash"),
        "host",
        F.lit("robots").alias("page_type"),
        F.lit(0).alias("depth"),
        F.lit(PAGE_PRIORITY["robots"]).alias("priority"),
        F.lit(-1).cast("long").alias("parent_ord"),
        F.lit(0).alias("link_pos"),
        F.lit(rnd).alias("discovered_round"),
        F.lit(PENDING).alias("state"),
    )
