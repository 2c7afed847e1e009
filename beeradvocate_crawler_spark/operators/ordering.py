"""Deterministic global ordering / crawl-order ledger (SURVEY.md §2 A12/A20).

The batch order is a TOTAL order — (-priority, depth, parent_ord,
link_pos, url) — with a full tie-break chain, so no hash-partition
iteration order can leak into results (§4.2).  Two physical
strategies:

- small batch (the common, politeness-bounded case): one-task window
  sort.  A round's batch is bounded by the politeness budget, so this
  is NOT a scale hazard: 10^10 frontier rows never sort globally, only
  the admitted batch does.
- big batch: two-phase range-partitioned rank — sort within range
  partitions, then offset each partition by the total count of rows in
  lower ranges.  Partition boundaries come from sampling and are not
  themselves deterministic, but the produced RANK is a pure function
  of the total order, so outputs stay parallelism-invariant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# range partitions of the two-phase path (its offset map has one entry each)
N_RANGE_PARTITIONS = 64
# batch size above which the two-phase path ranks: 64k keeps the
# single-task sort bounded while politeness-bounded rounds stay
# single-stage
BIG_BATCH_THRESHOLD = 1 << 16


def order_key(df: DataFrame) -> list:
    return [
        F.col("priority").desc(),
        F.col("depth").asc(),
        F.col("parent_ord").asc(),
        F.col("link_pos").asc(),
        F.col("url").asc(),
    ]


def with_global_rank(
    df: DataFrame,
    start_rank: int,
    batch_rows: int,
) -> tuple[DataFrame, DataFrame | None]:
    """Adds ``rank`` = start_rank + position in the total order.

    Returns ``(ranked, parts)``: ``parts`` is the localCheckpoint'd
    range-partitioned input of the two-phase path (None on the one-task
    path), which ``ranked`` reads; the caller releases its blocks once
    every consumer of ``ranked`` has run."""
    key = order_key(df)
    if batch_rows <= BIG_BATCH_THRESHOLD:
        w = Window.orderBy(*key)
        return df.withColumn(
            "rank", (F.row_number().over(w) - 1 + F.lit(start_rank)).cast("long")
        ), None
    # two-phase: range partition on the order key, local sort, offset by
    # cumulative lower-partition counts (collects N_RANGE_PARTITIONS ints)
    d = (
        df.repartitionByRange(
            N_RANGE_PARTITIONS,
            F.col("priority").desc(),
            "depth",
            "parent_ord",
            "link_pos",
            "url",
        )
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    counts = {r["_pid"]: r["cnt"] for r in d.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()}
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    off = F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])
    w = Window.partitionBy("_pid").orderBy(*key)
    out = d.withColumn(
        "rank",
        (
            F.row_number().over(w) - 1 + off[F.col("_pid")] + F.lit(start_rank)
        ).cast("long"),
    ).drop("_pid")
    return out, d
