"""Batch fetch = corpus lookup join + hot-host salting
(SURVEY.md §2 A13/A14).

"Fetching" a URL is an equi-join of the scheduled batch against the
``pages`` corpus (the deterministic stand-in for HTTP over
Common-Crawl-style tables, BASELINE.json north_star).  Scale design:

- **the fat ``html`` column never crosses a shuffle.**  The scheduled
  batch is politeness-bounded and therefore small relative to the
  corpus, so the batch's (url, page_type) is BROADCAST and the corpus
  side streams through a map-side hash join in place.  At 100 TB this
  is the difference between moving gigabytes of metadata and moving
  the corpus: a shuffled join would spill the html payload to shuffle
  disk twice per round.  404s come from a separate slim anti-join that
  touches only the corpus's ``url`` column (parquet column pruning —
  the scan never materializes html for it);
- the corpus is directory-partitioned by ``bucket =
  pmod(xxhash64(host), n_buckets)``; the scheduled batch's buckets are
  collected (bounded by n_buckets) and pushed as a partition-pruning
  filter, so the scan touches only the scheduled hosts' files;
- batches beyond ``broadcast_threshold`` rows fall back to the
  shuffled join (AQE picks SMJ/SHJ and handles skew);
- hot-host skew (A14): the join key is ``url``, whose hash is uniform
  even when ONE host owns the whole batch — the downstream
  mapInArrow parse inherits the corpus's file-split parallelism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# ~10^7 urls ≈ 700 MB broadcast — beyond this, shuffle instead
DEFAULT_BROADCAST_FETCH_THRESHOLD = 10_000_000


def prune_key_expr(n_buckets: int, files_per_bucket: int | None):
    """The partition key a (host, url) row lands in — as a string so a
    caller can ``collect_set`` it inside an aggregation it already runs
    (the round loop fuses this into its decision agg instead of paying
    a separate distinct+collect job per round)."""
    b = F.pmod(F.xxhash64("host"), F.lit(n_buckets))
    if files_per_bucket:
        return F.concat_ws("/", b, F.pmod(F.xxhash64("url"), F.lit(files_per_bucket)))
    return b.cast("string")


def fetch_join(
    admitted: DataFrame,
    pages: DataFrame,
    n_buckets: int,
    prune_buckets: bool = True,
    batch_rows: int | None = None,
    broadcast_threshold: int = DEFAULT_BROADCAST_FETCH_THRESHOLD,
    files_per_bucket: int | None = None,
    prune_keys: list[str] | None = None,
) -> DataFrame:
    """admitted (url, page_type, ...) x pages (url, html, bucket) ->
    (url, page_type, html); missing page => html null => fetch_status
    404 downstream.  ``prune_keys`` = pre-collected ``prune_key_expr``
    values (skips the collect job here)."""
    corpus = pages
    if prune_buckets and "bucket" in pages.columns:
        if prune_keys is None:
            prune_keys = [
                r["k"]
                for r in admitted.select(
                    prune_key_expr(n_buckets, files_per_bucket).alias("k")
                )
                .distinct()
                .collect()
            ]
        if files_per_bucket and "file_in_bucket" in pages.columns:
            # two-level partition pruning (host bucket x url-hash file):
            # a k-URL round touches at most k partition directories, so
            # tiny rounds scan tiny corpora
            corpus = pages.where(
                F.concat_ws("/", "bucket", "file_in_bucket").isin(prune_keys)
            )
        else:
            corpus = pages.where(
                F.col("bucket").isin([int(k.split("/")[0]) for k in prune_keys])
            )

    sched = admitted.select("url", "page_type")
    if batch_rows is not None and batch_rows > broadcast_threshold:
        return sched.join(corpus.select("url", "html"), "url", "left")

    # broadcast the single url column (semi join) — half the serial
    # hash-relation build of a two-column broadcast; page_type is a
    # pure function of the url, recomputed JVM-side on the hits.
    # CONTRACT: callers must guarantee page_type == classify_expr(url)
    # for every admitted row (true for the whole engine — the frontier
    # only ever stores classifier output; asserted run-wide by
    # testing.compare).  A caller with custom row typing must use the
    # shuffle path above, whose output passes page_type through.
    from .links import classify_expr

    hits = (
        corpus.select("url", "html")
        .join(F.broadcast(sched.select("url")), "url", "left_semi")
        .withColumn("page_type", classify_expr(F.col("url")))
    )
    misses = (
        sched.join(corpus.select("url"), "url", "left_anti")
        .withColumn("html", F.lit(None).cast("binary"))
        .select("url", "html", "page_type")
    )
    return hits.unionByName(misses)
