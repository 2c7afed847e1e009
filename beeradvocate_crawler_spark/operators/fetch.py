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
- the corpus is directory-partitioned by host bucket and url-hash file
  (``sources/corpus.py::CorpusLayout``, read from the corpus's
  sidecar); the scheduled batch's ``bucket/file_in_bucket`` keys are
  pushed as a partition-pruning filter, so a k-URL round touches at
  most k partition directories.  A corpus without a sidecar is scanned
  whole;
- batches beyond ``BROADCAST_FETCH_THRESHOLD`` rows fall back to the
  shuffled join (AQE picks SMJ/SHJ and handles skew);
- hot-host skew (A14): the join key is ``url``, whose hash is uniform
  even when ONE host owns the whole batch — the downstream
  mapInArrow parse inherits the corpus's file-split parallelism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.corpus import CorpusLayout

# ~10^7 urls ≈ 700 MB broadcast — beyond this, shuffle instead
BROADCAST_FETCH_THRESHOLD = 10_000_000


def fetch_join(
    admitted: DataFrame,
    pages: DataFrame,
    layout: CorpusLayout | None,
    batch_rows: int | None = None,
    prune_keys: list[str] | None = None,
) -> DataFrame:
    """admitted (url, page_type, host, ...) x pages (url, html, ...) ->
    (url, page_type, html); missing page => html null => fetch_status
    404 downstream.  ``layout`` is the corpus's recorded layout (None
    scans the whole corpus); ``prune_keys`` = pre-collected
    ``layout.prune_key()`` values (skips the collect job here)."""
    corpus = pages
    if layout is not None:
        if prune_keys is None:
            prune_keys = [
                r["k"]
                for r in admitted.select(layout.prune_key().alias("k"))
                .distinct()
                .collect()
            ]
        corpus = pages.where(layout.corpus_key().isin(prune_keys))

    sched = admitted.select("url", "page_type")
    if batch_rows is not None and batch_rows > BROADCAST_FETCH_THRESHOLD:
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
