"""URL-seen set: approximate pre-filter + exact anti-join (§2 A7/A8).

The pre-filter is the spec's "partitioned cuckoo-filter URL-seen set
keyed by canonicalized-URL xxhash64" [B:6]: one cuckoo blob
(functions/cuckoo.py) per ``pmod(url_hash, N_FILTER_PARTITIONS)``
partition and round, in the ``seen_filter`` table.
``CuckooFilter.from_bytes`` checks every blob it decodes, so a blob of
another kind fails loudly instead of probing garbage.

Used only past the crawl's seen broadcast bound (``plans/crawl.py``
``BROADCAST_SEEN_THRESHOLD``); below it the pre-merge broadcast
anti-join is the round's whole dedupe and no blob is built or read.

Exactness (§7.1): the filter only PRUNES — candidates it proves absent
skip the exact left-anti join against ``seen``, the authority; "maybe
seen" survivors (all true dupes + ~0.012% false positives) go through
it.  So a probe must read blobs that cover ALL of ``seen``, written
under the one blob layout (a module constant: blobs written under
another partition count would be looked up in the wrong partitions);
with no blobs at all ``cuckoo_prefilter`` raises.  Within that a
filter bug can cost performance, never correctness.

Blob lifecycle: a round writes blobs only when ``seen`` ends it above
the bound.  The round that crosses the bound and every
``FILTER_COMPACT_EVERY``-th round REPLACE them with one blob per
partition rebuilt from ``seen`` (``compact_blobs``, which also drops
blobs left stale below the bound); any other round adds a FRESH delta
blob per partition holding its new keys (``build_delta_blobs``, sized
exactly); lookup ORs a partition's blobs.  The crawl loop rebuilds
missing blobs when it starts above the bound.  At 10^10 URLs the seen
table is ~petabyte-adjacent; the filter is what keeps every round from
shuffling it (§4.3).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.cuckoo import CuckooFilter

# Blob partitions, part of the persisted layout (see above).  The count
# also caps the parallelism of the two Python blob stages (probe
# cogroup + delta build) — 8 was a measured 4->16-thread scaling sink
# in the heavy rounds.
N_FILTER_PARTITIONS = 32
# rebuild the delta blobs from `seen` every k rounds
FILTER_COMPACT_EVERY = 8

BLOB_SCHEMA = T.StructType(
    [
        T.StructField("partition_id", T.IntegerType()),
        T.StructField("round", T.IntegerType()),
        T.StructField("blob", T.BinaryType()),
        T.StructField("n_keys", T.LongType()),
    ]
)


def partition_id_expr(url_hash):
    return F.pmod(url_hash, F.lit(N_FILTER_PARTITIONS)).cast("int")


def dedupe_exact(candidates: DataFrame, seen: DataFrame) -> DataFrame:
    """A7: authoritative exact dedupe — hash anti-join on (url_hash, url)."""
    return candidates.join(seen, ["url_hash", "url"], "left_anti")


def cuckoo_prefilter(candidates: DataFrame, blobs: DataFrame) -> DataFrame:
    """A8: adds ``maybe_seen`` (bool).  False => definitely new (skip
    the anti-join), so ``blobs`` must cover every seen url; a missing
    table raises.  Implemented as a cogrouped-map pandas UDF so each
    partition's candidate batch meets its filter blobs without
    shuffling the seen table."""
    if blobs is None:
        raise ValueError("no seen_filter blobs: no url can be proven new")
    cand = candidates.withColumn(
        "partition_id", partition_id_expr(F.col("url_hash"))
    )
    out_schema = T.StructType(
        cand.schema.fields + [T.StructField("maybe_seen", T.BooleanType())]
    )

    def probe(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty:
            return left.assign(maybe_seen=pd.Series(dtype=bool))
        maybe = np.zeros(len(left), dtype=bool)
        keys = left["url_hash"].to_numpy(dtype=np.int64)
        for b in right["blob"]:
            maybe |= CuckooFilter.from_bytes(b).contains(keys)
        return left.assign(maybe_seen=maybe)

    return (
        cand.groupBy("partition_id")
        .cogroup(blobs.groupBy("partition_id"))
        .applyInPandas(probe, out_schema)
        .drop("partition_id")
    )


def build_delta_blobs(new_rows: DataFrame, rnd: int, n_new: int) -> DataFrame:
    """Fresh delta blob per partition holding this round's new keys.

    Task count adapts to the delta size (each task builds the blobs of
    the partition_ids it holds — blob layout is always the
    N_FILTER_PARTITIONS pmod, independent of task count), so a 100-row
    round doesn't pay a python-worker round-trip per partition while a
    1M-row round fans out."""

    def build(pdf_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdf_iter:
            for pid, g in pdf.groupby("partition_id"):
                keys = g["url_hash"].to_numpy(dtype=np.int64)
                cf = CuckooFilter.sized_for(len(keys))
                cf.insert(keys)
                yield pd.DataFrame(
                    {
                        "partition_id": [int(pid)],
                        "round": [rnd],
                        "blob": [cf.to_bytes()],
                        "n_keys": [len(keys)],
                    }
                )

    n_tasks = max(1, min(N_FILTER_PARTITIONS, n_new // 50_000 + 1))
    return (
        new_rows.select(
            partition_id_expr(F.col("url_hash")).alias("partition_id"),
            "url_hash",
        )
        .repartition(n_tasks, "partition_id")
        .mapInPandas(build, BLOB_SCHEMA)
    )


def compact_blobs(seen: DataFrame, rnd: int) -> DataFrame:
    """Rebuild one blob per partition from the full seen table — a
    single distributed pass; bounds lookup cost to O(1) blobs/partition."""

    # unannotated: a partly annotated grouped-map function makes
    # applyInPandas warn that it cannot infer the eval type from hints
    def rebuild(key, pdf):
        keys = pdf["url_hash"].to_numpy(dtype=np.int64)
        cf = CuckooFilter.sized_for(max(64, len(keys)))
        cf.insert(keys)
        return pd.DataFrame(
            {
                "partition_id": [int(key[0])],
                "round": [rnd],
                "blob": [cf.to_bytes()],
                "n_keys": [len(keys)],
            }
        )

    return (
        seen.select(
            partition_id_expr(F.col("url_hash")).alias("partition_id"),
            "url_hash",
        )
        .groupBy("partition_id")
        .applyInPandas(rebuild, BLOB_SCHEMA)
    )
