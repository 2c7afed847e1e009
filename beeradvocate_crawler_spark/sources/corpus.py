"""The bucketed corpus layout (SURVEY.md §2 A13 fetch pruning contract).

A pages corpus is directory-partitioned on ``bucket =
pmod(xxhash64(host), n_buckets)`` and, inside each bucket, on
``file_in_bucket = pmod(xxhash64(url), files_per_bucket)``.  The
layout is fixed when the corpus is written: ``sources/ingest.py::
write_corpus`` records both moduli in a sidecar file (the underscore
prefix keeps Spark's parquet reader from touching it), and every
reader takes them from there — never from a config value or from the
observed data.  Deriving ``files_per_bucket`` from
``max(file_in_bucket)+1`` is wrong whenever the top residue happens to
be unoccupied (routine for small corpora: 45/64 residues occupied in
the smoke corpus), and a modulus that differs from the writer's
prunes away the files holding scheduled pages, so the miss path
reports mass false 404s.  A corpus with no sidecar is read unpruned.

``CorpusLayout`` is the one place these formulas are written: the
writer's partition columns and the fetch join's prune key both come
from it.  ``pages_schema`` is the one declaration of the corpus's data
columns: the fixture renderer writes it, and the round loop and the
streaming source read the corpus with it instead of inferring it.
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict, dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

CORPUS_META = "_corpus_meta.json"


def pages_schema() -> T.StructType:
    """The corpus's data columns; a reader adds the partition columns
    ``bucket``/``file_in_bucket`` from the directory layout."""
    return T.StructType([
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
    ])


@dataclass(frozen=True)
class CorpusLayout:
    n_buckets: int
    files_per_bucket: int

    @classmethod
    def read(cls, corpus_dir: str) -> CorpusLayout | None:
        """The layout recorded in ``corpus_dir``'s sidecar, or None."""
        p = os.path.join(corpus_dir, CORPUS_META)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return cls(**json.load(f))

    def write(self, corpus_dir: str) -> None:
        with open(os.path.join(corpus_dir, CORPUS_META), "w") as f:
            json.dump(asdict(self), f)

    def _bucket(self, host: Column) -> Column:
        return F.pmod(F.xxhash64(host), F.lit(self.n_buckets))

    def _file(self, url: Column) -> Column:
        return F.pmod(F.xxhash64(url), F.lit(self.files_per_bucket))

    def with_partition_cols(self, pages: DataFrame) -> DataFrame:
        """``pages`` (url, ...) plus its ``bucket``/``file_in_bucket``."""
        url = F.col("url")
        return pages.withColumn(
            "bucket", self._bucket(F.parse_url(url, F.lit("HOST")))
        ).withColumn("file_in_bucket", self._file(url))

    def prune_key(self) -> Column:
        """The ``bucket/file_in_bucket`` directory a (host, url) row's
        page lives in, as a string, so a caller can ``collect_set`` it
        inside an aggregation it already runs.  ``host`` is the
        frontier's ``parse_url(url, HOST)`` column."""
        return F.concat_ws("/", self._bucket(F.col("host")), self._file(F.col("url")))

    @staticmethod
    def corpus_key() -> Column:
        """The corpus side of ``prune_key``: its partition directory."""
        return F.concat_ws("/", "bucket", "file_in_bucket")
