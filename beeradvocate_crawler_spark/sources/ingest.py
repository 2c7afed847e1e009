"""External page-corpus ingestion (SURVEY.md §2 C2 source formats).

Two Common-Crawl-shaped external formats land in the engine's canonical
``pages`` table (url, warc_ts, html, text, lang — BASELINE.json
input_hint shape):

- **WARC** (Common Crawl's native archive format, ISO 28500):
  ``spark.read.format("binaryFile")`` over ``.warc`` / ``.warc.gz``
  shards — one whole shard per task.  That is the correct scale unit,
  not a compromise: WARC is only splittable at gzip *member*
  boundaries, which is why CC sizes shards at ~1 GB and compresses one
  member per record; a 100 TB crawl is ~100k shards = 100k tasks.
  Records are parsed by a pure-Python scanner (Content-Length framing,
  no regex over payloads) inside ``mapInPandas`` — Arrow-batched, no
  per-row Python UDF [input_hint].  WARC carries no extracted text, so
  ``text``/``lang`` land NULL (CC publishes text separately as WET;
  the crawl itself never reads corpus text — parse extracts its own
  from html, operators/fetch.py contract).
- **JSONL(.gz)**: ``spark.read.schema(...).json`` — the native JVM
  reader: splittable, whole-stage codegen, column pruning for free.
  ``html`` rides as a UTF-8 string field (JSON has no binary type) and
  is encoded JVM-side.

``write_corpus`` then lays out the bucketed directory structure + the
layout sidecar (sources/corpus.py contract), so ``fetch_join``'s
two-level partition pruning works unchanged over ingested corpora —
verified end-to-end by tests/test_ingest.py: a crawl over a
WARC-ingested smoke corpus is differentially equal to the oracle.
"""

from __future__ import annotations

import os
import zlib
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .corpus import CorpusLayout

PAGES_DDL = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


# -- WARC ---------------------------------------------------------------------

def _gunzip_members(b: bytes) -> bytes:
    """Decompress CONCATENATED gzip members (CC compresses one member
    per WARC record so shards are member-seekable).  A truncated final
    member yields what decompressed so far instead of raising — the
    scanner below simply finds no complete record in the tail."""
    out = []
    while b:
        d = zlib.decompressobj(47)  # gzip wrapper
        try:
            out.append(d.decompress(b))
        except zlib.error:
            break
        if not d.eof:
            break
        b = d.unused_data
    return b"".join(out)


def _iter_warc_records(data: bytes):
    """Yield (headers: dict[str, str], block: bytes) per WARC record.
    Framing comes from Content-Length — payload bytes are never
    scanned, so html containing 'WARC/' cannot desynchronize it."""
    i, n = 0, len(data)
    while i < n:
        if not data.startswith(b"WARC/", i):
            j = data.find(b"\r\nWARC/", i)
            if j < 0:
                return
            i = j + 2
        he = data.find(b"\r\n\r\n", i)
        if he < 0:
            return
        hdrs: dict[str, str] = {}
        for ln in data[i:he].decode("utf-8", "replace").split("\r\n")[1:]:
            k, _, v = ln.partition(":")
            hdrs[k.strip().lower()] = v.strip()
        try:
            clen = int(hdrs.get("content-length", "0"))
        except ValueError:
            clen = 0
        bs = he + 4
        yield hdrs, data[bs : bs + clen]
        i = bs + clen + 4  # skip the record-terminating \r\n\r\n


def _warc_date(s: str | None) -> datetime | None:
    if not s:
        return None
    try:
        dt = datetime.fromisoformat(s.replace("Z", "+00:00"))
    except ValueError:
        return None
    if dt.tzinfo is not None:
        dt = dt.astimezone(timezone.utc).replace(tzinfo=None)
    return dt  # naive UTC — session timezone is UTC (session.py)


def read_pages_warc(spark: SparkSession, path: str) -> DataFrame:
    """WARC shard(s) -> pages rows.  Only ``WARC-Type: response``
    records become pages; warcinfo/request/metadata records are
    skipped.  The html payload is the HTTP body (bytes after the first
    CRLFCRLF of the block); a block with no HTTP header section is
    taken whole (some writers store raw payloads)."""
    import pandas as pd

    raw = spark.read.format("binaryFile").load(path).select("path", "content")

    def gen(batches):
        for pdf in batches:
            cols = {k: [] for k in ("url", "warc_ts", "html", "text", "lang")}
            for p, content in zip(pdf["path"], pdf["content"]):
                data = bytes(content)
                if str(p).endswith(".gz"):
                    data = _gunzip_members(data)
                for hdrs, block in _iter_warc_records(data):
                    if hdrs.get("warc-type", "").lower() != "response":
                        continue
                    url = hdrs.get("warc-target-uri")
                    if not url:
                        continue
                    body = (
                        block.split(b"\r\n\r\n", 1)[1]
                        if b"\r\n\r\n" in block
                        else block
                    )
                    cols["url"].append(url)
                    cols["warc_ts"].append(_warc_date(hdrs.get("warc-date")))
                    cols["html"].append(body)
                    cols["text"].append(None)
                    cols["lang"].append(None)
            yield pd.DataFrame(cols)

    return raw.mapInPandas(gen, PAGES_DDL)


# -- JSONL --------------------------------------------------------------------

def read_pages_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """JSON-lines pages (html as a UTF-8 string field) -> pages rows.
    Explicit schema: no sampling pass, bad lines fail loudly instead of
    silently widening types."""
    df = spark.read.schema(
        "url string, warc_ts timestamp, html string, text string, lang string"
    ).json(path)
    return df.select(
        "url",
        "warc_ts",
        F.encode("html", "utf-8").alias("html"),
        "text",
        "lang",
    )


# -- bucketed corpus layout ----------------------------------------------------

def write_corpus(
    df: DataFrame,
    out_dir: str,
    n_buckets: int = 16,
    files_per_bucket: int | None = None,
) -> str:
    """Write pages bucketed by host hash (directory-partitioned on
    ``bucket`` so fetch-joins prune scanned files to scheduled hosts),
    spread by url-hash across FILES within each bucket: the fetch join
    inherits the scan's partitioning, so per-bucket file count — not
    bucket count — bounds fetch+parse parallelism when one hot host
    owns a bucket.  Records the layout in the corpus sidecar
    (corpus.py) — the fetch pruning contract."""
    layout = CorpusLayout(n_buckets, files_per_bucket or max(
        64, df.sparkSession.sparkContext.defaultParallelism * 2))
    (
        layout.with_partition_cols(df)
        .repartition(layout.n_buckets * layout.files_per_bucket,
                     "bucket", "file_in_bucket")
        .write.mode("overwrite")
        .partitionBy("bucket", "file_in_bucket")
        .parquet(out_dir)
    )
    layout.write(out_dir)
    return out_dir


# -- WARC export (egress) -----------------------------------------------------

def _shard_paths(out_dir: str, pid: int, attempt: int) -> tuple[str, str]:
    """(published, temp) path of shard ``pid`` written by task attempt
    ``attempt``.  The temp name is a dot-file, which readers skip."""
    return (os.path.join(out_dir, f"part-{pid:05d}.warc.gz"),
            os.path.join(out_dir, f".part-{pid:05d}.{attempt}.tmp"))


def write_pages_warc(
    df: DataFrame,
    out_dir: str,
    n_shards: int | None = None,
) -> DataFrame:
    """Pages rows -> Common-Crawl-shaped ``.warc.gz`` shards (the exact
    inverse of ``read_pages_warc``): a crawl engine's egress is WARC,
    the interchange format everything downstream of Common Crawl
    consumes.

    Faithful to how CC actually lays shards out, because the layout IS
    the scale contract:

    - **one gzip member per record** (``zlib`` wrapper 31), so shards
      are member-seekable — ``_gunzip_members`` round-trips them and a
      downstream range-reader can fetch single records;
    - **one shard file per task** (``repartition(n_shards)`` then a
      per-partition writer inside ``mapInPandas`` — Arrow-batched in,
      a single sequential file out).  100 TB = ~100k shards = ~100k
      tasks, no driver involvement;
    - a leading ``warcinfo`` record per shard (readers skip it —
      ``read_pages_warc`` filters on ``WARC-Type: response``);
    - each response record frames an HTTP/1.1 response whose body is
      the ``html`` bytes, headers framed by Content-Length only — a
      payload containing ``WARC/`` cannot desynchronize a reader.

    Task retries can't publish partial output: shards are written to a
    dot-temp name and ``os.replace``d into place (atomic on a POSIX
    directory) only after the last byte is flushed.  The temp name
    carries the task attempt id (``_shard_paths``), so two attempts of
    one task running at once (a retry beside a speculative copy) never
    write the same temp file; the last to finish publishes the shard.

    ``WARC-Date`` is mandatory, so a NULL ``warc_ts`` is written as the
    epoch (1970-01-01T00:00:00Z) and re-ingests as the epoch, not NULL.

    ``text``/``lang`` intentionally do not survive (WARC carries no
    extracted text; CC publishes that separately as WET — the same
    asymmetry ``read_pages_warc`` documents).  Returns a small manifest
    DataFrame (shard, n_records, payload_bytes) — one row per shard,
    the catalog/lineage unit.
    """
    import pandas as pd

    spark = df.sparkSession
    n_shards = n_shards or spark.sparkContext.defaultParallelism
    os.makedirs(out_dir, exist_ok=True)

    src = (
        df.select("url", "warc_ts", "html")
        .repartition(n_shards)
        .withColumn("_pid", F.spark_partition_id())
    )

    def _gz_member(raw: bytes) -> bytes:
        co = zlib.compressobj(6, zlib.DEFLATED, 31)  # one gzip member
        return co.compress(raw) + co.flush()

    def _record(hdrs: list[tuple[str, str]], block: bytes) -> bytes:
        # header values must never carry CR/LF: a crafted url could
        # otherwise inject headers / desynchronize record framing —
        # percent-encode the two bytes (RFC 3986 never emits them, so
        # canonicalized urls are unchanged)
        head = b"WARC/1.0\r\n" + b"".join(
            "{}: {}\r\n".format(
                k, v.replace("\r", "%0D").replace("\n", "%0A")
            ).encode()
            for k, v in hdrs
        )
        return head + b"\r\n" + block + b"\r\n\r\n"

    def gen(batches):
        from pyspark import TaskContext

        fh, path, tmp = None, None, None
        n_rec, n_payload = 0, 0
        for pdf in batches:
            if fh is None:
                if len(pdf) == 0:
                    continue
                path, tmp = _shard_paths(out_dir, int(pdf["_pid"].iloc[0]),
                                         TaskContext.get().taskAttemptId())
                fh = open(tmp, "wb")
                info = b"software: beeradvocate_crawler_spark\r\n"
                fh.write(_gz_member(_record(
                    [("WARC-Type", "warcinfo"),
                     ("Content-Type", "application/warc-fields"),
                     ("Content-Length", str(len(info)))],
                    info,
                )))
            for url, ts, html in zip(pdf["url"], pdf["warc_ts"], pdf["html"]):
                body = bytes(html) if html is not None else b""
                http = (
                    b"HTTP/1.1 200 OK\r\nContent-Length: "
                    + str(len(body)).encode() + b"\r\n\r\n"
                )
                block = http + body
                # isoformat keeps sub-second digits when present, so
                # warc_ts round-trips exactly through _warc_date
                date = (
                    pd.Timestamp(ts).isoformat() + "Z"
                    if ts is not None and not pd.isna(ts)
                    else "1970-01-01T00:00:00Z"
                )
                fh.write(_gz_member(_record(
                    [("WARC-Type", "response"),
                     ("WARC-Target-URI", str(url)),
                     ("WARC-Date", date),
                     ("Content-Type", "application/http; msgtype=response"),
                     ("Content-Length", str(len(block)))],
                    block,
                )))
                n_rec += 1
                n_payload += len(body)
        if fh is not None:
            fh.flush()
            os.fsync(fh.fileno())
            fh.close()
            os.replace(tmp, path)
            yield pd.DataFrame(
                {"shard": [path], "n_records": [n_rec],
                 "payload_bytes": [n_payload]}
            )

    manifest = src.mapInPandas(
        gen, "shard string, n_records long, payload_bytes long"
    )
    # lazy: the caller's one action on the returned (tiny) manifest is
    # what runs the writes
    return manifest
