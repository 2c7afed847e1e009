"""WARC / JSONL corpus ingestion (sources/ingest.py).

The gold test: a crawl over a WARC-ingested smoke corpus is
differentially equal to the sequential oracle — same crawl order, seen
set, byte-identical parsed text — proving the ingest path feeds the
engine bit-for-bit the same corpus the parquet fixture does."""

from __future__ import annotations

import gzip
import json
import shutil
import tempfile

import pytest

from beeradvocate_crawler_spark.config import CrawlConfig
from beeradvocate_crawler_spark.fixtures import site_model as sm
from beeradvocate_crawler_spark.fixtures.gen_site import pages_df
from beeradvocate_crawler_spark.plans import crawl as plans
from beeradvocate_crawler_spark.sources.ingest import (
    read_pages_jsonl,
    read_pages_warc,
    write_corpus,
)
from beeradvocate_crawler_spark.testing import compare


def _warc_bytes(pages: list[dict]) -> bytes:
    """Serialize pages as a WARC shard: a warcinfo record first, then
    request+response pairs per url (the parser must keep only
    responses and survive non-page record types)."""
    out = bytearray()

    def rec(hdrs: dict[str, str], block: bytes) -> bytes:
        h = "".join(f"{k}: {v}\r\n" for k, v in hdrs.items())
        return (
            f"WARC/1.0\r\n{h}Content-Length: {len(block)}\r\n\r\n"
        ).encode() + block + b"\r\n\r\n"

    out += rec({"WARC-Type": "warcinfo"}, b"software: test-fixture\r\n")
    for p in pages:
        ts = p["warc_ts"].strftime("%Y-%m-%dT%H:%M:%SZ")
        out += rec(
            {
                "WARC-Type": "request",
                "WARC-Target-URI": p["url"],
                "WARC-Date": ts,
            },
            b"GET / HTTP/1.1\r\nHost: x\r\n\r\n",
        )
        html = p["html"] if isinstance(p["html"], bytes) else p["html"].encode()
        out += rec(
            {
                "WARC-Type": "response",
                "WARC-Target-URI": p["url"],
                "WARC-Date": ts,
                "Content-Type": "application/http; msgtype=response",
            },
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + html,
        )
    return bytes(out)


@pytest.fixture(scope="module")
def smoke_rows(spark, smoke_site):
    return [r.asDict() for r in pages_df(spark, "smoke").collect()]


class TestWarc:
    def test_roundtrip_plain_and_gz(self, spark, smoke_rows, tmp_path):
        rows = smoke_rows
        half = len(rows) // 2
        blob_a = _warc_bytes(rows[:half])
        blob_b = _warc_bytes(rows[half:])
        d = tmp_path / "warc"
        d.mkdir()
        (d / "shard-00000.warc").write_bytes(blob_a)
        # gz shard with one member per record group to exercise the
        # concatenated-member decompressor
        with open(d / "shard-00001.warc.gz", "wb") as f:
            for chunk in (blob_b[: len(blob_b) // 2], blob_b[len(blob_b) // 2 :]):
                f.write(gzip.compress(chunk))
        got = {
            r["url"]: (bytes(r["html"]), r["warc_ts"])
            for r in read_pages_warc(spark, str(d)).collect()
        }
        want = {
            r["url"]: (
                r["html"] if isinstance(r["html"], bytes) else r["html"].encode(),
                r["warc_ts"].replace(microsecond=0),
            )
            for r in rows
        }
        assert got == want

    def test_gz_split_mid_record_is_lossless(self, spark, smoke_rows, tmp_path):
        """gzip members may cut ANYWHERE (CC cuts at record bounds, but
        the decompressor must not rely on it)."""
        blob = _warc_bytes(smoke_rows[:10])
        d = tmp_path / "warc2"
        d.mkdir()
        with open(d / "s.warc.gz", "wb") as f:
            for i in range(0, len(blob), 97):
                f.write(gzip.compress(blob[i : i + 97]))
        got = {r["url"] for r in read_pages_warc(spark, str(d)).collect()}
        assert got == {r["url"] for r in smoke_rows[:10]}

    def test_crawl_over_warc_ingested_corpus_matches_oracle(
        self, spark, smoke_site, tmp_path
    ):
        _, corpus, ores = smoke_site
        rows = [r.asDict() for r in pages_df(spark, "smoke").collect()]
        d = tmp_path / "warc3"
        d.mkdir()
        (d / "shard.warc").write_bytes(_warc_bytes(rows))
        pages_dir = str(tmp_path / "pages")
        write_corpus(read_pages_warc(spark, str(d)), pages_dir,
                     n_buckets=16, files_per_bucket=4)
        run_dir = str(tmp_path / "run")
        plans.run(spark, pages_dir, sm.SEED_URLS, run_dir,
                  CrawlConfig(round_seconds=16))
        errs = compare(spark, run_dir, ores, corpus)
        assert not errs, "\n".join(errs)


class TestJsonl:
    def test_roundtrip(self, spark, smoke_rows, tmp_path):
        rows = smoke_rows
        d = tmp_path / "jsonl"
        d.mkdir()
        with gzip.open(d / "pages.jsonl.gz", "wt") as f:
            for r in rows:
                html = r["html"]
                f.write(json.dumps({
                    "url": r["url"],
                    "warc_ts": r["warc_ts"].strftime("%Y-%m-%dT%H:%M:%S"),
                    "html": html.decode() if isinstance(html, bytes) else html,
                    "text": r["text"],
                    "lang": r["lang"],
                }) + "\n")
        got = {
            r["url"]: (bytes(r["html"]), r["warc_ts"], r["text"], r["lang"])
            for r in read_pages_jsonl(spark, str(d)).collect()
        }
        want = {
            r["url"]: (
                r["html"] if isinstance(r["html"], bytes) else r["html"].encode(),
                r["warc_ts"].replace(microsecond=0),
                r["text"],
                r["lang"],
            )
            for r in rows
        }
        assert got == want


class TestWarcExport:
    """write_pages_warc (egress): the exact inverse of read_pages_warc."""

    def test_export_roundtrip(self, spark, smoke_rows, tmp_path):
        from beeradvocate_crawler_spark.sources.ingest import write_pages_warc

        src = pages_df(spark, "smoke")
        out = str(tmp_path / "export")
        manifest = write_pages_warc(src, out, n_shards=4).collect()
        assert sum(m["n_records"] for m in manifest) == len(smoke_rows)
        assert all(m["shard"].endswith(".warc.gz") for m in manifest)
        got = {
            r["url"]: (r["warc_ts"], bytes(r["html"]))
            for r in read_pages_warc(spark, out).collect()
        }
        want = {
            r["url"]: (
                r["warc_ts"],
                r["html"] if isinstance(r["html"], bytes) else r["html"].encode(),
            )
            for r in smoke_rows
        }
        assert got == want  # url, timestamp (sub-second), html all exact

    def test_shards_are_member_seekable(self, spark, smoke_rows, tmp_path):
        """CC's contract: one gzip member per record, so a range reader
        can decompress any single record without touching the rest."""
        import glob
        import zlib

        from beeradvocate_crawler_spark.sources.ingest import (
            _iter_warc_records,
            write_pages_warc,
        )

        out = str(tmp_path / "export2")
        write_pages_warc(pages_df(spark, "smoke"), out, n_shards=2).collect()
        shards = sorted(glob.glob(out + "/part-*.warc.gz"))
        assert shards
        total_members = 0
        for path in shards:
            data = open(path, "rb").read()
            members = []
            while data:
                d = zlib.decompressobj(47)
                members.append(d.decompress(data))
                assert d.eof, "member must be complete"
                data = d.unused_data
            # every member standalone parses as EXACTLY one WARC record
            for m in members:
                recs = list(_iter_warc_records(m))
                assert len(recs) == 1
            total_members += len(members)
        # one warcinfo member per shard + one member per page
        assert total_members == len(smoke_rows) + len(shards)

    def test_no_partial_shards_left(self, spark, tmp_path):
        """The dot-temp + os.replace publish leaves no .tmp residue."""
        import glob

        from beeradvocate_crawler_spark.sources.ingest import write_pages_warc

        out = str(tmp_path / "export3")
        write_pages_warc(pages_df(spark, "smoke"), out, n_shards=3).collect()
        assert not glob.glob(out + "/.part-*.tmp")

    def test_temp_name_is_per_task_attempt(self):
        """Two attempts of one task (a retry beside a speculative copy)
        write different temp files, both hidden from readers, and
        publish to the same shard name."""
        from beeradvocate_crawler_spark.sources.ingest import _shard_paths

        (pub_a, tmp_a), (pub_b, tmp_b) = (_shard_paths("/out", 3, attempt)
                                          for attempt in (17, 18))
        assert pub_a == pub_b == "/out/part-00003.warc.gz"
        assert tmp_a != tmp_b
        assert all(t.startswith("/out/.part-00003.") for t in (tmp_a, tmp_b))

    def test_crlf_url_cannot_desync_framing(self, spark, tmp_path):
        """A url carrying CR/LF must not inject headers or break the
        Content-Length framing of neighboring records."""
        import pandas as pd

        from beeradvocate_crawler_spark.sources.ingest import write_pages_warc

        rows = [
            ("https://a.example/ok", b"<html>fine</html>"),
            ("https://evil.example/x\r\nWARC-Type: warcinfo", b"<html>inj</html>"),
            ("https://b.example/also-ok", b"<html>after</html>"),
        ]
        df = spark.createDataFrame(
            pd.DataFrame({
                "url": [u for u, _ in rows],
                "warc_ts": pd.to_datetime(["2024-06-01"] * 3),
                "html": [h for _, h in rows],
                "text": [None] * 3,
                "lang": [None] * 3,
            })
        )
        out = str(tmp_path / "crlf")
        man = write_pages_warc(df, out, n_shards=1).collect()
        assert sum(m["n_records"] for m in man) == 3
        got = {r["url"]: bytes(r["html"])
               for r in read_pages_warc(spark, out).collect()}
        # all three records survive; the CR/LF is percent-encoded in
        # the stored target URI, neighbors are byte-exact
        assert got["https://a.example/ok"] == b"<html>fine</html>"
        assert got["https://b.example/also-ok"] == b"<html>after</html>"
        assert got["https://evil.example/x%0D%0AWARC-Type: warcinfo"] == b"<html>inj</html>"
