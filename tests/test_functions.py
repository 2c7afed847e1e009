"""Unit tests: hashing, canonicalization, classification, robots,
cuckoo filter, text extraction (SURVEY.md §5.3 unit layer).  Pure
Python/pandas — no Spark session."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from beeradvocate_crawler_spark.functions.cuckoo import CuckooFilter
from beeradvocate_crawler_spark.functions.robots import parse_robots
from beeradvocate_crawler_spark.functions.textextract import (
    html_to_text,
    html_to_text_series,
)
from beeradvocate_crawler_spark.functions.urlnorm import (
    canonicalize_series,
    canonicalize_url,
    classify_series,
    classify_url,
)
from beeradvocate_crawler_spark.functions.xxh64 import xxh64_signed


class TestXxh64:
    # golden values verified against Spark's F.xxhash64 (seed 42)
    # in an interactive session; tests/test_spark_parity.py re-checks live
    def test_known_vectors(self):
        assert xxh64_signed("") == -7444071767201028348
        assert (
            xxh64_signed("https://ba.example/place/directory/")
            == -8320991735833195389
        )
        assert xxh64_signed("a") != xxh64_signed("b")

    def test_all_tail_lengths(self):
        # exercise 32-byte stripes + 8/4/1-byte tails
        vals = {xxh64_signed("x" * n) for n in range(70)}
        assert len(vals) == 70


CANON_CASES = [
    ("https://ba.example/place/directory/", None, "https://ba.example/place/directory/"),
    ("HTTPS://BA.Example:443/a/../b/?utm_source=x&b=2&a=1#f", None,
     "https://ba.example/b/?a=1&b=2"),
    ("http://h:80/x/./y", None, "http://h/x/y"),
    ("mailto:x@y", None, None),
    ("javascript:void(0)", None, None),
    ("ftp://h/", None, None),
    ("", None, None),
    ("https://h", None, "https://h/"),
    ("1201/", "https://ba.example/beer/profile/12/", "https://ba.example/beer/profile/12/1201/"),
    ("/place/list/?c_id=3", "https://ba.example/place/directory/",
     "https://ba.example/place/list/?c_id=3"),
    ("?start=25&view=beer", "https://ba.example/beer/profile/1/101/",
     "https://ba.example/beer/profile/1/101/?start=25&view=beer"),
    ("../x/", "https://h/a/b/", "https://h/a/x/"),
]


class TestCanonicalize:
    @pytest.mark.parametrize("href,base,want", CANON_CASES)
    def test_pure(self, href, base, want):
        assert canonicalize_url(href, base) == want

    def test_series_equals_pure(self):
        hrefs = pd.Series([c[0] for c in CANON_CASES])
        bases = pd.Series([c[1] for c in CANON_CASES])
        got = canonicalize_series(hrefs, bases)
        want = [c[2] for c in CANON_CASES]
        assert [g if pd.notna(g) else None for g in got] == want

    def test_series_fast_path_equals_pure_no_base(self):
        urls = [
            "https://ba.example/beer/profile/12/",
            "https://ba.example/robots.txt",
            "https://noise0.example/promo/3",
            "HTTP://X.Y/Z",
            "https://h/a b",  # space: slow path
        ]
        got = list(canonicalize_series(pd.Series(urls)))
        want = [canonicalize_url(u) for u in urls]
        assert [g if pd.notna(g) else None for g in got] == want


CLASSIFY_CASES = [
    ("https://ba.example/robots.txt", "robots"),
    ("https://ba.example/place/directory/", "place_dir"),
    ("https://ba.example/place/list/?c_id=3", "place"),
    ("https://ba.example/place/list/?c_id=3&start=20", "place"),
    ("https://ba.example/beer/profile/12/", "brewery"),
    ("https://ba.example/beer/profile/12/1201/", "beer"),
    ("https://ba.example/beer/profile/12/1201/?start=25&view=beer", "review_page"),
    ("https://ba.example/community/members/taster_7.7/", "user"),
    ("https://noise0.example/promo/1", "other"),
    ("https://ba.example/beer/profile/12/1201/?start=25", "other"),
]


class TestClassify:
    @pytest.mark.parametrize("url,want", CLASSIFY_CASES)
    def test_pure(self, url, want):
        assert classify_url(url) == want

    def test_series(self):
        s = pd.Series([c[0] for c in CLASSIFY_CASES])
        assert list(classify_series(s)) == [c[1] for c in CLASSIFY_CASES]


class TestRobots:
    def test_star_group_and_longest_prefix(self):
        r = parse_robots(
            "User-agent: googlebot\nDisallow: /g/\n\n"
            "User-agent: *\nDisallow: /a/\nAllow: /a/b\nCrawl-delay: 2\n"
        )
        assert r.crawl_delay == 2.0
        assert not r.allowed("/a/x")
        assert r.allowed("/a/b/x")  # longer Allow wins
        assert r.allowed("/g/x")  # other group ignored
        assert r.allowed("/")

    def test_empty_and_missing(self):
        assert parse_robots("").allowed("/anything")
        assert parse_robots("User-agent: *\nDisallow:\n").allowed("/x")

    def test_tie_allow_wins(self):
        r = parse_robots("User-agent: *\nDisallow: /ab\nAllow: /ab\n")
        assert r.allowed("/ab/c")


class TestCuckoo:
    def test_no_false_negatives_and_fpr(self):
        rng = np.random.default_rng(1)
        keys = rng.integers(-(2**63), 2**63 - 1, 20000, dtype=np.int64)
        cf = CuckooFilter.sized_for(len(keys))
        cf.insert(keys)
        assert cf.contains(keys).all()
        fresh = rng.integers(-(2**63), 2**63 - 1, 100000, dtype=np.int64)
        assert cf.contains(fresh).mean() < 5e-4  # ~4x theoretical bound

    def test_roundtrip(self):
        cf = CuckooFilter.sized_for(100)
        cf.insert(np.arange(50, dtype=np.int64))
        cf2 = CuckooFilter.from_bytes(cf.to_bytes())
        assert (cf2.table == cf.table).all()
        assert cf2.n_keys == cf.n_keys

    def test_overflow_raises(self):
        cf = CuckooFilter(64)  # 256 slots
        with pytest.raises(RuntimeError):
            cf.insert(np.arange(10000, dtype=np.int64))

    def test_from_bytes_rejects_truncated_blob(self):
        cf = CuckooFilter.sized_for(100)
        cf.insert(np.arange(50, dtype=np.int64))
        blob = cf.to_bytes()
        for cut in (len(blob) - 2, 16, 8):
            with pytest.raises(ValueError):
                CuckooFilter.from_bytes(blob[:cut])

    def test_from_bytes_rejects_bloom_header(self):
        """A blocked-bloom blob (the removed second filter kind, which an
        older run dir may still hold) leads with a negative magic int64
        ("BLM1"), then its block count, key count and 64-byte blocks."""
        header = np.array([-0x424C4D31, 4, 10], dtype=np.int64).tobytes()
        with pytest.raises(ValueError, match="not a cuckoo-filter blob"):
            CuckooFilter.from_bytes(header + bytes(4 * 64))

    def test_partitioned_keys_no_bucket_aliasing(self):
        """Regression: the seen-set partitions by pmod(key, P), so keys
        within one partition share their low bits; the bucket index
        must not alias to 1/P of the table (caused bench-scale
        overflow before the splitmix fix)."""
        rng = np.random.default_rng(3)
        keys = rng.integers(-(2**63), 2**63 - 1, 40000, dtype=np.int64)
        for pid in range(8):
            part = keys[(keys % 8 + 8) % 8 == pid]
            cf = CuckooFilter.sized_for(len(part))
            cf.insert(part)  # must not raise
            assert cf.contains(part).all()


class TestTextExtract:
    def test_series_equals_pure_on_fixture_pages(self, smoke_site):
        pages, _, _ = smoke_site
        htmls = [p["html"].decode() for p in pages if not p["url"].endswith("robots.txt")]
        htmls += [
            "Before the first tag<p>x</p>",
            "  lead and trail  <p> x </p>  tail  ",
            " <b> a </b> b ",
            "\n \nline\n\n<br/>\n",
            "",
            "<html><body><br/><p></p></body></html>",
            # non-ASCII and control whitespace is text, not a line edge
            "a\xa0<p>\xa0</p>",
            "\xa0\t<b>\t d \t\xa0 </b>\n\xa0",
            "\u2003<p> e \u2003</p>\u2028 f \u2028<br/>\u2028",
            "\x1c<p>\x1c g \x1c</p>\x1c",
            "\x85 h \x85<p>\t\x85\t</p>",
        ]
        pure = [html_to_text(h) for h in htmls]
        vec = list(html_to_text_series(pd.Series(htmls)))
        assert vec == pure

    def test_script_style_dropped(self):
        h = "<html><script>var x=1;</script><style>a{}</style><p>Hi  there</p></html>"
        assert html_to_text(h) == "Hi there"


class TestCanonicalizeProperty:
    """Vectorized fast path == pure path on adversarial href/base mixes
    (the fast path must never disagree, only fall back)."""

    HREFS = [
        "", " ", "/", "//other.example/x", "x", "x/", "./x", "../x", "../../x",
        "x/./y", "x/../y", "/a/b/../c/", "?a=1", "?b=2&a=1", "?a=1&b=2",
        "?utm_source=t&a=1", "?a=1&&b=2", "?a=1&", "#frag", "/x#frag",
        "x?view=beer&start=25", "x?start=25&view=beer",
        "HTTP://UP.example/P", "https://h:443/x", "http://h:80/x",
        "https://u@h/x", "mailto:a@b", "javascript:void(0)", "ftp://h/x",
        "https://ok.example/a/b/", "https://ok.example/a b/",
        "101/", "/beer/profile/12/", "/community/members/t_1.1/",
        "robots.txt", "/robots.txt", "x//y", "/x//y/", "a=1&b=2",
        "https://h/x?", "https://h/x?#", "https://h/.hidden/",
        # same-scheme relative references WITHOUT authority: urljoin
        # resolves these against the base (RFC 3986 legacy-scheme rule),
        # so they must reach the exact fallback, not settle as non-http
        "https:x", "http:x", "https:../y", "https:?a=1", "HTTPS:x", "https:",
    ]
    BASES = [
        "https://ba.example/place/directory/",
        "https://ba.example/beer/profile/12/1201/",
        "https://ba.example/beer/profile/12/1201/?start=25&view=beer",
        "http://noise0.example/promo/3",
        "https://h/",
    ]

    def test_cross_product_equals_pure(self):
        hrefs, bases = [], []
        for h in self.HREFS:
            for b in self.BASES:
                hrefs.append(h)
                bases.append(b)
        got = canonicalize_series(pd.Series(hrefs), pd.Series(bases))
        want = [canonicalize_url(h, b) for h, b in zip(hrefs, bases)]
        got_py = [g if pd.notna(g) else None for g in got]
        bad = [
            (h, b, g, w)
            for h, b, g, w in zip(hrefs, bases, got_py, want)
            if g != w
        ]
        assert not bad, bad[:10]

    def test_no_base_equals_pure(self):
        urls = self.HREFS + self.BASES
        got = canonicalize_series(pd.Series(urls))
        want = [canonicalize_url(u) for u in urls]
        assert [g if pd.notna(g) else None for g in got] == want

    def test_hypothesis_random_hrefs(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        seg = st.text(
            alphabet="abcXYZ019._-/?&=#:@ %", min_size=0, max_size=12
        )
        pre = st.sampled_from(
            ["", "/", "./", "../", "https://h/", "HTTPS://H/", "//h/", "?", "#"]
        )
        href_s = st.tuples(pre, seg).map(lambda t: t[0] + t[1])
        base_s = st.sampled_from(self.BASES)

        @given(st.lists(st.tuples(href_s, base_s), min_size=1, max_size=30))
        @settings(max_examples=150, deadline=None)
        def check(pairs):
            hrefs = pd.Series([p[0] for p in pairs])
            bases = pd.Series([p[1] for p in pairs])
            got = canonicalize_series(hrefs, bases)
            got_py = [g if pd.notna(g) else None for g in got]
            want = [canonicalize_url(h, b) for h, b in pairs]
            assert got_py == want

        check()
