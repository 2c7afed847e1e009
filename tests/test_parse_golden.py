"""Parser golden tests (SURVEY.md §5.3 parser layer): fixture HTML ->
expected structs, hand-checked values; byte-identical text invariant."""

from __future__ import annotations

from datetime import datetime

import pytest

from beeradvocate_crawler_spark.fixtures import site_model as sm
from beeradvocate_crawler_spark.functions import parse_fields as pf
from beeradvocate_crawler_spark.functions.textextract import html_to_text


def test_brewery_golden():
    html = sm.render_brewery(place_i=1, bid=102, K=4)
    rec = pf.parse_brewery(html, sm.url_brewery(102))
    assert rec == {
        "brewery_id": 102,
        "name": "Brewery 102",
        "place": "Place 1",
        "nbr_beers": 4,
        "url": "https://ba.example/beer/profile/102/",
    }


def test_beer_golden():
    html = sm.render_beer_page(bid=102, beer=10203, start=0, R=30, U=24)
    rec = pf.parse_beer(html, sm.url_beer(102, 10203))
    assert rec["beer_id"] == 10203
    assert rec["brewery_id"] == 102
    assert rec["name"] == "Beer 10203"
    assert rec["brewery_name"] == "Brewery 102"
    assert rec["style"] == sm.beer_style(10203)
    assert rec["abv"] == sm.beer_abv(10203)
    assert rec["n_ratings"] == sm.beer_n_ratings(10203, 30)


def test_reviews_golden():
    beer, bid, R, U = 10203, 102, 30, 24
    html = sm.render_beer_page(bid=bid, beer=beer, start=0, R=R, U=U)
    revs = pf.parse_reviews(html, sm.url_beer(bid, beer))
    nr = sm.beer_n_ratings(beer, R)
    assert len(revs) == min(25, nr)
    r0 = revs[0]
    assert r0["score"] == sm.review_score(beer, 0)
    look, smell, taste, feel, overall = sm.review_aspects(beer, 0)
    assert (r0["look"], r0["smell"], r0["taste"], r0["feel"], r0["overall"]) == (
        look, smell, taste, feel, overall
    )
    assert r0["user"] == sm.user_name(sm.review_user_id(beer, 0, U))
    assert isinstance(r0["date"], datetime)
    assert r0["date"] == sm.review_date(beer, 0).replace(
        hour=0, minute=0, second=0, microsecond=0
    )
    assert r0["text"] == sm.review_text(beer, 0)


def test_user_golden():
    html = sm.render_user(uid=7, P=2)
    rec = pf.parse_user(html, sm.url_user(7))
    assert rec == {"user": "taster_7", "user_id": 7, "url": sm.url_user(7)}


def test_link_extraction_and_canonicalization():
    html = sm.render_brewery(place_i=0, bid=0, K=2)
    links = pf.extract_links(html, sm.url_brewery(0))
    urls = [u for u, _ in links]
    # relative "0/" and "1/" resolve against the brewery base
    assert "https://ba.example/beer/profile/0/0/" in urls
    assert "https://ba.example/beer/profile/0/1/" in urls
    # positions ascending within page
    assert [p for _, p in links] == sorted(p for _, p in links)


def test_text_byte_identity_against_generator():
    html = sm.render_beer_page(bid=0, beer=1, start=0, R=30, U=24)
    from beeradvocate_crawler_spark.fixtures.gen_site import generate_pages

    pages = generate_pages("smoke")
    for p in pages:
        if p["url"].endswith("robots.txt"):
            continue
        assert html_to_text(p["html"].decode("utf-8")) == p["text"]


# every control char plus the two characters JSON escapes
CTRL = "".join(map(chr, range(0x20))) + '"\\'


def _key(rec: dict) -> tuple:
    return tuple(sorted(rec.items()))


def test_control_chars_cross_the_parse_boundary(spark, tmp_path):
    """Beer and user names and review texts holding CTRL come back from
    parse_fetched (through a parquet round trip) + records_from_parsed
    exactly as parse_fields reads the same HTML: no record is dropped."""
    from beeradvocate_crawler_spark.operators.parse import (
        parse_fetched,
        records_from_parsed,
    )

    def ctrl(html: str) -> str:
        for tag in ('<h1 class="beer">', '<h1 class="user">', '<p class="rtext">'):
            html = html.replace(tag, tag + CTRL)
        return html

    bid, beer, R, U = 102, 10203, 50, 24
    pages = [
        (sm.url_beer(bid, beer), "beer",
         ctrl(sm.render_beer_page(bid=bid, beer=beer, start=0, R=R, U=U))),
        (sm.url_review_page(bid, beer, 25), "review_page",
         ctrl(sm.render_beer_page(bid=bid, beer=beer, start=25, R=R, U=U))),
        (sm.url_user(7), "user", ctrl(sm.render_user(uid=7, P=2))),
    ]
    fetched = spark.createDataFrame(
        [(u, t, h.encode("utf-8")) for u, t, h in pages],
        "url string, page_type string, html binary",
    )
    parse_fetched(fetched).write.parquet(str(tmp_path / "parsed"))
    recs = records_from_parsed(spark.read.parquet(str(tmp_path / "parsed")))

    def got(name):
        return sorted((r.asDict() for r in recs[name].collect()), key=_key)

    (bu, _, bh), (ru, _, rh), (uu, _, uh) = pages
    assert got("beers") == [pf.parse_beer(bh, bu)]
    assert got("users") == [pf.parse_user(uh, uu)]
    want = pf.parse_reviews(bh, bu) + pf.parse_reviews(rh, ru)
    assert len(want) == sm.beer_n_ratings(beer, R)
    assert got("reviews") == sorted(want, key=_key)
    assert got("beers")[0]["name"].startswith(CTRL)
    assert got("users")[0]["user"].startswith(CTRL)
    assert all(r["text"].startswith(CTRL) for r in got("reviews"))


def test_records_from_parsed_rejects_a_json_record_table(spark):
    """A parsed table from the JSON-record engine raises, instead of
    reading its rounds' records as missing."""
    from beeradvocate_crawler_spark.operators.parse import records_from_parsed

    old = spark.createDataFrame(
        [(sm.url_user(7), "user", 200, "taster_7", [], [], None,
          '{"user": "taster_7", "user_id": 7}', None)],
        "url string, page_type string, fetch_status int, text string, "
        "link_urls array<string>, link_pos array<int>, n_ratings int, "
        "record_json string, crawl_delay double",
    )
    with pytest.raises(ValueError, match="record_json"):
        records_from_parsed(old)
