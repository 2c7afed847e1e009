"""HTML -> record field extraction (SURVEY.md §2 A15, A5).

ONE set of compiled regexes, used two ways:
- pure-Python parse functions (the sequential oracle, SURVEY.md §5.2);
- vectorized pandas ``Series.str.extract`` / ``extractall`` twins (the
  engine's ``mapInArrow`` parser, operators/parse.py, which returns
  the fields as typed Arrow columns).

Keeping a single pattern table is the SURVEY §7.4 mitigation for the
byte-exactness risk: the two paths literally share the regex objects.
"""

from __future__ import annotations

import re
from datetime import datetime

from .urlnorm import canonicalize_url

# --- link extraction (A5) ---------------------------------------------------
RX_HREF = re.compile(r'href="([^"]*)"')

# --- per-type field patterns (A15) -------------------------------------------
RX_BREWERY_ID = re.compile(r"/beer/profile/(\d+)/$")
RX_BEER_IDS = re.compile(r"/beer/profile/(\d+)/(\d+)/")
RX_BREWERY_NAME = re.compile(r'<h1 class="brewery">([^<]*)</h1>')
RX_BREWERY_PLACE = re.compile(r'<span class="place">([^<]*)</span>')
RX_BREWERY_NBEERS = re.compile(r'<span class="nbeers">(\d+)</span>')

RX_BEER_NAME = re.compile(r'<h1 class="beer">([^<]*)</h1>')
RX_BEER_BREWERY = re.compile(
    r'<div class="brewery"><a href="/beer/profile/(\d+)/">([^<]*)</a></div>'
)
RX_BEER_STYLE = re.compile(r"<dt>Style:</dt><dd>([^<]*)</dd>")
RX_BEER_ABV = re.compile(r"<dt>ABV:</dt><dd>([0-9.]+)%</dd>")
RX_BEER_RATINGS = re.compile(r"<dt>Ratings:</dt><dd>(\d+)</dd>")

# one block-regex capturing every field of a review (applied with
# extractall on the engine side, finditer on the oracle side)
RX_REVIEW = re.compile(
    r'<div class="review">\s*'
    r'<span class="score">([0-9.]+)/5</span>\s*'
    r'<span class="aspects">look: ([0-9.]+) \| smell: ([0-9.]+) \| '
    r"taste: ([0-9.]+) \| feel: ([0-9.]+) \| overall: ([0-9.]+)</span>\s*"
    r'<a class="user" href="/community/members/([A-Za-z0-9_.\-]+)\.(\d+)/">[^<]*</a>\s*'
    r'<span class="date">([^<]*)</span>\s*'
    r'<p class="rtext">([^<]*)</p>'
)

RX_USER_NAME = re.compile(r'<h1 class="user">([^<]*)</h1>')
RX_USER_ID = re.compile(r'<span class="uid">(\d+)</span>')

RX_DATE = "%b %d, %Y"  # "Apr 5, 2017"


def parse_review_date(s: str) -> datetime:
    return datetime.strptime(s, RX_DATE)


# --- pure-Python parsers (oracle path) ---------------------------------------

def extract_links(html: str, base_url: str) -> list[tuple[str, int]]:
    """[(canonical_url, link_pos)] for every href, dropping non-http."""
    out = []
    for pos, m in enumerate(RX_HREF.finditer(html)):
        cu = canonicalize_url(m.group(1), base_url)
        if cu is not None:
            out.append((cu, pos))
    return out


def parse_brewery(html: str, url: str) -> dict:
    return {
        "brewery_id": int(RX_BREWERY_ID.search(url).group(1)),
        "name": RX_BREWERY_NAME.search(html).group(1),
        "place": RX_BREWERY_PLACE.search(html).group(1),
        "nbr_beers": int(RX_BREWERY_NBEERS.search(html).group(1)),
        "url": url,
    }


def parse_beer(html: str, url: str) -> dict:
    bid, beer = RX_BEER_IDS.search(url).groups()
    bm = RX_BEER_BREWERY.search(html)
    return {
        "beer_id": int(beer),
        "brewery_id": int(bid),
        "name": RX_BEER_NAME.search(html).group(1),
        "brewery_name": bm.group(2),
        "style": RX_BEER_STYLE.search(html).group(1),
        "abv": float(RX_BEER_ABV.search(html).group(1)),
        "n_ratings": int(RX_BEER_RATINGS.search(html).group(1)),
        "url": url,
    }


def parse_reviews(html: str, url: str) -> list[dict]:
    beer = int(RX_BEER_IDS.search(url).group(2))
    out = []
    for m in RX_REVIEW.finditer(html):
        score, look, smell, taste, feel, overall, uname, uid, date_s, text = m.groups()
        out.append(
            {
                "beer_id": beer,
                "user": uname,
                "user_id": int(uid),
                "score": float(score),
                "look": float(look),
                "smell": float(smell),
                "taste": float(taste),
                "feel": float(feel),
                "overall": float(overall),
                "date": parse_review_date(date_s),
                "text": text,
                "url": url,
            }
        )
    return out


def parse_user(html: str, url: str) -> dict:
    return {
        "user": RX_USER_NAME.search(html).group(1),
        "user_id": int(RX_USER_ID.search(html).group(1)),
        "url": url,
    }


def parse_beer_n_ratings(html: str) -> int:
    return int(RX_BEER_RATINGS.search(html).group(1))
