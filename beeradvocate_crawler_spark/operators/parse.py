"""HTML -> (text, links, records) in ONE vectorized Python pass
(SURVEY.md §2 A15/A5; §3.1 stage 6 — JVM->Python boundary #2).

``parse_fetched`` runs as a single ``mapInArrow`` over the fetch-join
output so the fat ``html`` column crosses the Arrow boundary exactly
once.  Inside, the regex work is pandas ``.str`` ops over the SAME
compiled regexes the sequential oracle uses
(functions/parse_fields.py) — the SURVEY §7.4 byte-exactness
mitigation.  Records leave as typed Arrow columns built from the
``extractall`` results (list offsets + struct children, no per-row
objects), so the JVM reads them as they are: nothing is serialized to
text and re-parsed on the way out.

Output schema (one row per fetched URL): ``PARSE_SCHEMA``, the one
declaration of the record shapes.  ``rules`` is set on robots rows,
``brewery``/``beer``/``user`` on their page types, ``reviews`` on beer
and review pages; each is null elsewhere.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..functions import parse_fields as pf
from ..functions.robots import parse_robots
from ..functions.textextract import html_to_text_series
from ..functions.urlnorm import canonicalize_series


def _struct(**fields: T.DataType) -> T.StructType:
    return T.StructType([T.StructField(k, v) for k, v in fields.items()])


_S, _I, _L, _D = T.StringType(), T.IntegerType(), T.LongType(), T.DoubleType()
PARSE_SCHEMA = _struct(
    url=_S, page_type=_S, fetch_status=_I, text=_S,
    link_urls=T.ArrayType(_S), link_pos=T.ArrayType(_I),   # canonical, aligned
    n_ratings=_I, crawl_delay=_D,
    rules=T.ArrayType(_struct(ord=_I, allow=T.BooleanType(), prefix=_S)),
    brewery=_struct(brewery_id=_L, name=_S, place=_S, nbr_beers=_I, url=_S),
    beer=_struct(beer_id=_L, brewery_id=_L, name=_S, brewery_name=_S, style=_S,
                 abv=_D, n_ratings=_I, url=_S),
    # date: "yyyy-MM-dd HH:mm:ss", typed by records_from_parsed
    reviews=T.ArrayType(_struct(beer_id=_L, user=_S, user_id=_L, score=_D, look=_D,
                                smell=_D, taste=_D, feel=_D, overall=_D, date=_S,
                                text=_S, url=_S)),
    user=_struct(user=_S, user_id=_L, url=_S),
)
_ARROW_SCHEMA = to_arrow_schema(PARSE_SCHEMA)
# RX_REVIEW's groups, in order
_REVIEW_GROUPS = ("score", "look", "smell", "taste", "feel", "overall",
                  "user", "user_id", "date", "text")


def _arr(v, typ: pa.DataType) -> pa.Array:
    """A column as ``typ``: pandas NA -> null.  Extracted strings are cast
    in Arrow, which reads ids and decimals exactly (as int()/float() do)."""
    a = v if isinstance(v, pa.Array) else pa.array(v, from_pandas=True)
    return a.cast(typ)


def _struct_arr(typ: pa.StructType, cols: dict, null: pd.Series | None = None
                ) -> pa.StructArray:
    return pa.StructArray.from_arrays(
        [_arr(cols[f.name], f.type) for f in typ], fields=list(typ),
        mask=None if null is None else pa.array(null),
    )


def _offsets(rows, n: int) -> pa.Array:
    """List offsets for ``n`` rows, given each element's (sorted) row."""
    counts = np.bincount(np.asarray(rows, dtype=np.int64), minlength=n)
    return pa.array(np.concatenate([[0], np.cumsum(counts)]), pa.int32())


def _links(html: pd.Series, url: pd.Series) -> tuple[pa.Array, pa.Array]:
    """Every href of each page, canonicalized, with its position among the
    page's hrefs: two aligned list columns (empty where html is NA)."""
    hrefs = html.str.extractall(pf.RX_HREF)[0]
    row = hrefs.index.get_level_values(0)
    canon = canonicalize_series(hrefs, pd.Series(url.to_numpy()[row], index=hrefs.index))
    keep = canon.notna().to_numpy()
    offsets = _offsets(row[keep], len(html))
    pos = hrefs.index.get_level_values(1)[keep]
    return (pa.ListArray.from_arrays(offsets, _arr(canon[keep], pa.string())),
            pa.ListArray.from_arrays(offsets, _arr(pos, pa.int32())))


def _reviews(html: pd.Series, url: pd.Series, typ: pa.ListType) -> pa.Array:
    """Every review block of each page as a list<struct> column (null
    where html is NA), from one extractall."""
    rv = html.str.extractall(pf.RX_REVIEW)
    rv.columns = _REVIEW_GROUPS
    row = rv.index.get_level_values(0)
    page_url = url.where(html.notna())
    cols = rv.to_dict("series") | {
        "beer_id": page_url.str.extract(pf.RX_BEER_IDS)[1].to_numpy()[row],
        "date": pd.to_datetime(rv["date"], format=pf.RX_DATE).dt.strftime(
            "%Y-%m-%d %H:%M:%S"),
        "url": page_url.to_numpy()[row],
    }
    return pa.ListArray.from_arrays(_offsets(row, len(html)),
                                    _struct_arr(typ.value_type, cols),
                                    mask=pa.array(html.isna()))


def _parse_batch(batch: pa.RecordBatch, agent: str | None = None) -> pa.RecordBatch:
    n = batch.num_rows
    url_a = batch.column("url")
    url = url_a.to_pandas()
    pt = batch.column("page_type").to_pandas()
    html = batch.column("html").cast(pa.string()).to_pandas()  # None: not fetched
    ok = html.notna()
    robots = ok & (pt == "robots")
    ent = ok & ~robots

    def on(*types: str) -> pd.Series:
        """html of the rows of these page types, NA elsewhere"""
        return html.where(pt.isin(types))

    # robots: rules + crawl delay; text is the raw body (passthrough)
    text = html.where(robots)
    rules, delay = [None] * n, [None] * n
    for i in np.flatnonzero(robots):
        # tiny cardinality: one per host; agent selects the RFC 9309 group
        r = parse_robots(html.iat[i], agent)
        rules[i] = [{"ord": o, "allow": a, "prefix": p} for o, a, p in r.rules]
        delay[i] = r.crawl_delay

    # entity pages: text + links, vectorized once over all types
    if ent.any():
        text[ent] = html_to_text_series(html[ent])
    link_urls, link_pos = _links(html.where(ent), url)

    h = on("brewery")
    brewery = _struct_arr(_ARROW_SCHEMA.field("brewery").type, {
        "brewery_id": url.where(h.notna()).str.extract(pf.RX_BREWERY_ID)[0],
        "name": h.str.extract(pf.RX_BREWERY_NAME)[0],
        "place": h.str.extract(pf.RX_BREWERY_PLACE)[0],
        "nbr_beers": h.str.extract(pf.RX_BREWERY_NBEERS)[0],
        "url": url_a,
    }, h.isna())
    h = on("beer", "review_page")
    n_ratings = h.str.extract(pf.RX_BEER_RATINGS)[0]
    reviews = _reviews(h, url, _ARROW_SCHEMA.field("reviews").type)
    h = on("beer")
    ids = url.where(h.notna()).str.extract(pf.RX_BEER_IDS)
    beer = _struct_arr(_ARROW_SCHEMA.field("beer").type, {
        "beer_id": ids[1],
        "brewery_id": ids[0],
        "name": h.str.extract(pf.RX_BEER_NAME)[0],
        "brewery_name": h.str.extract(pf.RX_BEER_BREWERY)[1],
        "style": h.str.extract(pf.RX_BEER_STYLE)[0],
        "abv": h.str.extract(pf.RX_BEER_ABV)[0],
        "n_ratings": n_ratings,
        "url": url_a,
    }, h.isna())
    h = on("user")
    user = _struct_arr(_ARROW_SCHEMA.field("user").type, {
        "user": h.str.extract(pf.RX_USER_NAME)[0],
        "user_id": h.str.extract(pf.RX_USER_ID)[0],
        "url": url_a,
    }, h.isna())

    cols = {
        "url": url_a,
        "page_type": batch.column("page_type"),
        "fetch_status": np.where(ok, 200, 404),
        "text": text,
        "link_urls": link_urls,
        "link_pos": link_pos,
        "n_ratings": n_ratings,
        "crawl_delay": delay,
        "rules": pa.array(rules, _ARROW_SCHEMA.field("rules").type),
        "brewery": brewery,
        "beer": beer,
        "reviews": reviews,
        "user": user,
    }
    return pa.RecordBatch.from_arrays(
        [_arr(cols[f.name], f.type) for f in _ARROW_SCHEMA], schema=_ARROW_SCHEMA
    )


def parse_fetched(fetched: DataFrame, agent: str | None = None) -> DataFrame:
    """fetched: (url, page_type, html|null, ...) -> PARSE_SCHEMA rows.
    ``agent`` is the advertised RFC 9309 product token for robots group
    selection (CrawlConfig.user_agent); None keeps `*`-group-only."""

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if batch.num_rows:
                yield _parse_batch(batch, agent)

    return fetched.select("url", "page_type", "html").mapInArrow(gen, PARSE_SCHEMA)


def records_from_parsed(parsed: DataFrame) -> dict[str, DataFrame]:
    """The four record tables, selected from ``parsed``'s typed columns.

    A run dir written while records crossed the boundary as JSON has a
    ``record_json`` column; its rounds have no typed records, so reading
    it raises rather than returning those rounds' records as missing.
    ``resume`` needs no such check: it reads only the current round's
    staged ``parsed``, which the running code wrote."""
    if "record_json" in parsed.columns:
        raise ValueError(
            "parsed table has a record_json column: it was written by an "
            "engine that stored records as JSON strings, and its records "
            "cannot be read as typed columns; re-run the crawl"
        )

    def rows(col: str) -> DataFrame:
        return parsed.filter(F.col(col).isNotNull()).select(f"{col}.*")

    reviews = (
        parsed.select(F.explode("reviews").alias("r"))
        .select("r.*")
        .withColumn("date", F.to_timestamp("date"))
    )
    return {"breweries": rows("brewery"), "beers": rows("beer"),
            "reviews": reviews, "users": rows("user")}
