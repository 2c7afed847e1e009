"""Materialize the synthetic site as a ``pages`` corpus (FIXTURES.md §1).

``generate_pages(scale)`` returns deterministic page dicts with the
exact input shape mandated by BASELINE.json input_hint:
``(url:string, warc_ts:timestamp, html:binary, text:string, lang:string)``.

``write_pages_parquet(spark, scale, out_dir)`` writes the corpus
partitioned by ``bucket = pmod(xxhash64(host), n_buckets)`` so the
engine's fetch-join can prune to the scheduled hosts' buckets — the
layout that matters at 100 TB (a 10^10-row corpus is only joinable
per-round because the scheduled batch touches few buckets).
"""

from __future__ import annotations

from datetime import datetime, timedelta

from . import site_model as sm


def generate_pages(scale: str = "smoke") -> list[dict]:
    cfg = sm.SCALES[scale]
    P, B, K, R = cfg["P"], cfg["B"], cfg["K"], cfg["R"]
    U = sm.n_users(P, B, K)
    t0 = datetime(2024, 1, 1)
    pages: list[dict] = []

    def add(url: str, body: str, lang: str = "en") -> None:
        pages.append(
            {
                "url": url,
                "warc_ts": t0 + timedelta(seconds=len(pages)),
                "html": body.encode("utf-8"),
                "text": sm.html_to_text(body),
                "lang": lang,
            }
        )

    # robots first (ord 0..): main host + noise hosts
    robots_main = sm.render_robots_main(P, B, K)
    pages.append(
        {
            "url": sm.url_robots(),
            "warc_ts": t0,
            "html": robots_main.encode("utf-8"),
            "text": robots_main,  # robots text == raw body (passthrough)
            "lang": "en",
        }
    )
    for k in range(7):
        body = sm.render_robots_noise()
        pages.append(
            {
                "url": sm.url_robots(sm.noise_host(k)),
                "warc_ts": t0 + timedelta(seconds=len(pages)),
                "html": body.encode("utf-8"),
                "text": body,
                "lang": "en",
            }
        )

    add(sm.url_place_dir(), sm.render_place_dir(P))
    for i in range(P):
        for start in range(0, B, sm.BREWERIES_PER_PLACE_PAGE):
            add(sm.url_place(i, start), sm.render_place(i, start, B))
    for i in range(P):
        for b in range(B):
            bid = sm.brewery_id(i, b)
            add(sm.url_brewery(bid), sm.render_brewery(i, bid, K))
            for j in range(K):
                beer = sm.beer_id(bid, j)
                nr = sm.beer_n_ratings(beer, R)
                add(sm.url_beer(bid, beer), sm.render_beer_page(bid, beer, 0, R, U))
                for start in range(sm.REVIEWS_PER_PAGE, nr, sm.REVIEWS_PER_PAGE):
                    add(
                        sm.url_review_page(bid, beer, start),
                        sm.render_beer_page(bid, beer, start, R, U),
                    )
    for uid in range(U):
        add(sm.url_user(uid), sm.render_user(uid, P))
    # ~5% noise rows on off-site hosts (never crawled; corpus-scan chaff)
    n_noise = max(4, len(pages) // 20)
    for j in range(n_noise):
        add(
            f"https://{sm.noise_host(j)}/promo/{j}",
            sm.render_noise(j),
            lang="de" if j % 3 == 0 else "en",
        )
    return pages


def page_specs(scale: str) -> list[tuple]:
    """Tiny driver-side skeleton of the corpus: one (ord, kind, a, b, c)
    tuple per page, in EXACTLY the enumeration order of
    :func:`generate_pages` (so ``warc_ts = t0 + ord`` matches).  Kinds:
    robots_main, robots_noise(k), place_dir, place(i,start),
    brewery(i,bid), beer(bid,beer,start), user(uid), noise(j)."""
    cfg = sm.SCALES[scale]
    P, B, K, R = cfg["P"], cfg["B"], cfg["K"], cfg["R"]
    specs: list[tuple] = []

    def add(kind: str, a: int = 0, b: int = 0, c: int = 0) -> None:
        specs.append((len(specs), kind, a, b, c))

    add("robots_main")
    for k in range(7):
        add("robots_noise", k)
    add("place_dir")
    for i in range(P):
        for start in range(0, B, sm.BREWERIES_PER_PLACE_PAGE):
            add("place", i, start)
    for i in range(P):
        for b in range(B):
            bid = sm.brewery_id(i, b)
            add("brewery", i, bid)
            for j in range(K):
                beer = sm.beer_id(bid, j)
                nr = sm.beer_n_ratings(beer, R)
                add("beer", bid, beer, 0)
                for start in range(sm.REVIEWS_PER_PAGE, nr, sm.REVIEWS_PER_PAGE):
                    add("beer", bid, beer, start)
    for uid in range(sm.n_users(P, B, K)):
        add("user", uid)
    n_noise = max(4, len(specs) // 20)
    for j in range(n_noise):
        add("noise", j)
    return specs


def render_spec(kind: str, a: int, b: int, c: int, scale: str) -> tuple:
    """(url, html, text, lang) for one spec row — pure function of ids."""
    cfg = sm.SCALES[scale]
    P, B, K, R = cfg["P"], cfg["B"], cfg["K"], cfg["R"]
    U = sm.n_users(P, B, K)
    if kind == "robots_main":
        body = sm.render_robots_main(P, B, K)
        return sm.url_robots(), body, body, "en"
    if kind == "robots_noise":
        body = sm.render_robots_noise()
        return sm.url_robots(sm.noise_host(a)), body, body, "en"
    if kind == "place_dir":
        body = sm.render_place_dir(P)
        return sm.url_place_dir(), body, sm.html_to_text(body), "en"
    if kind == "place":
        body = sm.render_place(a, b, B)
        return sm.url_place(a, b), body, sm.html_to_text(body), "en"
    if kind == "brewery":
        body = sm.render_brewery(a, b, K)
        return sm.url_brewery(b), body, sm.html_to_text(body), "en"
    if kind == "beer":
        body = sm.render_beer_page(a, b, c, R, U)
        url = sm.url_review_page(a, b, c) if c else sm.url_beer(a, b)
        return url, body, sm.html_to_text(body), "en"
    if kind == "user":
        body = sm.render_user(a, P)
        return sm.url_user(a), body, sm.html_to_text(body), "en"
    body = sm.render_noise(a)
    return (
        f"https://{sm.noise_host(a)}/promo/{a}",
        body,
        sm.html_to_text(body),
        "de" if a % 3 == 0 else "en",
    )


def pages_df(spark, scale: str):
    """Distributed corpus materialization: the driver ships only the
    (ord, kind, ids) skeleton; HTML render + text extraction run on
    executors via mapInPandas.  Output rows are identical to
    :func:`generate_pages` (tested) — this is the path that scales
    (a 10^10-page corpus can't be rendered on the driver)."""
    import pandas as pd
    from pyspark.sql import types as T

    from ..sources.corpus import pages_schema

    specs = page_specs(scale)
    spec_schema = T.StructType(
        [
            T.StructField("ord", T.LongType(), False),
            T.StructField("kind", T.StringType(), False),
            T.StructField("a", T.IntegerType(), False),
            T.StructField("b", T.IntegerType(), False),
            T.StructField("c", T.IntegerType(), False),
        ]
    )
    out_schema = T.StructType(
        [T.StructField("ord", T.LongType(), False)] + pages_schema().fields
    )
    t0 = datetime(2024, 1, 1)

    def render(pdf_iter):
        for pdf in pdf_iter:
            rows = []
            for ordv, kind, a, b, c in zip(
                pdf["ord"], pdf["kind"], pdf["a"], pdf["b"], pdf["c"]
            ):
                url, html, text, lang = render_spec(kind, int(a), int(b), int(c), scale)
                rows.append(
                    (
                        int(ordv),
                        url,
                        t0 + timedelta(seconds=int(ordv)),
                        html.encode("utf-8"),
                        text,
                        lang,
                    )
                )
            yield pd.DataFrame(
                rows, columns=["ord", "url", "warc_ts", "html", "text", "lang"]
            )

    n_slices = max(8, spark.sparkContext.defaultParallelism * 2)
    return (
        spark.createDataFrame(specs, schema=spec_schema)
        .repartition(n_slices, "ord")
        .mapInPandas(render, out_schema)
        .drop("ord")
    )


def write_pages_parquet(spark, scale: str, out_dir: str, n_buckets: int = 16,
                        files_per_bucket: int | None = None) -> str:
    """Write the corpus bucketed by host hash (directory-partitioned on
    ``bucket`` so fetch-joins prune scanned files to scheduled hosts).

    Rows are additionally spread by url-hash across many FILES within
    each bucket directory: the fetch join is a broadcast (map-side)
    join that inherits the scan's partitioning, so per-bucket file
    count — not bucket count — is what bounds fetch+parse parallelism
    when one hot host owns a bucket.  (A real Common-Crawl-scale corpus
    has thousands of files per partition for the same reason.)

    Layout + sidecar live in sources/ingest.py::write_corpus — the
    same writer external WARC/JSONL ingestion uses."""
    from beeradvocate_crawler_spark.sources.ingest import write_corpus

    return write_corpus(
        pages_df(spark, scale), out_dir, n_buckets, files_per_bucket
    )
