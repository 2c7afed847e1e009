"""Sequential reference crawler — the differential-testing oracle
(SURVEY.md §5.2).

A deliberately simple, obviously-correct, pure-Python crawler that
executes the reference semantics (BASELINE.json north_star) over a
``pages`` corpus dict.  It produces the goldens the Spark engine must
match EXACTLY: the total crawl order, the URL-seen set, and the parsed
record tables with byte-identical extracted text.

The crawl semantics (shared, normative for both implementations):

ROUND LOOP (logical time only — round index is the clock, §4.2):
 1. robots marking: for every host whose robots state became known by
    the end of an earlier round, mark still-PENDING disallowed rows
    ROBOTS_BLOCKED (they stay in the seen set, are never fetched).
 2. politeness admission per host: refill the token bucket
    ``tokens = min(2*refill, tokens + round_seconds/crawl_delay)``;
    candidates are the host's PENDING rows — only its robots row
    until the host's robots state is known; admit the top
    ``floor(tokens)`` candidates ordered by
    (-priority, depth, parent_ord, link_pos, url); spend one token each.
 3. global order: all admitted rows across hosts sorted by the same
    key; append to the crawl-order ledger (rank = running count).
 4. fetch: corpus lookup by canonical URL (404 if absent).
 5. parse: robots -> rules (known from next round); entity pages ->
    records + links; beer pages additionally expand review pagination
    (?start=25k&view=beer) from the ratings count, link_pos 100000+k.
 6. discover: canonicalize + classify links; drop page_type 'other';
    first-discovery merge (min depth, then min (parent_ord, link_pos));
    drop URLs already seen; enqueue PENDING; newly-seen hosts get a
    robots row injected (depth 0, parent_ord -1, link_pos 0).
 7. stop when no PENDING rows remain.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

from .functions import parse_fields as pf
from .functions.robots import ALLOW_ALL, DEFAULT_CRAWL_DELAY, RobotsRules, parse_robots
from .functions.textextract import html_to_text
from .functions.urlnorm import (
    PAGE_PRIORITY,
    canonicalize_url,
    classify_url,
    host_of,
    path_query_of,
)

PAGINATION_LINK_POS = 100000
TOKEN_BURST_FACTOR = 2.0


@dataclass
class FrontierRow:
    url: str
    host: str
    page_type: str
    depth: int
    priority: int
    parent_ord: int
    link_pos: int
    discovered_round: int
    state: str = "PENDING"  # PENDING | SCHEDULED | DONE | ROBOTS_BLOCKED

    def order_key(self):
        return (-self.priority, self.depth, self.parent_ord, self.link_pos, self.url)


@dataclass
class HostState:
    tokens: float = 0.0
    crawl_delay: float = DEFAULT_CRAWL_DELAY
    robots_done: bool = False
    rules: RobotsRules = field(default_factory=lambda: ALLOW_ALL)


@dataclass
class CrawlResult:
    crawl_order: list[tuple[int, int, str]]  # (rank, round, url)
    seen: set[str]
    frontier: dict[str, FrontierRow]
    breweries: list[dict]
    beers: list[dict]
    reviews: list[dict]
    users: list[dict]
    texts: dict[str, str]  # url -> extracted text (byte-identical golden)
    rounds: int


def crawl(
    corpus: dict[str, dict],
    seeds: list[str],
    round_seconds: int = 16,
    max_rounds: int = 100000,
    user_agent: str | None = None,
) -> CrawlResult:
    """corpus: canonical url -> page dict with 'html' (bytes) at least."""
    frontier: dict[str, FrontierRow] = {}
    seen: set[str] = set()
    hosts: dict[str, HostState] = {}
    ledger: list[tuple[int, int, str]] = []
    breweries: list[dict] = []
    beers: list[dict] = []
    reviews: list[dict] = []
    users: list[dict] = []
    texts: dict[str, str] = {}
    robots_known_next: dict[str, RobotsRules] = {}

    def enqueue(url: str, page_type: str, depth: int, parent_ord: int,
                link_pos: int, rnd: int) -> None:
        if url in seen:
            return
        seen.add(url)
        host = host_of(url)
        frontier[url] = FrontierRow(
            url, host, page_type, depth, PAGE_PRIORITY[page_type],
            parent_ord, link_pos, rnd,
        )
        if host not in hosts:
            hosts[host] = HostState()
            r_url = canonicalize_url(f"https://{host}/robots.txt")
            if page_type != "robots" and r_url not in seen:
                seen.add(r_url)
                frontier[r_url] = FrontierRow(
                    r_url, host, "robots", 0, PAGE_PRIORITY["robots"], -1, 0, rnd
                )

    for i, s in enumerate(seeds):
        cu = canonicalize_url(s)
        enqueue(cu, classify_url(cu), 0, -1, i, 0)

    rnd = 0
    while rnd < max_rounds:
        rnd += 1
        # 0. robots state learned at the end of the previous round
        for h, rules in robots_known_next.items():
            st = hosts[h]
            st.robots_done = True
            st.rules = rules
            st.crawl_delay = rules.crawl_delay
        robots_known_next = {}

        # 1. robots marking
        for row in frontier.values():
            if row.state != "PENDING" or row.page_type == "robots":
                continue
            st = hosts[row.host]
            if st.robots_done and not st.rules.allowed(path_query_of(row.url)):
                row.state = "ROBOTS_BLOCKED"

        pending = [r for r in frontier.values() if r.state == "PENDING"]
        if not pending:
            break

        # 2. per-host admission
        admitted: list[FrontierRow] = []
        by_host: dict[str, list[FrontierRow]] = {}
        for r in pending:
            by_host.setdefault(r.host, []).append(r)
        for h in by_host:
            st = hosts[h]
            cands = by_host[h]
            if not st.robots_done:
                cands = [r for r in cands if r.page_type == "robots"]
                if not cands:
                    continue
            refill = round_seconds / st.crawl_delay
            st.tokens = min(TOKEN_BURST_FACTOR * refill, st.tokens + refill)
            k = min(int(math.floor(st.tokens)), len(cands))
            if k <= 0:
                continue
            cands.sort(key=FrontierRow.order_key)
            take = cands[:k]
            st.tokens -= k
            admitted.extend(take)

        if not admitted:
            # pending rows exist but none schedulable this round (tokens
            # starved) — loop; refill guarantees progress next round
            continue

        # 3. global deterministic order -> ledger
        admitted.sort(key=FrontierRow.order_key)
        for row in admitted:
            ledger.append((len(ledger), rnd, row.url))
            row.state = "SCHEDULED"

        # 4./5. fetch + parse; discoveries are MERGED per round (A9):
        # for a URL found via several parents this round, keep
        # min (depth, parent_ord, link_pos) — the same associative key
        # the engine's groupBy merge uses, so shuffle order can't matter.
        base_rank = len(ledger) - len(admitted)
        discovered: dict[str, tuple[int, int, int]] = {}
        for ord_in_batch, row in enumerate(admitted):
            my_rank = base_rank + ord_in_batch
            page = corpus.get(row.url)
            row.state = "DONE"
            if page is None:  # 404
                if row.page_type == "robots":
                    robots_known_next[row.host] = ALLOW_ALL
                continue
            html = page["html"].decode("utf-8")
            if row.page_type == "robots":
                robots_known_next[row.host] = parse_robots(html, user_agent)
                texts[row.url] = html  # robots text == raw body
                continue
            texts[row.url] = html_to_text(html)
            links = pf.extract_links(html, row.url)
            if row.page_type == "brewery":
                breweries.append(pf.parse_brewery(html, row.url))
            elif row.page_type == "beer":
                beers.append(pf.parse_beer(html, row.url))
                reviews.extend(pf.parse_reviews(html, row.url))
                nr = pf.parse_beer_n_ratings(html)
                for k, start in enumerate(range(25, nr, 25)):
                    links.append(
                        (row.url + f"?start={start}&view=beer", PAGINATION_LINK_POS + k)
                    )
            elif row.page_type == "review_page":
                reviews.extend(pf.parse_reviews(html, row.url))
            elif row.page_type == "user":
                users.append(pf.parse_user(html, row.url))
            for cu, pos in links:
                if classify_url(cu) == "other":
                    continue
                key = (row.depth + 1, my_rank, pos)
                if cu not in discovered or key < discovered[cu]:
                    discovered[cu] = key
        for cu in sorted(discovered):
            depth, p_ord, pos = discovered[cu]
            enqueue(cu, classify_url(cu), depth, p_ord, pos, rnd)

    return CrawlResult(
        ledger, seen, frontier, breweries, beers, reviews, users, texts, rnd
    )
