"""Crawl engine configuration.

Only what a caller sets: the politeness budget, the round horizon and
the user agent.  Layout constants and the size thresholds at which a
round switches to its scale path live beside their single use: the
corpus layout is read from the corpus's sidecar (``sources/corpus.py``),
the seen-filter blob layout is ``operators/seen.py``'s, the big-batch
rank and hot-host salting thresholds are ``operators/ordering.py``'s
and ``operators/politeness.py``'s, and the host-join and seen broadcast
bounds are ``plans/crawl.py``'s.  Tests force a scale path at smoke
scale by lowering its constant.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass
class CrawlConfig:
    # politeness: logical seconds of crawl budget per round (§4.2 —
    # round index is the only clock, so admission is deterministic
    # and cluster-size-independent)
    round_seconds: int = 16
    max_rounds: int = 100000
    # RFC 9309 product token the crawler advertises for robots group
    # selection (functions/robots.py::parse_robots): None -> only the
    # `User-agent: *` groups apply (the default, and the reference
    # behavior); a token selects case-insensitive matching groups and
    # then the `*` groups do NOT apply.  The sequential oracle takes
    # the same parameter, so the e2e differential covers it.
    user_agent: str | None = None
