"""Crawl engine configuration.

Only what a caller sets: the politeness budget, the user agent, and the
three size thresholds at which a round switches to its scale path (tests
force each to 0 to run that path at smoke scale).  Layout constants
live beside their single use: the corpus layout is read from the
corpus's sidecar (``sources/corpus.py``), the seen-filter blob layout
is ``operators/seen.py``'s, and the salt count and the seen broadcast
bound are ``operators/politeness.py``'s and ``plans/crawl.py``'s (tests
force the seen dedupe's scale path by lowering that bound).
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
    # global-rank strategy: below this batch size a single-task window
    # sorts the (politeness-bounded) batch; above it, two-phase
    # range-partitioned ranking (operators/ordering.py).  64k keeps the
    # serial sort bounded while small rounds stay single-stage.
    big_batch_threshold: int = 1 << 16
    # hot-host salting (A14, operators/politeness.py:_salted_topk): a
    # quota-CONSTRAINED host with more than hot_host_threshold eligible
    # rows is ranked via salted two-phase top-k instead of one
    # single-task host window (same admit set; tested)
    hot_host_threshold: int = 4096
    # host_state joins broadcast below this many hosts (upper-bound
    # tracked in snapshot lineage); above it they fall back to a
    # co-partitioned shuffle join — a broadcast hash relation of 10^8
    # hosts per round won't fit executor memory
    broadcast_hosts_threshold: int = 5_000_000
