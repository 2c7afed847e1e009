"""Robots compliance + per-host politeness token bucket + top-k
admission (SURVEY.md §2 A10/A11/A12).

All decisions are functions of table state and the round index only —
never wall-clock or task scheduling — which is what makes admission
deterministic and cluster-size-invariant (§4.2).  Semantics mirror
oracle.crawl step-for-step (that equivalence is the e2e differential
test).

Physical notes for the 100 TB case:
- the rules table is tiny per host and broadcast into the blocking join;
- host_state joins broadcast by default and fall back to a
  co-partitioned shuffle join above a host-count threshold
  (``broadcast_hosts=False`` — at 10^8 hosts a per-round broadcast
  hash relation of the whole host table won't fit);
- the admission ranking partitions by host — the single hot host
  (ba.example by construction) makes this one fat partition.  Three
  guards bound it: unconstrained hosts (quota covers all eligible
  rows — the steady state) skip ranking entirely; constrained hosts
  rank only their own pending rows, not the frontier; and a
  quota-constrained HOT host (A14) is ranked via salted two-phase
  top-k (``_salted_topk``) so no single task ever sorts the whole
  host.  Fetch-side skew needs no salting: the fetch join key is the
  uniformly-hashed url (operators/fetch.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .links import path_query_expr
from .ordering import order_key

TOKEN_BURST_FACTOR = 2.0


def rule_match_expr(pq, rule):
    """RFC 9309 rule match as a pure column expression — the relational
    twin of functions/robots.py::rule_matches (differential-tested over
    the same rule/path grid, tests/test_functions.py).

    Literal rules (no ``*``, no trailing ``$`` — every rule in the
    reference site model) keep the codegen'd ``startswith`` fast path;
    wildcard rules are translated to a Java regex IN-PLAN (escape all
    metacharacters, then escaped ``\\*`` -> ``.*``, then a trailing
    escaped ``\\$`` back into the end anchor) and matched with a
    per-row RLIKE.  Rules tables are tiny and broadcast, so the
    non-foldable-regex cost is bounded by candidate count, and only
    wildcard-bearing rules pay it."""
    has_wild = rule.contains("*") | rule.endswith("$")
    esc = F.regexp_replace(rule, "([^a-zA-Z0-9_])", "\\\\$1")
    star = F.regexp_replace(esc, "\\\\\\*", ".*")
    body = F.when(
        rule.endswith("$"),
        F.concat(star.substr(F.lit(1), F.length(star) - F.lit(2)), F.lit("$")),
    ).otherwise(star)
    return F.when(
        has_wild, F.regexp_like(pq, F.concat(F.lit("^"), body))
    ).otherwise(pq.startswith(rule))


def mark_robots_blocked(
    pending: DataFrame, host_state: DataFrame, rules: DataFrame | None
) -> DataFrame:
    """URLs of PENDING non-robots rows on robots-known hosts that the
    host's rules disallow (longest-prefix wins; tie -> Allow)."""
    known = host_state.filter(F.col("robots_done")).select("host")
    cand = (
        pending.filter(F.col("page_type") != "robots")
        .join(F.broadcast(known), "host")
        .select("url", "host", path_query_expr(F.col("url")).alias("pq"))
    )
    if rules is None:
        return cand.select("url").limit(0)
    matched = cand.join(
        F.broadcast(rules), on=["host"], how="inner"
    ).where(rule_match_expr(F.col("pq"), F.col("prefix")))
    w = Window.partitionBy("url").orderBy(
        F.length("prefix").desc(), F.col("allow").desc()
    )
    decided = (
        matched.withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) & (~F.col("allow")))
        .select("url")
    )
    return decided


def decide_round(
    pending: DataFrame,
    host_state: DataFrame,
    rules: DataFrame | None,
    round_seconds: int,
    broadcast_hosts: bool = True,
    hot_host_threshold: int | None = None,
    n_salts: int = 16,
    checkpoint_cand: bool = False,
) -> tuple[DataFrame, DataFrame | None]:
    """A10+A11+A12 fused into ONE host-partitioned pipeline.

    Returns ``(decided, cand)``: ``cand`` is the localCheckpoint'd
    shared candidate table when ``checkpoint_cand`` is set (the caller
    releases its blocks after the round's actions), else None — an
    explicit pair, not an attribute smuggled on the DataFrame, which
    silently breaks under copies/Spark Connect.

    ``decided`` carries every PENDING row with decision flags:
      blocked   — robots-disallowed (A10; longest-prefix, tie -> Allow)
      eligible  — competes for admission this round (not blocked; host's
                  robots known, or the row IS the robots fetch)
      admit     — within the host's token quota this round (A11/A12)
      host_known — host present in host_state.  Every enqueued host is
                  registered by the round loop's new_hosts upsert; a
                  False here means a caller enqueued without
                  registering, and the loop fails loudly on it (the
                  row is retained, not silently dropped).
      tokens_refilled / n_elig — the token-bucket state the round loop
                  turns into host_state updates

    One materialized result replaces the three separate jobs (blocked
    count, admitted count, pending count) the loop used to run: all
    counts come from a single aggregation over this DataFrame.  The
    blocked decision is a hash-aggregate (max over (prefix_len, allow)
    structs == longest-prefix-wins, tie -> Allow), not a window sort.
    Admission ranks eligible rows first inside the host window, so
    ``row_number() <= quota`` admits exactly the per-host top-k of the
    eligible subset.  Semantics identical to oracle.crawl steps 1–2
    (differentially tested).

    Physical knobs (none affect results — §4.2 determinism):
      broadcast_hosts — False once the host table outgrows a broadcast
        hash relation (10^8 hosts); both host-side joins then go
        through a co-partitioned shuffle (AQE strategy).
      hot_host_threshold / n_salts — A14 salted-key skew splitting: a
        quota-constrained host with more than ``hot_host_threshold``
        eligible rows is ranked in two phases — per-(host, salt)
        partial top-quota over ``pmod(xxhash64(url), n_salts)`` salts
        (spreads the hot host over n_salts tasks), then a final rank
        over the <= n_salts*quota survivors.  Exact same admit set as
        the single-window sort (total order, content-keyed salt).
    """
    hs_marked = host_state.select(
        "host", "tokens", "crawl_delay", "robots_done"
    ).withColumn("host_known", F.lit(True))
    if broadcast_hosts:
        hs_marked = F.broadcast(hs_marked)
    cand = (
        pending.join(hs_marked, "host", "left")
        .withColumn("host_known", F.coalesce("host_known", F.lit(False)))
        .withColumn("tokens", F.coalesce("tokens", F.lit(0.0)))
        .withColumn("crawl_delay", F.coalesce("crawl_delay", F.lit(1.0)))
        .withColumn("robots_done", F.coalesce("robots_done", F.lit(False)))
    )
    if rules is None:
        cand = cand.withColumn("blocked", F.lit(False))
    else:
        verdict = (
            pending.filter(F.col("page_type") != "robots")
            .select("url", "host", path_query_expr(F.col("url")).alias("pq"))
            .join(F.broadcast(rules), ["host"])
            .where(rule_match_expr(F.col("pq"), F.col("prefix")))
            .groupBy("url")
            .agg(F.max(F.struct(F.length("prefix").alias("l"), "allow")).alias("m"))
            .select("url", (~F.col("m.allow")).alias("_disallowed"))
        )
        cand = cand.join(verdict, "url", "left").withColumn(
            "blocked",
            F.col("robots_done")
            & (F.col("page_type") != "robots")
            & F.coalesce(F.col("_disallowed"), F.lit(False)),
        ).drop("_disallowed")

    eligible = (
        ~F.col("blocked")
        & (F.col("robots_done") | (F.col("page_type") == "robots"))
    )
    refill = F.lit(float(round_seconds)) / F.col("crawl_delay")
    cand = cand.withColumn("eligible", eligible).withColumn(
        "tokens_refilled",
        F.least(F.lit(TOKEN_BURST_FACTOR) * refill, F.col("tokens") + refill),
    ).withColumn("quota", F.floor("tokens_refilled").cast("long"))
    # this subtree is consumed FOUR times (elig_counts' broadcast job +
    # the three admit branches below); Catalyst does no cross-subtree
    # CSE, so each consumer would re-scan the frontier and re-run the
    # joins — a fixed multi-job latency floor on every round.  The
    # round loop opts in and releases the blocks via the handle on the
    # result.  A checkpoint, not a persist: downstream plans start from
    # a LogicalRDD leaf instead of embedding (and re-rendering) this
    # whole subtree.
    if checkpoint_cand:
        cand = cand.localCheckpoint(eager=False)
    # the handle must be the checkpoint itself: ``cand`` is rebound to
    # the joined table below, whose release would free nothing
    shared = cand if checkpoint_cand else None
    # per-host eligible count via partial-aggregated groupBy + join
    # back — NOT a host window, which would drag every row of the
    # hot host into one task (the single-host skew is by construction)
    elig_counts = (
        cand.where(F.col("eligible"))
        .groupBy("host")
        .agg(F.count("*").alias("n_elig"))
    )
    if broadcast_hosts:
        elig_counts = F.broadcast(elig_counts)
    cand = cand.join(elig_counts, "host", "left").withColumn(
        "n_elig", F.coalesce(F.col("n_elig"), F.lit(0))
    )
    # Hot-host guard: the per-host top-k sort is only needed when the
    # quota actually binds (n_elig > quota).  In the common saturated
    # case quota covers every candidate, and ranking the single hot
    # host's millions of rows in one window task would serialize the
    # round — so unconstrained hosts admit all eligible rows with no
    # sort, and the ranking window runs only over constrained hosts'
    # rows (empty in the steady state).  Host-level branch choice can't
    # depend on partitioning, so determinism is preserved.
    unconstrained = cand.where(F.col("n_elig") <= F.col("quota")).withColumn(
        "admit", F.col("eligible") & (F.col("n_elig") > 0)
    )
    w_rank = Window.partitionBy("host").orderBy(
        F.col("eligible").desc(), *order_key(cand)
    )
    is_hot = (
        F.col("n_elig") > F.lit(hot_host_threshold)
        if hot_host_threshold is not None
        else F.lit(False)
    )
    constrained = (
        cand.where((F.col("n_elig") > F.col("quota")) & ~is_hot)
        .withColumn("rn", F.row_number().over(w_rank))
        .withColumn(
            "admit",
            F.col("eligible") & (F.col("n_elig") > 0) & (F.col("rn") <= F.col("quota")),
        )
        .drop("rn")
    )
    out = unconstrained.unionByName(constrained)
    if hot_host_threshold is not None:
        out = out.unionByName(
            _salted_topk(cand.where((F.col("n_elig") > F.col("quota")) & is_hot),
                         n_salts)
        )
    out = out.drop("quota", "robots_done")
    return out, shared


def _salted_topk(hot: DataFrame, n_salts: int) -> DataFrame:
    """A14: exact per-host top-quota admission for quota-constrained
    hot hosts WITHOUT a single-task host-wide sort.  Phase 1 ranks
    within (host, salt) — the hot host's rows spread over ``n_salts``
    tasks — keeping each salt's top quota (a row outside its salt's
    top-quota has >= quota rows of its own salt ahead of it in the
    total order, so it cannot be in the host top-quota).  Phase 2
    ranks the <= n_salts*quota survivors per host and marks the true
    winners; every input row is RETAINED with its admit flag (the
    decided table is also the next round's pending source)."""
    salted = hot.withColumn("_salt", F.pmod(F.xxhash64("url"), F.lit(n_salts)))
    w1 = Window.partitionBy("host", "_salt").orderBy(
        F.col("eligible").desc(), *order_key(hot)
    )
    w2 = Window.partitionBy("host").orderBy(F.col("eligible").desc(), *order_key(hot))
    winners = (
        salted.withColumn("_rn1", F.row_number().over(w1))
        .where(F.col("_rn1") <= F.col("quota"))
        .withColumn("_rn2", F.row_number().over(w2))
        .where(F.col("eligible") & (F.col("_rn2") <= F.col("quota")))
        .select("url")
        .withColumn("_win", F.lit(True))
    )
    return (
        hot.join(winners, "url", "left")
        .withColumn(
            "admit",
            F.col("eligible") & (F.col("n_elig") > 0)
            & F.coalesce(F.col("_win"), F.lit(False)),
        )
        .drop("_win")
    )


def host_updates_from_decided(decided: DataFrame) -> DataFrame:
    """(host, tokens_after) for hosts that had candidates this round —
    hosts without candidates do not refill (oracle parity)."""
    return (
        decided.where(F.col("n_elig") > 0)
        .groupBy("host")
        .agg(
            (
                F.first("tokens_refilled")
                - F.sum(F.col("admit").cast("long"))
            ).alias("tokens_after")
        )
    )


def admit(
    pending: DataFrame,
    host_state: DataFrame,
    round_seconds: int,
) -> tuple[DataFrame, DataFrame]:
    """One round of token-bucket admission.

    Returns (admitted rows, host token/refill updates).  Candidates per
    host are its robots row(s) until robots_done, else all pending rows;
    hosts WITHOUT candidates this round do not refill (oracle parity).
    """
    cand = pending.join(
        F.broadcast(host_state.select("host", "tokens", "crawl_delay", "robots_done")),
        "host",
    ).where(F.col("robots_done") | (F.col("page_type") == "robots"))

    refill = F.lit(float(round_seconds)) / F.col("crawl_delay")
    budgets = (
        cand.groupBy("host")
        .agg(
            F.count("*").alias("n_cand"),
            F.first("tokens").alias("tokens"),
            F.first("crawl_delay").alias("crawl_delay"),
        )
        .withColumn(
            "tokens_refilled",
            F.least(F.lit(TOKEN_BURST_FACTOR) * refill, F.col("tokens") + refill),
        )
        .withColumn("quota", F.floor("tokens_refilled").cast("int"))
    )

    w = Window.partitionBy("host").orderBy(*order_key(cand))
    admitted = (
        cand.join(F.broadcast(budgets.select("host", "quota")), "host")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= F.col("quota"))
        .drop("rn", "quota", "tokens", "crawl_delay", "robots_done")
    )
    spent = admitted.groupBy("host").agg(F.count("*").alias("n_admitted"))
    host_updates = (
        budgets.join(spent, "host", "left")
        .withColumn(
            "tokens_after",
            F.col("tokens_refilled") - F.coalesce(F.col("n_admitted"), F.lit(0)),
        )
        .select("host", "tokens_after")
    )
    return admitted, host_updates
