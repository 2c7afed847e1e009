"""The crawl round loop + exact resume (SURVEY.md §3.1/§3.2).

One round = one Spark job DAG (driver orchestrates; all data paths are
DataFrame ops; Python only at the Arrow boundaries: the parse UDF and,
past the seen broadcast bound, the cuckoo filter blobs).  The parse
UDF returns typed columns (``operators.parse.PARSE_SCHEMA``), so the
round reads its outputs by column selection: the robots rules are
``inline``d straight from ``parsed.rules``, the links from
``link_urls``/``link_pos``.

Every round commits a snapshot — the PENDING frontier snapshot
(written straight off the round's checkpointed decision table, never
by joining/rewriting the full frontier history) plus append-only deltas (terminal frontier_log rows, seen, ledger,
parsed, metrics) — so ``resume`` continues bit-identically (§5.3
property).

Every round starts from the committed snapshot: it reads
``frontier``, ``host_state``, ``robots_rules`` and ``seen`` from the
catalog, which is also how ``resume`` and the streaming twin continue
a crawl.  Every table write but ``parsed`` (which the round reads
back) goes to one long-lived write pool as soon as its input is final,
so the writes' job latencies overlap each other and the round's later
phases instead of summing (the per-round serial floor governs N->4N
scaling efficiency).

Determinism inventory (§4.2): admission is a pure function of
(frontier, host_state, round index); the batch rank is a total order;
the discovery merge is min(struct); nothing reads wall-clock or
partition iteration order.  Hence local[8] == local[32] == N-executor
cluster, which is how the north rule's two-cluster-size criterion is
evidenced in-sandbox (BENCH/BASELINE.md).

Materialization rule: every intermediate a round consumes more than
once (the decide candidates, the decision table, the ranked batch and,
for a big batch, its range-partitioned input, the robots results, the
merged discoveries, the cuckoo probe output, the new rows and the new
frontier delta) is a ``localCheckpoint(eager=False)``, never a
``persist``.  That call is not lazy under AQE: it plans the query and
runs all of its shuffle map stages at the call, on the calling thread;
only the final result stage waits for the first consumer.  Downstream
plans then start from a ``LogicalRDD`` leaf: a cached relation would
embed its whole source plan in every consumer, and Spark re-renders those
multi-megabyte plan strings at every SQL execution start and adaptive
re-plan.  A leaf carries only the optimizer's size estimate,
not the measured size, so a join whose strategy needs the true size
takes it from the exact counts the round already holds (the parents
broadcast keys off ``n_admitted``); AQE re-plans the rest from shuffle
statistics (the 101k-URL bench crawl kept its wall time and hashes,
BENCH/BASELINE.md).  Checkpoint blocks are invisible to
``DataFrame.unpersist()``; ``_release`` frees them through the
checkpoint's own RDD, and only after the round's last consumer.

Commit rule: every round exit (drained, starved, admitting) builds an
``_Outcome`` holding its write futures; ``_loop`` then runs
``_commit`` on the round's own thread, which waits on those futures,
commits the round and releases its checkpoints, before the next round
starts.

Fault model: checkpoint blocks live only on the executors that built
them and have no lineage to recompute from.  A lost executor fails
the round's job; the crawl then restarts with ``resume`` from the last
committed snapshot, which re-runs the lost round bit-identically.
Faults follow program order: a failed job, write or commit raises out
of ``_loop`` before the next round begins, so no commit lands on top
of a failed one and the catalog head is always a round whose commits
all succeeded.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import asdict, dataclass, field, fields

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import CrawlConfig
from ..operators import links as L
from ..operators import seen as S
from ..operators.fetch import fetch_join
from ..operators.frontier import (
    DONE,
    PENDING,
    ROBOTS_BLOCKED,
    merge_discoveries,
    robots_injection,
    seed_frontier,
)
from ..operators.ordering import with_global_rank
from ..operators.parse import parse_fetched, records_from_parsed
from ..operators.politeness import (
    TOKEN_BURST_FACTOR,
    decide_round,
    host_updates_from_decided,
)
from ..sources.catalog import DELTA, REPLACE, SnapshotCatalog
from ..sources.corpus import CorpusLayout, pages_schema

# The seen dedupe's regime switch (step 7 of ``_run_round``).  While
# `seen` has at most this many rows, a broadcast anti-join drops
# already-seen child links map-side BEFORE the min-depth merge shuffle
# (most children are navigation back-links) and is the round's whole
# dedupe; beyond it the round merges, probes the cuckoo filter blobs
# and anti-joins the "maybe seen" rows, and only there are blobs built.
# ~2M urls ≈ 150 MB relation.
BROADCAST_SEEN_THRESHOLD = 2_000_000
# host_state joins broadcast up to this many hosts (the upper bound kept
# in the snapshot lineage); above it they shuffle: a broadcast hash
# relation of 10^8 hosts per round would not fit executor memory
BROADCAST_HOSTS_THRESHOLD = 5_000_000
# the most table writes one round hands the write pool (crawl_order,
# frontier_log, robots_rules, seen, frontier, host_state, round_metrics,
# seen_filter), so no write waits behind another
WRITE_POOL_SIZE = 8


@dataclass
class _Outcome:
    """What a round leaves to its commit (see ``_commit``)."""

    rnd: int                     # commit round: a fast-forward advances it
    next_rank: int
    n_hosts_ub: int | None
    staged: list                 # futures of the round's pooled writes
    extras: dict = field(default_factory=dict)  # drained/fast_forwarded_from
    metrics: dict | None = None
    release: list = field(default_factory=list)  # freed after the commit


def _commit(cat, cfg, out: _Outcome) -> None:
    """One round's commit: wait on its writes, commit, release.  A
    failed write raises before ``commit_round``."""
    for f in out.staged:
        f.result()
    lineage = {"next_rank": out.next_rank, "config": asdict(cfg),
               "n_hosts_ub": out.n_hosts_ub, **out.extras}
    cat.commit_round(out.rnd, lineage=lineage, metrics=out.metrics)
    _release(out.release)


def _release(dfs) -> None:
    """Free the blocks of localCheckpoint'd DataFrames.  Their plan is a
    ``LogicalRDD`` leaf over the checkpointed RDD, which is released
    directly: ``DataFrame.unpersist()`` only reaches cached relations.
    A checkpointed RDD cannot be recomputed, so call this only after
    every consumer has run."""
    for df in dfs:
        if df is not None:
            try:
                df._jdf.logicalPlan().rdd().unpersist(False)
            except Exception:
                pass  # session teardown races are benign here


def run(
    spark: SparkSession,
    pages_path: str,
    seeds: list[str],
    run_dir: str,
    cfg: CrawlConfig | None = None,
    max_rounds: int | None = None,
) -> SnapshotCatalog:
    """Fresh crawl: seed, then loop rounds until the frontier drains."""
    from ..functions.urlnorm import canonicalize_url, host_of

    cfg = cfg or CrawlConfig()
    cat = SnapshotCatalog(spark, run_dir)
    fr = seed_frontier(spark, seeds)
    robots_rows = robots_injection(fr, None, 0)
    frontier0 = fr.unionByName(robots_rows)
    host_state0 = frontier0.select("host").distinct().select(
        "host",
        F.lit(0.0).alias("tokens"),
        F.lit(1.0).alias("crawl_delay"),
        F.lit(False).alias("robots_done"),
    )
    seen0 = frontier0.select("url_hash", "url", F.lit(0).alias("round"))
    cat.write_round("frontier", frontier0, 0, REPLACE)
    cat.write_round("host_state", host_state0, 0, REPLACE)
    cat.write_round("seen", seen0, 0, DELTA)
    # host-count upper bound (drives broadcast-vs-shuffle host joins);
    # seeds are a driver-side list, so this costs no job
    n_hosts = len({host_of(canonicalize_url(s)) for s in seeds})
    cat.commit_round(0, lineage={"next_rank": 0, "config": asdict(cfg),
                                 "n_hosts_ub": n_hosts})
    return _loop(spark, cat, pages_path, cfg, max_rounds)


def resume(
    spark: SparkSession,
    pages_path: str,
    run_dir: str,
    cfg: CrawlConfig | None = None,
    max_rounds: int | None = None,
) -> SnapshotCatalog:
    """A18: continue from the latest committed snapshot, bit-identically.
    Per-partition lineage is validated first (A19): a missing/truncated
    part file rolls the snapshot back to the newest fully-valid round,
    whose lost successors are re-run deterministically.  Lineage config
    keys that are no longer ``CrawlConfig`` fields (options since
    removed, e.g. the corpus moduli and the filter layout, now read
    from the corpus sidecar and fixed in ``operators/seen.py``) are
    ignored."""
    cat = SnapshotCatalog(spark, run_dir)
    m = cat.latest()
    if m is None:
        raise ValueError(f"no snapshot to resume in {run_dir}")
    m = cat.rollback_to_valid()
    known = {f.name for f in fields(CrawlConfig)}
    cfg = cfg or CrawlConfig(**{
        k: v for k, v in (m.lineage.get("config") or {}).items() if k in known
    })
    return _loop(spark, cat, pages_path, cfg, max_rounds)


def _loop(spark, cat: SnapshotCatalog, pages_path, cfg, max_rounds):
    # the declared schema spares a schema-inference job per call
    pages = spark.read.schema(pages_schema()).parquet(pages_path)
    # the pruning layout comes only from the corpus writer's sidecar
    # (sources/corpus.py); no sidecar -> the fetch join scans unpruned
    layout = CorpusLayout.read(pages_path)
    m = cat.latest()
    # past the seen bound every round probes, so its blobs must cover
    # all of `seen` (operators/seen.py): a snapshot without them (a
    # fresh run writes none; a catalog copied without seen_filter) gets
    # them rebuilt, as an amend of its own round.  Table existence comes
    # from the manifest: cat.read() would run a schema-inference job.
    if (cat.rows("seen", m) > BROADCAST_SEEN_THRESHOLD
            and not m.tables.get("seen_filter", {}).get("paths")):
        cat.write_round("seen_filter", S.compact_blobs(cat.read("seen", m), m.round),
                        m.round, REPLACE)
        m = cat.commit_round(m.round, lineage=m.lineage, metrics=m.metrics)
    next_rank = int(m.lineage.get("next_rank", 0))
    n_hosts_ub = m.lineage.get("n_hosts_ub")
    rnd = m.round
    rounds_done = 0
    pool = ThreadPoolExecutor(max_workers=WRITE_POOL_SIZE)  # table writes
    try:
        while rnd < cfg.max_rounds and (max_rounds is None or rounds_done < max_rounds):
            rnd += 1
            t0 = time.time()
            progressed, out = _run_round(
                spark, cat, pages, layout, cfg, rnd, next_rank, n_hosts_ub, t0,
                pool,
            )
            # the next round reads this one's snapshot, so it starts
            # only once the commit has landed
            _commit(cat, cfg, out)
            # the commit round may come back advanced: a starved round
            # commits its no-op successors at once (fast-forward)
            rnd, next_rank, n_hosts_ub = out.rnd, out.next_rank, out.n_hosts_ub
            _prof(rnd, t0, "round end")
            rounds_done += 1
            if not progressed:
                break
    finally:
        pool.shutdown(wait=True)  # a failed round's other writes end first
    return cat


def _prof(rnd, t0, label):
    """Opt-in phase timing (SPARK_GRAFT_PROF=1): one line per round
    phase, elapsed-since-round-start.  The scaling-efficiency work
    lives or dies on knowing which phase stops scaling."""
    if os.environ.get("SPARK_GRAFT_PROF"):
        print(f"PROF r={rnd} +{time.time() - t0:7.2f}s {label}", flush=True)


def _run_round(
    spark, cat, pages, layout, cfg, rnd, next_rank, n_hosts_ub, t0, pool,
) -> tuple[bool, _Outcome]:
    """Returns (progressed, outcome); the outcome's ``rnd`` is AHEAD of
    the input when a starved round fast-forwards past its no-op
    successors (see the n_admitted == 0 branch)."""
    staged: list[Future] = []

    def write(name, df, mode, r=rnd):
        staged.append(pool.submit(cat.write_round, name, df, r, mode))

    hs = cat.read("host_state")
    rules = cat.read("robots_rules")
    # the frontier table holds ONLY pending rows (terminal rows go to
    # the append-only frontier_log).  The explicit repartition undoes
    # parquet scan-packing: a compact 1.3M-row frontier file otherwise
    # lands in 1-2 scan partitions and serializes the whole decision
    # pipeline (measured: same 7.7 s decide wall at 4 and 16 threads).
    # On a real cluster the state tables have many files and this
    # collapses to a cheap rebalance.
    dp = spark.sparkContext.defaultParallelism
    pending = cat.read("frontier").drop("state").repartition(dp, "url_hash")
    broadcast_hosts = (
        n_hosts_ub is None or n_hosts_ub <= BROADCAST_HOSTS_THRESHOLD
    )
    # 1.+2. robots marking + token-bucket admission fused into ONE
    # host-partitioned pipeline (A10/A11/A12); every per-round count
    # comes from a single aggregation over the checkpointed decision table
    decided, decide_cand = decide_round(
        pending, hs, rules, cfg.round_seconds, broadcast_hosts=broadcast_hosts,
    )
    decided = decided.localCheckpoint(eager=False)
    # the corpus-prune key set rides inside the SAME aggregation job
    # (bounded by the corpus layout's partition grid), so the round pays
    # one driver round-trip, not two
    prune_key = (layout.prune_key() if layout is not None
                 else F.lit(None).cast("string"))
    agg = decided.agg(
        F.sum(F.col("blocked").cast("long")).alias("nb"),
        F.sum((~F.col("blocked")).cast("long")).alias("np"),
        F.sum(F.col("admit").cast("long")).alias("na"),
        F.sum(
            (F.col("admit") & (F.col("page_type") == "robots")).cast("long")
        ).alias("nr"),
        F.sum((~F.col("host_known")).cast("long")).alias("nu"),
        F.collect_set(F.when(F.col("admit"), prune_key)).alias("pk"),
    ).collect()[0]
    prune_keys = list(agg["pk"] or [])
    _prof(rnd, t0, "decide agg done")
    n_blocked = int(agg["nb"] or 0)
    n_pending_after = int(agg["np"] or 0)
    n_admitted = int(agg["na"] or 0)
    n_robots = int(agg["nr"] or 0)
    if int(agg["nu"] or 0):
        raise RuntimeError(
            f"round {rnd}: {agg['nu']} pending rows reference hosts missing "
            "from host_state — something enqueued URLs without registering "
            "their hosts (politeness invariant; see decide_round docstring)"
        )
    admitted = decided.filter(F.col("admit")).select(*pending.columns)
    host_updates = host_updates_from_decided(decided)

    # terminal rows leave the frontier via the append-only log; the
    # remaining pending set comes straight off the checkpointed decision
    # table — NO per-round join against (or rewrite of) the full
    # frontier history, which is what makes a round O(pending + delta)
    # instead of O(all urls ever discovered)
    fcols = pending.columns
    terminal = decided.filter(F.col("blocked") | F.col("admit")).select(
        *fcols,
        F.when(F.col("blocked"), F.lit(ROBOTS_BLOCKED))
        .otherwise(F.lit(DONE)).alias("state"),
    )
    leftover = decided.filter(~F.col("blocked") & ~F.col("admit")).select(
        *fcols, F.lit(PENDING).alias("state")
    )

    release = [decided, decide_cand]
    if n_pending_after == 0:
        # drained: flush final terminal marks, empty the pending set, stop
        write("frontier", leftover, REPLACE)
        if n_blocked:
            write("frontier_log", terminal, DELTA)
        return False, _Outcome(rnd, next_rank, n_hosts_ub, staged,
                               extras={"drained": True}, release=release)

    if n_admitted == 0:
        # token starvation round: only terminal marks + refill bookkeeping.
        # Adaptive starved-round batching (round-4 VERDICT ask #4): a
        # starved round changes NOTHING except candidate hosts' token
        # levels.  Stored tokens are never negative (tokens_after =
        # tokens_refilled - admitted, admitted <= floor(tokens_refilled)),
        # so every candidate host holds tokens_refilled >= rr, its next
        # refill reaches burst = 2 x rr, and it admits then iff burst >= 1
        # token — else NEVER.  So a starved round either commits at its
        # own index (some candidate host admits next round) or, when
        # every candidate host is permanently starved, jumps the round
        # counter to the horizon in one commit, pre-applying the skipped
        # rounds' refill (without this, one slow host burns max_rounds x
        # the ~1.3 s round floor of empty driver rounds).
        # Ledger/seen/frontier semantics are untouched — skipped rounds
        # admit nothing by construction and the extra refill reproduces
        # the oracle's per-round iterated float math exactly (one
        # least(burst, t + r) step; a second iteration is a fixed point
        # at burst).  Only when this round logged no terminal rows
        # (n_blocked == 0), so every table delta stays round-exact.
        rnd_commit, extra_refill = rnd, False
        rr = F.lit(float(cfg.round_seconds)) / F.col("crawl_delay")
        burst = F.lit(TOKEN_BURST_FACTOR) * rr
        if n_blocked == 0:
            jrow = decided.where(F.col("n_elig") > 0).agg(
                F.count("*").alias("n"),
                F.count(F.when(burst >= 1.0, True)).alias("n_ready"),
            ).collect()[0]
            if jrow["n"] == 0:
                # structural deadlock: no host has any candidate and no
                # fetch is in flight to change that — the oracle idles
                # to max_rounds; commit once at the horizon instead
                rnd_commit = cfg.max_rounds
            elif jrow["n_ready"] == 0:
                # every candidate host is permanently starved
                # (burst < 1 token): idle to the horizon in one commit
                rnd_commit, extra_refill = cfg.max_rounds, True
        hs2 = _apply_host_updates(hs, host_updates, None, None)
        if extra_refill:
            cand_hosts = (
                decided.where(F.col("n_elig") > 0).select("host").distinct()
                .withColumn("_cand", F.lit(True))
            )
            hs2 = hs2.join(F.broadcast(cand_hosts), "host", "left").withColumn(
                "tokens",
                F.when(F.col("_cand"), F.least(burst, F.col("tokens") + rr))
                .otherwise(F.col("tokens")),
            ).drop("_cand")
        write("frontier", leftover, REPLACE, rnd_commit)
        if n_blocked:
            write("frontier_log", terminal, DELTA, rnd_commit)
        write("host_state", hs2, REPLACE, rnd_commit)
        out = _Outcome(rnd_commit, next_rank, n_hosts_ub, staged,
                       release=release)
        if rnd_commit != rnd:
            out.extras["fast_forwarded_from"] = rnd
        return True, out

    # 3. deterministic global order -> ledger (A20)
    ranked, rank_parts = with_global_rank(admitted, next_rank, n_admitted)
    ranked = ranked.localCheckpoint(eager=False)
    _prof(rnd, t0, "rank built")
    ledger = ranked.select("rank", F.lit(rnd).alias("round"), "url")

    # 4. fetch-join (A13) + 5. one-pass vectorized parse (A15/A5).
    # The parsed output (fat text/link/record columns) is materialized
    # ONCE — straight to its parquet delta, which the round must write
    # anyway — and read back for every downstream consumer.  This is
    # deliberately NOT .persist(): caching the wide strings costs more
    # than the parquet write, and the parquet read gets column pruning
    # (the link-explode below reads only the two link columns).
    fetched = fetch_join(ranked, pages, layout, batch_rows=n_admitted,
                         prune_keys=prune_keys)
    # the ledger (ranked is final) and the terminal log (decided is
    # final) are written now, so their job latencies (launch, output-
    # commit renames) hide under the dominant fetch+parse phase below
    # rather than the round-end tail.  `parsed` is written on this
    # thread: the round reads it back.
    write("crawl_order", ledger, DELTA)
    write("frontier_log", terminal, DELTA)
    cat.write_round("parsed", parse_fetched(fetched, cfg.user_agent), rnd, DELTA)
    _prof(rnd, t0, "fetch+parse+write done")
    parsed = cat.read_staged("parsed")
    seen = cat.read("seen")

    # robots results -> host updates effective next round (skipped
    # entirely in robots-free rounds — the common case)
    robots_res = None
    if n_robots:
        robots_res = (
            ranked.filter(F.col("page_type") == "robots")
            .select("url", "host")
            .join(parsed.select("url", "rules", "crawl_delay"), "url", "left")
            .select(
                "host",
                F.lit(True).alias("robots_done_new"),
                F.coalesce("crawl_delay", F.lit(1.0)).alias("crawl_delay_new"),
                "rules",
            )
            .localCheckpoint(eager=False)
        )
        new_rules = robots_res.select("host", F.inline("rules")).withColumnRenamed(
            "ord", "rule_ord")
        if new_rules.count():
            rules2 = new_rules if rules is None else rules.unionByName(new_rules)
            write("robots_rules", rules2, REPLACE)

    # 6. link discovery (A5 output + A16 pagination) -> children rows
    html_links = parsed.select(
        F.col("url").alias("parent_url"),
        F.explode(F.arrays_zip("link_urls", "link_pos")).alias("z"),
    ).select(
        "parent_url",
        F.col("z.link_urls").alias("link_url"),
        F.col("z.link_pos").cast("int").alias("link_pos"),
    )
    pag_links = L.pagination_links(parsed)
    all_links = html_links.unionByName(pag_links)
    parents = ranked.select(
        F.col("url").alias("parent_url"),
        F.col("rank").alias("parent_ord"),
        F.col("depth").alias("parent_depth"),
    )
    # a big batch's parents table isn't broadcast-small: its serial
    # driver-side hash-relation build costs ~10 s at 10^6 rows and
    # doesn't shrink with cluster size — shuffle-join instead there
    if n_admitted <= 100_000:
        parents = F.broadcast(parents)
    children = (
        all_links.join(parents, "parent_url")
        .select(
            F.col("link_url").alias("url"),
            (F.col("parent_depth") + 1).alias("depth"),
            "parent_ord",
            "link_pos",
        )
        .withColumn("page_type", L.classify_expr(F.col("url")))
        .filter(F.col("page_type") != "other")
        .withColumn("priority", L.priority_expr(F.col("page_type")))
        .withColumn("host", L.host_expr(F.col("url")))
        .withColumn("url_hash", L.url_hash_expr(F.col("url")))
    )
    # 7. seen-set dedupe, one per regime (row count is free from the
    # manifest; never 0 here, as `seen` holds every frontier url and
    # this round admitted some).  Below the bound: in the steady state
    # MOST child links point at already-seen urls (navigation/back-links
    # — 35M children vs ~100k genuinely new on the heavy bench round),
    # and shuffling them into the min-depth merge just to anti-join them
    # away afterwards made the link chain parallelism-independent.  So
    # while ``seen`` fits a broadcast, seen children are dropped
    # map-side BEFORE the merge, which is exact (a url's whole merge
    # group is either kept or dropped) and leaves nothing for a later
    # dedupe.
    # Beyond the bound: cuckoo pre-filter (A8), then the exact
    # anti-join (A7) of the "maybe seen" rows only.  ``pre`` feeds two
    # branches and ``new_rows`` several consumers (the frontier union +
    # robots_injection's host-distinct and url anti-join); Catalyst does
    # no cross-subtree CSE, so without the checkpoints the whole
    # explode+classify+merge+probe chain re-executes once per consumer
    # — measured as ~90 s/round at 16 threads on the 1.32M-URL round.
    seen_rows = cat.rows("seen")
    if seen_rows <= BROADCAST_SEEN_THRESHOLD:
        children = children.join(
            F.broadcast(seen.select("url")), "url", "left_anti")
        new_rows = _merge(children, rnd, t0)
        dedupe_parts = [new_rows]
    else:
        merged = _merge(children, rnd, t0)
        pre = S.cuckoo_prefilter(
            merged, cat.read("seen_filter")
        ).localCheckpoint(eager=False)
        definite_new = pre.filter(~F.col("maybe_seen")).drop("maybe_seen")
        maybe = pre.filter(F.col("maybe_seen")).drop("maybe_seen")
        new_rows = definite_new.unionByName(
            S.dedupe_exact(maybe, seen)).localCheckpoint(eager=False)
        dedupe_parts = [merged, pre, new_rows]
    robots_rows = robots_injection(new_rows, hs, rnd)
    new_frontier = new_rows.unionByName(robots_rows).localCheckpoint(eager=False)
    # one job: delta size + exact new-host count (the countDistinct is
    # over this round's NEW rows only, not the frontier)
    nf_agg = new_frontier.agg(
        F.count("*").alias("n"), F.countDistinct("host").alias("h")
    ).collect()[0]
    n_new = int(nf_agg["n"])
    _prof(rnd, t0, "links+dedupe+new-frontier done")
    if n_hosts_ub is not None:
        n_hosts_ub = n_hosts_ub + int(nf_agg["h"])  # upper bound: some known

    # 8. pending snapshot + terminal log + host state + deltas, one
    # snapshot commit (A17).  All writes are independent tables, so the
    # pool runs them CONCURRENTLY (Spark schedules jobs from multiple
    # driver threads) — the per-round serial floor is the sum of their
    # job latencies otherwise, which is exactly the Amdahl term that
    # kills N->4N scaling efficiency on small rounds.
    # the seen delta is fully determined by new_frontier (just counted
    # above), and it is the LARGEST tail write — submit it now so its
    # job overlaps the remaining driver-side plan construction below
    # (hs2/stats, pure py4j/Catalyst time) instead of queuing behind it
    seen_delta = new_frontier.select("url_hash", "url", F.lit(rnd).alias("round"))
    if n_new:
        write("seen", seen_delta, DELTA)
    new_hosts = (
        new_frontier.select("host").distinct()
        .join(hs.select("host"), "host", "left_anti")
        .select("host", F.lit(0.0).alias("tokens"),
                F.lit(1.0).alias("crawl_delay"), F.lit(False).alias("robots_done"))
    )
    hs2 = _apply_host_updates(hs, host_updates, robots_res, new_hosts)
    pending_next = leftover.unionByName(new_frontier)
    wall_ms = int((time.time() - t0) * 1000)
    stats = (
        parsed.groupBy("page_type")
        .agg(
            F.count("*").alias("n_scheduled"),
            F.sum((F.col("fetch_status") == 200).cast("int")).alias("n_fetched"),
            F.sum(F.size("link_urls")).alias("n_links_out"),
            F.sum(F.length("text")).alias("text_bytes"),
        )
        .withColumn("round", F.lit(rnd))
        .withColumn("n_new_urls", F.lit(n_new))
        .withColumn("n_blocked", F.lit(n_blocked))
        .withColumn("wall_ms", F.lit(wall_ms))
    )

    write("frontier", pending_next, REPLACE)
    write("host_state", hs2, REPLACE)
    write("round_metrics", stats, DELTA)
    # filter blobs only where a probe will read them: once `seen` ends
    # the round above the bound.  A REPLACE compaction on the crossing
    # round (it also drops blobs left stale below the bound) and every
    # FILTER_COMPACT_EVERY-th round, a delta blob otherwise.
    if seen_rows + n_new > BROADCAST_SEEN_THRESHOLD:
        if (seen_rows <= BROADCAST_SEEN_THRESHOLD
                or rnd % S.FILTER_COMPACT_EVERY == 0):
            # allowMissingColumns: a schema-evolved seen table (catalog
            # add-column) is wider than this round's delta; the filter
            # blobs consume url_hash only, so the nulls are harmless
            all_seen = seen.unionByName(seen_delta, allowMissingColumns=True)
            write("seen_filter", S.compact_blobs(all_seen, rnd), REPLACE)
        elif n_new:
            write("seen_filter", S.build_delta_blobs(new_frontier, rnd, n_new),
                  DELTA)
    return True, _Outcome(
        rnd, next_rank + n_admitted, n_hosts_ub, staged,
        metrics={"n_admitted": n_admitted, "n_new": n_new,
                 "n_blocked": n_blocked, "n_pending_before": n_pending_after},
        release=release + [ranked, rank_parts, robots_res, *dedupe_parts,
                           new_frontier],
    )


def _merge(children, rnd, t0):
    """The min-depth discovery merge, materialized once: later stages
    read the checkpoint instead of re-running explode+classify+merge."""
    merged = merge_discoveries(children, rnd).localCheckpoint(eager=False)
    merged.count()
    _prof(rnd, t0, "explode+classify+merge materialized")
    return merged


def _apply_host_updates(hs, token_updates, robots_res, new_hosts):
    out = hs
    if token_updates is not None:
        out = out.join(token_updates, "host", "left").withColumn(
            "tokens", F.coalesce(F.col("tokens_after"), F.col("tokens"))
        ).drop("tokens_after")
    if robots_res is not None:
        rr = robots_res.select("host", "robots_done_new", "crawl_delay_new")
        out = out.join(rr, "host", "left").select(
            "host",
            "tokens",
            F.coalesce("crawl_delay_new", "crawl_delay").alias("crawl_delay"),
            (F.col("robots_done") | F.coalesce("robots_done_new", F.lit(False))).alias(
                "robots_done"
            ),
        )
    if new_hosts is not None:
        out = out.unionByName(new_hosts)
    return out


# -- read-side views over the committed catalog --------------------------------

def result_tables(spark: SparkSession, run_dir: str) -> dict[str, DataFrame]:
    """Records/texts/order/seen views over the latest snapshot."""
    cat = SnapshotCatalog(spark, run_dir)
    parsed = cat.read("parsed")
    out: dict[str, DataFrame] = {}
    if parsed is not None:
        out.update(records_from_parsed(parsed))
        out["texts"] = parsed.filter(F.col("text").isNotNull()).select(
            "url", "page_type", "text"
        )
        out["parsed"] = parsed
    for t in ("crawl_order", "seen", "frontier", "frontier_log",
              "round_metrics", "host_state", "robots_rules", "seen_filter"):
        df = cat.read(t)
        if df is not None:
            out[t] = df
    # external "frontier" view = live pending snapshot + terminal log
    if "frontier" in out and "frontier_log" in out:
        out["frontier"] = out["frontier"].unionByName(out["frontier_log"])
    return out
