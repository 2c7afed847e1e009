"""The crawl round loop + exact resume (SURVEY.md §3.1/§3.2).

One round = one Spark job DAG (driver orchestrates; all data paths are
DataFrame ops; Python only at the two Arrow boundaries: parse UDF and
cuckoo cogroup).  Every round commits a snapshot — the PENDING
frontier snapshot (written straight off the round's checkpointed
decision table, never by joining/rewriting the full frontier history)
plus append-only deltas (terminal frontier_log rows, seen, ledger,
parsed, metrics) — so ``resume`` continues bit-identically (§5.3
property).
Independent table writes are submitted from concurrent driver threads:
the commit barrier waits for all of them, but their job latencies
overlap instead of summing (the per-round serial floor governs N->4N
scaling efficiency).

Determinism inventory (§4.2): admission is a pure function of
(frontier, host_state, round index); the batch rank is a total order;
the discovery merge is min(struct); nothing reads wall-clock or
partition iteration order.  Hence local[8] == local[32] == N-executor
cluster, which is how the north rule's two-cluster-size criterion is
evidenced in-sandbox (BENCH/BASELINE.md).

Materialization rule: every intermediate a round consumes more than
once (the decide candidates, the decision table, the ranked batch, the
robots results, the merged discoveries, the cuckoo probe output, the
new rows and the new frontier delta) and the carry handed to the next
round is a lazy ``localCheckpoint``, never a ``persist``.  Downstream
plans then start from a ``LogicalRDD`` leaf: a cached relation would
embed its whole source plan in every consumer, and Spark re-renders
those multi-megabyte plan strings at every SQL execution start and
adaptive re-plan.  A leaf carries only the optimizer's size estimate,
not the measured size, so a join whose strategy needs the true size
takes it from the exact counts the round already holds (the parents
broadcast keys off ``n_admitted``); AQE re-plans the rest from shuffle
statistics (the 101k-URL bench crawl kept its wall time and hashes,
BENCH/BASELINE.md).  Checkpoint blocks are invisible to
``DataFrame.unpersist()``; ``_release`` frees them through the
checkpoint's own RDD, and only after the round's last consumer.

Fault model: checkpoint blocks live only on the executors that built
them and have no lineage to recompute from.  A lost executor fails
the round's job; the crawl then restarts with ``resume`` from the last
committed snapshot, which re-runs the lost round bit-identically.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import asdict, dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import CrawlConfig
from ..operators import links as L
from ..operators import seen as S
from ..operators.fetch import fetch_join, prune_key_expr
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
from ..sources.corpus import read_corpus_meta

RULES_JSON_SCHEMA = "rules array<struct<ord: int, allow: boolean, prefix: string>>"


@dataclass
class _Carry:
    """Round-r state handed to round r+1 so r's writes+commit can run
    in the BACKGROUND while r+1 computes (the pipelined-commit attack
    on the per-round serial floor — round-2 VERDICT ask #8).

    Only the tables round r+1 needs BEFORE the commit barrier travel in
    memory: the pending frontier and host_state (consumed by decide)
    plus the robots rules (a round that CHANGES rules commits
    synchronously and drops the carry, so a carried ``rules`` is always
    the committed one).  ``seen``/``seen_filter`` are re-read from the
    catalog after the barrier — no cross-round in-memory lineage chains.
    Exact-resume is untouched: the barrier sits before round r+1's
    first staged write, commits stay ordered and all-or-nothing, and a
    failed background write surfaces at the barrier before any r+1
    state is staged."""

    frontier: "DataFrame"            # localCheckpoint'd pending rows
    host_state: "DataFrame"          # localCheckpoint'd
    rules: "DataFrame | None"        # committed rules (never in-memory-new)
    commit: Future                   # round r's writes + commit + cleanup


def _join_commit(carry: "_Carry | None") -> None:
    if carry is not None:
        carry.commit.result()


def _carry_dfs(carry: "_Carry | None") -> list:
    return [] if carry is None else [carry.frontier, carry.host_state]


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


def _read_pages(spark: SparkSession, pages_path: str, cache: bool) -> DataFrame:
    df = spark.read.parquet(pages_path)
    return df.persist() if cache else df


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
    robots_rows = robots_injection(fr, None, None, 0)
    frontier0 = fr.unionByName(robots_rows)
    host_state0 = frontier0.select("host").distinct().select(
        "host",
        F.lit(0.0).alias("tokens"),
        F.lit(1.0).alias("crawl_delay"),
        F.lit(False).alias("robots_done"),
    )
    seen0 = frontier0.select("url_hash", "url", F.lit(0).alias("round"))
    cat.write_round("frontier", frontier0, 0, REPLACE,
                    skip_if_empty=False, n_rows=None)
    cat.write_round("host_state", host_state0, 0, REPLACE, skip_if_empty=False)
    cat.write_round("seen", seen0, 0, DELTA)
    if cfg.use_cuckoo:
        cat.write_round(
            "seen_filter",
            S.build_delta_blobs(seen0, cfg.n_filter_partitions, 0,
                                kind=cfg.filter_kind),
            0, DELTA, skip_if_empty=False,
        )
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
    whose lost successors are re-run deterministically.  Missing filter
    blobs (e.g. catalog copied without seen_filter) are rebuilt from
    the authoritative ``seen`` table."""
    cat = SnapshotCatalog(spark, run_dir)
    m = cat.latest()
    if m is None:
        raise ValueError(f"no snapshot to resume in {run_dir}")
    m = cat.rollback_to_valid()
    cfg = cfg or CrawlConfig(**{
        k: v for k, v in (m.lineage.get("config") or {}).items()
    })
    # table existence from the manifest: cat.read() would run a parquet
    # schema-inference job per table just to answer None or not
    if (cfg.use_cuckoo and not m.tables.get("seen_filter", {}).get("paths")
            and m.tables.get("seen", {}).get("paths")):
        cat.write_round(
            "seen_filter",
            S.compact_blobs(cat.read("seen"), cfg.n_filter_partitions, m.round,
                            kind=cfg.filter_kind),
            m.round, REPLACE, skip_if_empty=False,
        )
        cat.commit_round(m.round, lineage=m.lineage, metrics=m.metrics)
    return _loop(spark, cat, pages_path, cfg, max_rounds)


def _loop(spark, cat: SnapshotCatalog, pages_path, cfg, max_rounds):
    pages = _read_pages(spark, pages_path, cfg.cache_pages)
    # two-level partition layout? the pruning moduli MUST come from the
    # corpus writer's sidecar metadata (sources/corpus.py) — inferring
    # files_per_bucket from max(file_in_bucket)+1 is wrong whenever the
    # top residue is unoccupied, and the resulting mis-pruning reports
    # silent false 404s.  No sidecar + no explicit cfg value means the
    # file-level prune is disabled (bucket-level pruning still applies).
    fpb = cfg.files_per_bucket
    if fpb is None and "file_in_bucket" in pages.columns:
        meta = read_corpus_meta(pages_path)
        if meta is not None:
            fpb = int(meta["files_per_bucket"])
            if int(meta["n_buckets"]) != cfg.n_page_buckets:
                raise ValueError(
                    f"corpus written with n_buckets={meta['n_buckets']} but "
                    f"cfg.n_page_buckets={cfg.n_page_buckets}; bucket pruning "
                    "would scan the wrong directories"
                )
    cfg._files_per_bucket = fpb
    m = cat.latest()
    next_rank = int(m.lineage.get("next_rank", 0))
    n_hosts_ub = m.lineage.get("n_hosts_ub")
    rnd = m.round
    rounds_done = 0
    carry: _Carry | None = None
    ex = ThreadPoolExecutor(max_workers=1)  # ordered background commits
    # early-write pool: ledger + terminal-log rows are fully determined
    # right after decide/rank, so their (constant-heavy: job launch,
    # output-commit renames, manifest fsync) write latency hides under
    # the round's dominant fetch+parse phase instead of landing on the
    # round-end serial tail — measured ~12 s/heavy-round of
    # parallelism-independent write cost at local[4] (prof r5/r6),
    # which is exactly the Amdahl term the north rule's N->4N
    # efficiency criterion punishes.
    # two workers: the ledger/terminal pair and the (later-staged) seen
    # delta are independent writes — the seen job must not queue behind
    # the first batch when a heavy round staggers the submissions
    ex_early = ThreadPoolExecutor(max_workers=2)
    try:
        while rnd < cfg.max_rounds and (max_rounds is None or rounds_done < max_rounds):
            rnd += 1
            t0 = time.time()
            # rnd comes back possibly advanced: starved rounds batch
            # their no-op successors into one commit (fast-forward)
            progressed, rnd, next_rank, n_hosts_ub, carry = _run_round(
                spark, cat, pages, cfg, rnd, next_rank, n_hosts_ub, t0, carry, ex,
                ex_early,
            )
            _prof(rnd, t0, "round end")
            rounds_done += 1
            if not progressed:
                break
        # drain the last pending commit (e.g. max_rounds cap hit) so the
        # returned catalog reflects every completed round; a background
        # write failure must PROPAGATE here, not be swallowed
        if carry is not None:
            carry.commit.result()
            _release(_carry_dfs(carry))
            carry = None
    finally:
        if carry is not None:  # exception path: best-effort drain only
            try:
                carry.commit.result()
            except Exception:
                pass  # the original in-round exception is the signal
            _release(_carry_dfs(carry))
        ex.shutdown(wait=True)
        ex_early.shutdown(wait=True)
        if cfg.cache_pages:
            pages.unpersist()
    return cat


def _prof(rnd, t0, label):
    """Opt-in phase timing (SPARK_GRAFT_PROF=1): one line per round
    phase, elapsed-since-round-start.  The scaling-efficiency work
    lives or dies on knowing which phase stops scaling."""
    if os.environ.get("SPARK_GRAFT_PROF"):
        print(f"PROF r={rnd} +{time.time() - t0:7.2f}s {label}", flush=True)


def _run_round(
    spark, cat, pages, cfg, rnd, next_rank, n_hosts_ub, t0, carry, ex, ex_early
) -> tuple[bool, int, int, int | None, "_Carry | None"]:
    """Returns (progressed, rnd, next_rank, n_hosts_ub, carry); ``rnd``
    may come back AHEAD of the input when a starved round fast-forwards
    past its no-op successors (see the n_admitted == 0 branch)."""
    if carry is not None:
        # pipelined round: decide consumes the previous round's
        # checkpointed in-memory state while its writes+commit run in the
        # background; already pending-only (the filter is a schema-
        # preserving no-op) and spread (union of the decide
        # repartition's and the merge shuffle's partitions)
        pending = carry.frontier.filter(F.col("state") == PENDING).drop("state")
        hs = carry.host_state
        rules = carry.rules
    else:
        fr = cat.read("frontier")
        hs = cat.read("host_state")
        rules = cat.read("robots_rules")
        # the frontier table holds ONLY pending rows (terminal rows go
        # to the append-only frontier_log) — the filter is a no-op kept
        # for resume compatibility with pre-split run dirs.  The
        # explicit repartition undoes parquet scan-packing: a compact
        # 1.3M-row frontier file otherwise lands in 1-2 scan partitions
        # and serializes the whole decision pipeline (measured: same
        # 7.7 s decide wall at 4 and 16 threads).  On a real cluster
        # the state tables have many files and this collapses to a
        # cheap rebalance.
        dp = spark.sparkContext.defaultParallelism
        pending = (
            fr.filter(F.col("state") == PENDING).drop("state")
            .repartition(dp, "url_hash")
        )
    broadcast_hosts = (
        n_hosts_ub is None or n_hosts_ub <= cfg.broadcast_hosts_threshold
    )
    # 1.+2. robots marking + token-bucket admission fused into ONE
    # host-partitioned pipeline (A10/A11/A12); every per-round count
    # comes from a single aggregation over the checkpointed decision table
    decided, decide_cand = decide_round(
        pending, hs, rules, cfg.round_seconds,
        broadcast_hosts=broadcast_hosts,
        hot_host_threshold=cfg.hot_host_threshold,
        n_salts=cfg.n_salts,
        checkpoint_cand=True,
    )
    decided = decided.localCheckpoint(eager=False)
    # the corpus-prune key set rides inside the SAME aggregation job
    # (bounded by the n_buckets x files_per_bucket partition grid), so
    # the round pays one driver round-trip, not two
    agg = decided.agg(
        F.sum(F.col("blocked").cast("long")).alias("nb"),
        F.sum((~F.col("blocked")).cast("long")).alias("np"),
        F.sum(F.col("admit").cast("long")).alias("na"),
        F.sum(
            (F.col("admit") & (F.col("page_type") == "robots")).cast("long")
        ).alias("nr"),
        F.sum((~F.col("host_known")).cast("long")).alias("nu"),
        F.collect_set(
            F.when(
                F.col("admit"),
                prune_key_expr(cfg.n_page_buckets,
                               getattr(cfg, "_files_per_bucket", None)),
            )
        ).alias("pk"),
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

    if n_pending_after == 0:
        # drained: flush final terminal marks, empty the pending set, stop
        _join_commit(carry)  # staging is shared state: barrier first
        cat.write_round("frontier", leftover, rnd, REPLACE,
                        skip_if_empty=False, n_rows=0)
        cat.write_round("frontier_log", terminal, rnd, DELTA, n_rows=n_blocked)
        cat.commit_round(rnd, lineage={"next_rank": next_rank, "drained": True,
                                       "config": asdict(cfg),
                                       "n_hosts_ub": n_hosts_ub})
        _release([decided, decide_cand, *_carry_dfs(carry)])
        return False, rnd, next_rank, n_hosts_ub, None

    if n_admitted == 0:
        # token starvation round: only terminal marks + refill bookkeeping.
        # Adaptive starved-round batching (round-4 VERDICT ask #4): a
        # starved round changes NOTHING except candidate hosts' token
        # levels, so consecutive starved rounds are collapsed into this
        # one commit by pre-applying the skipped rounds' refills and
        # jumping the round counter.  Because burst = 2x refill, a
        # candidate host either admits within 2 refills or NEVER can
        # (burst < 1 token): the skip distance is 1 round — or the
        # whole remaining budget when every candidate host is
        # permanently starved (without this, one slow host burns
        # max_rounds x the ~1.3 s round floor of empty driver rounds).
        # Ledger/seen/frontier semantics are untouched — skipped rounds
        # admit nothing by construction and the extra refill reproduces
        # the oracle's per-round iterated float math exactly (one
        # least(burst, t + r) step; a second iteration is a fixed point
        # at burst).  Only when this round logged no terminal rows
        # (n_blocked == 0), so every table delta stays round-exact.
        rnd_commit, extra_refill = rnd, False
        if n_blocked == 0:
            rr = F.lit(float(cfg.round_seconds)) / F.col("d")
            t2 = F.least(F.lit(TOKEN_BURST_FACTOR) * rr, F.col("t") + rr)
            jrow = (
                decided.where(F.col("n_elig") > 0)
                .groupBy("host")
                .agg(F.first("tokens_refilled").alias("t"),
                     F.first("crawl_delay").alias("d"))
                .select(
                    F.min(
                        F.when(t2 >= 1.0, F.lit(1))
                        .when(F.lit(TOKEN_BURST_FACTOR) * rr >= 1.0, F.lit(2))
                    ).alias("jmin"),
                    F.count("*").alias("nh"),
                ).collect()[0]
            )
            if jrow["nh"] == 0:
                # structural deadlock: no host has any candidate and no
                # fetch is in flight to change that — the oracle idles
                # to max_rounds; commit once at the horizon instead
                rnd_commit = cfg.max_rounds
            elif jrow["jmin"] == 2:
                rnd_commit, extra_refill = rnd + 1, True
            elif jrow["jmin"] is None:
                # every candidate host is permanently starved
                # (burst < 1 token): idle to the horizon in one commit
                rnd_commit, extra_refill = cfg.max_rounds, True
        hs2 = _apply_host_updates(hs, host_updates, None, None)
        if extra_refill:
            cand_hosts = (
                decided.where(F.col("n_elig") > 0).select("host").distinct()
                .withColumn("_cand", F.lit(True))
            )
            rr2 = F.lit(float(cfg.round_seconds)) / F.col("crawl_delay")
            hs2 = hs2.join(F.broadcast(cand_hosts), "host", "left").withColumn(
                "tokens",
                F.when(
                    F.col("_cand"),
                    F.least(F.lit(TOKEN_BURST_FACTOR) * rr2,
                            F.col("tokens") + rr2),
                ).otherwise(F.col("tokens")),
            ).drop("_cand")
        _join_commit(carry)
        _write_all([
            lambda: cat.write_round("frontier", leftover, rnd_commit, REPLACE,
                                    skip_if_empty=False,
                                    n_rows=n_pending_after),
            lambda: cat.write_round("frontier_log", terminal, rnd_commit,
                                    DELTA, n_rows=n_blocked),
            lambda: cat.write_round("host_state", hs2, rnd_commit, REPLACE,
                                    skip_if_empty=False),
        ])
        lineage = {"next_rank": next_rank, "config": asdict(cfg),
                   "n_hosts_ub": n_hosts_ub}
        if rnd_commit != rnd:
            lineage["fast_forwarded_from"] = rnd
        cat.commit_round(rnd_commit, lineage=lineage)
        _release([decided, decide_cand, *_carry_dfs(carry)])
        return True, rnd_commit, next_rank, n_hosts_ub, None

    # 3. deterministic global order -> ledger (A20)
    ranked = with_global_rank(
        admitted, next_rank, n_admitted, cfg.big_batch_threshold
    ).localCheckpoint(eager=False)
    _prof(rnd, t0, "rank built")
    ledger = ranked.select("rank", F.lit(rnd).alias("round"), "url")

    # 4. fetch-join (A13) + 5. one-pass vectorized parse (A15/A5).
    # The parsed output (fat text/link/record columns) is materialized
    # ONCE — straight to its parquet delta, which the round must write
    # anyway — and read back for every downstream consumer.  This is
    # deliberately NOT .persist(): caching the wide strings costs more
    # than the parquet write, and the parquet read gets column pruning
    # (the link-explode below reads only the two link columns).
    fetched = fetch_join(ranked, pages, cfg.n_page_buckets,
                         batch_rows=n_admitted,
                         files_per_bucket=getattr(cfg, "_files_per_bucket", None),
                         prune_keys=prune_keys)
    # COMMIT BARRIER: the previous round's background writes+commit must
    # land before this round stages anything (staging is shared catalog
    # state, manifests must stay ordered).  Decide/agg above overlapped
    # with those writes — that overlap is the pipelined-commit win.
    # (carry DFs are NOT released here: a localCheckpoint'd RDD has
    # no lineage to recompute from, so its blocks must outlive every
    # possible consumer — they retire in the NEXT background commit.)
    _join_commit(carry)
    _prof(rnd, t0, "prev commit joined")
    # EARLY WRITES: the ledger (ranked is final) and the terminal log
    # (decided is final) are staged NOW so their write jobs + commit
    # constants overlap the dominant fetch+parse phase below rather
    # than the round-end tail; the snapshot protocol is untouched —
    # these are staged files for THIS round, joined before commit_round
    # (early_fut.result() in both commit paths), so commits stay
    # all-or-nothing and ordered.
    early_writes = [
        lambda: cat.write_round("crawl_order", ledger, rnd, DELTA,
                                n_rows=n_admitted),
        lambda: cat.write_round("frontier_log", terminal, rnd, DELTA,
                                n_rows=n_blocked + n_admitted),
    ]
    early_fut = ex_early.submit(_write_all, early_writes)
    cat.write_round("parsed", parse_fetched(fetched, cfg.user_agent), rnd, DELTA,
                    n_rows=n_admitted)
    _prof(rnd, t0, "fetch+parse+write done")
    parsed = cat.read_staged("parsed")
    # seen/seen_filter are read AFTER the barrier so their path lists
    # include the previous round's committed deltas — the carry never
    # holds cross-round in-memory lineage for the append-only tables
    seen = cat.read("seen")
    blobs = cat.read("seen_filter") if cfg.use_cuckoo else None

    # robots results -> host updates effective next round (skipped
    # entirely in robots-free rounds — the common case)
    robots_res = None
    rules_changed = False
    if n_robots:
        robots_res = (
            ranked.filter(F.col("page_type") == "robots")
            .select("url", "host")
            .join(parsed.select("url", "record_json", "crawl_delay"), "url", "left")
            .select(
                "host",
                F.lit(True).alias("robots_done_new"),
                F.coalesce("crawl_delay", F.lit(1.0)).alias("crawl_delay_new"),
                "record_json",
            )
            .localCheckpoint(eager=False)
        )
        new_rules = (
            robots_res.filter(F.col("record_json").isNotNull())
            .select("host", F.explode(F.from_json("record_json", RULES_JSON_SCHEMA)["rules"]).alias("r"))
            .select("host", F.col("r.ord").alias("rule_ord"),
                    F.col("r.allow").alias("allow"), F.col("r.prefix").alias("prefix"))
        )
        n_new_rules = new_rules.count()
        if n_new_rules:
            rules2 = new_rules if rules is None else rules.unionByName(new_rules)
            cat.write_round("robots_rules", rules2, rnd, REPLACE,
                            skip_if_empty=False)
            rules_changed = True

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
    # Pre-merge seen filter: in the steady state MOST child links point
    # at already-seen urls (navigation/back-links — 35M children vs
    # ~100k genuinely new on the heavy bench round), and shuffling them
    # into the min-depth merge just to anti-join them away afterwards
    # made the link chain parallelism-independent.  While ``seen`` fits
    # a broadcast, drop seen children map-side BEFORE the merge —
    # identical semantics (a url's whole merge group is either kept or
    # dropped; the post-merge exact anti-join remains the authority).
    # Beyond the broadcast threshold the cuckoo path below takes over
    # (that is exactly what the partitioned filter blobs are for).
    seen_rows = cat.rows("seen")
    if seen is not None and 0 < seen_rows <= cfg.broadcast_seen_threshold:
        children = children.join(
            F.broadcast(seen.select("url")), "url", "left_anti"
        )
    # Materialize the merge output before the dedupe/union stages: the
    # count is paid once, and downstream consumers read the (small,
    # post-dedup-filter) checkpointed table instead of re-running the
    # explode+classify+merge chain.
    merged = merge_discoveries(children, rnd).localCheckpoint(eager=False)
    merged.count()
    _prof(rnd, t0, "explode+classify+merge materialized")

    # 7. seen-set dedupe: cuckoo pre-filter (A8) then exact anti-join (A7);
    # the probe engages once seen is big enough to be worth pre-pruning
    # (row count is free from the manifest).
    # ``pre`` and ``new_rows`` are each consumed by MULTIPLE subtrees
    # (pre: the definite/maybe branches; new_rows: the frontier union +
    # robots_injection's host-distinct and url anti-join).  Catalyst
    # does no cross-subtree CSE, so without the checkpoints the whole
    # explode+classify+merge+probe chain re-executes once per consumer
    # — measured as ~90 s/round at 16 threads on the 1.32M-URL round.
    pre = None
    if cfg.use_cuckoo and seen_rows >= cfg.cuckoo_min_seen_rows:
        pre = S.cuckoo_prefilter(
            merged, blobs, cfg.n_filter_partitions
        ).localCheckpoint(eager=False)
        definite_new = pre.filter(~F.col("maybe_seen")).drop("maybe_seen")
        maybe = pre.filter(F.col("maybe_seen")).drop("maybe_seen")
        survivors = S.dedupe_exact(maybe, seen)
        new_rows = definite_new.unionByName(survivors)
    else:
        new_rows = S.dedupe_exact(merged, seen)

    new_rows = new_rows.localCheckpoint(eager=False)
    if os.environ.get("SPARK_GRAFT_PROF") == "2":
        new_rows.count()
        _prof(rnd, t0, "seen-dedupe materialized")
    robots_rows = robots_injection(new_rows, hs, seen, rnd)
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
    # snapshot commit (A17).  All writes are independent tables, so
    # they are submitted CONCURRENTLY (Spark schedules jobs from
    # multiple driver threads) — the per-round serial floor is the sum
    # of their job latencies otherwise, which is exactly the Amdahl
    # term that kills N->4N scaling efficiency on small rounds.
    # the seen delta is fully determined by new_frontier (just counted
    # above), and it is the LARGEST tail write — stage it now so its
    # job overlaps the remaining driver-side plan construction below
    # (hs2/stats/checkpoint setup, ~5 s of pure py4j/Catalyst time on
    # the heavy rounds) instead of queuing behind it
    seen_delta = new_frontier.select("url_hash", "url", F.lit(rnd).alias("round"))
    seen_fut = ex_early.submit(
        lambda: cat.write_round("seen", seen_delta, rnd, DELTA, n_rows=n_new)
    )
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

    writes = [
        lambda: cat.write_round("frontier", pending_next, rnd, REPLACE,
                                skip_if_empty=False,
                                n_rows=n_pending_after - n_admitted + n_new),
        lambda: cat.write_round("host_state", hs2, rnd, REPLACE,
                                skip_if_empty=False),
        lambda: cat.write_round("round_metrics", stats, rnd, DELTA,
                                skip_if_empty=False),
    ]
    if cfg.use_cuckoo:
        if rnd % cfg.filter_compact_every == 0:
            # allowMissingColumns: a schema-evolved seen table (catalog
            # add-column) is wider than this round's delta; the filter
            # blobs consume url_hash only, so the nulls are harmless
            all_seen = (
                seen.unionByName(seen_delta, allowMissingColumns=True)
                if seen is not None else seen_delta
            )
            writes.append(lambda: cat.write_round(
                "seen_filter",
                S.compact_blobs(all_seen, cfg.n_filter_partitions, rnd,
                                kind=cfg.filter_kind),
                rnd, REPLACE, skip_if_empty=False,
            ))
        elif n_new:
            writes.append(lambda: cat.write_round(
                "seen_filter",
                S.build_delta_blobs(new_frontier, cfg.n_filter_partitions, rnd,
                                    n_rows=n_new, kind=cfg.filter_kind),
                rnd, DELTA, skip_if_empty=False,
            ))
    lineage = {"next_rank": next_rank + n_admitted, "config": asdict(cfg),
               "n_hosts_ub": n_hosts_ub}
    metrics = {
        "n_admitted": n_admitted, "n_new": n_new, "n_blocked": n_blocked,
        "n_pending_before": n_pending_after,
    }
    intermediates = [decided, decide_cand, ranked, robots_res, merged, pre,
                     new_rows, new_frontier]

    if rules_changed:
        # a rules update must be committed before the next round's
        # decide consumes it — no carry, synchronous commit (robots
        # rounds are the first few only; losing their overlap is noise)
        _write_all(writes)
        early_fut.result()
        seen_fut.result()
        _prof(rnd, t0, "state writes done")
        cat.commit_round(rnd, lineage=lineage, metrics=metrics)
        _release(intermediates + _carry_dfs(carry))
        return True, rnd, next_rank + n_admitted, n_hosts_ub, None

    # pipelined commit: localCheckpoint the next round's decide inputs
    # (cuts the cross-round lineage — WITHOUT this the logical plan
    # nests one full round deeper every round and the driver melts down
    # rendering/optimizing it), run the state writes + commit +
    # intermediate releases in the background, and hand the in-memory
    # state forward.  Lazy checkpoint: whichever touches it first (the
    # background frontier write or the next round's decide) pays the
    # one materialization; intermediates stay checkpointed until the
    # writes complete.  The previous carry's blocks retire here too — only
    # after this round's writes, because checkpointed blocks cannot be
    # recomputed once dropped.
    pending_next = pending_next.localCheckpoint(eager=False)
    hs2 = hs2.localCheckpoint(eager=False)
    retiring = intermediates + _carry_dfs(carry)

    def _commit_bg():
        _write_all(writes)
        early_fut.result()
        seen_fut.result()
        _prof(rnd, t0, "state writes done (bg)")
        cat.commit_round(rnd, lineage=lineage, metrics=metrics)
        _release(retiring)

    fut = ex.submit(_commit_bg)
    _prof(rnd, t0, "commit submitted (bg)")
    return True, rnd, next_rank + n_admitted, n_hosts_ub, _Carry(
        frontier=pending_next, host_state=hs2, rules=rules, commit=fut
    )


def _write_all(writes):
    """Run independent staged table writes concurrently.  Each callable
    issues one Spark write job; submission from multiple driver threads
    lets the scheduler overlap their (mostly fixed) latencies.  Any
    failure propagates before commit, so the snapshot protocol's
    all-or-nothing property is preserved."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(writes)) as ex:
        for f in [ex.submit(w) for w in writes]:
            f.result()


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
