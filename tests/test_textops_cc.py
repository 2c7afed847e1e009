"""Connected-components keep-set (near_dup_keep_cc): the transitive
variant must differ from one-hop lowest-id-wins exactly where the
theory says — a node with no smaller PAIRED partner that still shares
a component with a smaller node (VERDICT round-2 ask #7)."""

from __future__ import annotations

from beeradvocate_crawler_spark.plans.textops import (
    connected_components_min_label,
    release_caches,
)


def _labels(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    out = {r["node"]: r["lbl"] for r in connected_components_min_label(df).collect()}
    release_caches()
    return out


def test_cc_differs_from_one_hop_on_shared_larger_node(spark):
    """Pairs (1,3) and (2,3): one-hop drops only 3 (the only d2), CC
    also drops 2 — component {1,2,3} has min 1."""
    labels = _labels(spark, [(1, 3), (2, 3)])
    assert labels == {1: 1, 2: 1, 3: 1}
    one_hop_losers = {3}  # d2 side of the pairs
    cc_losers = {n for n, l in labels.items() if l < n}
    assert cc_losers == {2, 3}
    assert cc_losers != one_hop_losers


def test_cc_chain_converges_to_min(spark):
    """A 6-node path needs multiple propagation sweeps (diameter 5)."""
    chain = [(i, i + 1) for i in range(1, 6)]
    labels = _labels(spark, chain)
    assert labels == {i: 1 for i in range(1, 7)}


def test_cc_separate_components_stay_separate(spark):
    labels = _labels(spark, [(1, 2), (10, 11), (11, 12)])
    assert labels == {1: 1, 2: 1, 10: 10, 11: 10, 12: 10}


def test_cc_empty_edge_set_converges_immediately(spark):
    """ADVICE round-3: F.sum('chg') over an EMPTY labels table collects
    as None; the coalesced change flag must read that as converged (no
    sweeps burned, no RuntimeError), returning an empty label set."""
    labels = _labels(spark, [])
    assert labels == {}


def test_release_caches_frees_the_sweep_checkpoints(spark):
    """Every per-sweep localCheckpoint is freed by release_caches():
    no RDD the query persisted is still persisted.  Compared as id
    sets, not counts: Spark's context cleaner may unpersist blocks of
    earlier tests while this one runs."""
    jsc = spark.sparkContext._jsc

    def pinned() -> set:
        return {int(str(k)) for k in jsc.getPersistentRDDs().keySet().toArray()}

    before = pinned()
    df = spark.createDataFrame([(i, i + 1) for i in range(1, 6)],
                               "src long, dst long")
    connected_components_min_label(df).collect()
    assert pinned() - before, "the sweeps checkpoint their labels"
    release_caches()
    assert not pinned() - before
