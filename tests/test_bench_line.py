"""bench.py's machine channel: the per-round driver keeps only the
LAST 2000 chars of stdout and parses the final line as JSON.  Rounds 2
and 4 shipped lines longer than that and were recorded as unparsed —
these tests pin the compact_line guarantee so the failure mode cannot
return (no Spark needed; pure serialization logic)."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import compact_line  # noqa: E402


def _record(n_queries: int) -> dict:
    return {
        "metric": "urls_scheduled_parsed_per_sec",
        "value": 1234.5,
        "unit": "sec",
        "sf": 0.1,
        "crawl": {"crawl_urls": 101039, "crawl_rounds": 8,
                  "crawl_wall_sec": 72.5, "urls_per_sec": 1234.5},
        "box": {"cpu_loop_ms": 120.0, "memcpy_gbps": 35.0,
                "memcpy_mt8_gbps": 90.0},
        "box_post_crawl": {"cpu_loop_ms": 120.0, "memcpy_gbps": 35.0,
                           "memcpy_mt8_gbps": 90.0},
        "cpus": 32,
        "scaling": {
            "pair": "local[1] -> local[4]",
            "efficiency": 0.825,
            "efficiency_per_sample": [0.825, 0.925],
            "pass": True,
            "urls_per_sec_N": 695.79,
            "urls_per_sec_4N": 2574.49,
            "order_hash_equal": True,
            "source": "scaling_last.json",
            "ts": "2026-08-20 09:54 UTC",
            "wall_sec_N_source": "x" * 300,  # the r04 overflow culprit
        },
        "queries": {f"some_query_name_{i:03d}": round(0.1 * i, 2)
                    for i in range(n_queries)},
        "queries_same_context": {f"some_query_name_{i:03d}": 0.1
                                 for i in range(n_queries)},
        "cache_hygiene": "per-query",
    }


def test_current_surface_fits_and_parses():
    s = compact_line(_record(70))
    assert len(s) <= 1900
    d = json.loads(s)
    for k in ("metric", "value", "unit", "sf", "queries"):
        assert k in d
    # the two blocks that caused the r04 overflow never ride the line
    assert "queries_same_context" not in d
    assert "box_post_crawl" not in d


def test_oversized_registry_still_fits_by_dropping_blocks():
    """Even a far larger registry fits: optional blocks drop in order,
    required driver keys survive."""
    s = compact_line(_record(120))
    assert len(s) <= 1900
    d = json.loads(s)
    for k in ("metric", "value", "unit", "sf", "queries"):
        assert k in d
    # either everything fit, or truncation is declared on the line
    assert len(d["queries"]) == 120 or d.get("queries_truncated") is True


def test_last_run_record_on_disk_parses_and_fits():
    """The committed BENCH/last_run.json (a real full record) must
    always compact under the budget — a canary against field creep."""
    p = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     "BENCH", "last_run.json")
    with open(p) as f:
        out = json.load(f)
    s = compact_line(out)
    assert len(s) <= 1900
    d = json.loads(s)
    # the REAL record must fit with every compact block intact — if
    # this starts truncating, trim fields, don't ship a lossy line
    for k in ("crawl", "scaling", "box"):
        assert k in d
    assert "queries_truncated" not in d
    assert "wall_sec_N_source" not in d["scaling"]


def test_overflow_outside_known_blocks_falls_back_to_required_keys():
    """An oversized block the compactor does not know about cannot be
    shed by dropping queries: once they are gone the line keeps only
    the required driver keys, instead of raising on an empty dict."""
    rec = _record(5)
    rec["unknown_block"] = "x" * 3000
    s = compact_line(rec)
    assert len(s) <= 2000
    d = json.loads(s)
    for k in ("metric", "value", "unit", "sf"):
        assert k in d
    assert "unknown_block" not in d
    assert d.get("queries_truncated") is True


def test_record_without_queries_fits_and_parses():
    """A record with no ``queries`` key (e.g. every sweep failed before
    the record was built) still compacts to a parseable line."""
    rec = _record(0)
    del rec["queries"]
    s = compact_line(rec)
    assert len(s) <= 2000
    assert json.loads(s)["metric"] == "urls_scheduled_parsed_per_sec"
    rec["unknown_block"] = "x" * 3000
    s = compact_line(rec)
    assert len(s) <= 2000
    d = json.loads(s)
    assert "unknown_block" not in d and d["value"] == 1234.5
