"""Tests of the benchmark itself (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import run as R  # noqa: E402
from perfbench import trace as T  # noqa: E402
from perfbench.workloads import Unit, gate, load_pins  # noqa: E402

# A status-store snapshot in the format ``trace.snapshot`` records: two
# overlapping jobs, a job that reuses (skips) an earlier stage, and one
# job that ran outside any wrapper.
SNAP = {
    "jobs": [
        {"id": 1, "group": "decide", "submit": 100.0, "end": 101.0, "stages": [1]},
        {"id": 2, "group": "catalog", "submit": 100.5, "end": 102.0, "stages": [2]},
        {"id": 3, "group": "parse", "submit": 103.0, "end": 104.0, "stages": [3, 1]},
        {"id": 4, "group": None, "submit": 104.5, "end": 105.0, "stages": [4]},
    ],
    "stages": [
        {"id": 1, "tasks": 4, "cpu_ns": 2e9, "gc_ms": 100,
         "input_bytes": 0, "shuffle_read_bytes": 0, "shuffle_write_bytes": 1e6,
         "shuffle_write_records": 10},
        {"id": 2, "tasks": 1, "cpu_ns": 1e9, "gc_ms": 0,
         "input_bytes": 0, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
         "shuffle_write_records": 0},
        {"id": 3, "tasks": 8, "cpu_ns": 3e9, "gc_ms": 50,
         "input_bytes": 2e6, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
         "shuffle_write_records": 0},
        {"id": 4, "tasks": 1, "cpu_ns": 5e8, "gc_ms": 0,
         "input_bytes": 0, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
         "shuffle_write_records": 0},
    ],
}
SPANS = [
    ("decide.build", 100.0, 100.0, {}),
    ("catalog.write.parsed", 103.0, 104.0, {"files": 2, "bytes": 5000}),
    ("catalog.commit", 104.5, 104.6, {}),
    ("catalog.manifest", 104.6, 104.6,
     {"bytes": 2000, "seen_rows": 100,
      "metrics": {"n_admitted": 24, "n_new": 0, "n_pending_before": 43}}),
    ("decide.build", 200.0, 200.0, {}),  # outside the window: ignored
]
WINDOW = [(100.0, 106.0)]


def test_busy_time_splits_overlapping_jobs():
    busy, idle = T.busy_time(SNAP["jobs"], 100.0, 106.0)
    assert busy["decide"] == pytest.approx(0.75)
    assert busy["catalog"] == pytest.approx(1.25)
    assert busy["parse"] == pytest.approx(1.0)
    assert busy["other"] == pytest.approx(0.5)
    assert idle == pytest.approx(2.5)


def test_fold_snapshot_into_layer_rows():
    rows = T.fold(SNAP, SPANS, WINDOW)
    assert rows["decide.s"] == pytest.approx(0.75)
    assert rows["decide.cpu_s"] == pytest.approx(2.0)  # stage 1 only once
    assert rows["decide.shuffle_mb"] == pytest.approx(1.0)
    assert rows["parse.cpu_s"] == pytest.approx(3.0)
    assert rows["parse.input_mb"] == pytest.approx(2.0)
    assert rows["parse.rows"] == 24
    assert rows["fetch.scan_kb_per_url"] == pytest.approx(2000 / 24)
    assert rows["decide.admit_ratio"] == pytest.approx(24 / 43)
    assert rows["crawl.jobs"] == 4
    assert rows["crawl.tasks"] == 14
    assert rows["crawl.driver_only_s"] == pytest.approx(2.5)
    assert rows["crawl.round_s_p50"] == pytest.approx(6.0)
    assert rows["catalog.write_s.parsed"] == pytest.approx(1.0)
    assert rows["catalog.commit_s"] == pytest.approx(0.1)
    assert rows["catalog.files_written"] == 2
    assert rows["catalog.bytes_written_per_url"] == pytest.approx(5000 / 24)
    assert rows["catalog.manifest_kb"] == pytest.approx(2.0)
    assert rows["jvm.gc_s"] == pytest.approx(0.15)
    assert rows["other.s"] == pytest.approx(0.5)
    # named layers + driver-only time cover the window except "other"
    assert rows["trace.coverage"] == pytest.approx(5.5 / 6)
    assert rows["relational.s"] == 0.0


def test_fold_averages_per_traced_unit():
    one = T.fold(SNAP, SPANS, WINDOW)
    two = T.fold(SNAP, SPANS, WINDOW + [(300.0, 306.0)])
    assert two["crawl.driver_only_s"] == pytest.approx((2.5 + 6.0) / 2)
    assert two["parse.rows"] == pytest.approx(one["parse.rows"] / 2)
    assert two["decide.admit_ratio"] == pytest.approx(one["decide.admit_ratio"])


def test_gate_fails_a_tampered_pin():
    pins = load_pins()["polite_crawl"]["unit"]
    assert gate(dict(pins), pins) == []
    tampered = dict(pins, order=hex(int(pins["order"], 16) ^ 1))
    problems = gate(dict(pins), tampered)
    assert len(problems) == 1 and problems[0].startswith("order:")


class _Wrong:
    """A workload whose second unit misses its pin."""

    def __init__(self):
        self.n = 0

    def unit(self, tracer=None):
        self.n += 1
        return Unit(0.0, 0.01, 1,
                    ["hash: got 0x1, pinned 0x2"] if self.n == 2 else [])


def test_a_gate_miss_counts_as_a_failed_unit():
    res = R.measure(_Wrong(), 0.05, False, None)
    assert res["failed"] == 1
    assert res["attempted"] == len(res["unit_s"]) + 1


def test_measure_runs_at_least_four_units():
    res = R.measure(_Wrong(), 0.0, False, None)
    assert res["attempted"] == 4


class _Sc:
    """Records the job group of every (thread, call)."""

    def __init__(self):
        self.group = None

    def setLocalProperty(self, key, value):
        assert key == "spark.jobGroup.id"
        self.group = value


class _Df:
    pass


def test_a_lazy_layer_gets_only_the_next_action():
    sc = _Sc()
    tr = T.Tracer(sc)
    seen = []
    job = tr.action(lambda: seen.append(sc.group))
    nested = tr.action(lambda: job() or job())
    decide = tr.lazy("decide", lambda: seen.append(sc.group) or _Df())
    tr.set_base("crawl")
    job()
    df = decide()  # plan build: its own jobs go to the layer
    nested()  # the action that runs the plan, with two inner jobs
    job()  # a later job of the loop is not the layer's
    assert seen == ["crawl", "decide", "decide", "decide", "crawl"]
    assert df._perfbench_layer == "decide"
    tr.uninstall()
    assert sc.group is None


class _Cat:
    _staged: dict = {}


def test_a_catalog_write_of_a_tagged_plan_runs_it_as_its_layer():
    sc = _Sc()
    tr = T.Tracer(sc)
    seen = []
    job = tr.action(lambda: seen.append(sc.group))
    write = tr._write_round(lambda cat, name, df: job())
    parse = tr.lazy("parse", lambda: _Df())
    tr.set_base("crawl")
    write(_Cat(), "frontier", _Df())  # untagged: the catalog's own work
    write(_Cat(), "parsed", parse())  # the plan parse built: its action
    job()
    assert seen == ["catalog", "parse", "crawl"]
    assert [name for name, *_ in tr.spans] == [
        "catalog.write.frontier", "parse.build", "catalog.write.parsed"]


def test_every_metric_name_is_well_formed():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = ([w["name"] for w in spec["workloads"]]
             + [m["name"] for m in spec["end_to_end"]]
             + [m["name"] for m in spec["per_layer"]])
    assert len(names) == len(set(names))
    for n in names:
        assert re.fullmatch(r"[A-Za-z0-9_.-]+", n), n
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert e2e == R.END_TO_END
    layers = set(T.fold(SNAP, SPANS, WINDOW)) | {"gen.s", "trace.overhead_s",
                                                 "peak_rss_mb"}
    assert {m["name"] for m in spec["per_layer"]} == layers
    for m in spec["per_layer"]:
        assert m["unit"] == T.unit_of(m["name"]), m["name"]
