"""Per-layer tracing from outside the engine.

The traced run installs wrappers around the public functions of each
layer (see ``LAZY``, ``install_crawl`` and ``query``).  A
wrapper records a span for the call and gives the calling thread a
Spark job group named after the layer, so the Spark jobs that run the
layer's work can be found again in Spark's status store.

Two kinds of call need different handling:

* Lazy operators (``decide_round``, ``fetch_join``, ``parse_fetched``,
  ``merge_discoveries``, ``dedupe_exact``...) only build a plan.  Their
  work runs in the next action the engine starts on the same thread,
  so the layer's group stays set ("pending") until that one action
  (``DataFrame.collect``/``count``/..., ``DataFrameWriter.save``/...)
  returns; then the thread falls back to its base group (``crawl``
  inside the crawl loop).  The returned DataFrame is also tagged with
  the layer, so a catalog write of that very DataFrame is charged to
  the layer that built it, and counts as its action.
* Eager calls (``SnapshotCatalog.write_round`` / ``commit_round``) are
  timed directly on whatever thread runs them; jobs they trigger on an
  untagged DataFrame are charged to ``catalog``.

``snapshot`` copies job and stage metrics out of the status store;
``fold`` turns a snapshot and the recorded spans into one row of
numbers per layer.  ``fold`` is pure Python, so it is tested on a
recorded snapshot without Spark.
"""

from __future__ import annotations

import functools
import os
import statistics
import threading
import time

_OPS = "beeradvocate_crawler_spark.operators."
# (layer, module, public functions of the module that only build a plan)
LAZY = (
    ("decide", _OPS + "politeness", ("decide_round",)),
    ("rank", _OPS + "ordering", ("with_global_rank",)),
    ("parse", _OPS + "fetch", ("fetch_join",)),
    ("parse", _OPS + "parse", ("parse_fetched",)),
    ("merge", _OPS + "links", ("pagination_links",)),
    ("merge", _OPS + "frontier", ("merge_discoveries",)),
    ("seen", _OPS + "seen", ("dedupe_exact", "cuckoo_prefilter")),
    ("seen.filter", _OPS + "seen", ("build_delta_blobs", "compact_blobs")),
)
CRAWL_MODULE = "beeradvocate_crawler_spark.plans.crawl"
CATALOG_TABLES = ("crawl_order", "frontier", "frontier_log", "host_state",
                  "parsed", "robots_rules", "round_metrics", "seen",
                  "seen_filter")
QUERY_LAYERS = ("relational", "textops", "graph")
# every group a job can be charged to; None (no group) folds into "other"
GROUPS = ("crawl", "decide", "rank", "parse", "merge", "seen", "seen.filter",
          "catalog") + QUERY_LAYERS + ("other",)


# DataFrame and DataFrameWriter methods that run a job: the first one a
# thread calls after a lazy operator runs that operator's plan
DF_ACTIONS = ("collect", "count", "first", "foreach", "foreachPartition",
              "head", "isEmpty", "show", "tail", "take", "toArrow",
              "toLocalIterator", "toPandas")
WRITER_ACTIONS = ("csv", "insertInto", "json", "orc", "parquet", "save",
                  "saveAsTable", "text")


class Tracer:
    """Spans and thread-local job groups for one traced run.

    Each thread has a base group (``crawl`` inside the crawl loop, the
    query's layer inside a query, else none), at most one pending lazy
    layer, and the depth of the actions and catalog calls it is inside
    (only the outermost one ends a pending layer)."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[tuple[str, float, float, dict]] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._undo: list[tuple[object, str, object]] = []

    # -- job groups ---------------------------------------------------------
    def _state(self):
        st = self._local
        if not hasattr(st, "depth"):
            st.base, st.pending, st.depth = None, None, 0
        return st

    def _group(self, group: str | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", group)

    def _restore(self, st) -> None:
        self._group(st.pending or st.base)

    def set_base(self, group: str | None) -> None:
        """Charge the calling thread's jobs to ``group`` from now on."""
        st = self._state()
        st.base, st.pending = group, None
        self._group(group)

    def span(self, name: str, t0: float, t1: float, **extra) -> None:
        with self._lock:
            self.spans.append((name, t0, t1, extra))

    # -- wrappers -----------------------------------------------------------
    def _patch(self, owner, attr: str, wrapper) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, wrapper)

    def lazy(self, layer: str, fn):
        """Jobs the call runs itself, and then the next action on the
        same thread, go to ``layer``."""
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            st = self._state()
            self._group(layer)
            t0 = time.time()
            try:
                out = fn(*args, **kwargs)
            except BaseException:
                self._restore(st)
                raise
            self.span(f"{layer}.build", t0, time.time())
            for df in out if isinstance(out, tuple) else (out,):
                try:
                    df._perfbench_layer = layer
                except AttributeError:
                    pass
            st.pending = layer
            return out
        return wrapper

    def action(self, fn):
        """An action ends the thread's pending lazy layer when it returns."""
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            st = self._state()
            st.depth += 1
            try:
                return fn(*args, **kwargs)
            finally:
                st.depth -= 1
                if not st.depth and st.pending is not None:
                    st.pending = None
                    self._group(st.base)
        return wrapper

    def install_actions(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter

        for owner, names in ((DataFrame, DF_ACTIONS),
                             (DataFrameWriter, WRITER_ACTIONS)):
            for name in names:
                self._patch(owner, name, self.action(getattr(owner, name)))

    def install_crawl(self) -> None:
        """Wrap the crawl layers, in their modules and where
        ``plans.crawl`` imported them by name."""
        import importlib

        self.install_actions()
        crawl = importlib.import_module(CRAWL_MODULE)
        for layer, modname, names in LAZY:
            mod = importlib.import_module(modname)
            for name in names:
                w = self.lazy(layer, getattr(mod, name))
                self._patch(mod, name, w)
                if getattr(crawl, name, None) is not None:
                    self._patch(crawl, name, w)
        for name in ("run", "resume"):
            self._patch(crawl, name, self._crawl_entry(getattr(crawl, name)))
        from beeradvocate_crawler_spark.sources.catalog import SnapshotCatalog

        self._patch(SnapshotCatalog, "write_round",
                    self._write_round(SnapshotCatalog.write_round))
        self._patch(SnapshotCatalog, "commit_round",
                    self._commit_round(SnapshotCatalog.commit_round))

    def _crawl_entry(self, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            self.set_base("crawl")
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                self.span("crawl.call", t0, time.time())
                self.set_base(None)
        return wrapper

    def _write_round(self, fn):
        tracer = self

        @functools.wraps(fn)
        def write_round(cat, name, df, *args, **kwargs):
            st = tracer._state()
            layer = getattr(df, "_perfbench_layer", None)
            tracer._group(layer or "catalog")
            st.depth += 1
            t0 = time.time()
            try:
                return fn(cat, name, df, *args, **kwargs)
            finally:
                t1 = time.time()
                st.depth -= 1
                if layer is not None and layer == st.pending and not st.depth:
                    st.pending = None  # this write ran the pending plan
                tracer._restore(st)
                staged = cat._staged.get(name) or {}
                files = staged.get("files") or []
                tracer.span(f"catalog.write.{name}", t0, t1, files=len(files),
                            bytes=sum(int(f.get("bytes", 0)) for f in files))
        return write_round

    def _commit_round(self, fn):
        tracer = self

        @functools.wraps(fn)
        def commit_round(cat, r, *args, **kwargs):
            st = tracer._state()
            tracer._group("catalog")
            st.depth += 1
            t0 = time.time()
            try:
                m = fn(cat, r, *args, **kwargs)
            finally:
                tracer.span("catalog.commit", t0, time.time())
                st.depth -= 1
                tracer._restore(st)
            mf = os.path.join(cat.run_dir, "_manifests", f"manifest-{r:06d}.json")
            tracer.span("catalog.manifest", t0, t0, bytes=os.path.getsize(mf),
                        metrics=dict(m.metrics),
                        seen_rows=int(m.tables.get("seen", {}).get("rows", 0)))
            return m
        return commit_round

    def query(self, layer: str, fn):
        """Wrap one ``queries()`` entry: its jobs, and those of the
        force that follows it, go to ``layer``."""
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            self.set_base(layer)
            return fn(*args, **kwargs)
        return wrapper

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)
        self.set_base(None)


# -- status store -------------------------------------------------------------
def _opt(o):
    return o.get() if o.isDefined() else None


def _ms(d):
    return None if d is None else d.getTime() / 1000.0


def snapshot(sc, since_job: int = -1) -> dict:
    """Copy jobs newer than ``since_job`` and their stages out of the
    driver's status store (plain dicts, so ``fold`` needs no Spark)."""
    store = sc._jsc.sc().statusStore()
    jobs = []
    jl = store.jobsList(None)  # newest first
    for i in range(jl.size()):
        j = jl.apply(i)
        if j.jobId() <= since_job:
            break
        ids = j.stageIds()
        jobs.append({
            "id": j.jobId(), "group": _opt(j.jobGroup()),
            "submit": _ms(_opt(j.submissionTime())),
            "end": _ms(_opt(j.completionTime())),
            "stages": [int(ids.apply(k)) for k in range(ids.size())],
        })
    # a stage submitted before the first new job ran for an older job
    # and is only skipped (reused) by the new ones
    first = min((j["submit"] for j in jobs if j["submit"]), default=0.0)
    stages = []
    for sid in sorted({s for j in jobs for s in j["stages"]}):
        s = store.lastStageAttempt(sid)
        if (s.status().toString() != "COMPLETE"
                or (_ms(_opt(s.submissionTime())) or 0.0) < first):
            continue
        stages.append({
            "id": sid, "tasks": s.numTasks(),
            "cpu_ns": s.executorCpuTime(), "gc_ms": s.jvmGcTime(),
            "input_bytes": s.inputBytes(),
            "shuffle_read_bytes": s.shuffleReadBytes(),
            "shuffle_write_bytes": s.shuffleWriteBytes(),
            "shuffle_write_records": s.shuffleWriteRecords(),
        })
    return {"jobs": jobs, "stages": stages}


def last_job(sc) -> int:
    """Id of the newest job in the status store (-1 if none)."""
    jl = sc._jsc.sc().statusStore().jobsList(None)
    return jl.apply(0).jobId() if jl.size() else -1


# -- folding ------------------------------------------------------------------
def unit_of(metric: str) -> str:
    """Unit of a per-layer metric, from its name."""
    if metric.endswith((".s", "_s")) or "_s." in metric or "_s_" in metric:
        return "s"
    for suffix, unit in (("_mb", "MB"), ("_kb", "kB"), ("kb_per_url", "kB"),
                         ("bytes_written_per_url", "B"), ("_ratio", "ratio"),
                         ("coverage", "ratio")):
        if metric.endswith(suffix):
            return unit
    return "count"


def busy_time(jobs: list[dict], t0: float, t1: float) -> tuple[dict, float]:
    """Split [t0, t1] among job groups.  While k jobs run at once each
    gets 1/k of the interval, so the groups' times add up to the time
    some job was running; the rest of the window is returned as the
    time no job ran (driver-only time)."""
    edges = []
    for j in jobs:
        a, b = max(j["submit"], t0), min(j["end"] or t1, t1)
        if b > a:
            g = j["group"] if j["group"] in GROUPS else "other"
            edges += [(a, 1, g), (b, -1, g)]
    edges.sort(key=lambda e: (e[0], e[1]))
    per = {g: 0.0 for g in GROUPS}
    active: dict[str, int] = {}
    idle, last = 0.0, t0
    for t, d, g in edges:
        n = sum(active.values())
        if n:
            for ag, k in active.items():
                per[ag] += (t - last) * k / n
        else:
            idle += t - last
        active[g] = active.get(g, 0) + d
        if not active[g]:
            del active[g]
        last = t
    idle += t1 - last
    return per, idle


def fold(snap: dict, spans: list, windows: list[tuple[float, float]]) -> dict:
    """Layer rows for the traced units in ``windows``, averaged per unit.

    ``spans`` are ``(name, start, end, extra)`` tuples as recorded by
    :class:`Tracer`; only spans and jobs that start inside a window count."""
    n_units = max(1, len(windows))

    def inside(t):
        return any(a <= t <= b for a, b in windows)

    jobs = [j for j in snap["jobs"] if j["submit"] is not None and inside(j["submit"])]
    # a stage belongs to the first job that lists it (later jobs skip it)
    owner: dict[int, dict] = {}
    for j in sorted(snap["jobs"], key=lambda j: j["id"]):
        for s in j["stages"]:
            owner.setdefault(s, j)
    job_ids = {j["id"] for j in jobs}
    per_group = {g: {"cpu_s": 0.0, "shuffle_mb": 0.0, "input_mb": 0.0,
                     "shuffle_records": 0, "tasks": 0} for g in GROUPS}
    gc_s = 0.0
    for s in snap["stages"]:
        j = owner.get(s["id"])
        if j is None or j["id"] not in job_ids:
            continue
        row = per_group[j["group"] if j["group"] in GROUPS else "other"]
        row["cpu_s"] += s["cpu_ns"] / 1e9
        row["shuffle_mb"] += (s["shuffle_read_bytes"] + s["shuffle_write_bytes"]) / 1e6
        row["input_mb"] += s["input_bytes"] / 1e6
        row["shuffle_records"] += s["shuffle_write_records"]
        row["tasks"] += s["tasks"]
        gc_s += s["gc_ms"] / 1000.0
    busy = {g: 0.0 for g in GROUPS}
    idle = 0.0
    for a, b in windows:
        per, i = busy_time(jobs, a, b)
        idle += i
        for g, v in per.items():
            busy[g] += v
    wall = sum(b - a for a, b in windows)

    sp = [s for s in spans if inside(s[1])]

    def span_sum(span_name):
        return sum(b - a for name, a, b, _ in sp if name == span_name)

    man = [x for name, _, _, x in sp if name == "catalog.manifest"]
    counts = {k: sum(int(x["metrics"].get(k, 0)) for x in man)
              for k in ("n_admitted", "n_new", "n_pending_before")}
    seen_before = sum(x["seen_rows"] - int(x["metrics"].get("n_new", 0))
                      for x in man if x["metrics"])
    decide_starts = sorted(a for name, a, _, _ in sp if name == "decide.build")
    rounds = []
    for a, b in windows:
        st = [t for t in decide_starts if a <= t <= b]
        rounds += [y - x for x, y in zip(st, st[1:] + [b])]
    writes = [x for name, _, _, x in sp if name.startswith("catalog.write.")]
    n_urls = counts["n_admitted"]
    crawl_jobs = [j for j in jobs if j["group"] not in QUERY_LAYERS]

    def ratio(a, b):
        return a / b if b else 0.0

    out = {
        "crawl.round_s_p50": statistics.median(rounds) if rounds else 0.0,
        "crawl.driver_only_s": idle,
        "crawl.s": busy["crawl"],
        "crawl.jobs": len(crawl_jobs),
        "crawl.tasks": sum(per_group[g]["tasks"] for g in GROUPS
                           if g not in QUERY_LAYERS),
        "decide.pending_rows": counts["n_pending_before"],
        "decide.admit_ratio": ratio(n_urls, counts["n_pending_before"]),
        "rank.s": busy["rank"],
        "parse.rows": n_urls,
        "parse.input_mb": per_group["parse"]["input_mb"],
        "fetch.scan_kb_per_url": ratio(per_group["parse"]["input_mb"] * 1000, n_urls),
        "merge.children_rows": per_group["merge"]["shuffle_records"],
        "merge.kept_ratio": ratio(counts["n_new"], per_group["merge"]["shuffle_records"]),
        "seen.new_ratio": ratio(counts["n_new"], seen_before),
        "seen.filter_build_s": busy["seen.filter"],
        "catalog.s": busy["catalog"],
        "catalog.commit_s": span_sum("catalog.commit"),
        "catalog.files_written": sum(x["files"] for x in writes),
        "catalog.bytes_written_per_url": ratio(sum(x["bytes"] for x in writes), n_urls),
        "catalog.manifest_kb": ratio(sum(x["bytes"] for x in man), 1000 * len(man)),
        "jvm.gc_s": gc_s,
        "other.s": busy["other"],
        "trace.wall_s": wall,
        "trace.coverage": ratio(sum(busy.values()) - busy["other"] + idle, wall),
    }
    for g in ("decide", "parse", "merge", "seen") + QUERY_LAYERS:
        out[f"{g}.s"] = busy[g]
        out[f"{g}.cpu_s"] = per_group[g]["cpu_s"]
        out[f"{g}.shuffle_mb"] = per_group[g]["shuffle_mb"]
    for t in CATALOG_TABLES:
        out[f"catalog.write_s.{t}"] = span_sum(f"catalog.write.{t}")
    scaled = {k: v / n_units for k, v in out.items()
              if not k.endswith(("_ratio", "_p50", "_per_url", "manifest_kb",
                                 "coverage"))}
    out.update(scaled)
    return out
