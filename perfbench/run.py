#!/usr/bin/env python3
"""Benchmark of the crawl engine, run from the root of a checkout:

    python3 perfbench/run.py --workload polite_crawl --seed 1 --seconds 12 --trace 0

One driver process, one Spark session (``session.get_spark`` defaults,
master ``local[<cores>]``, console progress bar off), a closed loop that
runs one unit at a time for ``--seconds`` after an untimed warm-up.
Every unit passes through its exactness gate.  The last stdout line is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``).  The full run record, with the box probe, goes to
``.perfbench_out/``.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "beeradvocate_crawler_spark"

# Untimed units before the timed ones.  In a fresh JVM the first unit
# takes 2-4x a warm one and the second 1.1-1.3x; the first timed one is
# then often the slowest of the run by 5-10%, which the median of four
# drops.  A third warm-up unit would cost 5-9 s in every run, which the
# evaluation's time budget does not have (see README).
WARMUP_UNITS = 2

# No tail percentile: a run has 4-5 units, and no percentile of so few
# samples has ten samples beyond it.  The unit times are in the record.
END_TO_END = {"setup_s": "s", "unit_s_p50": "s", "items_per_s": "1/s"}


class RssSampler(threading.Thread):
    """Peak resident memory of the Spark JVM and everything it forked
    (the Python workers), sampled every 0.2 s."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid, self.peak, self._done = pid, 0, threading.Event()

    def tree(self) -> list[int]:
        """The JVM's pid and the pids of all its descendants."""
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        ppid = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    continue
                children.setdefault(ppid, []).append(int(d))
        out, todo = [], [self.pid]
        while todo:
            p = todo.pop()
            out.append(p)
            todo += children.get(p, [])
        return out

    def tree_rss(self) -> int:
        total, page = 0, os.sysconf("SC_PAGE_SIZE")
        for p in self.tree():
            try:
                with open(f"/proc/{p}/statm") as f:
                    total += int(f.read().split()[1]) * page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def run(self):
        while not self._done.wait(0.2):
            self.peak = max(self.peak, self.tree_rss())

    def stop(self) -> float:
        self._done.set()
        self.join()
        return max(self.peak, self.tree_rss()) / 1e6


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot, in
    seconds summed over CPUs (0 where ``/proc/stat`` has no steal)."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def box_probe() -> dict:
    """Load average, CPU steal and ``bench.box_health()``: recorded,
    never used to drop a run."""
    import bench

    t0 = time.time()
    out = {"loadavg_1m": os.getloadavg()[0], "steal_s": steal_s(),
           **bench.box_health()}
    out["probe_s"] = time.time() - t0
    return out


def start_spark(work: str):
    """Spark writes its scratch files under ``work``, and its Python
    workers import the engine from this checkout."""
    for d in ("tmp", "spark"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--driver-java-options "
        + shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        + " pyspark-shell")
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    from beeradvocate_crawler_spark.session import get_spark

    return get_spark(master=f"local[{os.cpu_count()}]",
                     extra={"spark.ui.showConsoleProgress": "false"})


def stop_spark(spark, pids: list[int]) -> None:
    """Stop the session, then wait until the JVM and the processes it
    forked (``pids``) have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def warm_up(wl, units: int) -> list[float]:
    """Untimed units, so the timed ones do not pay for a cold JVM."""
    walls = []
    for _ in range(units):
        u = wl.unit()
        if u.problems:
            raise RuntimeError(f"warm-up is not exact: {u.problems}")
        walls.append(u.wall)
    return walls


def measure(wl, seconds: float, trace: bool, sc, min_units: int = 4) -> dict:
    """Closed loop: one unit at a time until ``seconds`` have passed and
    at least ``min_units`` units ran.  The floor keeps the sample set the
    same when the box is slow.  With ``trace`` the units run untraced,
    traced, traced, untraced (and again), so traced and untraced units
    are equally warm on average and the same run gives the tracing
    overhead."""
    from perfbench import trace as T

    tracer = T.Tracer(sc) if trace else None
    plain, traced, windows, problems = [], [], [], []
    items, attempted, snap = 0, 0, {"jobs": [], "stages": []}
    t_end = time.time() + seconds
    while True:
        on = trace and attempted % 4 in (1, 2)
        since = T.last_job(sc) if on else None
        attempted += 1
        try:
            u = wl.unit(tracer if on else None)
        except Exception as e:  # a unit that raises is a failed unit
            problems.append([f"{type(e).__name__}: {str(e)[:300]}"])
        else:
            if u.problems:
                problems.append(u.problems)
            else:
                (traced if on else plain).append(u.wall)
                items += u.items
            if on:
                windows.append((u.start, u.start + u.wall))
                s = T.snapshot(sc, since)
                snap["jobs"] += s["jobs"]
                snap["stages"] += s["stages"]
        if time.time() >= t_end and attempted >= min_units:
            break
    out = {"attempted": attempted, "failed": len(problems),
           "problems": problems[:5], "unit_s": plain, "traced_unit_s": traced,
           "items": items}
    if trace:
        out["layers"] = T.fold(snap, tracer.spans, windows)
    return out


def _remove_work(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    if not os.listdir(".perfbench_work"):
        os.rmdir(".perfbench_work")


def main(argv=None) -> int:
    from perfbench import trace as T
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=12.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--build-only", action="store_true",
                    help="only make the workload's cached build, then exit")
    args = ap.parse_args(argv)

    os.chdir(ROOT)
    work = os.path.join(".perfbench_work", f"{args.workload}-{os.getpid()}")
    if args.build_only:
        spark = start_spark(work)
        try:
            WORKLOADS[args.workload](spark, ROOT, work, args.seed).build()
        finally:
            stop_spark(spark, [])
            _remove_work(work)
        return 0
    # every workload's one-time build happens in the first run of any
    # workload, each in its own JVM, so that every timed run starts
    # equally cold
    t_build = time.time()
    for name, other in WORKLOADS.items():
        if not other(None, ROOT, work, args.seed).is_built():
            subprocess.run([sys.executable, os.path.abspath(__file__),
                            "--workload", name, "--build-only"], check=True)
    build_s = time.time() - t_build
    record = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              "box_before": box_probe()}
    spark = start_spark(work)
    sampler = RssSampler(spark.sparkContext._gateway.proc.pid)
    sampler.start()
    try:
        wl = WORKLOADS[args.workload](spark, ROOT, work, args.seed)
        record["build"] = wl.build()
        # a traced run compares its first timed unit with later ones, so
        # it warms up one unit longer
        record["warmup_unit_s"] = warm_up(wl, WARMUP_UNITS + args.trace)
        # one-time builds are cached per source tree, so they are not set-up
        setup_s = time.time() - T_START - build_s - record["box_before"]["probe_s"]
        res = measure(wl, args.seconds, bool(args.trace), spark.sparkContext)
        if args.trace:
            record["gen_s"] = wl.gen_s()
    finally:
        peak = sampler.stop()
        stop_spark(spark, sampler.tree())
        _remove_work(work)
    record["box_after"] = box_probe()
    record.update(res, setup_s=setup_s, build_s=build_s, peak_rss_mb=peak,
                  query_s=getattr(wl, "query_s", None))

    if args.trace:
        layers = dict(res.pop("layers"))
        layers["gen.s"] = record["gen_s"]
        layers["peak_rss_mb"] = peak
        ut, tt = res["unit_s"], res["traced_unit_s"]
        layers["trace.overhead_s"] = (statistics.mean(tt) - statistics.mean(ut)
                                      if ut and tt else 0.0)
        metrics = {k: {"value": v, "unit": T.unit_of(k)} for k, v in layers.items()}
    else:
        xs = res["unit_s"] or [0.0]  # every unit failed: correct is false
        # every unit does the same work, so the rate is items per unit
        # over the median unit time
        p50 = statistics.median(xs)
        values = {"setup_s": setup_s, "unit_s_p50": p50,
                  "items_per_s": res["items"] / len(xs) / p50 if p50 else 0.0}
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    record["metrics"] = metrics
    os.makedirs(".perfbench_out", exist_ok=True)
    with open(os.path.join(".perfbench_out",
                           f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w") as f:
        json.dump(record, f, indent=1, default=str)
    print("# record " + json.dumps({k: record[k] for k in (
        "box_before", "box_after", "build_s", "warmup_unit_s", "unit_s",
        "traced_unit_s", "problems")}, default=str))
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ not found in {ROOT}; run from a full "
              "checkout", file=sys.stderr)
        sys.exit(2)
    sys.path[:0] = [ROOT]
    sys.exit(main())
