"""SparkSession factory with the engine's standard configuration.

Local mode is the sandbox stand-in for a multi-executor cluster; the
partitioning/shuffle design (host-hash bucketing, AQE, salted skew
splitting) is what carries to a real cluster — see SURVEY.md §4.

The local core count and the driver heap default to what the machine
has (``machine_defaults``); ``SPARK_GRAFT_CPUS`` and
``SPARK_DRIVER_MEM`` override them.
"""

from __future__ import annotations

import os
from importlib.machinery import PathFinder

from pyspark.sql import SparkSession

# Share of the machine's memory (physical memory, or the cgroup limit
# when that is lower) given to the driver heap.  In local mode every
# executor thread lives in that heap; the rest is for the JVM's
# off-heap memory and the Python workers.
DRIVER_HEAP_FRACTION = 0.5
MIN_DRIVER_HEAP_MB = 1024

# Compiled-class cache size (Spark's default is 100).  One resumed round
# of the smoke polite crawl needs more classes than 100, so at 100
# entries every warm resume of that round recompiled 131-132 of them;
# at 1000 it compiles 2.  The fresh 5-round crawl before it compiles 707
# classes at 100 entries and 288 at 1000.  The 7 benchmark analytics
# queries compile about 99 per cold pass; a warm pass recompiled 3-20
# at 100 entries and 0-4 at 1000.
CODEGEN_CACHE_ENTRIES = 1000

# PySpark's DataFrame debugging wraps every Column/DataFrame API call in
# a Python stack walk plus extra py4j round trips to record the call
# site.  Off, a resumed round of the smoke polite crawl makes about
# 3,400 py4j round trips instead of 6,700.  The cost: analysis errors
# no longer name the PySpark call site that built the failing
# expression.
DATAFRAME_DEBUGGING = "false"

# Python worker daemon (``pyworker_daemon``).  With pyspark's own
# daemon every Python task waits about 200 ms in
# ``importlib.invalidate_caches()``, which re-reads Spark's pyspark and
# py4j archives (165-264 ms per call with their 16 cached
# zipimporters).  A 64-row identity ``mapInPandas`` at local[4] took
# 222-303 ms over 1 partition and 541-721 ms over 8 with pyspark's
# daemon, 146-168 ms and 186-201 ms with this one (4-core box, CPython
# 3.11.7, Spark 4.1.2).
PYTHON_DAEMON_MODULE = "beeradvocate_crawler_spark.pyworker_daemon"


def machine_defaults(total_bytes: int, cpus: int | None) -> tuple[int, str]:
    """(local cores, driver heap) for a machine with ``total_bytes`` of
    usable memory and ``cpus`` CPUs (None when unknown)."""
    heap_mb = max(MIN_DRIVER_HEAP_MB,
                  int(total_bytes * DRIVER_HEAP_FRACTION) >> 20)
    return max(1, cpus or 1), f"{heap_mb}m"


def _usable_memory_bytes() -> int:
    """Physical memory, capped by the cgroup (v2 or v1) memory limit."""
    total = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    for limit_file in ("/sys/fs/cgroup/memory.max",
                       "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(limit_file) as f:
                total = min(total, int(f.read().strip()))
        except (OSError, ValueError):  # absent, or "max" (no limit)
            continue
    return total


def session_defaults() -> tuple[int, str]:
    """``machine_defaults`` of this machine, with the env overrides."""
    cores, heap = machine_defaults(_usable_memory_bytes(), os.cpu_count())
    return (int(os.environ.get("SPARK_GRAFT_CPUS", cores)),
            os.environ.get("SPARK_DRIVER_MEM", heap))


def python_daemon_conf(master: str, cwd: str, pythonpath: str) -> dict[str, str]:
    """``spark.python.daemon.module`` for a ``master`` session whose JVM
    runs in ``cwd`` with ``pythonpath``, or nothing (pyspark's daemon).

    Only local workers are started by the driver's JVM, in its cwd.
    Spark runs the daemon as ``python -m``, from that cwd plus the
    ``PYTHONPATH`` entries; if the package reaches the workers only per
    task (``spark-submit --py-files`` from outside the checkout), a
    daemon that cannot import its module would fail every Python task.
    So the package must resolve from there as a plain directory that
    holds the daemon module.
    """
    if master != "local" and not master.startswith("local["):
        return {}
    package, module = PYTHON_DAEMON_MODULE.split(".")
    spec = PathFinder.find_spec(package,
                                [cwd, *filter(None, pythonpath.split(os.pathsep))])
    if spec is None or not spec.origin or not os.path.isfile(
            os.path.join(os.path.dirname(spec.origin), module + ".py")):
        return {}
    return {"spark.python.daemon.module": PYTHON_DAEMON_MODULE}


def get_spark(
    app: str = "beeradvocate_crawler_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    cores, driver_memory = session_defaults()
    master = master or f"local[{cores}]"
    n_threads = int(master[master.index("[") + 1 : -1]) if "[" in master else cores
    shuffle_partitions = shuffle_partitions or max(8, n_threads)
    b = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # fat html cells: bound Arrow batch size so python workers
        # don't blow up on wide binary columns (SURVEY.md §4.1)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.python.sql.dataFrameDebugging.enabled", DATAFRAME_DEBUGGING)
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
    )
    daemon = python_daemon_conf(master, os.getcwd(), os.environ.get("PYTHONPATH", ""))
    for k, v in {**daemon, **(extra or {})}.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
