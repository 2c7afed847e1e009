"""Python worker daemon of local sessions (``spark.python.daemon.module``).

Spark starts its daemon as ``python -m <module>`` with
``$SPARK_HOME/python/lib/pyspark.zip``, the py4j zip and the spark-core
jar at the head of ``sys.path``.  pyspark's worker calls
``importlib.invalidate_caches()`` at the start of every task, and on
CPython 3.11 every cached ``zipimporter`` re-reads its whole archive
directory there: about 200 ms per task on a 4-core box, before the
UDF sees a row.  So this daemon, before pyspark is imported:

1. drops Spark's own archives from ``sys.path`` and
   ``sys.path_importer_cache``, if the installed ``pyspark`` and
   ``py4j`` resolve without them (other archives, such as a user zip on
   ``PYTHONPATH``, stay);
2. imports what every worker imports anyway (``WARM_MODULES``) and
   moves it out of the collector's reach with ``gc.freeze()``:
   pyspark's daemon runs ``gc.collect()`` after every task of a reused
   worker, which walks these modules' 73k objects in 20-30 ms and
   frozen ones in 0 ms;

and then forks its workers from that state with pyspark's own
``manager()``.  Each half pays: a 64-row identity ``mapInPandas`` over
8 partitions at local[4] took 541-721 ms with pyspark's daemon,
222-253 ms with the archives dropped, and 186-201 ms with both halves
(247 ms when the imports are not frozen).  The frozen imports stay
shared with the daemon: during a resumed smoke-crawl round the
workers' summed PSS is 170 MB, against 262 MB with the archives
dropped alone.

``session.get_spark`` sets this daemon only when it can import this
package as a plain directory (``session.python_daemon_conf``).
"""

from __future__ import annotations

import gc
import importlib
import os
import sys
from importlib.machinery import PathFinder

WARM_MODULES = (
    "pyspark.worker",
    "pandas",
    "pyarrow",
    "beeradvocate_crawler_spark.operators.parse",
    "beeradvocate_crawler_spark.operators.seen",
    "beeradvocate_crawler_spark.plans.relational",
    "beeradvocate_crawler_spark.plans.textops",
    "beeradvocate_crawler_spark.plans.graph",
)


def without_spark_archives(path: list[str], spark_home: str | None) -> list[str]:
    """``path`` less its ``.zip``/``.jar`` entries under ``spark_home``
    (compared by realpath: ``$SPARK_HOME`` is often a symlink), provided
    ``pyspark`` and ``py4j`` still resolve from what is left; otherwise
    ``path`` itself."""
    if not spark_home:
        return path
    home = os.path.join(os.path.realpath(spark_home), "")
    kept = [p for p in path
            if not (p.endswith((".zip", ".jar"))
                    and os.path.realpath(p).startswith(home))]
    if len(kept) == len(path) or not all(
            PathFinder.find_spec(m, kept) for m in ("pyspark", "py4j")):
        return path
    return kept


def drop_spark_archives() -> None:
    kept = without_spark_archives(sys.path, os.environ.get("SPARK_HOME"))
    dropped = [p for p in sys.path if p not in kept]
    sys.path[:] = kept
    # ``python -m`` cached an importer for each entry while it looked
    # this module up; invalidate_caches() walks that cache, not sys.path.
    for p in dropped:
        sys.path_importer_cache.pop(p, None)


if __name__ == "__main__":
    drop_spark_archives()
    for name in WARM_MODULES:
        importlib.import_module(name)
    gc.freeze()
    from pyspark import daemon

    daemon.manager()
