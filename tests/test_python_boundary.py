"""The JVM->Python boundary: the engine's Python worker daemon
(``pyworker_daemon``), the guard that decides when a session uses it,
and UDFs that PySpark accepts without a warning."""

from __future__ import annotations

import os
import sys
import warnings
import zipfile

import pytest

from beeradvocate_crawler_spark import pyworker_daemon as D
from beeradvocate_crawler_spark.session import PYTHON_DAEMON_MODULE, python_daemon_conf

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _worker_imports(it):
    import zipimport

    import pandas as pd
    import pyspark

    home = os.path.join(os.path.realpath(os.environ["SPARK_HOME"]), "")
    zips = [k for k, v in sys.path_importer_cache.items()
            if isinstance(v, zipimport.zipimporter)
            and os.path.realpath(k).startswith(home)]
    for _ in it:
        yield pd.DataFrame({"pyspark_file": [pyspark.__file__],
                            "spark_zips": [len(zips)]})


class TestWorkerDaemon:
    def test_session_uses_the_engine_daemon(self, spark):
        assert spark.conf.get("spark.python.daemon.module") == PYTHON_DAEMON_MODULE

    def test_workers_import_pyspark_outside_spark_archives(self, spark):
        rows = (spark.range(8, numPartitions=4)
                .mapInPandas(_worker_imports, "pyspark_file string, spark_zips int")
                .collect())
        assert len(rows) == 4
        for r in rows:
            assert os.path.isfile(r.pyspark_file), r.pyspark_file
            assert r.spark_zips == 0


def _touch(path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    open(path, "wb").close()
    return path


@pytest.fixture()
def spark_home(tmp_path):
    """A Spark install reached through a symlink, as ``$SPARK_HOME`` often is."""
    real = tmp_path / "spark-4.1.2-bin"
    archives = [_touch(str(real / "python" / "lib" / "pyspark.zip")),
                _touch(str(real / "python" / "lib" / "py4j-src.zip")),
                _touch(str(real / "jars" / "spark-core.jar"))]
    link = tmp_path / "spark"
    link.symlink_to(real)
    return str(link), [a.replace(str(real), str(link)) for a in archives]


def _site_packages() -> str:
    import pyspark

    return os.path.dirname(os.path.dirname(pyspark.__file__))


class TestArchiveFilter:
    def test_drops_spark_archives_when_pyspark_resolves_without_them(self, spark_home):
        home, archives = spark_home
        path = [ROOT, *archives, _site_packages()]
        assert D.without_spark_archives(path, home) == [ROOT, _site_packages()]

    def test_keeps_spark_archives_when_pyspark_needs_them(self, spark_home, tmp_path):
        home, archives = spark_home
        path = [str(tmp_path), *archives]
        assert D.without_spark_archives(path, home) == path

    def test_keeps_a_user_zip(self, spark_home, tmp_path):
        home, archives = spark_home
        user_zip = _touch(str(tmp_path / "user" / "deps.zip"))
        path = [*archives, user_zip, _site_packages()]
        assert D.without_spark_archives(path, home) == [user_zip, _site_packages()]

    def test_no_spark_home_changes_nothing(self, spark_home):
        _, archives = spark_home
        path = [*archives, _site_packages()]
        assert D.without_spark_archives(path, None) == path


class TestDaemonGuard:
    def test_local_master_with_the_checkout_on_the_path(self, tmp_path):
        conf = {"spark.python.daemon.module": PYTHON_DAEMON_MODULE}
        assert python_daemon_conf("local[4]", ROOT, "") == conf
        assert python_daemon_conf("local", str(tmp_path), ROOT) == conf

    def test_non_local_master(self):
        for master in ("spark://host:7077", "yarn", "local-cluster[2,1,1024]"):
            assert python_daemon_conf(master, ROOT, "") == {}

    def test_engine_only_in_a_zip(self, tmp_path):
        z = str(tmp_path / "engine.zip")
        with zipfile.ZipFile(z, "w") as f:
            f.writestr("beeradvocate_crawler_spark/__init__.py", "")
        assert python_daemon_conf("local[4]", str(tmp_path), z) == {}
        assert python_daemon_conf("local[4]", str(tmp_path), "") == {}

    def test_checkout_without_the_daemon_module(self, tmp_path):
        _touch(str(tmp_path / "beeradvocate_crawler_spark" / "__init__.py"))
        assert python_daemon_conf("local[4]", str(tmp_path), ROOT) == {}


def test_compact_blobs_raises_no_warning(spark):
    from beeradvocate_crawler_spark.operators.seen import compact_blobs

    seen = spark.range(100).selectExpr("id * 7919 AS url_hash")
    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        rows = compact_blobs(seen, 1).collect()
    assert sum(r.n_keys for r in rows) == 100
