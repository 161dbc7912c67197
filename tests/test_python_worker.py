"""The session's Python worker daemon (featurestore_spark/_pydaemon.py).

`get_spark` sessions start their Python workers through `_pydaemon`,
which drops Spark's pyspark/py4j archives from the worker path when the
installed pyspark is the same version, so no task re-reads a zip
directory in `importlib.invalidate_caches()`.
"""

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from featurestore_spark._pydaemon import worker_path
from featurestore_spark.session import get_spark

ZIPS = ["/spark/python/lib/pyspark.zip", "/spark/python/lib/py4j-src.zip"]
PATH = ["/repo", ZIPS[0], ZIPS[1], "/spark/jars/spark-core.jar", "/py/site-packages"]
ARCHIVES = [*ZIPS, PATH[3]]


def test_worker_path_drops_archives_on_same_version():
    assert worker_path(PATH, ARCHIVES, "4.1.2", "4.1.2", True) == [
        "/repo",
        "/py/site-packages",
    ]


def test_worker_path_keeps_path_otherwise():
    assert worker_path(PATH, ARCHIVES, "4.1.1", "4.1.2", True) == PATH
    assert worker_path(PATH, ARCHIVES, None, "4.1.2", True) == PATH
    assert worker_path(PATH, ARCHIVES, "4.1.2", None, True) == PATH
    assert worker_path(PATH, ARCHIVES, "4.1.2", "4.1.2", False) == PATH
    assert worker_path(PATH[:1], [], "4.1.2", "4.1.2", True) == PATH[:1]


def test_workers_hold_no_zip_importer(spark):
    def probe(_):
        import sys
        import zipimport

        import pyspark

        importers = sys.path_importer_cache.values()
        zips = sum(isinstance(v, zipimport.zipimporter) for v in importers)
        yield zips, pyspark.__file__

    [(zips, pyspark_file)] = (
        spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
    )
    assert zips == 0
    assert not any(s in pyspark_file for s in (".zip", ".jar"))


def test_pandas_udf_from_outside_the_package(spark):
    @pandas_udf("long")
    def _plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    out = spark.range(0, 100, numPartitions=4).select(
        F.sum(_plus_one("id")).alias("s")
    )
    assert out.first()["s"] == sum(range(1, 101))


def test_caller_daemon_module_wins(monkeypatch):
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda b: dict(b._options))
    daemon = "spark.python.daemon.module"
    assert get_spark(master="local[1]")[daemon] == "featurestore_spark._pydaemon"
    conf = get_spark(master="local[1]", extra_conf={daemon: "pyspark.daemon"})
    assert conf[daemon] == "pyspark.daemon"
