"""SparkSession construction with scale-appropriate defaults.

The defaults target both local testing (local[N]) and large clusters:
AQE handles skew joins and coalesces post-shuffle partitions at any
scale, so we turn it on unconditionally.
"""

from __future__ import annotations

import os
import site
from contextlib import contextmanager
from importlib.machinery import PathFinder

from pyspark import SparkContext
from pyspark.sql import SparkSession

_JOB_DESCRIPTION = "spark.job.description"
_DAEMON = f"{__package__}._pydaemon"


def get_spark(
    app_name: str = "featurestore-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    On a real cluster `master`/`shuffle_partitions` come from the
    environment; locally we default to all cores and a modest shuffle
    width so tests stay fast. On a local master whose Python workers
    can import this package, they run `_pydaemon` (no re-read of
    Spark's zips per task; docs/scale.md "Python worker floor"); pass
    `{"spark.python.daemon.module": "pyspark.daemon"}` in `extra_conf`
    to opt out.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Read parquet TIMESTAMP(NANOS) as bigint (io.tables converts to
        # microsecond timestamps); Spark rejects nanos outright otherwise.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Arrow for any pandas_udf fallback paths (similarity, scoring).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    )
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        master = f"local[{cpus}]"
        builder = builder.master(master)
    if master and master.startswith("local") and _workers_import_package():
        builder = builder.config("spark.python.daemon.module", _DAEMON)
    builder = builder.config(
        "spark.sql.shuffle.partitions", str(shuffle_partitions or int(cpus))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def _workers_import_package() -> bool:
    """Whether a local Python worker finds this package on its start-up
    path: the JVM's working directory (this process's), PYTHONPATH or
    site-packages. Files shipped with `addPyFile` arrive only after the
    daemon has started."""
    roots = [
        os.getcwd(),
        *os.environ.get("PYTHONPATH", "").split(os.pathsep),
        *site.getsitepackages(),
    ]
    return PathFinder.find_spec(__package__, [r for r in roots if r]) is not None


@contextmanager
def _job_description(sc: SparkContext, label: str):
    """Describe the jobs launched inside the block as `label` (the
    Spark UI / REST ``description``), then restore the caller's own
    description, or leave it unset when none was set. The job group
    is left alone."""
    previous = sc.getLocalProperty(_JOB_DESCRIPTION)
    sc.setLocalProperty(_JOB_DESCRIPTION, label)
    try:
        yield
    finally:
        sc.setLocalProperty(_JOB_DESCRIPTION, previous)
