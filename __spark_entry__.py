"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All real logic lives in ``featurestore_spark``; the catalog at
``featurestore_spark/queries/catalog.py`` pairs each operator from
SURVEY.md §2 with its oracle SQL.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from featurestore_spark.queries import QUERIES  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    The flagship is the W8 snapshot pivot (EAVT → wide feature
    vectors), the reference's core Feature Store read
    (PivotFunctions.scala:27-60).
    """
    return QUERIES["q_pivot_snapshot"].spark(spark, SMOKE_SF_DIR)


def _last_verified(artifact_dir: str) -> dict[str, int]:
    """Newest round N whose ``CORRECTNESS_r<N>.json`` in ``artifact_dir``
    lists each query name (the files map query name -> result)."""
    last: dict[str, int] = {}
    for path in glob.glob(os.path.join(artifact_dir, "CORRECTNESS_r*.json")):
        m = re.match(r"CORRECTNESS_r(\d+)", os.path.basename(path))
        if not m:
            continue
        with open(path) as f:
            for name in json.load(f):
                last[name] = max(last.get(name, 0), int(m.group(1)))
    return last


def _driver_order(artifact_dir: str) -> list[str]:
    """Catalog names, least recently driver-verified first; the sort is
    stable, so ties keep registration order."""
    last = _last_verified(artifact_dir)
    return sorted(QUERIES, key=lambda name: last.get(name, 0))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    The driver verifies the first 50 entries, so the order is the
    window rule: queries are sorted by the newest round whose
    ``CORRECTNESS_r<N>.json`` beside this file lists them. Never-verified
    queries come first, then the oldest-verified; ties keep the
    catalog's registration order, which is also the whole order when
    no such file exists."""
    return {name: QUERIES[name].spark for name in _driver_order(REPO)}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalent for each query (same column
    names/aliases as the Spark result). Queries without an entry get
    the driver's weaker rows-only check."""
    return {
        name: spec.oracle for name, spec in QUERIES.items() if spec.oracle is not None
    }
