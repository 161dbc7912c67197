"""Testdata table loading, with TIMESTAMP(NANOS) parquet compatibility,
and the schema-cached parquet read path.

Some producers (pandas/pyarrow default) write parquet `timestamp[ns]`
columns, which Spark's vectorized reader rejects outright
(PARQUET_TYPE_ILLEGAL). With `spark.sql.legacy.parquet.nanosAsLong=true`
(set in session.py) the column arrives as a BIGINT of nanoseconds; we
convert to a proper timestamp with **integer** division (`div 1000`) —
a double division would lose precision above 2^53 ns (~1970+104 days).
Truncation toward zero matches DuckDB's ns→us handling, so oracle
comparisons agree to the microsecond. Which columns are nanos is read
from the parquet footer driver-side via pyarrow, so the conversion is
applied before any plan is built and Catalyst still sees a plain
timestamp column it can push filters onto.

`load_table` and the vault reads (`VaultLoader.read_current` /
`read_history`) go through `_read_parquet`. A bare `spark.read.parquet`
launches a Spark job to infer the schema on every call, even when
nothing changed; `_read_parquet` caches the `StructType` Spark
inferred, keyed by the session, the paths, `HadoopFS.fingerprint` of
each path (a rewrite, append or in-place overwrite changes it) and the
session confs that change inference (`_SCHEMA_CONFS`). The read then
supplies the schema, which launches no job; only a miss infers, as a
job described ``fs:read_schema:<caller>``. Types are exactly what
inference gave (no pyarrow→Spark mapping here), and an absent path is
never cached, so Spark raises its own error. Reads that always follow
a write of the same path stay plain `spark.read.parquet`: their key
would never repeat.
"""

from __future__ import annotations

import functools
import os
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from featurestore_spark.io.fs import HadoopFS
from featurestore_spark.session import _job_description

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@functools.lru_cache(maxsize=256)
def _nano_ts_columns(path: str, fingerprint: str) -> tuple[str, ...]:
    """Column names stored as parquet timestamp[ns] (driver-side footer
    read), once per snapshot: `fingerprint` is only the cache key."""
    try:
        import pyarrow.dataset as ds

        schema = ds.dataset(path, format="parquet").schema
    except Exception:
        return ()
    import pyarrow as pa

    return tuple(
        f.name for f in schema if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    )


# Session confs that change the schema parquet inference yields (type
# mapping, schema merging, partition-value typing).
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
    "spark.sql.timestampType",
    "spark.sql.caseSensitive",
)


def _read_parquet(
    spark: SparkSession, *paths: str, prints: tuple[str | None, ...] | None = None
) -> DataFrame:
    """A parquet read of `paths` that infers each snapshot's schema
    once (module docstring). `prints` are the paths' fingerprints when
    the caller already took them. They are taken BEFORE inference, so
    a rewrite racing the read can only leave an entry under a key that
    no longer matches the data."""
    if prints is None:
        fs = HadoopFS(spark)
        prints = tuple(fs.fingerprint(p) for p in paths)
    if None in prints:
        return spark.read.parquet(*paths)
    confs = tuple(spark.conf.get(k) for k in _SCHEMA_CONFS)
    label = f"fs:read_schema:{sys._getframe(1).f_code.co_name}"
    with _job_description(spark.sparkContext, label):
        schema = _inferred_schema(spark, paths, prints, confs)
    return spark.read.schema(schema).parquet(*paths)


@functools.lru_cache(maxsize=256)
def _inferred_schema(
    spark: SparkSession, paths: tuple[str, ...], prints: tuple, confs: tuple
) -> StructType:
    """The schema Spark infers for `paths`; `prints` and `confs` are
    only the cache key. The key holds `spark` until the entry is
    evicted."""
    return spark.read.parquet(*paths).schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table, normalizing nano-timestamps to TimestampType.

    Self-sufficient w.r.t. session config: the driver may hand us a
    plain SparkSession, so the nanos compat flag and UTC timezone
    (naive parquet timestamps == UTC instants, matching DuckDB's naive
    semantics) are (re)applied here — both are runtime-settable.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    fingerprint = HadoopFS(spark).fingerprint(path)
    df = _read_parquet(spark, path, prints=(fingerprint,))
    dtypes = dict(df.dtypes)
    # Only convert ns-columns that actually arrived as BIGINT nanos:
    # Spark reads its own ns-written files as timestamps directly, so a
    # re-materialized table (e.g. tools/gen_scale.py output) must not
    # be divided twice.
    for c in _nano_ts_columns(path, fingerprint):
        if dtypes.get(c) == "bigint":
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    # Naive (isAdjustedToUTC=false) parquet timestamps arrive as
    # TIMESTAMP_NTZ; normalize to TIMESTAMP (lossless under the UTC
    # session tz pinned above) so unix_micros & friends apply uniformly.
    for name, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(name, F.col(name).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, names=TABLE_NAMES) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_views(spark: SparkSession, sf_dir: str, names=TABLE_NAMES) -> None:
    """Register each table as a temp view for the SQL surface."""
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
