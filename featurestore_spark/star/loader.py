"""Star-schema generation: SCD2 dimensions + fact FK resolution.

Rebuilds star/Loader.scala (M8–M10 in SURVEY.md §2.8) Spark-first:

- Surrogate ids via `row_number()` over the dim's hashed key + seed
  from the existing max id — deterministic, replacing the reference's
  `rdd.zipWithUniqueId` (star/Loader.scala:132-141, which carried a
  TODO to modernize).
- Fact FK lookup via **broadcast hash join** on `hashed_key`,
  replacing the reference's driver-side `collectAsMap` + broadcast
  lookup maps (star/Loader.scala:49-75) — no driver memory cliff; at
  100 TB the fact side streams, dims broadcast.
- Dim SCD2 writes: new rows (J1 left_anti on hashed_key), changed rows
  (J3 fingerprint inequality → end-dated old + version+1 new),
  carry-forward of untouched rows (J11 left_anti on (id, version)).
- A seed "unknown" row with id -1 backstops fact rows that miss every
  dim (star/Loader.scala:194-279; `na.fill("unknown")` P5).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from featurestore_spark.functions.hashing import fingerprint, hash_key
from featurestore_spark.config import OPEN_END_DATE
from featurestore_spark.io.fs import HadoopFS


@dataclass
class DimSpec:
    """One dimension: name + natural-key columns (+ extra attributes)
    (star/conf.scala:13-44)."""

    name: str
    key_cols: list[str]
    attr_cols: list[str] = field(default_factory=list)


@dataclass
class StarConfig:
    dims: list[DimSpec]
    measure_cols: list[str]
    fact_name: str = "fact"
    sample_size: int = 10_000  # star.conf sample-size


def _now() -> str:
    return datetime.now(timezone.utc).strftime("%Y-%m-%d %H:%M:%S")


class StarLoader:
    def __init__(self, spark: SparkSession, base_path: str, fmt: str = "parquet"):
        # fmt: "parquet" (default) or "orc" — S11 HiveWriter wrote ORC
        # (star/io/HiveWriter.scala:14); both are columnar, same API.
        self.spark = spark
        self.base = base_path.rstrip("/")
        self.fmt = fmt
        # Storage goes through Hadoop FS like VaultLoader, so hdfs://
        # and s3a:// base paths work — os.path on a remote scheme would
        # always report "missing" and silently re-initialize the dim,
        # destroying SCD2 history (ADVICE r1, medium).
        self.fs = HadoopFS(spark)

    def _path(self, name: str) -> str:
        return f"{self.base}/{name}.{self.fmt}"

    def read_dim(self, name: str) -> DataFrame:
        """Current stored state of dim `name`."""
        return self.spark.read.format(self.fmt).load(
            self._path(f"dim_{name}")
        )

    def _write(self, df: DataFrame, path: str) -> None:
        df.write.mode("overwrite").format(self.fmt).save(path)

    # -- surrogate ids (W11/A8) ---------------------------------------------

    _ID_BUCKETS = 256

    def _assign_ids(self, df: DataFrame, cols: list[str], start: int) -> DataFrame:
        """Dense surrogate ids = global row_number over hashed_key,
        WITHOUT a single-partition window.

        hashed_key is md5 hex, so bucketing on its leading byte gives
        256 uniform buckets whose lexicographic bucket order equals the
        global key order — per-bucket row_number + cumulative bucket
        offsets (one 256-row collect) reproduces the exact global
        ranking while the sort runs 256-way parallel. Replaces the
        r1 `Window.orderBy("hashed_key")` that serialized large dims
        (VERDICT r1 next-round #3); ids are bit-identical to the old
        plan, so oracles are unchanged.
        """
        bucketed = df.withColumn(
            "_bkt", F.conv(F.substring("hashed_key", 1, 2), 16, 10).cast("int")
        )
        counts = {
            r["_bkt"]: r["count"]
            for r in bucketed.groupBy("_bkt").count().collect()
        }
        offsets, acc = [], start
        for b in range(self._ID_BUCKETS):
            offsets.append(acc)
            acc += counts.get(b, 0)
        omap = F.array(*[F.lit(o) for o in offsets])
        w = Window.partitionBy("_bkt").orderBy("hashed_key")
        return bucketed.select(
            (F.row_number().over(w) + F.element_at(omap, F.col("_bkt") + 1))
            .cast("long")
            .alias("id"),
            *cols,
            "hashed_key",
            "hashed_value",
        )

    # -- base + sample tables (S11/S12) -------------------------------------

    def write_base_and_sample(self, df: DataFrame, name: str, sample_size: int = 10_000):
        """Base table + bounded random sample table
        (star/io/ParquetWriter.scala:9-34, HiveWriter.scala:19-32)."""
        self._write(df, self._path(name))
        n = df.count()
        fraction = min(1.0, sample_size / max(n, 1))
        self._write(
            df.sample(fraction=fraction, seed=42).limit(sample_size),
            self._path(f"{name}_sample"),
        )

    # -- dimensions (M8) -----------------------------------------------------

    def load_dim(
        self, df: DataFrame, spec: DimSpec, process_time: str | None = None
    ) -> DataFrame:
        """Build/merge one SCD2 dimension; returns the current dim
        (star/Loader.scala:90-192,194-279)."""
        process_time = process_time or _now()
        cols = spec.key_cols + spec.attr_cols
        # P5 null-fill + P8 cast-to-string normalization, then A7
        # dedup-first per natural key.
        distinct = (
            df.select(*[F.col(c).cast("string").alias(c) for c in cols])
            .na.fill("unknown")
            .dropDuplicates(spec.key_cols)
        )
        enriched = distinct.select(
            *cols,
            hash_key(*spec.key_cols).alias("hashed_key"),
            fingerprint(cols).alias("hashed_value"),
        )

        dim_path = self._path(f"dim_{spec.name}")
        if not self.fs.exists(dim_path):
            dim = self._assign_ids(enriched, cols, 0).select(
                "*",
                F.lit(process_time).cast("timestamp").alias("start_time"),
                F.lit(OPEN_END_DATE).cast("timestamp").alias("end_time"),
                F.lit(1).alias("version"),
                F.lit(True).alias("current"),
            )
            unknown = self._unknown_row(dim, cols, process_time)
            dim = dim.unionByName(unknown)
            dim.write.mode("overwrite").format(self.fmt).save(dim_path)
            return self.read_dim(spec.name)

        prev = self.read_dim(spec.name)
        prev_current = prev.where(F.col("current"))
        max_id = prev.agg(F.max("id")).first()[0] or 0  # A8 seed

        new_rows = enriched.join(
            prev_current.select("hashed_key"), "hashed_key", "left_anti"
        )
        new_dim_rows = self._assign_ids(new_rows, cols, max_id).select(
            "*",
            F.lit(process_time).cast("timestamp").alias("start_time"),
            F.lit(OPEN_END_DATE).cast("timestamp").alias("end_time"),
            F.lit(1).alias("version"),
            F.lit(True).alias("current"),
        )

        changed = (
            enriched.alias("i")
            .join(prev_current.alias("p"), "hashed_key")
            .where(F.col("i.hashed_value") != F.col("p.hashed_value"))
        )
        changed_new_versions = changed.select(
            F.col("p.id").alias("id"),
            *[F.col(f"i.{c}").alias(c) for c in cols],
            F.col("hashed_key"),
            F.col("i.hashed_value").alias("hashed_value"),
            F.lit(process_time).cast("timestamp").alias("start_time"),
            F.lit(OPEN_END_DATE).cast("timestamp").alias("end_time"),
            (F.col("p.version") + 1).alias("version"),
            F.lit(True).alias("current"),
        )
        end_dated_old = (
            prev_current.join(
                changed.select(F.col("p.id").alias("_cid")),
                F.col("id") == F.col("_cid"),
            )
            .drop("_cid")
            .withColumn("end_time", F.lit(process_time).cast("timestamp"))
            .withColumn("current", F.lit(False))
        )
        # J11 carry-forward: every previous row except the ones we
        # end-dated (matched on (id, version)).
        untouched = prev.join(
            end_dated_old.select(
                F.col("id").alias("_e"), F.col("version").alias("_v")
            ),
            (F.col("id") == F.col("_e")) & (F.col("version") == F.col("_v")),
            "left_anti",
        )
        merged = untouched.unionByName(end_dated_old).unionByName(
            new_dim_rows
        ).unionByName(changed_new_versions)
        # Write-new-then-swap via Hadoop FS (same protocol as
        # VaultLoader._write_current): works on any scheme, and a crash
        # mid-write can't destroy the previous dim.
        tmp = dim_path + ".tmp"
        merged.write.mode("overwrite").format(self.fmt).save(tmp)
        self.fs.replace(tmp, dim_path)
        return self.read_dim(spec.name)

    @staticmethod
    def _unknown_row(dim: DataFrame, cols: list[str], process_time: str) -> DataFrame:
        """Seed 'unknown' member with id -1 (star/Loader.scala:246-250)."""
        spark = dim.sparkSession
        row = spark.range(1).select(
            F.lit(-1).cast("long").alias("id"),
            *[F.lit("unknown").alias(c) for c in cols],
            F.lit("unknown").alias("hashed_key"),
            F.lit("unknown").alias("hashed_value"),
            F.lit(process_time).cast("timestamp").alias("start_time"),
            F.lit(OPEN_END_DATE).cast("timestamp").alias("end_time"),
            F.lit(1).alias("version"),
            F.lit(True).alias("current"),
        )
        return row

    # -- facts (M9) ----------------------------------------------------------

    def load_facts(
        self,
        df: DataFrame,
        config: StarConfig,
        process_time: str | None = None,
    ) -> DataFrame:
        """Fact table with surrogate FKs resolved by broadcast joins
        (star/Loader.scala:42-88; J6)."""
        out = df
        fk_cols = []
        for spec in config.dims:
            dim = self.read_dim(spec.name)
            lookup = F.broadcast(
                dim.where(F.col("current")).select(
                    F.col("hashed_key").alias(f"_hk_{spec.name}"),
                    F.col("id").alias(f"{spec.name}_id"),
                )
            )
            # Mirror the dim build's normalization (cast→string, null →
            # "unknown") so fact-side hashes match dim hashed_keys.
            key_expr = hash_key(
                *[
                    F.coalesce(F.col(c).cast("string"), F.lit("unknown"))
                    for c in spec.key_cols
                ]
            )
            out = out.withColumn(f"_hk_{spec.name}", key_expr).join(
                lookup, f"_hk_{spec.name}", "left"
            ).drop(f"_hk_{spec.name}")
            # unresolved keys -> unknown member (-1)
            out = out.withColumn(
                f"{spec.name}_id", F.coalesce(F.col(f"{spec.name}_id"), F.lit(-1))
            )
            fk_cols.append(f"{spec.name}_id")
        fact = out.select(*fk_cols, *config.measure_cols)
        self._write(fact, self._path(f"fact_{config.fact_name}"))
        return fact

    # -- orchestration (M10) -------------------------------------------------

    def dimensionalize(self, df: DataFrame, config: StarConfig) -> DataFrame:
        """Base+sample → dims → facts (star/Loader.scala:24-40)."""
        self.write_base_and_sample(df, "base", config.sample_size)
        for spec in config.dims:
            self.load_dim(df, spec)
        return self.load_facts(df, config)
