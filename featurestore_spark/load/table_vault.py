"""Managed-table vault loader — the HiveDataLoader (M6) analog.

The reference's HiveDataLoader (HiveDataLoader.scala:101-509) mirrored
the parquet loader onto Hive tables, with updates/deletes commented
out (Hive-on-Spark 1.5 had no UPDATE). Modern Spark managed tables
support the full join-based merge, so this subclass reuses EVERY
algorithm from VaultLoader and only swaps the storage protocol:

- history  → catalog table `{db}.{table}_history` (append)
- current  → catalog table `{db}.{table}_current`
  (createOrReplace via overwrite saveAsTable)
- process log → catalog table `{db}.{table}_proc` (append), replacing
  the csv sidecar (HiveDataLoader.scala:545-617 wrote these with
  `INSERT INTO ... FROM dual`)
- meta sidecar → table properties are overkill; stored as a 1-row
  `{db}.{table}_meta` snapshot.

The satellite `overwrite` end-dating mode rewrites the history table
in place (overwrite saveAsTable) — same non-atomicity caveat as the
parquet layer, same prev-table escape hatch.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, DataFrameWriter

from featurestore_spark.load.vault import LoadResult, VaultLoader


class TableVaultLoader(VaultLoader):
    """VaultLoader persisted to catalog (metastore) managed tables."""

    def __init__(self, spark, database: str = "default", **kwargs):
        super().__init__(spark, base_path=database, **kwargs)
        self.database = database
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}")

    # -- storage protocol overrides -----------------------------------------

    def _tbl(self, table: str, leaf: str) -> str:
        leaf = leaf.split(".")[0]  # strip ".parquet" suffixes from base names
        return f"{self.database}.{table}_{leaf}"

    def _exists(self, table: str) -> bool:
        return self.spark.catalog.tableExists(self._tbl(table, "current"))

    def read_current(self, table: str) -> DataFrame:
        return self.spark.table(self._tbl(table, "current"))

    def read_history(self, table: str) -> DataFrame:
        return self.spark.table(self._tbl(table, "history"))

    def _replace_table(self, writer: DataFrameWriter, name: str) -> None:
        # Stage-then-rename: a replacing plan may read the table it
        # replaces (new current reads old current), so it must be fully
        # materialized (into the staging table) before the old one is
        # dropped.
        staged = f"{name}_staging"
        writer.mode("overwrite").saveAsTable(staged)
        self.spark.sql(f"DROP TABLE IF EXISTS {name}")
        self.spark.sql(f"ALTER TABLE {staged} RENAME TO {name}")

    def _write_current(self, df: DataFrame, table: str) -> None:
        self._replace_table(df.write, self._tbl(table, "current"))

    def _append_history(self, df: DataFrame, table: str, partition_by=None) -> None:
        name = self._tbl(table, "history")
        writer = df.write.mode("append")
        if partition_by:
            # append to a partitioned table must restate the partitioning
            writer = writer.partitionBy(partition_by)
        writer.saveAsTable(name)

    def _write_process_log(self, table: str, result: LoadResult) -> None:
        if not self.collect_counts:
            return
        row = self.spark.createDataFrame(
            [
                (
                    result.process_time,
                    result.table,
                    result.read_count,
                    result.duplicates,
                    result.inserts,
                    result.updates,
                    result.deletes,
                )
            ],
            "process_time string, table string, read_count long, duplicates long,"
            " inserts long, updates long, deletes long",
        )
        row.write.mode("append").saveAsTable(self._tbl(table, "proc"))

    def _write_meta(self, table: str, params: dict) -> None:
        row = self.spark.createDataFrame(
            [(json.dumps(params, default=str),)], "meta_json string"
        )
        row.write.mode("overwrite").saveAsTable(self._tbl(table, "meta"))

    # -- overwrite end-dating + change tables (M6 full parity) ---------------
    #
    # The reference's HiveDataLoader only aspired to these
    # (HiveDataLoader.scala:203-228, updates/deletes commented out);
    # modern managed tables run the identical merge as the parquet layer.

    def _snapshot_history_to_prev(self, table: str) -> DataFrame:
        prev = self._tbl(table, "prev")
        self.read_history(table).write.mode("overwrite").saveAsTable(prev)
        return self.spark.table(prev)

    def _overwrite_history(self, df: DataFrame, table: str) -> None:
        self._replace_table(df.write, self._tbl(table, "history"))

    def compact_history(self, table: str, **kwargs) -> dict:
        raise NotImplementedError(
            "TableVaultLoader.compact_history: catalog tables have no "
            "file listing to compact; the parquet-layer version counts "
            "files under a history path this loader never writes"
        )

    def _write_change_tables(
        self, table: str, inserts: DataFrame, updates: DataFrame, deletes: DataFrame,
        retention_days: int = 3,
    ) -> None:
        from datetime import date, timedelta

        from pyspark.sql import functions as F

        cutoff = date.today() - timedelta(days=retention_days)
        for leaf, df in (("new", inserts), ("changed", updates), ("removed", deletes)):
            name = self._tbl(table, leaf)
            df.write.mode("append").partitionBy(self.m.process_date).saveAsTable(name)
            # Retention pruning: staged rewrite of the recent window
            # (change tables hold <= retention_days of deltas, so the
            # rewrite is bounded; ALTER TABLE DROP PARTITION is not
            # portable to the in-memory catalog).
            full = self.spark.table(name)
            stale = full.where(
                F.col(self.m.process_date) < F.lit(cutoff.isoformat()).cast("date")
            )
            if stale.limit(1).count() > 0:
                kept = full.where(
                    F.col(self.m.process_date)
                    >= F.lit(cutoff.isoformat()).cast("date")
                )
                self._replace_table(kept.write.partitionBy(self.m.process_date), name)
