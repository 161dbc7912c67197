"""Data Vault 2.0 incremental loaders (hub / satellite / link / mapping).

Rebuilds diamond/load/ParquetDataLoader.scala (M1–M5 in SURVEY.md §2.8)
as modern DataFrame dataflows. Every load runs ONE merge, `_merge`:
`load_hub`, `load_satellite`, `load_link` and `load_mapping` only build
the keyed frame they store, and the merge classifies it against the
live current rows, continues the version chain, writes tombstones,
appends the delta to history and rebuilds current. Duplicates are
dropped from the keyed frame (the satellite: from its input, whose
columns it all stores), so input rows that differ only in a column a
hub or link does not store are one stored row.

- MD5 `entity_id` from (id_type ++ natural key) — `hash_key` built-in
  (ParquetDataLoader.scala:304).
- Change detection via a stable row fingerprint over the value columns
  in pinned schema order (`hashed_value`, ParquetDataLoader.scala:312;
  null-safe rendering per SURVEY.md §7).
- Insert/update/delete classification with `left_anti` joins and an
  inner join + fingerprint-inequality filter (J1/J2/J3), replacing the
  reference's join-where-null SQL.
- SCD2 versioning: full history (append) + `current` snapshot
  (window `row_number()=1`, replacing the RDD reduceByKey snapshot at
  ParquetDataLoader.scala:983-990).
- `overwrite=True` additionally end-dates the previous row-versions of
  changed entities (end_time = new start_time), writing a `prev`
  escape-hatch copy first (ParquetDataLoader.scala:458-471; J11
  carry-forward via left_anti on (entity_id, version)).
- Process log (S16), meta.json sidecar (S17), I/U/D change tables
  partitioned by process_date with age-based pruning (S19).

Scale design:
- The incremental classify joins (incoming vs current) shuffle on
  entity_id — an MD5 key, uniformly distributed by construction, so
  no skew ("with hashing, all tables can be loaded in parallel",
  DataLoader.scala:15-21).
- `current` is maintained from (previous current ∪ delta), never by
  re-scanning full history — history grows unboundedly, current
  doesn't.
- History writes are append-only partitioned parquet; the only
  rewrite is the explicit `overwrite` end-dating mode.
- Counts for the process log are computed from cached deltas (small),
  not extra full-input passes; `collect_counts=False` disables them
  entirely for hot paths.

Known reference bugs NOT replicated (SURVEY.md §7): double-`where` in
hub delete SQL, link snapshot using the wrong dataframe, the
`i.e$META_SRC_ENTITY_ID` typo, positional unionAll fragility.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from datetime import datetime, timezone

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from featurestore_spark.config import (
    CURRENT_FILE,
    HISTORY_FILE,
    META,
    META_FILE,
    OPEN_END_DATE,
    PREV_FILE,
    PROC_FILE,
    RECTYPE,
    MetaColumns,
    ProcessInfo,
    Rectype,
)
from featurestore_spark.functions.hashing import fingerprint, hash_key
from featurestore_spark.io.fs import HadoopFS
from featurestore_spark.io.tables import _read_parquet
from featurestore_spark.operators.snapshot import latest_per_key


@dataclass
class LoadResult:
    """Per-load metrics, mirroring the process-log schema
    (DataLoader.scala:85-96: read/duplicates/inserts/updates/deletes)."""

    table: str
    read_count: int = 0
    duplicates: int = 0
    inserts: int = 0
    updates: int = 0
    deletes: int = 0
    process_time: str = ""
    extra: dict = field(default_factory=dict)


def _now_str() -> str:
    return datetime.now(timezone.utc).strftime("%Y-%m-%d %H:%M:%S")


def classify_upserts(
    incoming: DataFrame,
    current: DataFrame,
    *,
    key_col: str | list[str] = META.entity_id,
    hash_col: str = META.hashed_value,
    version_col: str = META.version,
    rectype_col: str = META.rectype,
    rectype: Rectype = RECTYPE,
) -> tuple[DataFrame, DataFrame | None]:
    """Split `incoming` into (inserts, updates) against `current`.

    The core of M2 change classification (ParquetDataLoader.scala:
    340-456): inserts = keys absent from current (J1, left_anti);
    updates = keys present with a different row fingerprint (J3),
    version = current version + 1. Shuffles once on the MD5 key —
    uniform by construction, no skew. `key_col` is one column or a
    list (a link's (src, dst) pair). Rows without a `hash_col`
    fingerprint (hubs, links) cannot change, so updates is None.
    """
    keys = [key_col] if isinstance(key_col, str) else list(key_col)
    inserts = (
        incoming.join(current.select(*keys), keys, "left_anti")
        .withColumn(rectype_col, F.lit(rectype.insert))
        .withColumn(version_col, F.lit(1))
    )
    if hash_col not in incoming.columns:
        return inserts, None
    cur_keyhash = current.select(
        *keys,
        F.col(hash_col).alias("_cur_hash"),
        F.col(version_col).alias("_cur_version"),
    )
    updates = (
        incoming.join(cur_keyhash, keys, "inner")
        .where(F.col(hash_col) != F.col("_cur_hash"))
        .withColumn(rectype_col, F.lit(rectype.update))
        .withColumn(version_col, F.col("_cur_version") + 1)
        .drop("_cur_hash", "_cur_version")
    )
    return inserts, updates


class VaultLoader:
    """Parquet-layer vault loader (the reference's ParquetDataLoader)."""

    def __init__(
        self,
        spark: SparkSession,
        base_path: str,
        *,
        meta: MetaColumns = META,
        rectype: Rectype = RECTYPE,
        fingerprint_method: str = "xxhash64",
        open_end: str = OPEN_END_DATE,
        collect_counts: bool = True,
    ):
        self.spark = spark
        self.base = base_path.rstrip("/")
        self.m = meta
        self.rt = rectype
        self.fp_method = fingerprint_method
        self.open_end = open_end
        self.collect_counts = collect_counts
        self._fs = HadoopFS(spark)

    # -- storage helpers ----------------------------------------------------
    #
    # All filesystem operations go through the Hadoop FileSystem API of
    # the Spark session, so the same loader works on file://, hdfs://,
    # s3a:// etc. (os.path/shutil would silently only work locally).

    def _dir(self, table: str) -> str:
        return f"{self.base}/{table}"

    def _path(self, table: str, leaf: str) -> str:
        return f"{self._dir(table)}/{leaf}"

    def _exists(self, table: str) -> bool:
        return self._fs.exists(self._path(table, CURRENT_FILE))

    def read_current(self, table: str) -> DataFrame:
        """The table's current snapshot. The read infers its schema
        once per snapshot (`io.tables._read_parquet`): re-reading an
        unchanged table launches no Spark job, and any write to it (a
        load, an external rewrite) makes the next read infer afresh."""
        return _read_parquet(self.spark, self._path(table, CURRENT_FILE))

    def read_history(self, table: str) -> DataFrame:
        """Every row-version of the table (SCD2 history), read through
        the same schema-cached path as `read_current`: an append adds
        files, which changes the snapshot key, so appended rows and
        columns are always seen."""
        return _read_parquet(self.spark, self._path(table, HISTORY_FILE))

    def _write_current(self, df: DataFrame, table: str) -> None:
        # Write-new-then-swap: plain parquet overwrite is not atomic;
        # staging keeps a crash from destroying `current`.
        tmp = self._path(table, CURRENT_FILE + ".tmp")
        df.write.mode("overwrite").parquet(tmp)
        self._fs.replace(tmp, self._path(table, CURRENT_FILE))

    def _append_history(self, df: DataFrame, table: str, partition_by=None) -> None:
        writer = df.write.mode("append")
        if partition_by:
            writer = writer.partitionBy(partition_by)
        writer.parquet(self._path(table, HISTORY_FILE))

    def _snapshot_history_to_prev(self, table: str) -> DataFrame:
        """Materialize history into the prev snapshot and return it.

        The overwrite merge both reads and rewrites history; reading it
        back from the prev copy breaks the self-referencing plan AND
        leaves a recovery point (the reference's prev.parquet escape
        hatch, ParquetDataLoader.scala:460-463).
        """
        self.read_history(table).write.mode("overwrite").parquet(
            self._path(table, PREV_FILE)
        )
        return self.spark.read.parquet(self._path(table, PREV_FILE))

    def _overwrite_history(
        self, df: DataFrame, table: str, partition_by: list[str] | None = None
    ) -> None:
        """Replace history with `df` (write-new-then-swap)."""
        tmp = self._path(table, HISTORY_FILE + ".tmp")
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(tmp)
        self._fs.replace(tmp, self._path(table, HISTORY_FILE))

    def compact_history(
        self,
        table: str,
        *,
        target_file_bytes: int = 128 * 1024 * 1024,
        target_files: int | None = None,
    ) -> dict:
        """Consolidate a rolling history root (VERDICT r13 #5 — the
        `compact_index` stance applied to the vault WRITE path): every
        `load_hub`/`load_satellite`/`load_link` appends one file-set
        to `history.parquet` forever, so at rolling-ingestion scale
        the root becomes the same small-files field the incremental
        indexes had — every downstream read lists and opens one
        parquet file per historical load. This maintenance rung
        rewrites history into size-targeted files, preserving the row
        set exactly (history rows carry their version/process_time
        ORDER in data columns — `latest_per_key` and the merge reads
        window on them — so row-set equality is plan equivalence) and
        preserving the loader's hive partitioning (hub histories
        partition by the id-type column; satellites/links are flat).

        Crash safety reuses the loader's own discipline rather than
        inventing one: history is first materialized to
        `prev.parquet` (the reference's recovery-point escape hatch,
        ParquetDataLoader.scala:460-463 — also breaks the
        self-referencing plan), then the compacted frame overwrites
        history via the usual write-new-then-swap. A crash at any
        point leaves either the old history or a complete new one,
        with prev holding the full pre-compaction copy. Run OFFLINE
        (between loads), same stance as `compact_index`: the
        append-writers must not race the swap.

        Returns ``{"files_before", "files_after", "rows",
        "partition_by"}``; a no-op (already at or under target)
        returns early with equal counts."""
        path = self._path(table, HISTORY_FILE)
        files_before = self._fs.file_count(path)
        # partition layout discovery from the directory shape — the
        # loader only ever writes ONE level (id_type on hubs)
        part_cols = sorted(
            {
                n.split("=", 1)[0]
                for n in self._fs.list_names(path)
                if "=" in n and not n.startswith(("_", "."))
            }
        )
        if target_files is None:
            total = self._fs.size_bytes(path)
            target_files = max(1, -(-total // target_file_bytes))
        n_parts = max(
            1,
            len([n for n in self._fs.list_names(path) if "=" in n])
            if part_cols else 1,
        )
        if files_before <= max(target_files, n_parts):
            return {
                "files_before": files_before,
                "files_after": files_before,
                "rows": None,
                "partition_by": part_cols,
            }
        prev = self._snapshot_history_to_prev(table)
        rows = prev.count()
        if part_cols:
            # one shuffle keyed on the partition columns: every
            # partition value lands in exactly one task, so each
            # hive partition dir compacts to one file
            out = prev.repartition(*[F.col(c) for c in part_cols])
        else:
            out = prev.coalesce(int(target_files))
        self._overwrite_history(out, table, partition_by=part_cols or None)
        return {
            "files_before": files_before,
            "files_after": self._fs.file_count(path),
            "rows": rows,
            "partition_by": part_cols,
        }

    # -- shared column builders --------------------------------------------

    def _meta_cols(self, process: ProcessInfo | None, process_time: str) -> list[Column]:
        m = self.m
        process = process or ProcessInfo()
        return [
            F.lit(process_time).cast("timestamp").alias(m.start_time),
            F.lit(self.open_end).cast("timestamp").alias(m.end_time),
            F.lit(process.source).alias(m.source),
            F.lit(process.process_type).alias(m.process_type),
            F.lit(process.process_id).alias(m.process_id),
            F.lit(process_time).cast("date").alias(m.process_date),
        ]

    @staticmethod
    def _prepare(
        df: DataFrame, projection: list[str] | None, new_names: dict[str, str] | None
    ) -> DataFrame:
        """Optional projection + rename (P1–P2,
        ParquetDataLoader.scala:292-300); each load dedups (P3) itself."""
        out = df
        if projection:
            out = out.select(*projection)
        if new_names:
            out = out.withColumnsRenamed(new_names)
        return out

    @staticmethod
    def _delete_flag(delete_indicator: tuple[str, object] | None) -> list[Column]:
        """The boolean `_is_delete` column `_merge` splits flagged
        deletes on, or none without a delete indicator."""
        if delete_indicator is None:
            return []
        col_name, del_value = delete_indicator
        return [(F.col(col_name) == F.lit(del_value)).alias("_is_delete")]

    def _resurrect(self, inserts: DataFrame, cur: DataFrame, keys: list[str]) -> DataFrame:
        """Continue the version chain for re-inserted (resurrected) keys.

        Change classification runs against current rows with
        rectype <> 'D' (the reference's filter,
        ParquetDataLoader.scala:343-345), so a deleted entity that
        re-appears classifies as an insert. The reference restarts it at
        version 1, which its own max-version snapshot
        (ParquetDataLoader.scala:983-990) would lose to the tombstone's
        higher version — current would stay deleted. We bump the
        resurrected insert past the tombstone instead, so
        `latest_per_key` flips current back to the live row and
        (entity_id, version) stays unique in history.
        """
        m, rt = self.m, self.rt
        tomb = cur.where(F.col(m.rectype) == rt.delete).select(
            *keys, F.col(m.version).alias("_tomb_version")
        )
        return (
            inserts.join(tomb, keys, "left")
            .withColumn(
                m.version, F.coalesce(F.col("_tomb_version") + 1, F.col(m.version))
            )
            .drop("_tomb_version")
        )

    def _tombstones(self, rows: DataFrame, process_time: str) -> DataFrame:
        """Tombstones for the current `rows` the caller picked: rectype
        D at version + 1, starting and ending at `process_time`."""
        m = self.m
        ts = F.lit(process_time).cast("timestamp")
        return (
            rows.withColumn(m.rectype, F.lit(self.rt.delete))
            .withColumn(m.version, F.col(m.version) + 1)
            .withColumn(m.start_time, ts)
            .withColumn(m.end_time, ts)
            .withColumn(m.process_date, F.lit(process_time).cast("date"))
        )

    def _count(self, df: DataFrame) -> int:
        return df.count() if self.collect_counts else -1

    def _delta_counts(self, delta: DataFrame) -> dict[str, int]:
        """I/U/D counts from the (cached) delta in one job.

        Counting the individual lazy plans after the current-snapshot
        swap would re-read deleted files; the cached delta is safe.
        """
        if not self.collect_counts:
            return {}
        rows = delta.groupBy(self.m.rectype).count().collect()
        return {r[self.m.rectype]: r["count"] for r in rows}

    # -- process log / meta sidecar (S16/S17) ------------------------------

    def _write_process_log(self, table: str, result: LoadResult) -> None:
        """Append one summary row to proc.csv (read-old + rewrite —
        the reference's read-union-overwrite protocol,
        ParquetDataLoader.scala:1014-1056)."""
        if not self.collect_counts:
            return
        path = self._path(table, PROC_FILE)
        existing = self._fs.read_text(path)
        if existing is None:
            existing = "process_time,table,read_count,duplicates,inserts,updates,deletes\n"
        line = (
            f"{result.process_time},{result.table},{result.read_count},"
            f"{result.duplicates},{result.inserts},{result.updates},{result.deletes}\n"
        )
        self._fs.write_text(path, existing + line)

    def _write_meta(self, table: str, params: dict) -> None:
        self._fs.write_text(
            self._path(table, META_FILE), json.dumps(params, indent=2, default=str)
        )

    # -- change tables (S19) ------------------------------------------------

    def _write_change_tables(
        self, table: str, inserts: DataFrame, updates: DataFrame, deletes: DataFrame,
        retention_days: int = 3,
    ) -> None:
        for leaf, df in (("new", inserts), ("changed", updates), ("removed", deletes)):
            path = self._path(table, f"{leaf}.parquet")
            df.write.mode("append").partitionBy(self.m.process_date).parquet(path)
            self._prune_partitions(path, retention_days)

    def _prune_partitions(self, path: str, retention_days: int) -> None:
        """Drop process_date partitions older than the retention window
        (ParquetDataLoader.scala:1079-1103, daysAgo=3) — Hadoop FS
        listing, so pruning works on object stores too."""
        from datetime import date, timedelta

        cutoff = date.today() - timedelta(days=retention_days)
        for name in self._fs.list_names(path):
            if "=" in name:
                try:
                    d = date.fromisoformat(name.split("=", 1)[1])
                except ValueError:
                    continue
                if d < cutoff:
                    self._fs.delete(f"{path}/{name}")

    # -- the merge (M1-M4) --------------------------------------------------

    def _merge(
        self,
        df: DataFrame,
        keyed: DataFrame,
        *,
        table: str,
        keys: list[str],
        process_time: str,
        meta: dict,
        scope: Column | None = None,
        partition_by: str | None = None,
        full_refresh: bool = False,
        overwrite: bool = False,
        write_change_tables: bool = False,
    ) -> LoadResult:
        """Merge `keyed`, the deduplicated stored rows built from the raw
        input `df`, into `table`: the one dataflow behind every load.

        The data picks the branches: `keyed` rows carrying
        `hashed_value` (satellites) can classify as updates, and a
        boolean `_is_delete` column (a delete indicator) splits off
        flagged deletes. Classification runs against the live current
        rows within `scope` (the hub's id_type slice), but current is
        rebuilt from the FULL previous current so rows outside the
        scope survive.
        """
        m, rt = self.m, self.rt
        read_count = self._count(df)
        dedup_count = self._count(keyed)
        result = LoadResult(
            table=table,
            read_count=read_count,
            duplicates=(read_count - dedup_count) if self.collect_counts else -1,
            process_time=process_time,
        )
        flagged = None
        if "_is_delete" in keyed.columns:
            flagged = keyed.where(F.col("_is_delete")).drop("_is_delete")
            keyed = keyed.where(~F.col("_is_delete")).drop("_is_delete")

        if not self._exists(table):
            new_rows = keyed.withColumn(m.rectype, F.lit(rt.insert)).withColumn(
                m.version, F.lit(1)
            )
            self._append_history(new_rows, table, partition_by)
            self._write_current(new_rows, table)
            result.inserts = self._count(new_rows)
        else:
            cur_all = self.read_current(table)
            cur = cur_all if scope is None else cur_all.where(scope)
            # J1 + J3 classification (shared with the oracle-checked
            # query) against LIVE current only (rectype <> 'D',
            # ParquetDataLoader.scala:343-345): a deleted entity
            # re-appearing with identical values must re-insert, not
            # fingerprint-match the tombstone and vanish.
            live = cur.where(F.col(m.rectype) != rt.delete)
            inserts, updates = classify_upserts(
                keyed,
                live,
                key_col=keys,
                hash_col=m.hashed_value,
                version_col=m.version,
                rectype_col=m.rectype,
                rectype=rt,
            )
            delta = self._resurrect(inserts, cur, keys)
            if updates is not None:
                delta = delta.unionByName(updates)
            # J2 / delete-indicator: flagged or vanished keys → rectype D
            gone = None
            if flagged is not None:
                # semi join: one tombstone per flagged key, however
                # many input rows flag it
                gone = live.join(flagged.select(*keys), keys, "left_semi")
            elif full_refresh:
                gone = live.join(keyed.select(*keys), keys, "left_anti")
            if gone is not None:
                delta = delta.unionByName(self._tombstones(gone, process_time))
            delta = delta.cache()
            counts = self._delta_counts(delta)  # materializes the cache
            result.inserts = counts.get(rt.insert, 0)
            result.updates = counts.get(rt.update, 0)
            result.deletes = counts.get(rt.delete, 0)

            if overwrite:
                # End-date the previous row-version of changed/deleted
                # keys: carry forward untouched history (J11 left_anti on
                # (keys, version)), rewrite affected rows with
                # end_time = new start_time. prev snapshot escape hatch
                # first.
                prev = self._snapshot_history_to_prev(table)
                affected = delta.where(F.col(m.rectype) != rt.insert).select(
                    *keys, (F.col(m.version) - 1).alias(m.version)
                )
                on = [*keys, m.version]
                end_dated = prev.join(affected, on, "inner").withColumn(
                    m.end_time, F.lit(process_time).cast("timestamp")
                )
                untouched = prev.join(affected, on, "left_anti")
                self._overwrite_history(
                    untouched.unionByName(end_dated).unionByName(delta), table
                )
            else:
                self._append_history(delta, table, partition_by)
            if write_change_tables:
                # Slices of the cached delta — safe to write at any point.
                self._write_change_tables(
                    table,
                    *(
                        delta.where(F.col(m.rectype) == r)
                        for r in (rt.insert, rt.update, rt.delete)
                    ),
                )
            self._write_current(
                latest_per_key(cur_all.unionByName(delta), keys, [m.version]), table
            )
            delta.unpersist()

        self._write_process_log(table, result)
        self._write_meta(table, meta)
        return result

    # -- hub (M1) -----------------------------------------------------------

    def register_customers(
        self,
        df: DataFrame,
        *,
        id_field: str,
        id_type: str,
        table: str = "customer_hub",
        **kwargs,
    ) -> "LoadResult":
        """M7 wrapper (DataLoader.scala:153-164): register customer
        ids into the customer hub — `load_hub` with entity_type pinned
        to 'customer' and the id column conformed to `customer_id`."""
        return self.load_hub(
            df,
            table=table,
            entity_type="customer",
            id_fields=["customer_id"],
            id_type=id_type,
            new_names={id_field: "customer_id"},
            **kwargs,
        )

    def register_services(
        self,
        df: DataFrame,
        *,
        id_field: str,
        id_type: str,
        table: str = "service_hub",
        **kwargs,
    ) -> "LoadResult":
        """M7 wrapper (DataLoader.scala:166-177): register service ids
        into the service hub — `load_hub` with entity_type pinned to
        'service' and the id column conformed to `service_id`."""
        return self.load_hub(
            df,
            table=table,
            entity_type="service",
            id_fields=["service_id"],
            id_type=id_type,
            new_names={id_field: "service_id"},
            **kwargs,
        )

    def load_hub(
        self,
        df: DataFrame,
        *,
        table: str,
        entity_type: str,
        id_fields: list[str],
        id_type: str,
        process: ProcessInfo | None = None,
        process_time: str | None = None,
        full_refresh: bool = False,
        delete_indicator: tuple[str, object] | None = None,
        new_names: dict[str, str] | None = None,
        projection: list[str] | None = None,
        natural_key_col: str = "natural_key",
    ) -> LoadResult:
        """Register natural keys: one row-version per key, MD5 entity_id
        (ParquetDataLoader.scala:49-270).

        The natural key is stored under ONE conformed column
        (`natural_key_col`, multi-field keys joined with '|') so hubs
        holding several id_types — e.g. customer ids, emails, fnns
        registered into the same hub (CustomerMappingSpec.scala:20-87)
        — keep a uniform schema across loads.
        """
        m = self.m
        process_time = process_time or _now_str()
        keyed = self._prepare(df, projection, new_names).select(
            hash_key(F.lit(id_type), *id_fields).alias(m.entity_id),
            F.lit(entity_type).alias(m.entity_type),
            F.lit(id_type).alias(m.id_type),
            F.concat_ws("|", *[F.col(c).cast("string") for c in id_fields]).alias(
                natural_key_col
            ),
            *self._meta_cols(process, process_time),
            *self._delete_flag(delete_indicator),
        )
        return self._merge(
            df,
            keyed.distinct(),
            table=table,
            keys=[m.entity_id],
            process_time=process_time,
            meta={
                "table": table,
                "entity_type": entity_type,
                "id_type": id_type,
                "id_fields": id_fields,
                "process_time": process_time,
                "full_refresh": full_refresh,
            },
            scope=F.col(m.id_type) == id_type,
            partition_by=m.id_type,
            full_refresh=full_refresh,
        )

    # -- satellite (M2) -----------------------------------------------------

    def load_satellite(
        self,
        df: DataFrame,
        *,
        table: str,
        entity_type: str,
        id_fields: list[str],
        id_type: str,
        process: ProcessInfo | None = None,
        process_time: str | None = None,
        full_refresh: bool = False,
        delete_indicator: tuple[str, object] | None = None,
        overwrite: bool = False,
        write_change_tables: bool = False,
        new_names: dict[str, str] | None = None,
        projection: list[str] | None = None,
    ) -> LoadResult:
        """Descriptive attributes with SCD2 history + current snapshot
        (ParquetDataLoader.scala:272-553; flagship load, SURVEY.md §3.1).

        Value columns = schema order after rename, minus the natural key
        fields (PII separation: keys live only in the hub,
        ParquetDataLoader.scala:302,519-521). `hashed_value` over those
        columns drives update detection.
        """
        m = self.m
        process_time = process_time or _now_str()
        # A satellite stores every input column but the delete indicator
        # (the id fields as entity_id), so it dedups the narrower raw
        # rows rather than the keyed frame.
        inp = self._prepare(df, projection, new_names).distinct()
        flag_col = delete_indicator[0] if delete_indicator else None
        value_cols = [c for c in inp.columns if c not in id_fields and c != flag_col]
        keyed = inp.select(
            hash_key(F.lit(id_type), *id_fields).alias(m.entity_id),
            *[F.col(c) for c in value_cols],
            fingerprint(value_cols, self.fp_method).alias(m.hashed_value),
            *self._meta_cols(process, process_time),
            *self._delete_flag(delete_indicator),
        )
        return self._merge(
            df,
            keyed,
            table=table,
            keys=[m.entity_id],
            process_time=process_time,
            meta={
                "table": table,
                "entity_type": entity_type,
                "id_type": id_type,
                "id_fields": id_fields,
                "process_time": process_time,
                "overwrite": overwrite,
                "full_refresh": full_refresh,
            },
            full_refresh=full_refresh,
            overwrite=overwrite,
            write_change_tables=write_change_tables,
        )

    # -- link (M3) / mapping (M4) ------------------------------------------

    def _load_pairwise(
        self,
        df: DataFrame,
        *,
        table: str,
        src_fields: list[str],
        src_id_type: str,
        dst_fields: list[str],
        dst_id_type: str,
        entity_type: str,
        extra_cols: list[str],
        process: ProcessInfo | None,
        process_time: str | None,
        full_refresh: bool,
    ) -> LoadResult:
        """Shared M3/M4 keying: hashed (src, dst) pair registry with
        versioning (ParquetDataLoader.scala:555-975)."""
        m = self.m
        process_time = process_time or _now_str()
        keyed = df.select(
            hash_key(F.lit(src_id_type), *src_fields).alias(m.src_entity_id),
            hash_key(F.lit(dst_id_type), *dst_fields).alias(m.dst_entity_id),
            F.lit(entity_type).alias(m.entity_type),
            F.lit(src_id_type).alias(m.src_id_type),
            F.lit(dst_id_type).alias(m.dst_id_type),
            *[F.col(c) for c in extra_cols],
            *self._meta_cols(process, process_time),
        )
        return self._merge(
            df,
            keyed.distinct(),
            table=table,
            keys=[m.src_entity_id, m.dst_entity_id],
            process_time=process_time,
            meta={
                "table": table,
                "entity_type": entity_type,
                "src_id_type": src_id_type,
                "src_fields": src_fields,
                "dst_id_type": dst_id_type,
                "dst_fields": dst_fields,
                "process_time": process_time,
                "full_refresh": full_refresh,
            },
            full_refresh=full_refresh,
        )

    def load_link(
        self,
        df: DataFrame,
        *,
        table: str,
        src_fields: list[str],
        src_id_type: str,
        dst_fields: list[str],
        dst_id_type: str,
        entity_type: str = "link",
        process: ProcessInfo | None = None,
        process_time: str | None = None,
        full_refresh: bool = False,
    ) -> LoadResult:
        """M:N association of two hashed entity ids (M3)."""
        return self._load_pairwise(
            df,
            table=table,
            src_fields=src_fields,
            src_id_type=src_id_type,
            dst_fields=dst_fields,
            dst_id_type=dst_id_type,
            entity_type=entity_type,
            extra_cols=[],
            process=process,
            process_time=process_time,
            full_refresh=full_refresh,
        )

    def load_mapping(
        self,
        df: DataFrame,
        *,
        table: str,
        src_fields: list[str],
        src_id_type: str,
        dst_fields: list[str],
        dst_id_type: str,
        confidence_col: str | None = None,
        confidence: float = 1.0,
        entity_type: str = "mapping",
        process: ProcessInfo | None = None,
        process_time: str | None = None,
        full_refresh: bool = False,
    ) -> LoadResult:
        """Id-crosswalk with confidence (M4,
        ParquetDataLoader.scala:766-975)."""
        m = self.m
        if confidence_col is None:
            df = df.withColumn(m.confidence, F.lit(float(confidence)))
        elif confidence_col != m.confidence:
            df = df.withColumnRenamed(confidence_col, m.confidence)
        return self._load_pairwise(
            df,
            table=table,
            src_fields=src_fields,
            src_id_type=src_id_type,
            dst_fields=dst_fields,
            dst_id_type=dst_id_type,
            entity_type=entity_type,
            extra_cols=[m.confidence],
            process=process,
            process_time=process_time,
            full_refresh=full_refresh,
        )

    # -- readers (A2 latest-version views) ----------------------------------

    def read_current_mapping(self, table: str) -> DataFrame:
        """Latest version per (src, dst) from current
        (ParquetDataLoader.scala:992-1001)."""
        m = self.m
        return latest_per_key(
            self.read_current(table), [m.src_entity_id, m.dst_entity_id], [m.version]
        )

    def snapshot(self, table: str, keys: list[str] | None = None) -> DataFrame:
        """Latest version per key from full history
        (ParquetDataLoader.scala:983-990)."""
        m = self.m
        return latest_per_key(
            self.read_history(table), keys or [m.entity_id], [m.version]
        )

    # -- config-driven orchestration (M5) -----------------------------------

    def load_all(self, sources: dict[str, DataFrame], config: dict) -> dict[str, LoadResult]:
        """Run hubs → satellites → links → mappings from a plain config
        dict (DataLoader.scala:98-151, conf.scala:87-119)."""
        results: dict[str, LoadResult] = {}
        for section, load in (
            ("hubs", self.load_hub),
            ("satellites", self.load_satellite),
            ("links", self.load_link),
            ("mappings", self.load_mapping),
        ):
            for spec in config.get(section, []):
                kwargs = {k: v for k, v in spec.items() if k != "source"}
                results[spec["table"]] = load(sources[spec["source"]], **kwargs)
        return results
