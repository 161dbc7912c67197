"""Data Vault loader golden-sequence tests, mirroring the reference's
LoadHubParquetSpec / LoadSatelliteParquetSpec / Overwrite variants
(full -> delta -> update -> delete; history counts, versions, rectypes,
current snapshot, end-dating)."""

import hashlib
import json

import pytest
from pyspark.sql import functions as F

from featurestore_spark.load import VaultLoader

T0 = "2024-01-01 00:00:00"
T1 = "2024-01-02 00:00:00"
T2 = "2024-01-03 00:00:00"


def _customers(spark, ids, flag=0):
    rows = [(str(i), i % 2, flag) for i in ids]
    return spark.createDataFrame(rows, ["cust_id", "age_flag", "income_flag"])


@pytest.fixture()
def loader(spark, tmp_path):
    return VaultLoader(spark, str(tmp_path), fingerprint_method="md5")


def test_hub_md5_key_and_delta(spark, loader):
    res = loader.load_hub(
        _customers(spark, range(100)),
        table="customer_hub",
        entity_type="customer",
        id_fields=["cust_id"],
        id_type="customer",
        process_time=T0,
    )
    assert res.inserts == 100
    cur = loader.read_current("customer_hub")
    assert cur.count() == 100
    # entity_id == md5(idType ++ id)  (LoadHubParquetSpec.scala:41-49)
    row = cur.where(F.col("natural_key") == "7").first()
    assert row["entity_id"] == hashlib.md5(b"customer7").hexdigest()
    assert row["version"] == 1 and row["rectype"] == "I"

    # delta: 10 new ids -> only they are inserted
    res2 = loader.load_hub(
        _customers(spark, range(95, 110)),
        table="customer_hub",
        entity_type="customer",
        id_fields=["cust_id"],
        id_type="customer",
        process_time=T1,
    )
    assert res2.inserts == 10
    assert loader.read_current("customer_hub").count() == 110
    assert loader.read_history("customer_hub").count() == 110


def test_register_customers_services_wrappers(spark, loader, tmp_path):
    """M7 wrappers (DataLoader.scala:153-177) == load_hub with pinned
    entity_type/conformed id column."""
    res = loader.register_customers(
        _customers(spark, range(10)),
        id_field="cust_id",
        id_type="crm",
        process_time=T0,
    )
    assert res.inserts == 10
    cur = loader.read_current("customer_hub")
    row = cur.where(F.col("natural_key") == "7").first()
    assert row["entity_type"] == "customer"
    assert row["entity_id"] == hashlib.md5(b"crm7").hexdigest()

    # equivalent explicit load_hub into a second loader matches exactly
    other = VaultLoader(spark, str(tmp_path / "explicit"), fingerprint_method="md5")
    other.load_hub(
        _customers(spark, range(10)),
        table="customer_hub",
        entity_type="customer",
        id_fields=["customer_id"],
        id_type="crm",
        new_names={"cust_id": "customer_id"},
        process_time=T0,
    )
    a = {tuple(r) for r in cur.drop("process_id").collect()}
    b = {tuple(r) for r in other.read_current("customer_hub").drop("process_id").collect()}
    assert a == b

    res2 = loader.register_services(
        spark.createDataFrame([("s1",), ("s2",)], ["svc"]),
        id_field="svc",
        id_type="svc_code",
        process_time=T0,
    )
    assert res2.inserts == 2
    svc = loader.read_current("service_hub").first()
    assert svc["entity_type"] == "service"


def test_hub_full_refresh_deletes(spark, loader):
    loader.load_hub(
        _customers(spark, range(20)),
        table="h",
        entity_type="c",
        id_fields=["cust_id"],
        id_type="customer",
        process_time=T0,
    )
    res = loader.load_hub(
        _customers(spark, range(15)),  # 15..19 vanished
        table="h",
        entity_type="c",
        id_fields=["cust_id"],
        id_type="customer",
        process_time=T1,
        full_refresh=True,
    )
    assert res.deletes == 5
    cur = loader.read_current("h")
    dels = cur.where(F.col("rectype") == "D")
    assert dels.count() == 5
    assert dels.first()["version"] == 2
    assert cur.count() == 20  # deleted entities stay, flagged D


def test_satellite_full_delta_update_sequence(spark, loader):
    kwargs = dict(
        table="cust_sat",
        entity_type="customer",
        id_fields=["cust_id"],
        id_type="customer",
    )
    # full load: 100 rows (analog of 20,000-row golden load)
    res = loader.load_satellite(_customers(spark, range(100)), process_time=T0, **kwargs)
    assert res.inserts == 100 and res.updates == 0
    assert loader.read_history("cust_sat").count() == 100

    # delta: 10 new -> history 110
    res = loader.load_satellite(
        _customers(spark, range(100, 110)), process_time=T1, **kwargs
    )
    assert res.inserts == 10 and res.updates == 0
    assert loader.read_history("cust_sat").count() == 110

    # updates: same 10 ids, changed values -> version 2, rectype U
    res = loader.load_satellite(
        _customers(spark, range(100, 110), flag=9), process_time=T2, **kwargs
    )
    assert res.inserts == 0 and res.updates == 10
    hist = loader.read_history("cust_sat")
    assert hist.count() == 120  # 20000 -> 20010 -> 20020 analog
    cur = loader.read_current("cust_sat")
    assert cur.count() == 110
    changed = cur.where(F.col("income_flag") == 9)
    assert changed.count() == 10
    first = changed.first()
    assert first["version"] == 2 and first["rectype"] == "U"
    # unchanged rows NOT spuriously updated (hash discipline)
    assert cur.where((F.col("version") == 1) & (F.col("rectype") == "I")).count() == 100
    # proc.csv accumulated one clean line per load (S16; the r1
    # Hadoop-FS read returned NUL bytes, corrupting the append)
    proc = loader._fs.read_text(loader._path("cust_sat", "proc.csv"))
    lines = proc.strip().split("\n")
    assert lines[0].startswith("process_time,") and len(lines) == 4
    assert "\x00" not in proc
    assert lines[3].startswith(T2) and lines[3].endswith(",0,10,0")


def test_satellite_unchanged_reload_is_noop(spark, loader):
    kwargs = dict(
        table="s2", entity_type="c", id_fields=["cust_id"], id_type="customer"
    )
    loader.load_satellite(_customers(spark, range(50)), process_time=T0, **kwargs)
    res = loader.load_satellite(_customers(spark, range(50)), process_time=T1, **kwargs)
    assert res.inserts == 0 and res.updates == 0 and res.deletes == 0
    assert loader.read_history("s2").count() == 50


def test_satellite_overwrite_end_dates_previous(spark, loader):
    kwargs = dict(
        table="s3", entity_type="c", id_fields=["cust_id"], id_type="customer"
    )
    loader.load_satellite(_customers(spark, range(10)), process_time=T0, **kwargs)
    loader.load_satellite(
        _customers(spark, range(10), flag=5), process_time=T1, overwrite=True, **kwargs
    )
    hist = loader.read_history("s3")
    assert hist.count() == 20
    v1 = hist.where(F.col("version") == 1).first()
    v2 = hist.where(F.col("version") == 2).first()
    # old end_time == new start_time (LoadSatelliteOverwriteParquetSpec:119-122)
    assert str(v1["end_time"]) == T1
    assert str(v2["start_time"]) == T1
    assert str(v2["end_time"]).startswith("9999-12-31")


def test_satellite_delete_indicator(spark, loader):
    kwargs = dict(
        table="s4", entity_type="c", id_fields=["cust_id"], id_type="customer"
    )
    df0 = _customers(spark, range(10)).withColumn("status", F.lit("active"))
    loader.load_satellite(
        df0, process_time=T0, delete_indicator=("status", "deleted"), **kwargs
    )
    df1 = _customers(spark, range(10)).withColumn(
        "status", F.when(F.col("cust_id") == "3", "deleted").otherwise("active")
    )
    res = loader.load_satellite(
        df1, process_time=T1, delete_indicator=("status", "deleted"), **kwargs
    )
    assert res.deletes == 1
    cur = loader.read_current("s4")
    drow = cur.where(F.col("rectype") == "D").first()
    assert drow["version"] == 2


def test_satellite_one_tombstone_per_flagged_entity(spark, loader):
    """Two input rows flagging one entity write one tombstone."""
    sat = dict(table="tomb_sat", entity_type="c", id_fields=["k"], id_type="customer")
    cols = ["k", "v", "op"]
    loader.load_satellite(
        spark.createDataFrame([("a", "x", "U"), ("b", "z", "U")], cols),
        process_time=T0, delete_indicator=("op", "D"), **sat,
    )
    res = loader.load_satellite(
        spark.createDataFrame([("b", "z1", "D"), ("b", "z2", "D")], cols),
        process_time=T1, delete_indicator=("op", "D"), **sat,
    )
    assert res.deletes == 1
    assert loader.read_history("tomb_sat").where("rectype = 'D'").count() == 1


def test_link_and_mapping(spark, loader):
    pairs = spark.createDataFrame(
        [(str(i), str(i * 10)) for i in range(20)], ["cust_id", "order_id"]
    )
    res = loader.load_link(
        pairs,
        table="cust_order_link",
        src_fields=["cust_id"],
        src_id_type="customer",
        dst_fields=["order_id"],
        dst_id_type="order",
        process_time=T0,
    )
    assert res.inserts == 20
    res2 = loader.load_link(
        pairs, table="cust_order_link",
        src_fields=["cust_id"], src_id_type="customer",
        dst_fields=["order_id"], dst_id_type="order", process_time=T1,
    )
    assert res2.inserts == 0  # idempotent

    maps = spark.createDataFrame(
        [(str(i), f"e{i}", 0.9) for i in range(5)], ["cust_id", "email", "conf"]
    )
    res3 = loader.load_mapping(
        maps,
        table="cust_email_map",
        src_fields=["cust_id"],
        src_id_type="customer",
        dst_fields=["email"],
        dst_id_type="email",
        confidence_col="conf",
        process_time=T0,
    )
    assert res3.inserts == 5
    cm = loader.read_current_mapping("cust_email_map")
    assert cm.count() == 5 and cm.first()["confidence"] == 0.9


def test_load_all_orchestration(spark, loader):
    cfg = {
        "hubs": [
            {
                "source": "cust",
                "table": "hub_all",
                "entity_type": "customer",
                "id_fields": ["cust_id"],
                "id_type": "customer",
                "process_time": T0,
            }
        ],
        "satellites": [
            {
                "source": "cust",
                "table": "sat_all",
                "entity_type": "customer",
                "id_fields": ["cust_id"],
                "id_type": "customer",
                "process_time": T0,
            }
        ],
    }
    results = loader.load_all({"cust": _customers(spark, range(30))}, cfg)
    assert results["hub_all"].inserts == 30
    assert results["sat_all"].inserts == 30


def test_hub_multiple_id_types_preserved(spark, loader):
    """Loading a second id_type, then re-loading the first, must not
    drop the other id_type's rows from current (regression for the
    filtered-classify / full-current rebuild split)."""
    kwargs = dict(table="multi_hub", entity_type="party")
    loader.load_hub(
        _customers(spark, range(10)), id_fields=["cust_id"], id_type="customer",
        process_time=T0, **kwargs,
    )
    emails = spark.createDataFrame(
        [(f"u{i}@x.com",) for i in range(5)], ["email"]
    )
    loader.load_hub(
        emails, id_fields=["email"], id_type="email", process_time=T0, **kwargs
    )
    # delta load of customers only
    loader.load_hub(
        _customers(spark, range(10, 12)), id_fields=["cust_id"], id_type="customer",
        process_time=T1, **kwargs,
    )
    cur = loader.read_current("multi_hub")
    by_type = {r["id_type"]: r["count"] for r in cur.groupBy("id_type").count().collect()}
    assert by_type == {"customer": 12, "email": 5}


def test_table_vault_loader_managed_tables(spark):
    """M6 analog: same algorithms on catalog managed tables, full
    insert/update support (which Hive-on-Spark 1.5 lacked)."""
    import pytest as _pytest

    from featurestore_spark.load.table_vault import TableVaultLoader

    import glob
    import shutil

    for t in spark.catalog.listTables("default"):
        if t.name.startswith("tv_"):
            spark.sql(f"DROP TABLE IF EXISTS default.{t.name}")
    # stale locations from a previous session's (in-memory) catalog
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    for d in glob.glob(f"{warehouse.removeprefix('file:')}/tv_*"):
        shutil.rmtree(d, ignore_errors=True)

    tv = TableVaultLoader(spark, fingerprint_method="md5")
    res = tv.load_satellite(
        _customers(spark, range(30)), table="tv_sat", entity_type="c",
        id_fields=["cust_id"], id_type="customer", process_time=T0,
    )
    assert res.inserts == 30
    assert spark.table("default.tv_sat_current").count() == 30

    res2 = tv.load_satellite(
        _customers(spark, range(25, 35), flag=7), table="tv_sat", entity_type="c",
        id_fields=["cust_id"], id_type="customer", process_time=T1,
    )
    assert res2.inserts == 5 and res2.updates == 5
    cur = spark.table("default.tv_sat_current")
    assert cur.count() == 35
    assert cur.where("version = 2 AND rectype = 'U'").count() == 5
    assert spark.table("default.tv_sat_history").count() == 40
    assert spark.table("default.tv_sat_proc").count() == 2

    # overwrite end-dating on managed tables (golden sequence analog of
    # LoadSatelliteOverwriteParquetSpec.scala:108-122)
    kwargs2 = dict(
        table="tv_sat2", entity_type="c", id_fields=["cust_id"], id_type="customer"
    )
    tv.load_satellite(
        _customers(spark, range(10)), process_time=T0, overwrite=True,
        write_change_tables=True, **kwargs2,
    )
    res3 = tv.load_satellite(
        _customers(spark, range(10), flag=5), process_time=T1, overwrite=True,
        write_change_tables=True, **kwargs2,
    )
    assert res3.updates == 10
    hist = spark.table("default.tv_sat2_history")
    assert hist.count() == 20
    v1 = hist.where("version = 1").first()
    v2 = hist.where("version = 2").first()
    assert str(v1["end_time"]) == T1  # old version end-dated in place
    assert str(v2["start_time"]) == T1
    assert str(v2["end_time"]).startswith("9999-12-31")
    # change tables materialized as catalog tables; the 2024 partitions
    # are beyond the 3-day retention window and were pruned
    assert spark.catalog.tableExists("default.tv_sat2_changed")
    assert spark.table("default.tv_sat2_changed").count() == 0
    # prev escape hatch holds the pre-merge history
    assert spark.table("default.tv_sat2_prev").count() == 10

    # a recent-dated load's change rows survive retention
    from datetime import datetime, timezone

    now = datetime.now(timezone.utc).strftime("%Y-%m-%d %H:%M:%S")
    res4 = tv.load_satellite(
        _customers(spark, range(10), flag=9), process_time=now, overwrite=True,
        write_change_tables=True, **kwargs2,
    )
    assert res4.updates == 10
    assert spark.table("default.tv_sat2_changed").count() == 10
    # catalog tables have no file listing to compact: refused, not a
    # silent 0-file no-op that leaves every appended history file
    with _pytest.raises(NotImplementedError, match="catalog tables"):
        tv.compact_history("tv_sat", target_files=1)


def test_satellite_delete_then_resurrect(spark, loader):
    """A deleted entity re-appearing with identical values must
    re-insert and flip current back to live (ADVICE r1: the fingerprint
    used to match the tombstone and the row silently vanished).
    Reference filters rectype <> 'D' before classifying
    (ParquetDataLoader.scala:343-345)."""
    kwargs = dict(
        table="s_res", entity_type="c", id_fields=["cust_id"], id_type="customer"
    )
    loader.load_satellite(_customers(spark, range(10)), process_time=T0, **kwargs)
    # full refresh without id 3 -> tombstone
    res = loader.load_satellite(
        _customers(spark, [i for i in range(10) if i != 3]),
        process_time=T1,
        full_refresh=True,
        **kwargs,
    )
    assert res.deletes == 1
    # id 3 comes back with the SAME values
    res2 = loader.load_satellite(
        _customers(spark, range(10)), process_time=T2, full_refresh=True, **kwargs
    )
    assert res2.inserts == 1 and res2.updates == 0 and res2.deletes == 0
    cur = loader.read_current("s_res")
    assert cur.where("rectype = 'D'").count() == 0
    row = cur.where(F.col("entity_id") == hashlib.md5(b"customer3").hexdigest()).first()
    # version chain continues past the tombstone (v1 I, v2 D, v3 I)
    assert row["rectype"] == "I" and row["version"] == 3
    hist = loader.read_history("s_res")
    assert hist.count() == 12  # 10 + tombstone + resurrect
    assert (
        hist.groupBy("entity_id", "version").count().where("count > 1").count() == 0
    )


def test_hub_delete_then_resurrect(spark, loader):
    kwargs = dict(
        table="h_res", entity_type="c", id_fields=["cust_id"], id_type="customer"
    )
    loader.load_hub(_customers(spark, range(5)), process_time=T0, **kwargs)
    loader.load_hub(
        _customers(spark, range(4)), process_time=T1, full_refresh=True, **kwargs
    )
    res = loader.load_hub(
        _customers(spark, range(5)), process_time=T2, full_refresh=True, **kwargs
    )
    assert res.inserts == 1 and res.deletes == 0
    cur = loader.read_current("h_res")
    assert cur.count() == 5 and cur.where("rectype = 'D'").count() == 0
    row = cur.where(F.col("natural_key") == "4").first()
    assert row["version"] == 3 and row["rectype"] == "I"


def test_link_delete_then_resurrect(spark, loader):
    pairs = spark.createDataFrame(
        [(str(i), str(i * 10)) for i in range(4)], ["cust_id", "order_id"]
    )
    kwargs = dict(
        table="l_res",
        src_fields=["cust_id"],
        src_id_type="customer",
        dst_fields=["order_id"],
        dst_id_type="order",
    )
    loader.load_link(pairs, process_time=T0, **kwargs)
    loader.load_link(
        pairs.where("cust_id <> '2'"), process_time=T1, full_refresh=True, **kwargs
    )
    res = loader.load_link(pairs, process_time=T2, full_refresh=True, **kwargs)
    assert res.inserts == 1 and res.deletes == 0
    cur = loader.read_current("l_res")
    assert cur.count() == 4 and cur.where("rectype = 'D'").count() == 0
    assert cur.where("version = 3").count() == 1


def test_fingerprint_field_boundaries_and_nulls(spark):
    """fingerprint discriminates ('ab','c') vs ('a','bc') and null vs
    '' (conscious break from the reference's bare concat; ADVICE r1)."""
    from featurestore_spark.functions.hashing import fingerprint

    df = spark.createDataFrame(
        [("ab", "c", None, ""), ("a", "bc", "", None)], ["w", "x", "y", "z"]
    )
    for method in ("xxhash64", "md5"):
        fps = [
            r["fp"]
            for r in df.select(
                fingerprint(["w", "x"], method).alias("fp")
            ).collect()
        ]
        assert fps[0] != fps[1], method  # field boundary
        fps2 = [
            r["fp"]
            for r in df.select(
                fingerprint(["y", "z"], method).alias("fp")
            ).collect()
        ]
        assert fps2[0] != fps2[1], method  # (null,'') vs ('',null)


def test_compact_history_read_equivalence_and_file_counts(spark, loader):
    """VERDICT r13 #5: rolling loads append one file-set to history
    per load forever; compact_history rewrites the root into few
    files with the row multiset intact (flat satellite root) and the
    hub's id_type hive partitioning preserved, using the prev.parquet
    recovery discipline."""
    kwargs = dict(table="cs", entity_type="customer",
                  id_fields=["cust_id"], id_type="customer")
    loader.load_satellite(_customers(spark, range(40)),
                          process_time=T0, **kwargs)
    loader.load_satellite(_customers(spark, range(40, 60)),
                          process_time=T1, **kwargs)
    loader.load_satellite(_customers(spark, range(40, 60), flag=9),
                          process_time=T2, **kwargs)
    before = sorted(
        tuple(r) for r in loader.read_history("cs").collect()
    )
    stats = loader.compact_history("cs", target_files=1)
    assert stats["files_before"] > stats["files_after"]
    assert stats["rows"] == len(before)
    after = sorted(tuple(r) for r in loader.read_history("cs").collect())
    assert after == before  # row-set equivalence
    # prev.parquet holds the full pre-compaction recovery copy
    prev = spark.read.parquet(loader._path("cs", "prev.parquet"))
    assert sorted(tuple(r) for r in prev.collect()) == before
    # current snapshot path still reads fine after the swap
    assert loader.read_current("cs").count() == 60

    # hub: id_type-partitioned history stays partitioned
    hub_kw = dict(table="ch", entity_type="customer",
                  id_fields=["cust_id"], id_type="customer")
    loader.load_hub(_customers(spark, range(30)),
                    process_time=T0, **hub_kw)
    loader.load_hub(_customers(spark, range(30, 50)),
                    process_time=T1, **hub_kw)
    hb = sorted(tuple(r) for r in loader.read_history("ch").collect())
    stats = loader.compact_history("ch")
    assert stats["partition_by"] == ["id_type"]
    assert stats["files_before"] > stats["files_after"]
    names = loader._fs.list_names(loader._path("ch", "history.parquet"))
    assert any(n.startswith("id_type=") for n in names)
    ha = sorted(tuple(r) for r in loader.read_history("ch").collect())
    assert ha == hb

    # already-compact root: explicit no-op, nothing rewritten
    noop = loader.compact_history("cs", target_files=1_000_000)
    assert noop["files_before"] == noop["files_after"]
    assert noop["rows"] is None


def test_hub_and_link_store_one_row_per_key(spark, loader):
    """Input rows that share a key but differ in a column the hub or
    link does not store are one stored row: the dedup runs on the
    keyed frame, and `duplicates` counts what it removed."""
    hub = dict(table="dup_hub", entity_type="c", id_fields=["k"], id_type="customer")
    rows = spark.createDataFrame([("a", "x"), ("a", "y"), ("b", "z")], ["k", "name"])
    res = loader.load_hub(rows, process_time=T0, **hub)
    assert (res.read_count, res.duplicates, res.inserts) == (3, 1, 2)
    assert loader.read_history("dup_hub").count() == 2
    cur = loader.read_current("dup_hub")
    assert cur.count() == 2 and cur.select("entity_id").distinct().count() == 2

    flagged = spark.createDataFrame(
        [("a", "x", "D"), ("a", "y", "D")], ["k", "name", "op"]
    )
    res = loader.load_hub(
        flagged, process_time=T1, delete_indicator=("op", "D"), **hub
    )
    assert (res.duplicates, res.deletes) == (1, 1)
    hist = loader.read_history("dup_hub")
    assert hist.where("version = 2").count() == 1
    assert hist.groupBy("entity_id", "version").count().where("count > 1").count() == 0

    link = dict(
        table="dup_link", src_fields=["c"], src_id_type="customer",
        dst_fields=["o"], dst_id_type="order",
    )
    pairs = spark.createDataFrame(
        [("c1", "o1", 5.0), ("c1", "o1", 7.0), ("c2", "o2", 1.0)], ["c", "o", "amount"]
    )
    res = loader.load_link(pairs, process_time=T0, **link)
    assert (res.read_count, res.duplicates, res.inserts) == (3, 1, 2)
    for df in (loader.read_current("dup_link"), loader.read_history("dup_link")):
        assert df.count() == 2
        assert df.select("src_entity_id", "dst_entity_id").distinct().count() == 2


def test_meta_sidecar_keeps_its_shape_across_loads(spark, loader):
    kwargs = dict(table="meta_sat", entity_type="c", id_fields=["cust_id"], id_type="customer")
    path = loader._path("meta_sat", "meta.json")
    loader.load_satellite(_customers(spark, range(5)), process_time=T0, **kwargs)
    first = json.loads(loader._fs.read_text(path))
    loader.load_satellite(_customers(spark, range(5), flag=1), process_time=T1, **kwargs)
    second = json.loads(loader._fs.read_text(path))
    assert first.keys() == second.keys()
    assert {"entity_type", "id_type", "id_fields", "full_refresh"} <= first.keys()
    assert (first["process_time"], second["process_time"]) == (T0, T1)


def _rowset(df):
    return sorted(tuple(r) for r in df.select(*sorted(df.columns)).collect())


def test_parquet_and_table_loaders_merge_identically(spark, tmp_path):
    """`TableVaultLoader` only swaps storage: one load sequence gives
    the same current and history rows and the same `LoadResult`s
    through both loaders."""
    import glob
    import shutil

    from featurestore_spark.load.table_vault import TableVaultLoader

    db = "vault_parity"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    for d in glob.glob(f"{warehouse.removeprefix('file:')}/{db}.db"):
        shutil.rmtree(d, ignore_errors=True)
    loaders = [
        VaultLoader(spark, str(tmp_path / "pq"), fingerprint_method="md5"),
        TableVaultLoader(spark, database=db, fingerprint_method="md5"),
    ]

    hub = dict(table="p_hub", entity_type="c", id_fields=["cust_id"], id_type="customer")
    sat = dict(
        table="p_sat", entity_type="c", id_fields=["cust_id"], id_type="customer",
        delete_indicator=("status", "deleted"),
    )
    pair = dict(src_fields=["cust_id"], src_id_type="customer",
                dst_fields=["order_id"], dst_id_type="order")

    def status(df, deleted=()):
        return df.withColumn(
            "status",
            F.when(F.col("cust_id").isin(*deleted), "deleted").otherwise("active"),
        )

    orders = spark.createDataFrame(
        [(str(i), f"o{i}", 0.5) for i in range(6)], ["cust_id", "order_id", "conf"]
    )
    steps = [
        ("load_hub", _customers(spark, range(10)), dict(process_time=T0, **hub)),
        ("load_satellite", status(_customers(spark, range(8))),
         dict(process_time=T0, **sat)),
        ("load_satellite",
         status(_customers(spark, range(4, 10), flag=3), deleted=["5"]),
         dict(process_time=T1, **sat)),
        ("load_hub", _customers(spark, range(7)),
         dict(process_time=T1, full_refresh=True, **hub)),
        ("load_satellite", status(_customers(spark, [5], flag=3)),
         dict(process_time=T2, **sat)),
        ("load_link", orders.drop("conf"), dict(table="p_link", process_time=T0, **pair)),
        ("load_mapping", orders,
         dict(table="p_map", confidence_col="conf", process_time=T0, **pair)),
    ]
    results = [[getattr(ld, name)(df, **kw) for name, df, kw in steps] for ld in loaders]
    assert results[0] == results[1]
    assert [(r.inserts, r.updates, r.deletes) for r in results[0]] == [
        (10, 0, 0), (8, 0, 0), (2, 3, 1), (0, 0, 3), (1, 0, 0), (6, 0, 0), (6, 0, 0),
    ]
    for table in ("p_hub", "p_sat", "p_link", "p_map"):
        pq_ld, tv_ld = loaders
        assert _rowset(pq_ld.read_current(table)) == _rowset(tv_ld.read_current(table))
        assert _rowset(pq_ld.read_history(table)) == _rowset(tv_ld.read_history(table))
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_vault_set_up_job_counts(spark, tmp_path):
    """The Spark jobs each load of a perfbench-shaped set-up launches
    (hub, satellite, link, satellite delta, flagged hub delta, history
    compaction), counted per call under a job group once the listener
    bus has drained. A merge change that adds a pass shows here."""
    src = {}
    for name, rows, cols in (
        ("entities", [(f"E{i}",) for i in range(40)], ["entity"]),
        ("labels_0", [(f"E{i}", f"E{i}", "gold") for i in range(30)],
         ["entity_key", "entity", "label"]),
        ("links", [(f"E{i}", f"D{i}") for i in range(40)] + [("E1", "D1")],
         ["entity", "device"]),
        ("labels_1",
         [(f"E{i}", f"E{i}", "silver") for i in [*range(25, 35), 30]],
         ["entity_key", "entity", "label"]),
        ("entities_1",
         [(f"E{i}", "U") for i in range(35, 45)] + [(f"E{i}", "D") for i in range(5)],
         ["entity", "op"]),
    ):
        path = str(tmp_path / f"{name}.parquet")
        spark.createDataFrame(rows, cols).write.parquet(path)
        src[name] = spark.read.parquet(path)
    loader = VaultLoader(spark, str(tmp_path / "vault"))
    hub = dict(table="hub", entity_type="entity", id_fields=["entity"], id_type="ent")
    labels = dict(table="labels", entity_type="entity", id_fields=["entity_key"], id_type="ent")
    calls = [
        lambda: loader.load_hub(src["entities"], process_time=T0, **hub),
        lambda: loader.load_satellite(src["labels_0"], process_time=T0, **labels),
        lambda: loader.load_link(
            src["links"], table="link", src_fields=["entity"], src_id_type="ent",
            dst_fields=["device"], dst_id_type="dev", process_time=T0,
        ),
        lambda: loader.load_satellite(src["labels_1"], process_time=T1, **labels),
        lambda: loader.load_hub(
            src["entities_1"], process_time=T1, delete_indicator=("op", "D"), **hub
        ),
        lambda: loader.compact_history("labels", target_files=1),
    ]
    sc = spark.sparkContext
    jobs = []
    try:
        for i, call in enumerate(calls):
            group = f"test-vault-jobs-{i}"
            sc.setJobGroup(group, "vault set-up job count")
            call()
            sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs == [12, 12, 12, 17, 17, 6]
