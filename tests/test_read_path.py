"""The schema-cached parquet read path (`io.tables._read_parquet`):
a schema is inferred once per snapshot, and any change to the data
or to the inference confs infers it again."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from featurestore_spark.io import tables
from featurestore_spark.io.fs import HadoopFS
from featurestore_spark.io.tables import TABLE_NAMES, _read_parquet, load_table
from featurestore_spark.load import VaultLoader
from featurestore_spark.session import _job_description
from test_plan_audit import SF as SF_DIR

GROUP = "test-read-path"


def _jobs(spark):
    """Job ids launched so far under this module's job group, after
    the listener bus has caught up with every posted event."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return set(sc.statusTracker().getJobIdsForGroup(GROUP))


@pytest.fixture()
def job_group(spark):
    sc = spark.sparkContext
    sc.setJobGroup(GROUP, "read path test")
    yield
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc.setLocalProperty("spark.job.description", None)


def _rows(df):
    return sorted(map(repr, df.collect()))


def test_directory_rewrite_with_added_column_infers_again(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(3).write.parquet(path)
    assert _read_parquet(spark, path).columns == ["id"]
    assert _read_parquet(spark, path).columns == ["id"]  # cached
    spark.range(3).withColumn("extra", F.col("id") * 10).write.mode(
        "overwrite"
    ).parquet(path)
    df = _read_parquet(spark, path)
    assert df.columns == ["id", "extra"]
    assert sorted(r["extra"] for r in df.collect()) == [0, 10, 20]


def test_single_file_overwritten_in_place_infers_again(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert _read_parquet(spark, path).columns == ["a"]
    assert _read_parquet(spark, path).columns == ["a"]  # cached
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    df = _read_parquet(spark, path)
    assert df.columns == ["a", "b"]
    assert sorted(r["b"] for r in df.collect()) == ["x", "y"]


def test_inference_conf_is_part_of_the_key(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"s": pa.array([b"x"], pa.binary())}), path)
    key = "spark.sql.parquet.binaryAsString"
    assert dict(_read_parquet(spark, path).dtypes)["s"] == "binary"
    spark.conf.set(key, "true")
    try:
        assert dict(_read_parquet(spark, path).dtypes)["s"] == "string"
    finally:
        spark.conf.unset(key)
    assert dict(_read_parquet(spark, path).dtypes)["s"] == "binary"


@pytest.mark.parametrize("name", TABLE_NAMES)
def test_load_table_cached_equals_inferred(spark, name):
    """A hit yields the same schema (nanos -> timestamp, NTZ ->
    timestamp normalisation included) and rows as plain inference."""
    tables._inferred_schema.cache_clear()
    inferred = load_table(spark, SF_DIR, name)
    assert tables._inferred_schema.cache_info().currsize == 1
    cached = load_table(spark, SF_DIR, name)
    assert cached.schema.json() == inferred.schema.json()
    assert "timestamp_ntz" not in {t for _, t in cached.dtypes}
    if name == "events":
        assert dict(cached.dtypes)["ts"] == "timestamp"
    assert _rows(cached) == _rows(inferred)


def test_unchanged_path_launches_no_job(spark, tmp_path, job_group):
    path = str(tmp_path / "t")
    spark.range(5).write.parquet(path)
    before = _jobs(spark)
    _read_parquet(spark, path)
    first = _jobs(spark) - before
    assert len(first) >= 1
    store = spark.sparkContext._jsc.sc().statusStore()
    assert {store.job(j).description().get() for j in first} == {
        "fs:read_schema:test_unchanged_path_launches_no_job"
    }
    before = _jobs(spark)
    df = _read_parquet(spark, path)
    assert _jobs(spark) - before == set()
    assert df.count() == 5


def test_missing_path_raises_like_a_plain_read(spark, tmp_path):
    missing = str(tmp_path / "absent")
    with pytest.raises(AnalysisException) as plain:
        spark.read.parquet(missing)
    with pytest.raises(AnalysisException) as routed:
        _read_parquet(spark, missing)
    assert type(routed.value) is type(plain.value)
    with pytest.raises(type(plain.value)):
        load_table(spark, str(tmp_path), "events")
    with pytest.raises(type(plain.value)):
        VaultLoader(spark, str(tmp_path)).read_history("nothing")


def test_read_history_sees_appended_rows(spark, tmp_path):
    loader = VaultLoader(spark, str(tmp_path), fingerprint_method="md5")

    def load(ids, flag, when):
        rows = [(str(i), flag) for i in ids]
        loader.load_satellite(
            spark.createDataFrame(rows, ["cust_id", "flag"]),
            table="cust_sat", entity_type="customer",
            id_fields=["cust_id"], id_type="customer", process_time=when,
        )

    load(range(4), 0, "2024-01-01 00:00:00")
    assert loader.read_history("cust_sat").count() == 4
    assert loader.read_history("cust_sat").count() == 4
    load(range(2, 6), 1, "2024-01-02 00:00:00")
    hist = loader.read_history("cust_sat")
    assert hist.count() == 8
    assert hist.where("flag = 1").count() == 4
    assert loader.read_current("cust_sat").count() == 6


def test_fingerprint_matches_a_stat_walk(spark, tmp_path):
    """The `listStatus` walk yields the same identity as walking the
    tree with os.stat (millisecond mtimes; the local
    filesystem hides its `.<name>.crc` checksum files)."""
    path = str(tmp_path / "nested")
    spark.range(20).selectExpr("id", "id % 2 as k", "id % 3 as j").write.partitionBy(
        "k", "j"
    ).parquet(path)
    n, total, newest = 0, 0, 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.startswith(".") and f.endswith(".crc"):
                continue
            st = os.stat(os.path.join(root, f))
            n, total = n + 1, total + st.st_size
            newest = max(newest, st.st_mtime_ns // 1_000_000)
    top = os.stat(path).st_mtime_ns // 1_000_000
    assert HadoopFS(spark).fingerprint(path) == f"{top}:{total}:{n}:{newest}"


def test_fingerprint_sees_same_size_rewrite_with_inert_dir_mtime(
    spark, tmp_path
):
    """The fingerprint is the schema cache's snapshot key, so a rewrite
    must change it even where the directory entry carries no signal:
    on object stores it is synthetic (mtime typically 0), and a
    <dir-mtime>:<bytes> identity would then see an external rewrite
    with the SAME byte count as unchanged and keep serving the old
    schema. Folding in the files' count and newest mtime moves the
    key for that rewrite — dir mtime and total bytes unchanged, file
    contents rewritten later."""
    fs = HadoopFS(spark)
    d = tmp_path / "fp"
    d.mkdir()
    f = d / "part-0"
    f.write_text("abcdefgh")
    dir_mtime = os.stat(d).st_mtime
    before = fs.fingerprint(str(d))
    # external rewrite: same byte count, later file mtime, and the
    # directory entry pinned back to its original stamp (the object
    # store behavior: directory metadata carries no signal)
    f.write_text("ABCDEFGH")
    st = os.stat(f)
    os.utime(f, (st.st_atime, st.st_mtime + 10))
    os.utime(d, (dir_mtime, dir_mtime))
    after = fs.fingerprint(str(d))
    assert before is not None and after is not None
    assert before.split(":")[1] == after.split(":")[1]  # same bytes
    assert before != after  # ...but the identity still moved


def test_job_description_restores_the_callers_own(spark):
    sc = spark.sparkContext
    key = "spark.job.description"
    with _job_description(sc, "inner"):
        assert sc.getLocalProperty(key) == "inner"
    assert sc.getLocalProperty(key) is None
    sc.setLocalProperty(key, "outer")
    try:
        with pytest.raises(RuntimeError):
            with _job_description(sc, "inner"):
                raise RuntimeError
        assert sc.getLocalProperty(key) == "outer"
    finally:
        sc.setLocalProperty(key, None)
