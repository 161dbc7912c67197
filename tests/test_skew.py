"""Skew/bucketing utilities: correctness vs plain formulations, and
exchange-elimination proof for bucketed joins."""

import pytest
from pyspark.sql import functions as F

from featurestore_spark.operators.skew import (
    read_bucketed,
    salted_count,
    salted_join,
    write_bucketed,
)


@pytest.fixture()
def skewed(spark):
    # one hot key (90%) + uniform tail
    hot = spark.range(900).select(F.lit("HOT").alias("k"), F.col("id").alias("v"))
    tail = spark.range(100).select(
        F.concat(F.lit("k"), F.col("id")).alias("k"), F.col("id").alias("v")
    )
    return hot.unionByName(tail)


def test_salted_join_matches_plain(spark, skewed):
    dim = spark.createDataFrame(
        [("HOT", "hot-dim")] + [(f"k{i}", f"d{i}") for i in range(100)], ["k", "label"]
    )
    plain = skewed.join(dim, "k").groupBy("label").count()
    salted = salted_join(skewed, dim, "k", salt=8).groupBy("label").count()
    assert sorted(plain.collect()) == sorted(salted.collect())


def test_salted_count_matches_plain(spark, skewed):
    plain = {r["k"]: r["count"] for r in skewed.groupBy("k").count().collect()}
    salted = {r["k"]: r["n"] for r in salted_count(skewed, ["k"], salt=8).collect()}
    assert plain == salted


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    import io
    from contextlib import redirect_stdout

    import shutil

    for t in ("bt_left", "bt_right"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        loc = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
        shutil.rmtree(f"{loc.removeprefix('file:')}/{t}", ignore_errors=True)
    left = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("a"))
    right = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") * 3).alias("b"))
    write_bucketed(left, "bt_left", ["k"], 4)
    write_bucketed(right, "bt_right", ["k"], 4)
    # disable auto-broadcast so the shuffle-join path is exercised —
    # that's where bucketing eliminates the exchanges
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = read_bucketed(spark, "bt_left").join(
            read_bucketed(spark, "bt_right"), "k"
        )
        buf = io.StringIO()
        with redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        # bucketing alignment: no shuffle exchange on either join side
        assert "Exchange hashpartitioning" not in plan
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_identical_duplicate_hot_key_scatters_over_salts(spark):
    """ADVICE r3: a hot key whose rows are IDENTICAL duplicates (the
    dominant case in dedup-bound corpora) must still spread over
    multiple salt buckets — a content-only salt hashed every copy to
    the same value and silently disabled the mitigation."""
    from featurestore_spark.operators.skew import _salt_column

    dup = (
        spark.range(1000)
        .select(F.lit("HOT").alias("k"), F.lit("same-payload").alias("v"))
        .repartition(8)
    )
    n_salts = dup.select(_salt_column(dup, 16).alias("s")).distinct().count()
    assert n_salts > 1, "identical duplicates all landed on one salt"
    # and the salted aggregate still counts them correctly
    out = {r["k"]: r["n"] for r in salted_count(dup, ["k"], salt=16).collect()}
    assert out == {"HOT": 1000}
    # salted join: each duplicate row matches its dim row exactly once
    dim = spark.createDataFrame([("HOT", "d")], ["k", "label"])
    assert salted_join(dup, dim, "k", salt=16).count() == 1000


def test_salted_join_rejects_outer_and_is_deterministic(spark, skewed):
    dim = spark.createDataFrame(
        [("HOT", "hot-dim")] + [(f"k{i}", f"d{i}") for i in range(50)], ["k", "label"]
    )
    with pytest.raises(ValueError):
        salted_join(skewed, dim, "k", how="right")
    with pytest.raises(ValueError):
        salted_join(skewed, dim, "k", how="full_outer")
    # content-derived salt: two runs give identical row-level results
    a = sorted(map(tuple, salted_join(skewed, dim, "k", how="left").collect()))
    b = sorted(map(tuple, salted_join(skewed, dim, "k", how="left").collect()))
    assert a == b
    # left join keeps unmatched big rows exactly once
    plain = sorted(map(tuple, skewed.join(dim, "k", "left").collect()))
    assert a == plain


def test_bucketed_sink_guard_and_half_bucketed_join(spark):
    """The round-11 additions around write_bucketed: the metadata
    guard, the sink-protocol wrapper, validation, and the pin that a
    bucketed<->UNbucketed join exchanges exactly the unbucketed
    side."""
    import shutil

    from featurestore_spark.operators.skew import (
        BucketedTableSink,
        is_bucketed_on,
        write_bucketed,
    )

    for t in ("bt_g_a",):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        loc = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
        shutil.rmtree(f"{loc.removeprefix('file:')}/{t}", ignore_errors=True)
    a = spark.range(200).select(F.col("id").alias("k"), (F.col("id") * 2).alias("a"))
    BucketedTableSink()(a, {"table": "bt_g_a", "bucket_cols": ["k"],
                            "n_buckets": 4, "sort_cols": ["k"]})
    assert is_bucketed_on(spark, "bt_g_a", ["k"])
    assert not is_bucketed_on(spark, "bt_g_a", ["a"])
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plain = spark.range(200).select(
            F.col("id").alias("k"), F.lit(1).alias("c")
        )
        plan = (
            spark.table("bt_g_a").join(plain, "k")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert plan.count("Exchange hashpartitioning") == 1
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bt_g_a")
    with pytest.raises(ValueError, match="n_buckets"):
        write_bucketed(a, "t", ["k"], 0)
    with pytest.raises(ValueError, match="bucket column"):
        write_bucketed(a, "t", [], 4)
