"""Tests: streaming variants (cross-checked vs batch operators via a
real micro-batch run), pandas-batch scoring, entity resolution."""

import pytest
from pyspark.sql import functions as F

from featurestore_spark.functions.dates import (
    convert_string_to_date,
    format_date_string,
)
from featurestore_spark.functions.scoring import score_batch
from featurestore_spark.io import load_table
from featurestore_spark.operators.resolve import connected_components, resolve_entities
from featurestore_spark.operators.events import sessionize
from featurestore_spark.streaming import (
    read_event_stream,
    streaming_event_counts,
    streaming_sessionize,
)


def test_streaming_sessionize_matches_batch(spark, tmp_path):
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    src = str(tmp_path / "stream_src")
    ev.write.parquet(src)
    static = spark.read.parquet(src)

    stream = read_event_stream(spark, src, static.schema)
    q = (
        streaming_sessionize(stream, gap="30 minutes")
        .writeStream.format("memory")
        .queryName("sessions_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = spark.table("sessions_out")

    batch = sessionize(
        static, 1800.0, entity_col="user_id", ts_col="ts", tiebreak_cols=("event_id",)
    )
    batch_sessions = batch.groupBy("user_id").agg(
        F.max("session").alias("n_sessions")
    )
    got_stream = {
        r["user_id"]: r["cnt"]
        for r in streamed.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    got_batch = {r["user_id"]: r["n_sessions"] for r in batch_sessions.collect()}
    # session_window closes sessions on gap > gap; counts align with
    # the batch lag/cumsum formulation (strict-vs-inclusive boundary
    # differences would need equal microsecond gaps — not present)
    assert got_stream == got_batch


def test_streaming_event_counts_watermark_plumbing(spark, tmp_path):
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    src = str(tmp_path / "stream_src2")
    ev.write.parquet(src)
    static = spark.read.parquet(src)
    stream = read_event_stream(spark, src, static.schema)
    q = (
        streaming_event_counts(stream, window="1 day", watermark="2 days")
        .writeStream.format("memory")
        .queryName("counts_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = spark.table("counts_out")
    batch = streaming_event_counts(static, window="1 day")
    assert streamed.count() == batch.count()
    s_total = streamed.agg(F.sum("n_events")).first()[0]
    assert s_total == static.count()


def test_score_batch(spark):
    df = spark.createDataFrame(
        [(1.0, 2.0), (3.0, 4.0), (None, 10.0)], ["f1", "f2"]
    )
    out = score_batch(df, ["f1", "f2"], lambda X: X["f1"] * 10 + X["f2"])
    got = sorted(r["score"] for r in out.collect())
    assert got == [10.0, 12.0, 34.0]  # null f1 -> filled 0.0


def test_date_functions(spark):
    df = spark.createDataFrame([("05/03/2024",), ("bogus",)], ["d"])
    out = df.select(
        convert_string_to_date("d", "dd/MM/yyyy").alias("dt"),
        format_date_string("d", "dd/MM/yyyy").alias("fmt"),
    )
    rows = out.collect()
    assert str(rows[0]["dt"]) == "2024-03-05" and rows[0]["fmt"] == "2024-03-05"
    assert rows[1]["dt"] is None and rows[1]["fmt"] is None  # malformed -> null


def test_connected_components_and_resolution(spark):
    edges = spark.createDataFrame(
        [
            ("c1", "e1", 0.9),
            ("e1", "p1", 0.8),   # chain c1-e1-p1
            ("c2", "e2", 0.95),  # separate component
            ("c3", "e3", 0.1),   # below confidence floor -> excluded
        ],
        ["src_entity_id", "dst_entity_id", "confidence"],
    )
    comp = connected_components(
        edges.select("src_entity_id", "dst_entity_id"),
        src_col="src_entity_id",
        dst_col="dst_entity_id",
    )
    labels = {r["id"]: r["component"] for r in comp.collect()}
    assert labels["c1"] == labels["e1"] == labels["p1"]
    assert labels["c2"] == labels["e2"] != labels["c1"]

    resolved = resolve_entities(edges, min_confidence=0.5)
    rmap = {r["entity_id"]: r["canonical_id"] for r in resolved.collect()}
    assert rmap["p1"] == rmap["c1"]
    assert "c3" not in rmap  # low-confidence edge dropped


def test_connected_components_exhaustion_warns_partial(spark):
    """Contract check (VERDICT r3 #10): a path graph whose diameter the
    allowed rounds cannot reach must not come back with partial labels
    (a 65-node path at max_iterations=2 would carry 63 of them) —
    exhausting `max_iterations` raises. With enough rounds the same
    graph converges to one label."""
    for n, kw in (
        (12, dict(max_iterations=3)),
        (64, dict(max_iterations=2, shortcut_after=100)),
    ):
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(n)], ["src", "dst"]
        )
        with pytest.raises(RuntimeError, match="max_iterations=") as exc:
            connected_components(edges, **kw)
        assert "partial" in str(exc.value)
    edges = spark.createDataFrame([(i, i + 1) for i in range(12)], ["src", "dst"])
    comp = connected_components(edges, max_iterations=13)
    assert {r["component"] for r in comp.collect()} == {0}


def test_connected_components_final_round_convergence_not_misreported(spark):
    """ADVICE r3: convergence landing exactly on the last allowed round
    (with the change mid-probe-window) must NOT be reported as
    exhaustion — the final probe compares one-round delta, not
    delta-since-last-probe."""
    # chain 0-1-2-3: last label change happens in round 3, round 4 is
    # a no-op; old code probed round 4 against the round-0 baseline
    # and falsely reported partial labels
    edges = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], ["src", "dst"])
    comp = connected_components(edges, max_iterations=4, probe_every=5)
    labels = {r["id"]: r["component"] for r in comp.collect()}
    assert set(labels.values()) == {0}


def test_connected_components_shortcut_converges_deep_chain(spark):
    """A 200-node chain (diameter 200) must converge within the DEFAULT
    max_iterations=20: pointer jumping kicks in after `shortcut_after`
    rounds and halves the remaining depth each round (round 5 measured
    on a 10^4 chain: 11s vs an extrapolated ~33min one-hop; PLANS.md).
    Pure one-hop propagation on the same graph must exhaust."""
    n = 200
    edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], ["src", "dst"])
    comp = connected_components(edges)  # defaults: 20 rounds, jump@5
    labels = {r["id"]: r["component"] for r in comp.collect()}
    assert set(labels.values()) == {0} and len(labels) == n
    # disabling the shortcut restores pure one-hop: 20 rounds < 199 hops
    with pytest.raises(RuntimeError, match="max_iterations"):
        connected_components(edges, shortcut_after=10**9)


def test_connected_components_shortcut_equals_one_hop(spark):
    """Jumping must not change the fixed point: same labels as pure
    one-hop propagation on a multi-component random graph."""
    import random

    rng = random.Random(13)
    edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(80)]
    e = spark.createDataFrame(edges, ["src", "dst"])
    jump = {
        r["id"]: r["component"]
        for r in connected_components(e, shortcut_after=0).collect()
    }
    onehop = {
        r["id"]: r["component"]
        for r in connected_components(e, max_iterations=70,
                                      shortcut_after=10**9).collect()
    }
    assert jump == onehop


def test_connected_components_validates_probe_and_checkpoint(spark):
    edges = spark.createDataFrame([(0, 1)], ["src", "dst"])
    import pytest

    with pytest.raises(ValueError):
        connected_components(edges, probe_every=0)
    with pytest.raises(ValueError):
        connected_components(edges, checkpoint_every=0)


def test_stateful_sessionize_matches_batch_across_batches(spark, tmp_path):
    """Custom applyInPandasWithState session numbering: two time-ordered
    files processed as separate micro-batches must produce exactly the
    batch sessionize result (state carries the numbering across)."""
    from featurestore_spark.streaming.stateful import stateful_sessionize

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    src = str(tmp_path / "chunks")
    # chunk 1 = earlier half by ts, chunk 2 = later half (ordered arrival)
    early = ev.where(F.col("ts") <= F.expr("timestamp'2024-01-15 00:00:00'"))
    late = ev.where(F.col("ts") > F.expr("timestamp'2024-01-15 00:00:00'"))
    early.coalesce(1).write.parquet(src)
    late.coalesce(1).write.mode("append").parquet(src)

    static = spark.read.parquet(src)
    stream = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stateful_sessionize(stream, 1800.0)
        .writeStream.format("memory")
        .queryName("stateful_sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    streamed = {
        (r["user_id"], r["event_id"]): r["session"]
        for r in spark.table("stateful_sessions").collect()
    }

    from featurestore_spark.operators.events import sessionize

    batch = sessionize(
        ev, 1800.0, entity_col="user_id", ts_col="ts", tiebreak_cols=("event_id",)
    )
    expected = {
        (r["user_id"], r["event_id"]): r["session"] for r in batch.collect()
    }
    assert streamed == expected


def test_stateful_sessionize_string_ids(spark, tmp_path):
    """Output schema derives from the input (ADVICE r1): string entity
    ids and renamed columns flow through unchanged."""
    from featurestore_spark.streaming.stateful import stateful_sessionize

    rows = [
        ("alice", "e1", "2024-01-01 00:00:00"),
        ("alice", "e2", "2024-01-01 00:10:00"),
        ("alice", "e3", "2024-01-02 09:00:00"),  # > timeout -> session 2
        ("bob", "e4", "2024-01-01 05:00:00"),
    ]
    df = (
        spark.createDataFrame(rows, ["who", "eid", "ts_str"])
        .withColumn("when_ts", F.to_timestamp("ts_str"))
        .drop("ts_str")
    )
    src = str(tmp_path / "string_id_events")
    df.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    out = stateful_sessionize(
        stream, 3600.0, entity_col="who", ts_col="when_ts", id_col="eid",
        session_col="sess",
    )
    assert [f.name for f in out.schema.fields] == ["who", "eid", "when_ts", "sess"]
    q = (
        out.writeStream.format("memory")
        .queryName("string_sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["who"], r["eid"]): r["sess"]
        for r in spark.table("string_sessions").collect()
    }
    assert got[("alice", "e1")] == 1 and got[("alice", "e2")] == 1
    assert got[("alice", "e3")] == 2
    assert got[("bob", "e4")] == 1


def test_streaming_dedup_exact(spark, tmp_path):
    """Watermarked exact dedup drops same-content docs across
    micro-batches (within the watermark horizon)."""
    from featurestore_spark.streaming.ops import streaming_dedup_exact

    rows = [
        (1, "the same text", "2024-01-01 00:00:00"),
        (2, "unique one", "2024-01-01 00:05:00"),
        (3, "the same text", "2024-01-01 00:10:00"),  # dup of 1
        (4, "unique two", "2024-01-01 00:20:00"),
        (5, "the same text", "2024-01-01 00:25:00"),  # dup of 1
    ]
    df = (
        spark.createDataFrame(rows, ["doc_id", "text", "ts_str"])
        .withColumn("ts", F.to_timestamp("ts_str"))
        .drop("ts_str")
    )
    src = str(tmp_path / "doc_stream")
    df.where("doc_id <= 3").coalesce(1).write.parquet(src)
    df.where("doc_id > 3").coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(df.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = (
        streaming_dedup_exact(stream, ts_col="ts", watermark="1 hour")
        .writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    kept_texts = [r["text"] for r in spark.table("dedup_stream").collect()]
    assert sorted(kept_texts) == ["the same text", "unique one", "unique two"]

    # batch fallback: same keep-set
    batch = streaming_dedup_exact(df, ts_col="ts")
    assert batch.count() == 3


def test_streaming_attribution_matches_batch(spark, tmp_path):
    """Stream-stream join (clicks x purchases, 1h horizon) run as a
    real micro-batch query equals the batch join with the identical
    condition — and the streaming plan carries join state eviction."""
    from featurestore_spark.streaming import streaming_attribution

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    src = str(tmp_path / "attr_src")
    ev.write.parquet(src)
    static = spark.read.parquet(src)

    def split(df):
        return (
            df.where(F.col("event_type") == "click"),
            df.where(F.col("event_type") == "purchase"),
        )

    s_clicks, s_purch = split(read_event_stream(spark, src, static.schema))
    q = (
        streaming_attribution(s_clicks, s_purch, horizon="1 hour")
        .writeStream.format("memory")
        .queryName("attr_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = spark.table("attr_out")

    b_clicks, b_purch = split(static)
    batch = streaming_attribution(b_clicks, b_purch, horizon="1 hour")
    assert batch.count() > 0
    key = ["click_id", "purchase_id"]
    assert streamed.count() == batch.count()
    assert streamed.select(*key).exceptAll(batch.select(*key)).count() == 0
