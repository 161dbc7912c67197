"""Replication-invariance properties (VERDICT r6 #6) at test scale.

The queries whose DuckDB oracles are too expensive at the 10x stress
(q_simhash_near_dups, q_dedup_clusters, q_embedding_clusters,
q_pack_chunks) are validated there by closed-form invariants instead:
exact-replica injection transforms each output predictably (see
tools/check_invariants.py's module docstring for the derivations).
These tests exercise the same check functions on a tiny corpus with
factor-3 replication, so the 10x run's logic is itself tested.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from featurestore_spark.queries import QUERIES
from tools.check_invariants import (
    cluster_checks,
    pack_checks,
    simhash_checks,
)

FACTOR = 3
STRIDE = 1000


def _replicate(df, id_cols):
    rep = df.withColumn(
        "_i", F.explode(F.sequence(F.lit(0), F.lit(FACTOR - 1)))
    )
    for k in id_cols:
        rep = rep.withColumn(k, F.col(k) + F.col("_i") * F.lit(STRIDE))
    return rep.drop("_i")


@pytest.fixture(scope="module")
def dirs(spark, tmp_path_factory):
    """base/ and rep/ table dirs with documents + embeddings parquet
    (the same layout load_table reads at the 10x stress)."""
    root = tmp_path_factory.mktemp("invariants")
    base, rep = str(root / "base"), str(root / "rep")
    long_a = (
        "the quick brown fox jumps over the lazy dog while seventeen "
        "other animals watch from the fence near the old barn today"
    )
    long_b = (
        "completely different material about spark shuffle exchanges "
        "broadcast joins and adaptive query execution plans at scale"
    )
    docs = spark.createDataFrame(
        [
            (0, long_a),
            (1, long_a.replace("today", "tonight")),  # near dup of 0
            (2, long_b),
            (3, long_b.replace("plans", "stages")),  # near dup of 2
            (4, "an isolated unique document with entirely separate words"),
            (5, ""),  # empty doc (sig 0 path)
        ],
        "doc_id long, text string",
    )
    rng = np.random.default_rng(7)
    va = rng.normal(size=64)
    vb = rng.normal(size=64)
    vecs = [
        (0, va),
        (1, va + rng.normal(scale=0.01, size=64)),  # near dup of 0
        (2, vb),
        (3, -va),  # far from everything
        (4, rng.normal(size=64)),
    ]
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v], 0) for i, v in vecs],
        "vec_id long, embedding array<float>, label int",
    )
    docs.write.parquet(f"{base}/documents.parquet")
    emb.write.parquet(f"{base}/embeddings.parquet")
    _replicate(docs, ["doc_id"]).write.parquet(f"{rep}/documents.parquet")
    _replicate(emb, ["vec_id"]).write.parquet(f"{rep}/embeddings.parquet")
    return base, rep


def _assert_all(checks):
    bad = [c for c in checks if not c[1]]
    assert not bad, bad


@pytest.mark.slow  # factor-3 replication sweep — slow tier
def test_simhash_replication_invariance(spark, dirs):
    base, rep = dirs
    q = QUERIES["q_simhash_near_dups"].spark
    base_pairs = q(spark, base)
    # meaningful only if the base corpus actually has near-dup pairs
    assert base_pairs.where(F.col("hamming") > 0).count() > 0
    _assert_all(
        simhash_checks(base_pairs, q(spark, rep), 6, FACTOR, STRIDE)
    )


@pytest.mark.slow  # factor-3 replication sweep — slow tier
def test_dedup_clusters_replica_isomorphism(spark, dirs):
    base, rep = dirs
    q = QUERIES["q_dedup_clusters"].spark
    base_out = q(spark, base)
    assert base_out.count() > 0  # the near-dup families cluster
    base_ids = spark.range(6).select(F.col("id").alias("doc_id"))
    _assert_all(
        cluster_checks(
            base_out, q(spark, rep), base_ids, FACTOR, STRIDE,
            "doc_id", "canonical_id",
        )
    )


@pytest.mark.slow  # factor-3 replication sweep — slow tier
def test_embedding_clusters_replica_isomorphism(spark, dirs):
    base, rep = dirs
    q = QUERIES["q_embedding_clusters"].spark
    base_out = q(spark, base)
    assert base_out.count() > 0
    base_ids = spark.range(5).select(F.col("id").alias("vec_id"))
    _assert_all(
        cluster_checks(
            base_out, q(spark, rep), base_ids, FACTOR, STRIDE,
            "vec_id", "canonical_id",
        )
    )


@pytest.mark.slow  # factor-3 replication sweep — slow tier
def test_pack_chunks_next_fit_replay(spark, dirs):
    from featurestore_spark.operators.curation import chunk_documents
    from featurestore_spark.io import load_table

    base, rep = dirs
    rep_chunks = (
        chunk_documents(load_table(spark, rep, "documents"), window=32)
        .withColumn("pack_group", (F.col("doc_id") % 8).cast("int"))
        .select("pack_group", "doc_id", "chunk_idx", "n_chunk_tokens")
    )
    _assert_all(
        pack_checks(
            QUERIES["q_pack_chunks"].spark(spark, rep), rep_chunks, budget=128
        )
    )


@pytest.mark.slow  # factor-3 replication sweep — slow tier
def test_pack_replay_catches_a_wrong_packing(spark, dirs):
    """The window replay is a real validator: perturbing one bin
    boundary must fail it."""
    base, rep = dirs
    out = QUERIES["q_pack_chunks"].spark(spark, rep)
    broken = out.withColumn(
        "bin_id",
        F.when(
            (F.col("pack_group") == 0) & (F.col("chunk_idx") == 0),
            F.col("bin_id") + 1,
        ).otherwise(F.col("bin_id")),
    )
    from featurestore_spark.operators.curation import chunk_documents
    from featurestore_spark.io import load_table

    rep_chunks = (
        chunk_documents(load_table(spark, rep, "documents"), window=32)
        .withColumn("pack_group", (F.col("doc_id") % 8).cast("int"))
        .select("pack_group", "doc_id", "chunk_idx", "n_chunk_tokens")
    )
    checks = pack_checks(broken, rep_chunks, budget=128)
    assert any(not ok for _, ok, _ in checks)


def test_round7_query_plan_shapes(spark):
    """Plan-shape regression guard for the round-7 queries: the scale
    properties their docstrings claim must stay true in the executed
    plan (a silent Catalyst or operator change that reintroduces a
    corpus shuffle/SMJ should fail CI, not a future bench)."""
    from featurestore_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"

    def plan(q):
        return (
            QUERIES[q].spark(spark, sf)._jdf.queryExecution()
            .executedPlan().toString()
        )

    # rule-set filters + epoch repetition: pure projections, zero exchanges
    for q in ("q_gopher_rules", "q_c4_filter", "q_strip_html", "q_repeat_epochs"):
        p = plan(q)
        assert "Exchange" not in p, f"{q} gained a shuffle"
        assert "SortMergeJoin" not in p and "BroadcastHashJoin" not in p

    # DSIR: ratio table broadcast; no sort-merge join anywhere
    p = plan("q_dsir_weights")
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p

    # temperature mixture: threshold join back to the corpus broadcasts
    p = plan("q_temperature_mixture")
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p

    # novelty: exactly one corpus-side repartition on the gram key that
    # both consumers reuse — the gram text must never be a shuffle key
    p = plan("q_ngram_novelty")
    assert "REPARTITION_BY_COL" in p
    assert "hashpartitioning(_g#" not in p  # only _gh (md5) keys shuffles


def test_round8_web_query_plan_shapes(spark):
    """Round-8 web-ingest front: canonicalization + domain extraction
    are join-free pure projections; url_dedup is one hash aggregate
    (partial + final of a single groupBy), never a sort-based one."""
    from featurestore_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"

    def plan(q):
        return (
            QUERIES[q].spark(spark, sf)._jdf.queryExecution()
            .executedPlan().toString()
        )

    p = plan("q_canonical_url")
    assert "Exchange" not in p, "canonicalization gained a shuffle"
    assert "Join" not in p, "suffix membership must be a literal array"

    p = plan("q_url_dedup")
    assert p.count("Exchange") <= 2  # partial+final agg of ONE groupBy
    assert "HashAggregate" in p and "SortAggregate" not in p

    # FineWeb rule filter: like the other rule sets, a pure projection
    # over one scan — the in-plan array_sort must not become a shuffle
    p = plan("q_fineweb_rules")
    assert "Exchange" not in p, "q_fineweb_rules gained a shuffle"
    assert "Join" not in p

    # Round-9 URL filtering: the domain blocklist is a BROADCAST
    # anti-join (a shuffled anti-join on the corpus would be the
    # 100-TB regression this pin guards), the soft word-score is a
    # pure projection on the same scan
    p = plan("q_url_filter")
    assert "BroadcastHashJoin" in p and "LeftAnti" in p
    assert "SortMergeJoin" not in p, "blocklist join degraded to SMJ"

    # Round-9 Gopher repetition half: 13 signals over 9 n-gram sizes,
    # still ONE scan with per-doc signals only (never a corpus
    # aggregate). Since r14 the starved single-split scan is fanned out
    # through ONE RoundRobin repartition (operators/materialize.py:
    # fan_out) — a data-movement-only exchange; the invariant this pin
    # guards is that no shuffle-BY-KEY (hashpartitioning) ever appears.
    p = plan("q_gopher_repetition")
    assert "hashpartitioning" not in p.lower(), (
        "q_gopher_repetition gained a key shuffle"
    )
    for line in p.splitlines():
        if "Exchange" in line:
            assert "RoundRobinPartitioning" in line, (
                f"non-fanout exchange appeared: {line.strip()[:120]}"
            )
    assert "Join" not in p


def test_rule_keep_filter_does_not_inline_signal_trees(spark):
    """A .where('keep') on the Gopher repetition rules must evaluate
    the counts kernel ONCE and AFTER fan_out's repartition: the 13
    signals and ``keep`` are Column expressions over one Arrow UDF
    result, and the operator's plan fence stops Catalyst pushing the
    filter (UDF and all) below the RoundRobinPartitioning exchange
    onto a single-split scan, where the kernel would run in one task.
    Checked on the operator and on the composed
    curate_corpus('gopher') chain over a one-partition input."""
    from featurestore_spark.operators.curation import (
        curate_corpus,
        gopher_repetition_rules,
    )

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        "doc_id long, text string",
    ).coalesce(1)
    plans = {
        "gopher_repetition_rules": gopher_repetition_rules(
            df, passthrough=("text",)
        ).where("keep").select("doc_id", "text"),
        "curate_corpus": curate_corpus(df, "gopher"),
    }
    for name, out in plans.items():
        p = out._jdf.queryExecution().executedPlan().toString()
        lines = p.splitlines()
        evals = [i for i, line in enumerate(lines) if "ArrowEvalPython" in line]
        assert len(evals) == 1 and "counts(" in lines[evals[0]], (name, p)
        fanout = [
            i for i, line in enumerate(lines) if "RoundRobinPartitioning" in line
        ]
        # tree strings print parents first: the kernel sits above
        assert len(fanout) == 1 and evals[0] < fanout[0], (name, p)
