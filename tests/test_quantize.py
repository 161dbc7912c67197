"""Product quantization + semantic dedup (operators/quantize.py).

The oracled surface (q_pq_encode / q_pq_topk / q_semantic_dedup)
covers fixed-codebook encode, ADC ranking, and the cluster-prune rule;
these tests cover what SQL can't: Lloyd training determinism, recall
vs the exact baseline, codebook densification, and the replication-
invariance claim of the collapse-factored semantic dedup.
"""

import random

import pytest
from pyspark.sql import functions as F

from featurestore_spark.operators.quantize import (
    densify_codebook,
    explode_subvectors,
    pq_adc_topk,
    pq_encode,
    pq_train,
    semantic_dedup,
)


def _clustered_vecs(n=80, dim=8, seed=13, spread=0.4):
    random.seed(seed)
    centers = [
        [4.0, 4.0, -4.0, 4.0, -4.0, 4.0, 4.0, -4.0],
        [-4.0, -4.0, 4.0, -4.0, 4.0, -4.0, -4.0, 4.0],
        [4.0, -4.0, 4.0, 4.0, -4.0, -4.0, 4.0, 4.0],
        [-4.0, 4.0, -4.0, -4.0, 4.0, 4.0, -4.0, -4.0],
    ]
    return [
        (i, [c + random.gauss(0, spread) for c in centers[i % 4]])
        for i in range(n)
    ]


def test_pq_train_deterministic_and_dense(spark):
    df = spark.createDataFrame(_clustered_vecs(), ["vec_id", "embedding"])
    cb1 = pq_train(df, m=2, k=4, iterations=2)
    cb2 = pq_train(df, m=2, k=4, iterations=2)
    r1 = sorted(map(tuple, cb1.collect()))
    r2 = sorted(map(tuple, cb2.collect()))
    assert r1 == r2  # no RNG, rounded argmin: retrain is bit-stable
    dense = densify_codebook(cb1)
    for sub in (0, 1):
        ids = sorted(
            r["code_id"] for r in dense.where(F.col("sub_id") == sub).collect()
        )
        assert ids == list(range(len(ids)))  # contiguous 0..k'-1


def test_pq_encode_shape_and_self_consistency(spark):
    df = spark.createDataFrame(_clustered_vecs(), ["vec_id", "embedding"])
    cb = densify_codebook(pq_train(df, m=4, k=4, iterations=2))
    enc = pq_encode(df, cb)
    rows = enc.collect()
    assert len(rows) == 80
    k_per_sub = {
        r["sub_id"]: r["n"]
        for r in cb.groupBy("sub_id").agg(F.count("*").alias("n")).collect()
    }
    for r in rows:
        assert len(r["codes"]) == 4
        for s, c in enumerate(r["codes"]):
            assert 0 <= c < k_per_sub[s]
    # identical vectors encode identically
    dup = spark.createDataFrame(
        [(1000, dict(_clustered_vecs())[0])], ["vec_id", "embedding"]
    )
    c0 = enc.where("vec_id = 0").first()["codes"]
    cd = pq_encode(dup, cb).first()["codes"]
    assert c0 == cd


def test_pq_adc_matches_driver_recomputation(spark):
    """The ADC distance IS table lookups summed: recompute every
    (query, candidate) adist driver-side from the codebook + codes and
    require bit-equality with the operator (zip_with/element_at fold).
    Quantization LOSS is inherent to PQ; lookup arithmetic is not."""
    data = _clustered_vecs(n=60, spread=0.8)
    df = spark.createDataFrame(data, ["vec_id", "embedding"])
    cb = densify_codebook(pq_train(df, m=4, k=8, iterations=3))
    enc = pq_encode(df, cb)
    q = df.where("vec_id < 3").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    approx = pq_adc_topk(q, enc, cb, k=60)  # k >= corpus: all pairs
    cbd = {(r["sub_id"], r["code_id"]): r["codeword"] for r in cb.collect()}
    codes = {r["vec_id"]: r["codes"] for r in enc.collect()}
    vecs = dict(data)
    d_sub = 2
    for r in approx.collect():
        qv = vecs[r["query_id"]]
        want = 0.0
        for s, c in enumerate(codes[r["neighbor_id"]]):
            sv = qv[s * d_sub : (s + 1) * d_sub]
            cw = cbd[(s, c)]
            want += round(sum((a - b) ** 2 for a, b in zip(sv, cw)), 6)
        assert r["adist"] == round(want, 6)


def test_pq_adc_cluster_recall(spark):
    """Coarse fidelity: with well-separated clusters, every ADC top-k
    neighbor comes from the query's own cluster (inter-cluster
    distances dwarf quantization error). In-cluster ORDER is not
    promised — same-code candidates tie on adist by construction."""
    data = _clustered_vecs(n=120, spread=0.4)
    df = spark.createDataFrame(data, ["vec_id", "embedding"])
    cb = densify_codebook(pq_train(df, m=4, k=8, iterations=3))
    enc = pq_encode(df, cb)
    q = df.where("vec_id < 4").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    k = 10
    approx = pq_adc_topk(q, enc, cb, k)
    rows = approx.collect()
    assert len(rows) == 4 * k
    for r in rows:
        assert r["neighbor_id"] % 4 == r["query_id"] % 4


def test_pq_adc_no_vector_in_shuffle(spark):
    data = _clustered_vecs(n=40)
    df = spark.createDataFrame(data, ["vec_id", "embedding"])
    cb = densify_codebook(pq_train(df, m=2, k=4, iterations=1))
    enc = pq_encode(df, cb)
    q = df.where("vec_id < 2").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    plan = (
        pq_adc_topk(q, enc, cb, 5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the candidate-side distance evaluation never shuffles an array:
    # no hashpartitioning on a vector/codes column
    assert "hashpartitioning(codes#" not in plan
    assert "hashpartitioning(sv#" not in plan


def test_ivf_pq_probed_lists_only(spark):
    """IVF-PQ returns neighbors ONLY from probed centroid lists, and
    with n_probe = all centroids it matches plain ADC over the full
    corpus (the probe is a pruning, not a rescoring)."""
    from featurestore_spark.operators.quantize import ivf_pq_topk
    from featurestore_spark.operators.similarity import assign_to_centroids

    data = _clustered_vecs(n=80, spread=0.4)
    df = spark.createDataFrame(data, ["vec_id", "embedding"])
    cb = densify_codebook(pq_train(df, m=4, k=8, iterations=2))
    enc = pq_encode(df, cb)
    cents = df.where("vec_id < 4").select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid")
    )
    asg = assign_to_centroids(df, cents).select("vec_id", "centroid_id")
    encoded = enc.join(asg, "vec_id")
    q = df.where("vec_id < 2").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    k = 8
    pruned = ivf_pq_topk(q, encoded, cb, cents, k, n_probe=1)
    assign = {r["vec_id"]: r["centroid_id"] for r in asg.collect()}
    for r in pruned.collect():
        # with clean 4-cluster structure, a query's 1-probe list is its
        # own cluster; every neighbor must come from it
        assert assign[r["neighbor_id"]] == assign[r["query_id"]]
    # probing every list == unpruned ADC
    full = ivf_pq_topk(q, encoded, cb, cents, k, n_probe=4)
    adc = pq_adc_topk(q, enc, cb, k)
    assert sorted(map(tuple, full.collect())) == sorted(map(tuple, adc.collect()))


def test_adc_accepts_bigint_codes(spark):
    """Codes read back without a schema (or from an int64 parquet
    column) are array<bigint>; ADC and IVF-PQ rank them exactly as the
    array<int> codes `pq_encode` writes."""
    from featurestore_spark.operators.quantize import ivf_pq_topk

    df = spark.createDataFrame(_clustered_vecs(n=40), ["vec_id", "embedding"])
    cb = densify_codebook(pq_train(df, m=4, k=4, iterations=2))
    enc = pq_encode(df, cb)
    wide = spark.createDataFrame(enc.collect())
    assert wide.schema["codes"].dataType.simpleString() == "array<bigint>"
    q = df.where("vec_id < 3").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    cents = df.where("vec_id < 4").select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid")
    )
    cent_of = F.col("vec_id") % 4

    def ranked(codes):
        listed = codes.withColumn("centroid_id", cent_of)
        return (
            sorted(map(tuple, pq_adc_topk(q, codes, cb, 5).collect())),
            sorted(map(tuple, ivf_pq_topk(q, listed, cb, cents, 5).collect())),
        )

    assert ranked(wide) == ranked(enc)


def _naive_semantic_dedup(rows, centroids, threshold):
    """Driver-side statement of the pairwise rule: keep(x) iff no
    y < x in x's cluster with round(cos, 6) >= threshold."""
    import math

    def assign(v):
        best = None
        for cid, cv in centroids:
            d2 = round(sum((a - b) ** 2 for a, b in zip(v, cv)), 6)
            key = (d2, cid)
            if best is None or key < best:
                best = key
        return best[1]

    def cos(u, v):
        dp = sum(a * b for a, b in zip(u, v))
        nu = math.sqrt(sum(a * a for a in u))
        nv = math.sqrt(sum(a * a for a in v))
        return round(dp / (nu * nv), 6)

    a = {i: assign(v) for i, v in rows}
    vecs = dict(rows)
    out = {}
    for x in vecs:
        drop = any(
            y < x and a[y] == a[x] and cos(vecs[x], vecs[y]) >= threshold
            for y in vecs
        )
        out[x] = (a[x], not drop)
    return out


@pytest.mark.parametrize("replicate", [1, 7])
def test_semantic_dedup_matches_naive_rule(spark, replicate):
    """The collapse-factored plan equals the naive member-pairwise
    rule — including under heavy exact replication (replicate=7 makes
    every vector appear 7x with distinct ids), the regime the
    factoring exists for."""
    base = _clustered_vecs(n=30, spread=1.5)
    rows = list(base)
    if replicate > 1:
        nxt = 1000
        for _, v in base:
            for _ in range(replicate - 1):
                rows.append((nxt, v))
                nxt += 1
    cents = [(0, base[0][1]), (1, base[1][1]), (2, base[2][1])]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cdf = spark.createDataFrame(cents, ["centroid_id", "centroid"])
    got = {
        r["vec_id"]: (r["centroid_id"], r["keep"])
        for r in semantic_dedup(df, cdf, threshold=0.6).collect()
    }
    want = _naive_semantic_dedup(rows, cents, 0.6)
    assert got == want
    # replication sanity: every non-first replica of a vector is
    # dropped (its exact copy has a smaller id and cosine 1.0)
    if replicate > 1:
        assert all(not keep for i, (_, keep) in got.items() if i >= 1000)


def test_semantic_dedup_null_vectors_excluded(spark):
    rows = [(0, [1.0, 0.0]), (1, None), (2, [1.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cdf = spark.createDataFrame([(0, [1.0, 0.0])], ["centroid_id", "centroid"])
    got = {r["vec_id"]: r["keep"] for r in semantic_dedup(df, cdf).collect()}
    assert got == {0: True, 2: False}  # null vector absent, dup dropped


def test_explode_subvectors_validates_dim(spark):
    df = spark.createDataFrame([(0, [1.0, 2.0, 3.0])], ["vec_id", "embedding"])
    with pytest.raises(ValueError, match="not divisible"):
        explode_subvectors(df, 2)
