"""The vector-search family's shared score → rank skeleton
(`similarity._l2sq`, `_top_k`, `_argmin`, `_cosine_topk` and
`quantize`'s ADC body): zero vectors, and the Spark jobs per call of
every top-k / argmin operator built on it."""

import math

import pytest

from featurestore_spark.operators import quantize, similarity

QUERIES = "query_id long, qv array<double>"
CANDS = "neighbor_id long, cv array<double>"
VECS = "vec_id long, embedding array<double>"
CENTS = "centroid_id int, centroid array<double>"


def _zero_case(spark, op):
    """(query_id, rnk, neighbor_id, sim) of one cosine top-k operator
    over a zero query (2) and a zero candidate (10). Every vector
    lands in sign bucket 0 and centroid list 0, so all three operators
    score the same nine pairs."""
    q = spark.createDataFrame(
        [(1, [-1.0, 2.0, 0.5]), (2, [0.0, 0.0, 0.0])], QUERIES
    )
    c = spark.createDataFrame(
        [(10, [0.0, 0.0, 0.0]), (11, [-1.0, 2.0, 0.0]), (12, [-2.0, 1.0, 1.0])],
        CANDS,
    )
    if op == "cosine_topk":
        out = similarity.cosine_topk(q, c, 3)
    elif op == "bucketed_ann_topk":
        out = similarity.bucketed_ann_topk(q, c, 3, bits=1)
    else:
        cents = spark.createDataFrame([(0, [-1.0, 1.0, 0.0])], CENTS)
        out = similarity.ivf_topk(q, c, cents, 3)
    return sorted(tuple(r) for r in out.collect())


def _cos(a, b):
    dot = sum(x * y for x, y in zip(a, b))
    return dot / math.sqrt(sum(x * x for x in a) * sum(y * y for y in b))


@pytest.mark.parametrize("op", ["cosine_topk", "bucketed_ann_topk", "ivf_topk"])
def test_zero_vector_scores_null_and_ranks_last(spark, op):
    """An all-zero query or candidate has NULL cosine (not a
    DIVIDE_BY_ZERO under ANSI) and ranks after every scored neighbor;
    NULL ties break on the lower neighbor id."""
    got = _zero_case(spark, op)
    assert [r[:3] for r in got] == [
        (1, 1, 11), (1, 2, 12), (1, 3, 10),
        (2, 1, 10), (2, 2, 11), (2, 3, 12),
    ]
    assert [r[3] is None for r in got] == [False, False, True, True, True, True]
    q = [-1.0, 2.0, 0.5]
    assert got[0][3] == pytest.approx(_cos(q, [-1.0, 2.0, 0.0]), abs=1e-6)
    assert got[1][3] == pytest.approx(_cos(q, [-2.0, 1.0, 1.0]), abs=1e-6)


@pytest.fixture(scope="module")
def family(spark):
    """Small 4-d frames for every input of the family: queries,
    candidates (one exact duplicate), a fixed centroid table, a dense
    m=2 codebook and its encoded corpus."""
    rows = [
        (0, [1.0, 2.0, 3.0, 4.0]), (1, [1.0, 2.0, 3.0, 4.0]),
        (2, [1.0, 2.0, 3.0, 4.5]), (3, [-1.0, -2.0, 3.0, 1.0]),
        (4, [5.0, -1.0, 0.5, -2.0]), (5, [-3.0, 1.0, -2.0, -1.0]),
        (6, [0.5, 0.5, -4.0, 2.0]), (7, [-2.0, -2.0, -2.0, 3.0]),
    ]
    return {
        "q": spark.createDataFrame(
            [(100, [1.0, 2.0, 2.5, 4.0]), (101, [-2.0, 0.5, -1.0, -1.0])],
            QUERIES,
        ),
        "c": spark.createDataFrame(rows, CANDS),
        "vecs": spark.createDataFrame(rows, VECS),
        "cents": spark.createDataFrame(
            [(0, [1.0, 2.0, 3.0, 4.0]), (1, [-1.0, 0.0, -1.0, 0.0])], CENTS
        ),
        "cb": spark.createDataFrame(
            [(0, 0, [1.0, 2.0]), (0, 1, [-1.0, -1.0]),
             (1, 0, [3.0, 4.0]), (1, 1, [-2.0, 1.0])],
            "sub_id int, code_id int, codeword array<double>",
        ),
        "enc": spark.createDataFrame(
            [(0, [0, 0], 0), (1, [0, 0], 0), (2, [0, 0], 0), (3, [1, 1], 1),
             (4, [0, 1], 1), (5, [1, 1], 1), (6, [0, 1], 1), (7, [1, 1], 1)],
            "vec_id long, codes array<int>, centroid_id int",
        ),
    }


_CALLS = {
    "cosine_topk": lambda f: similarity.cosine_topk(f["q"], f["c"], 3),
    "bucketed_ann_topk": lambda f: similarity.bucketed_ann_topk(
        f["q"], f["c"], 3, bits=2, multi_probe=True
    ),
    "ivf_topk": lambda f: similarity.ivf_topk(
        f["q"], f["c"], f["cents"], 3, n_probe=2
    ),
    "train_centroids": lambda f: similarity.train_centroids(
        f["vecs"], n_centroids=2, iterations=2
    ),
    "assign_to_centroids": lambda f: similarity.assign_to_centroids(
        f["vecs"], f["cents"]
    ),
    "pq_train": lambda f: quantize.pq_train(f["vecs"], m=2, k=2, iterations=2),
    "pq_encode": lambda f: quantize.pq_encode(f["vecs"], f["cb"]),
    "pq_adc_topk": lambda f: quantize.pq_adc_topk(f["q"], f["enc"], f["cb"], 3),
    "ivf_pq_topk": lambda f: quantize.ivf_pq_topk(
        f["q"], f["enc"], f["cb"], f["cents"], 3, n_probe=1
    ),
}

# Ceilings on the Spark jobs of one call plus `collect()` over the
# `family` fixtures at local[4]: the highest count seen before the
# family shared one score → rank skeleton. The shared skeleton runs at
# or below each.
_JOB_CEILINGS = {
    "cosine_topk": 3,
    "bucketed_ann_topk": 3,
    "ivf_topk": 6,
    "train_centroids": 11,
    "assign_to_centroids": 3,
    "pq_train": 13,
    "pq_encode": 8,
    "pq_adc_topk": 11,
    "ivf_pq_topk": 14,
}


@pytest.mark.parametrize("name", sorted(_CALLS))
def test_jobs_per_call(family, jobs_of, name):
    call = _CALLS[name]
    call(family).collect()  # warm
    jobs = jobs_of(lambda: call(family).collect())
    assert jobs <= _JOB_CEILINGS[name], jobs
