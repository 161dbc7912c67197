"""The near-dup family's shared skeleton (`dedup._collapse_exact`,
`_expand_pairs`, `_keep_lowest`, `_bucket_pairs` and the against-index
drop tail): zero vectors, the runtime bloom filter, and the Spark jobs
per call of every operator built on it."""

import pytest

from featurestore_spark.operators import dedup, incremental, multimodal
from featurestore_spark.operators.quantize import semantic_dedup
from featurestore_spark.operators.similarity import embedding_near_dups

VECS = "vec_id long, embedding array<double>"


def _zero_case(spark, op):
    """The kept/paired ids of one embedding operator over a frame that
    holds an all-zero vector (id 1) beside an exact pair (2, 3)."""
    rows = [
        (1, [0.0, 0.0, 0.0]),
        (2, [1.0, 1.0, 0.0]),
        (3, [1.0, 1.0, 0.0]),
        (4, [-3.0, 1.0, 0.5]),
    ]
    df = spark.createDataFrame(rows, VECS)
    if op == "embedding_near_dups":
        out = embedding_near_dups(df, bits=2, bands=2, threshold=0.9)
        return {(r["a_id"], r["b_id"], r["sim"]) for r in out.collect()}
    if op == "semantic_dedup":
        cents = spark.createDataFrame(
            [(0, [1.0, 1.0, 0.0])], ["centroid_id", "centroid"]
        )
        out = semantic_dedup(df, cents, threshold=0.9)
        return {(r["vec_id"], r["keep"]) for r in out.collect()}
    # verified against-index: the zero batch vector shares a band code
    # with the indexed [1, 1, 0], so it is a verify candidate (see
    # test_zero_vector_candidate_is_verified)
    kw = dict(bits=2, bands=2, dim=3)
    corpus = df.where("vec_id > 1")
    idx = incremental.srp_code_index(corpus, **kw)
    batch = spark.createDataFrame(
        [(10, [0.0, 0.0, 0.0]), (11, [1.0, 1.0, 0.001]), (12, [3.0, -1.0, -0.5])],
        VECS,
    )
    out = incremental.dedup_embeddings_against_index(
        batch, idx, base=corpus, threshold=0.9, **kw
    )
    return {r["vec_id"] for r in out.collect()}


@pytest.mark.parametrize("op", [
    "embedding_near_dups", "semantic_dedup", "dedup_embeddings_against_index",
])
def test_zero_vector_never_pairs(spark, op):
    """An all-zero embedding has NULL cosine to everything: it never
    pairs and is never dropped, instead of raising DIVIDE_BY_ZERO under
    ANSI. The other rows are unaffected."""
    got = _zero_case(spark, op)
    want = {
        "embedding_near_dups": {(2, 3, 1.0)},
        "semantic_dedup": {(1, True), (2, True), (3, False), (4, True)},
        "dedup_embeddings_against_index": {10, 12},
    }[op]
    assert got == want


def test_zero_vector_candidate_is_verified(spark):
    """The against-index case above only means something if the zero
    batch vector reaches the cosine verify: it must share a band code
    with the index."""
    kw = dict(bits=2, bands=2, dim=3)
    idx = incremental.srp_code_index(
        spark.createDataFrame(
            [(2, [1.0, 1.0, 0.0]), (4, [-3.0, 1.0, 0.5])], VECS
        ), **kw
    )
    zero = incremental.srp_code_index(
        spark.createDataFrame([(10, [0.0, 0.0, 0.0])], VECS), **kw
    )
    assert zero.join(idx.select("band_idx", "code"), ["band_idx", "code"]).count()


def test_embedding_near_dups_plan_has_no_bloom_filter(spark, tmp_path):
    """Spark's runtime bloom filter used to inject a 1 MiB
    `bloom_filter_agg` (8,388,608 bits) into the intra-group membership
    join, shipped inside every task ("Broadcasting large task binary");
    the shared expansion's union of self pairs keeps it out. The
    injection needs a file scan's size estimate under the checkpoints:
    500 random 64-d vectors in parquet, 20 of them duplicated."""
    import random

    rng = random.Random(3)
    rows = [(i, [rng.gauss(0, 1) for _ in range(64)]) for i in range(500)]
    rows += [(1000 + i, v) for i, v in rows[:20]]
    spark.createDataFrame(rows, VECS).write.parquet(str(tmp_path / "emb"))
    out = embedding_near_dups(
        spark.read.parquet(str(tmp_path / "emb")), threshold=0.35, dim=64
    )
    out.collect()
    assert "bloom_filter_agg" not in out._jdf.queryExecution().executedPlan().toString()


_TEXT = "the quick brown fox jumps over the lazy dog near the river bank today"
_OTHER = "completely different words about stream state roots and more"
_NOVEL = "novel text never seen before in any corpus doc"


@pytest.fixture(scope="module")
def family(spark):
    """Small frames with exact duplicates and near-duplicates for every
    input kind of the family: text, vectors, binary payloads, and the
    indexes built from them."""
    texts = spark.createDataFrame(
        [(1, _TEXT), (2, _TEXT), (3, _TEXT + " again"), (4, _OTHER),
         (5, _OTHER), (6, "a third text with nothing shared at all here")],
        "doc_id long, text string",
    )
    vecs = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0, 4.0]), (1, [1.0, 2.0, 3.0, 4.0]),
         (2, [1.0, 2.0, 3.0, 4.001]), (3, [-1.0, -2.0, 3.0, 1.0]),
         (4, [5.0, -1.0, 0.5, -2.0]), (5, None)],
        VECS,
    )
    pay = bytes(range(256)) * 4
    flipped = bytearray(pay)
    flipped[100] ^= 0xFF
    return {
        "texts": texts,
        "batch": spark.createDataFrame(
            [(10, _TEXT), (11, _TEXT + " again!"), (12, _NOVEL), (13, _NOVEL)],
            "doc_id long, text string",
        ),
        "vecs": vecs,
        "vbatch": spark.createDataFrame(
            [(10, [1.0, 2.0, 3.0, 4.0]), (11, [1.001, 2.0, 3.0, 4.0]),
             (12, [4.0, -3.0, -2.0, 1.0]), (13, None)],
            VECS,
        ),
        "cents": spark.createDataFrame(
            [(0, [1.0, 2.0, 3.0, 4.0]), (1, [-1.0, 0.0, 1.0, 0.0])],
            ["centroid_id", "centroid"],
        ),
        "media": spark.createDataFrame(
            [(1, pay), (2, pay), (3, bytes(flipped)), (4, pay[::-1]), (5, None)],
            "doc_id long, content binary",
        ),
        "tidx": incremental.minhash_band_index(texts),
        "vidx": incremental.srp_code_index(vecs, dim=4),
    }


_CALLS = {
    "dedup_keep_docs": lambda f: dedup.dedup_keep_docs(f["texts"]),
    "minhash_candidate_pairs": lambda f: dedup.minhash_candidate_pairs(
        f["texts"], collapse_exact=True
    ),
    "simhash_near_dups": lambda f: dedup.simhash_near_dups(f["texts"]),
    "media_near_dups": lambda f: multimodal.media_near_dups(f["media"]),
    "dedup_media_docs": lambda f: multimodal.dedup_media_docs(f["media"]),
    "embedding_near_dups": lambda f: embedding_near_dups(
        f["vecs"], bits=4, bands=4, threshold=0.99
    ),
    "semantic_dedup": lambda f: semantic_dedup(
        f["vecs"], f["cents"], threshold=0.99
    ),
    "dedup_against_index": lambda f: incremental.dedup_against_index(
        f["batch"], f["tidx"], base=f["texts"], threshold=0.5
    ),
    "dedup_embeddings_against_index": (
        lambda f: incremental.dedup_embeddings_against_index(
            f["vbatch"], f["vidx"], base=f["vecs"], threshold=0.99, dim=4
        )
    ),
    "minhash_band_index": lambda f: incremental.minhash_band_index(f["texts"]),
    "srp_code_index": lambda f: incremental.srp_code_index(f["vecs"]),
}

# Ceilings on the Spark jobs of one call plus `collect()` over the
# `family` fixtures at local[4]: the highest count seen before the
# family shared one skeleton (AQE sometimes launches one more broadcast
# build of its own). The shared skeleton runs at or below each.
_JOB_CEILINGS = {
    "dedup_keep_docs": 24,
    "minhash_candidate_pairs": 17,
    "simhash_near_dups": 16,
    "media_near_dups": 14,
    "dedup_media_docs": 15,
    "embedding_near_dups": 21,
    "semantic_dedup": 20,
    "dedup_against_index": 35,
    "dedup_embeddings_against_index": 31,
    "minhash_band_index": 4,
    "srp_code_index": 3,
}


@pytest.mark.parametrize("name", sorted(_CALLS))
def test_jobs_per_call(family, jobs_of, name):
    call = _CALLS[name]
    call(family).collect()  # warm: the Python UDFs' workers and caches
    jobs = jobs_of(lambda: call(family).collect())
    assert jobs <= _JOB_CEILINGS[name], jobs
