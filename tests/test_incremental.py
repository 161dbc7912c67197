"""Tests for incremental (against-index) corpus deduplication."""

import pytest
from pyspark.sql import functions as F

from featurestore_spark.operators.dedup import dedup_keep_docs
from featurestore_spark.operators.incremental import (
    dedup_against_index,
    extend_index,
    minhash_band_index,
)

BASE_TXT = "the quick brown fox jumps over the lazy dog again and again today"


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (0, BASE_TXT),
        (1, BASE_TXT),  # exact dup inside the corpus (collapses in the index)
        (2, "der hund und die katze sind nicht das problem ein und aus"),
        (3, "completely different content about spark query engines and shuffles"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


@pytest.fixture(scope="module")
def batch(spark):
    rows = [
        (10, BASE_TXT),  # exact dup of indexed text -> drops in both modes
        (11, BASE_TXT),  # second copy -> whole group drops
        (12, BASE_TXT.replace("today", "tomorrow")),  # near dup of corpus
        (13, "el perro y la casa que los una con para nada el dia"),  # novel
        (14, "numbers and tables and charts with entirely novel token streams"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_index_collapses_exact_dups(corpus):
    idx = minhash_band_index(corpus, k=16, bands=8)
    ids = {r["doc_id"] for r in idx.select("doc_id").distinct().collect()}
    assert ids == {0, 2, 3}  # doc 1 collapsed into rep 0
    assert idx.count() == 3 * 8  # one melted row per band per distinct text


def test_band_only_drops_collisions(corpus, batch):
    idx = minhash_band_index(corpus, k=16, bands=8)
    kept = dedup_against_index(batch, idx, k=16, bands=8)
    ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    # exact dups (10, 11) always collide; near dup 12 collides with
    # high probability at bands=8/r=2 (Jaccard ~0.77 -> ~0.97)
    assert ids == {13, 14}


def test_verified_mode_drops_only_above_threshold(corpus, batch):
    idx = minhash_band_index(corpus, k=16, bands=8)
    # doc 12's one-token tail change gives jaccard 10/12 = 0.8333 vs
    # doc 0: it drops at threshold 0.8 but SURVIVES at 0.9 (where
    # band-only would still have dropped it)
    kept08 = dedup_against_index(
        batch, idx, base=corpus, threshold=0.8, k=16, bands=8
    )
    assert {r["doc_id"] for r in kept08.select("doc_id").collect()} == {13, 14}
    kept09 = dedup_against_index(
        batch, idx, base=corpus, threshold=0.9, k=16, bands=8
    )
    ids = {r["doc_id"] for r in kept09.select("doc_id").collect()}
    assert ids == {12, 13, 14}
    # verified keep-set is a superset of band-only's
    band_only = {
        r["doc_id"]
        for r in dedup_against_index(batch, idx, k=16, bands=8)
        .select("doc_id")
        .collect()
    }
    assert band_only <= ids


def test_verified_requires_base(corpus, batch):
    idx = minhash_band_index(corpus, k=16, bands=8)
    with pytest.raises(ValueError, match="requires"):
        dedup_against_index(batch, idx, threshold=0.8)


def test_composition_equals_full_pipeline(spark, corpus, batch):
    """within-batch dedup + against-index == the full-corpus LSH
    pipeline's keep set restricted to the batch, when base ids precede
    batch ids and no bucket cap binds (the drop rule 'some verified
    near-dup with a smaller id exists' splits by whether the earlier
    doc is in the base or the batch)."""
    threshold, kw = 0.8, dict(k=16, bands=8)
    full = dedup_keep_docs(
        corpus.unionByName(batch), threshold=threshold, **kw
    )
    expect = {
        r["doc_id"] for r in full.select("doc_id").collect() if r["doc_id"] >= 10
    }
    idx = minhash_band_index(corpus, **kw)
    within = dedup_keep_docs(batch, threshold=threshold, **kw)
    got = {
        r["doc_id"]
        for r in dedup_against_index(
            within, idx, base=corpus, threshold=threshold, **kw
        )
        .select("doc_id")
        .collect()
    }
    assert got == expect


def test_extend_index_chains_batches(spark, corpus, batch):
    kw = dict(k=16, bands=8)
    idx = minhash_band_index(corpus, **kw)
    kept1 = dedup_against_index(batch, idx, base=corpus, threshold=0.8, **kw)
    idx2 = extend_index(idx, kept1, **kw)
    # batch 2 repeats a batch-1 survivor verbatim -> caught by idx2
    batch2 = spark.createDataFrame(
        [(20, "el perro y la casa que los una con para nada el dia"),
         (21, "and now for something completely different a walk in the park")],
        ["doc_id", "text"],
    )
    kept2 = dedup_against_index(
        batch2, idx2, base=corpus.unionByName(kept1), threshold=0.8, **kw
    )
    ids = {r["doc_id"] for r in kept2.select("doc_id").collect()}
    assert ids == {21}
    # against the ORIGINAL index both batch-2 docs survive
    ids0 = {
        r["doc_id"]
        for r in dedup_against_index(
            batch2, idx, base=corpus, threshold=0.8, **kw
        )
        .select("doc_id")
        .collect()
    }
    assert ids0 == {20, 21}


@pytest.mark.slow  # multi-batch/sweep twin — slow tier (r15)
def test_max_bucket_guards_degenerate_index_buckets(spark, corpus, batch):
    """An index band bucket larger than max_bucket is dropped before
    the join: batch docs colliding ONLY in that bucket survive — but
    EXACT duplicates of indexed texts drop regardless of the cap (the
    text_h1/text_h2 stage is cap-independent)."""
    kw = dict(k=16, bands=8)
    # 3 distinct corpus texts all near-identical -> their band rows
    # share buckets; max_bucket=2 drops any bucket with all 3
    boiler = [
        (100 + i, BASE_TXT + f" filler{i}") for i in range(3)
    ]
    big = corpus.unionByName(spark.createDataFrame(boiler, ["doc_id", "text"]))
    idx = minhash_band_index(big, **kw)
    kept_cap = dedup_against_index(batch, idx, max_bucket=2, **kw)
    kept_nocap = dedup_against_index(batch, idx, **kw)
    # with the cap, keep-set can only GROW
    cap_ids = {r["doc_id"] for r in kept_cap.select("doc_id").collect()}
    nocap_ids = {r["doc_id"] for r in kept_nocap.select("doc_id").collect()}
    assert nocap_ids <= cap_ids
    # max_bucket=0 drops EVERY band bucket -> only the exact stage
    # remains, which still catches the verbatim duplicates 10/11
    kept0 = dedup_against_index(batch, idx, max_bucket=0, **kw)
    assert {r["doc_id"] for r in kept0.select("doc_id").collect()} == {12, 13, 14}
    # max_bucket=None skips the cap pass entirely (pre-pruned index)
    kept_none = dedup_against_index(batch, idx, max_bucket=None, **kw)
    assert {
        r["doc_id"] for r in kept_none.select("doc_id").collect()
    } == nocap_ids
    # an index WITHOUT the hash columns (foreign producer) still works,
    # minus the cap-independent guarantee
    legacy = idx.drop("text_h1", "text_h2")
    kept_legacy = dedup_against_index(batch, legacy, **kw)
    assert {
        r["doc_id"] for r in kept_legacy.select("doc_id").collect()
    } == nocap_ids


def test_verified_raises_on_index_base_drift(spark, corpus, batch):
    """A candidate id present in the index but missing from `base`
    must fail loudly, not silently keep the near-duplicate."""
    kw = dict(k=16, bands=8)
    idx = minhash_band_index(corpus, **kw)
    broken_base = corpus.where(F.col("doc_id") != 0)  # index still has 0
    with pytest.raises(Exception, match="out of sync"):
        dedup_against_index(
            batch, idx, base=broken_base, threshold=0.8, **kw
        ).count()


def test_stream_restart_guard(spark, tmp_path, corpus, batch):
    """Restarting with a fresh checkpoint (batch ids reset to 0)
    against existing state roots must raise, not overwrite accepted
    batches."""
    from featurestore_spark.operators.incremental import (
        dedup_stream_against_index,
    )

    kw = dict(k=16, bands=8)
    idx_root, base_root, kept_root = _seed(corpus, tmp_path, kw)
    cb = dedup_stream_against_index(
        idx_root, kept_root, base_path=base_root, threshold=0.8, **kw
    )
    cb(batch, 5)
    # retry of the HIGHEST batch id is fine
    cb(batch, 5)
    # a lower id means a new checkpoint lineage -> refuse
    with pytest.raises(RuntimeError, match="fresh checkpoint"):
        cb(batch, 0)


def _seed(corpus, tmp, kw):
    idx_root = str(tmp / "idx")
    base_root = str(tmp / "base")
    kept_root = str(tmp / "kept")
    minhash_band_index(corpus, **kw).write.parquet(f"{idx_root}/batch=seed")
    corpus.select("doc_id", "text").write.parquet(f"{base_root}/batch=seed")
    return idx_root, base_root, kept_root


def test_foreach_batch_callback_chains_and_is_idempotent(
    spark, tmp_path, corpus, batch
):
    from featurestore_spark.operators.incremental import (
        dedup_stream_against_index,
    )

    kw = dict(k=16, bands=8)
    idx_root, base_root, kept_root = _seed(corpus, tmp_path, kw)
    cb = dedup_stream_against_index(
        idx_root, kept_root, base_path=base_root, threshold=0.8, **kw
    )
    cb(batch, 1)
    kept1 = spark.read.option("recursiveFileLookup", "true").parquet(kept_root)
    ids1 = {r["doc_id"] for r in kept1.select("doc_id").collect()}
    assert ids1 == {13, 14}  # same keep set as dedup_against_index @0.8
    # batch 2 repeats a batch-1 survivor -> dropped against the grown index
    batch2 = spark.createDataFrame(
        [(20, "el perro y la casa que los una con para nada el dia"),
         (21, "and now for something completely different a walk in the park")],
        ["doc_id", "text"],
    )
    cb(batch2, 2)
    kept = spark.read.option("recursiveFileLookup", "true").parquet(kept_root)
    assert {r["doc_id"] for r in kept.select("doc_id").collect()} == {13, 14, 21}
    # retry of batch 2 overwrites its own subdir: no duplicates anywhere
    cb(batch2, 2)
    kept = spark.read.option("recursiveFileLookup", "true").parquet(kept_root)
    assert kept.count() == 3
    idx = spark.read.option("recursiveFileLookup", "true").parquet(idx_root)
    assert idx.count() == idx.distinct().count()


def test_foreach_batch_real_stream(spark, tmp_path, corpus):
    """End-to-end through a real file-source stream: two parquet drops,
    availableNow trigger, foreachBatch callback."""
    from featurestore_spark.operators.incremental import (
        dedup_stream_against_index,
    )

    kw = dict(k=16, bands=8)
    idx_root, base_root, kept_root = _seed(corpus, tmp_path, kw)
    src = str(tmp_path / "incoming")
    spark.createDataFrame(
        [(10, BASE_TXT),  # exact dup of corpus -> dropped
         (13, "el perro y la casa que los una con para nada el dia")],
        ["doc_id", "text"],
    ).write.parquet(src)
    cb = dedup_stream_against_index(
        idx_root, kept_root, base_path=base_root, threshold=0.8, **kw
    )
    schema = "doc_id bigint, text string"
    q = (
        spark.readStream.schema(schema)
        .parquet(src)
        .writeStream.foreachBatch(cb)
        .option("checkpointLocation", str(tmp_path / "chk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    kept = spark.read.option("recursiveFileLookup", "true").parquet(kept_root)
    assert {r["doc_id"] for r in kept.select("doc_id").collect()} == {13}


# -- embedding side ----------------------------------------------------------


@pytest.fixture(scope="module")
def vec_corpus(spark):
    rows = [
        (0, [1.0, 2.0, 3.0, 4.0]),
        (1, [1.0, 2.0, 3.0, 4.0]),   # exact dup inside corpus
        (2, [-1.0, -2.0, 3.0, 1.0]),
        (3, [5.0, -1.0, 0.5, -2.0]),
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


@pytest.fixture(scope="module")
def vec_batch(spark):
    rows = [
        (10, [1.0, 2.0, 3.0, 4.0]),       # exact dup of corpus -> drops
        (11, [1.001, 2.0, 3.0, 4.0]),     # near dup (cos ~1.0) -> drops verified
        (12, [4.0, -3.0, -2.0, 1.0]),     # novel
        (13, None),                        # null embedding -> always kept
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_srp_index_collapses_and_melts(vec_corpus):
    from featurestore_spark.operators.incremental import srp_code_index

    idx = srp_code_index(vec_corpus, bits=8, bands=6, dim=4)
    ids = {r["vec_id"] for r in idx.select("vec_id").distinct().collect()}
    assert ids == {0, 2, 3}
    assert idx.count() == 3 * 6


def test_embeddings_against_index_verified(spark, vec_corpus, vec_batch):
    from featurestore_spark.operators.incremental import (
        dedup_embeddings_against_index,
        srp_code_index,
    )

    kw = dict(bits=8, bands=6, dim=4)
    idx = srp_code_index(vec_corpus, **kw)
    kept = dedup_embeddings_against_index(
        vec_batch, idx, base=vec_corpus, threshold=0.99, **kw
    )
    ids = {r["vec_id"] for r in kept.select("vec_id").collect()}
    assert ids == {12, 13}
    # band-only drops at least the verified set's complement
    band_only = dedup_embeddings_against_index(vec_batch, idx, **kw)
    bids = {r["vec_id"] for r in band_only.select("vec_id").collect()}
    assert bids <= ids
    assert 13 in bids  # null embedding never collides
    with pytest.raises(ValueError, match="requires"):
        dedup_embeddings_against_index(vec_batch, idx, threshold=0.9, **kw)


@pytest.mark.slow  # multi-batch/sweep twin — slow tier (r15)
def test_embeddings_against_index_matches_near_dups(spark, vec_corpus, vec_batch):
    """Keep set == batch minus {batch vec with a cross-corpus
    embedding_near_dups pair}: the against-index formulation must drop
    exactly the batch side of the full near-dup pair set (restricted
    to cross pairs, no within-batch dedup here)."""
    from featurestore_spark.operators.incremental import (
        dedup_embeddings_against_index,
        srp_code_index,
    )
    from featurestore_spark.operators.similarity import embedding_near_dups

    kw = dict(bits=8, bands=6, dim=4)
    thr = 0.99
    pairs = embedding_near_dups(
        vec_corpus.unionByName(vec_batch), threshold=thr, dim=4
    )
    cross_drop = {
        r["b_id"]
        for r in pairs.collect()
        if r["a_id"] < 10 and r["b_id"] >= 10
    }
    batch_ids = {10, 11, 12, 13}
    expect = batch_ids - cross_drop
    idx = srp_code_index(vec_corpus, **kw)
    got = {
        r["vec_id"]
        for r in dedup_embeddings_against_index(
            vec_batch, idx, base=vec_corpus, threshold=thr, **kw
        )
        .select("vec_id")
        .collect()
    }
    assert got == expect


@pytest.mark.slow  # multi-batch/sweep twin — slow tier (r15)
def test_prune_index_equals_per_batch_cap(spark, corpus, batch):
    from featurestore_spark.operators.incremental import prune_index

    kw = dict(k=16, bands=8)
    boiler = [(100 + i, BASE_TXT + f" filler{i}") for i in range(3)]
    big = corpus.unionByName(spark.createDataFrame(boiler, ["doc_id", "text"]))
    idx = minhash_band_index(big, **kw)
    pruned = prune_index(idx, max_bucket=2)
    a = dedup_against_index(batch, pruned, max_bucket=None, **kw)
    b = dedup_against_index(batch, idx, max_bucket=2, **kw)
    assert {r["doc_id"] for r in a.select("doc_id").collect()} == {
        r["doc_id"] for r in b.select("doc_id").collect()
    }
    with pytest.raises(ValueError, match="schema"):
        prune_index(idx.drop("band_hash"))


@pytest.mark.slow  # multi-batch/sweep twin — slow tier (r15)
def test_line_index_dedup_equals_full_corpus(spark):
    """Against-index line dedup == full-corpus dedup_lines restricted
    to the batch rows (include_batch=True, the CCNet semantic)."""
    from featurestore_spark.operators.curation import dedup_lines
    from featurestore_spark.operators.incremental import (
        dedup_lines_against_index,
        extend_line_index,
        line_frequency_index,
    )

    corpus = spark.createDataFrame(
        [
            (1, "cookie banner\ncorpus one"),
            (2, "cookie banner\ncorpus two"),
            (3, "rare line\ncorpus three"),
        ],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, "cookie banner\nbatch fresh"),
            (11, "rare line\nbatch unique"),
            (12, "batch shared\nbatch own a"),
            (13, "batch shared\nbatch own b"),
            (14, "never seen\nsolo"),
        ],
        "doc_id long, text string",
    )
    idx = line_frequency_index(corpus)
    out = {
        r["doc_id"]: (r["text"], r["n_lines_kept"])
        for r in dedup_lines_against_index(batch, idx, max_docs=1).collect()
    }
    full = dedup_lines(corpus.unionByName(batch), max_docs=1)
    expect = {
        r["doc_id"]: (r["text"], r["n_lines_kept"])
        for r in full.collect()
        if r["doc_id"] >= 10
    }
    assert out == expect
    # 'rare line' (corpus freq 1) only drops because the batch adds one
    assert out[11][0] == "batch unique"

    # include_batch=False: corpus counts alone; within-batch repetition
    # and corpus-freq-1 lines survive
    corpus_only = {
        r["doc_id"]: r["text"]
        for r in dedup_lines_against_index(
            batch, idx, max_docs=1, include_batch=False
        ).collect()
    }
    assert corpus_only[11] == "rare line\nbatch unique"
    assert corpus_only[12] == "batch shared\nbatch own a"

    # extend: every non-empty batch line is now indexed, so a replay
    # with max_docs=0 (drop anything ever seen) empties every doc
    idx2 = extend_line_index(idx, batch)
    replay = {
        r["doc_id"]: r["text"]
        for r in dedup_lines_against_index(
            batch, idx2, max_docs=0, include_batch=False
        ).collect()
    }
    assert all(t == "" for t in replay.values())
    # merged counts: 'cookie banner' seen in 2 corpus + 1 batch docs
    from pyspark.sql import functions as F

    from featurestore_spark.operators.dedup import hash128

    banner = idx2.where(
        F.col("line_hash") == hash128(F.lit("cookie banner"))
    ).collect()
    assert banner[0]["doc_freq"] == 3


@pytest.mark.slow  # multi-batch/sweep twin — slow tier (r15)
def test_line_stream_callback_chains_and_is_idempotent(spark, tmp_path):
    from featurestore_spark.operators.incremental import (
        dedup_lines_stream_against_index,
        line_frequency_index,
    )

    idx_root = str(tmp_path / "lidx")
    kept_root = str(tmp_path / "lkept")
    corpus = spark.createDataFrame(
        [(1, "cookie banner\ncorpus one"), (2, "cookie banner\ncorpus two")],
        "doc_id long, text string",
    )
    line_frequency_index(corpus).write.parquet(f"{idx_root}/batch=seed")
    cb = dedup_lines_stream_against_index(idx_root, kept_root, max_docs=1)

    b1 = spark.createDataFrame(
        [(10, "cookie banner\nfresh one"), (11, "new line\nfresh two")],
        "doc_id long, text string",
    )
    cb(b1, 1)
    kept = spark.read.option("recursiveFileLookup", "true").parquet(kept_root)
    t = {r["doc_id"]: r["text"] for r in kept.collect()}
    # 'cookie banner' already at corpus freq 2 -> dropped; batch-unique kept
    assert t == {10: "fresh one", 11: "new line\nfresh two"}

    # batch 2 repeats a batch-1 line: prefix counts now include batch 1
    b2 = spark.createDataFrame(
        [(20, "new line\nown text")], "doc_id long, text string"
    )
    cb(b2, 2)
    kept = spark.read.option("recursiveFileLookup", "true").parquet(kept_root)
    t = {r["doc_id"]: r["text"] for r in kept.collect()}
    assert t[20] == "own text"  # 'new line' seen in batch 1 + here = 2 > 1

    # retry of batch 2 is idempotent (overwrites its own partition,
    # excludes its own failed writes from index reads)
    cb(b2, 2)
    kept = spark.read.option("recursiveFileLookup", "true").parquet(kept_root)
    assert kept.count() == 3
    assert {
        r["doc_id"]: r["text"] for r in kept.collect()
    }[20] == "own text"

    # fresh-checkpoint restart guard
    with pytest.raises(RuntimeError, match="fresh checkpoint"):
        cb(b1, 0)


def test_line_stream_first_batch_no_index(spark, tmp_path):
    """Missing index root: include_batch=False must pass everything
    through (empty index, no corpus counts), not fall back to
    within-batch counting."""
    from featurestore_spark.operators.incremental import (
        dedup_lines_stream_against_index,
    )

    idx_root = str(tmp_path / "lidx2")
    kept_root = str(tmp_path / "lkept2")
    b = spark.createDataFrame(
        [(1, "same line\na"), (2, "same line\nb")], "doc_id long, text string"
    )
    cb = dedup_lines_stream_against_index(
        idx_root, kept_root, max_docs=1, include_batch=False
    )
    cb(b, 0)
    kept = spark.read.option("recursiveFileLookup", "true").parquet(kept_root)
    assert {r["text"] for r in kept.collect()} == {"same line\na", "same line\nb"}


@pytest.mark.slow  # multi-batch/sweep twin — slow tier (r15)
def test_span_index_removal_equals_full_corpus(spark):
    from featurestore_spark.operators.curation import remove_shared_spans
    from featurestore_spark.operators.incremental import (
        extend_span_index,
        remove_spans_against_index,
        span_window_index,
    )

    shared = "alpha beta gamma delta epsilon zeta eta theta"
    corpus = spark.createDataFrame(
        [(1, f"intro words here {shared} outro tail"),
         (2, "corpus only content nothing shared at all here ok")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(10, f"{shared} fresh batch material going on"),
         (11, "batch unique doc with its own words entirely"),
         (12, None)],
        "doc_id long, text string",
    )
    idx = span_window_index(corpus, n=5)
    for ce in (True, False):
        out = {
            r["doc_id"]: (r["text"], r["n_tokens_removed"], r["n_spans"])
            for r in remove_spans_against_index(
                batch, idx, n=5, min_df=2, collapse_exact=ce
            ).collect()
        }
        full = remove_shared_spans(
            corpus.unionByName(batch), n=5, min_df=2
        )
        expect = {
            r["doc_id"]: (r["text"], r["n_tokens_removed"], r["n_spans"])
            for r in full.collect()
            if r["doc_id"] >= 10
        }
        assert out == expect
    # the shared span is gone from the batch doc; null passes through
    assert out[10][0] == "fresh batch material going on"
    assert out[12] == (None, None, None)

    # extend: a replay of the batch against the merged index with
    # min_df=1 (anything ever seen) empties every doc's indexed windows
    idx2 = extend_span_index(idx, batch, n=5)
    replay = {
        r["doc_id"]: r["text"]
        for r in remove_spans_against_index(
            batch, idx2, n=5, min_df=1, include_batch=False
        ).collect()
    }
    assert replay[10] == "" and replay[11] == ""


@pytest.mark.slow  # multi-batch/sweep twin — slow tier (r15)
def test_embedding_stream_callback_chains(spark, tmp_path):
    from featurestore_spark.operators.incremental import (
        dedup_embeddings_stream_against_index,
        srp_code_index,
    )

    idx_root = str(tmp_path / "eidx")
    kept_root = str(tmp_path / "ekept")
    corpus = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    srp_code_index(corpus, dim=3).write.parquet(f"{idx_root}/batch=seed")
    cb = dedup_embeddings_stream_against_index(idx_root, kept_root, dim=3)

    b1 = spark.createDataFrame(
        [(10, [1.0, 0.0, 0.0]),      # exact dup of indexed 0 -> dropped
         (11, [0.0, 0.0, 1.0])],     # novel direction -> kept
        "vec_id long, embedding array<double>",
    )
    cb(b1, 1)
    kept = spark.read.option("recursiveFileLookup", "true").parquet(kept_root)
    assert {r["vec_id"] for r in kept.collect()} == {11}

    # batch 2 repeats batch-1's survivor -> caught by the grown index
    b2 = spark.createDataFrame(
        [(20, [0.0, 0.0, 1.0]), (21, [0.5, 0.5, 0.5])],
        "vec_id long, embedding array<double>",
    )
    cb(b2, 2)
    kept = spark.read.option("recursiveFileLookup", "true").parquet(kept_root)
    ids = {r["vec_id"] for r in kept.collect()}
    assert 20 not in ids and 11 in ids
    # retry idempotent
    cb(b2, 2)
    kept = spark.read.option("recursiveFileLookup", "true").parquet(kept_root)
    assert kept.count() == len(ids)
    with pytest.raises(RuntimeError, match="fresh checkpoint"):
        cb(b1, 0)


@pytest.mark.slow  # multi-batch/sweep twin — slow tier (r15)
def test_span_stream_callback_chains(spark, tmp_path):
    from featurestore_spark.operators.incremental import (
        remove_spans_stream_against_index,
        span_window_index,
    )

    idx_root = str(tmp_path / "sidx")
    kept_root = str(tmp_path / "skept")
    shared = "alpha beta gamma delta epsilon zeta eta theta"
    corpus = spark.createDataFrame(
        [(1, f"intro here {shared} outro")], "doc_id long, text string"
    )
    span_window_index(corpus, n=5).write.parquet(f"{idx_root}/batch=seed")
    cb = remove_spans_stream_against_index(
        idx_root, kept_root, n=5, min_df=2
    )
    b1 = spark.createDataFrame(
        [(10, f"{shared} fresh batch material going on"),
         (11, "a batch doc with its own repeated span words here yes")],
        "doc_id long, text string",
    )
    cb(b1, 1)
    kept = spark.read.option("recursiveFileLookup", "true").parquet(kept_root)
    t = {r["doc_id"]: r["text"] for r in kept.collect()}
    # the corpus-shared span is removed; the unique doc untouched
    assert t[10] == "fresh batch material going on"
    assert t[11].startswith("a batch doc")

    # batch 2 repeats batch-1's span -> prefix counts catch it
    b2 = spark.createDataFrame(
        [(20, "fresh batch material going on plus trailing extra words")],
        "doc_id long, text string",
    )
    cb(b2, 2)
    kept = spark.read.option("recursiveFileLookup", "true").parquet(kept_root)
    t = {r["doc_id"]: r["text"] for r in kept.collect()}
    assert "fresh batch material" not in t[20]
    # retry idempotent; restart guard
    cb(b2, 2)
    kept = spark.read.option("recursiveFileLookup", "true").parquet(kept_root)
    assert kept.count() == 3
    with pytest.raises(RuntimeError, match="fresh checkpoint"):
        cb(b1, 0)


def test_extend_index_verify_probe(spark, corpus, batch):
    """extend_index(verify=True): novel-batch extension passes the
    disjointness sketch; re-extending the already-indexed corpus
    raises (VERDICT r6 #5)."""
    kw = dict(n=3, k=16, bands=8)
    idx = minhash_band_index(corpus, **kw)
    out = extend_index(idx, batch, verify=True, **kw)
    assert out.count() > idx.count()
    with pytest.raises(ValueError, match="overlap"):
        extend_index(idx, corpus, verify=True, **kw)


@pytest.mark.slow  # multi-batch/sweep twin — slow tier (r15)
def test_dedup_against_index_containment_mode(spark):
    """A short batch doc quoted verbatim inside a long indexed doc
    dedups under containment but SURVIVES Jaccard at the same
    threshold (the union is dominated by the long doc) — the
    sub-document case Jaccard-mode verify under-scores (VERDICT r7
    #7). The (c_batch, c_base) pair gates each direction
    independently."""
    from featurestore_spark.operators.incremental import (
        dedup_against_index,
        minhash_band_index,
    )

    quote = "the quick brown fox jumps over the lazy dog near the river bank"
    long_doc = (
        "completely unrelated opening sentence about markets and trade "
        + quote
        + " and a long unrelated tail discussing weather patterns crops "
        "harvest yields irrigation canals and rural infrastructure plans"
    )
    corpus = spark.createDataFrame(
        [(1, long_doc), (2, "some other indexed document entirely")],
        "doc_id long, text string",
    )
    # bands=k: every shingle contributes to some band, so the quote
    # band-collides with its containing doc (candidate recall isn't
    # what this test pins — the verify measure is)
    idx = minhash_band_index(corpus, n=3, k=16, bands=16)
    batch = spark.createDataFrame(
        [(10, quote), (11, "fresh novel content with no overlap at all")],
        "doc_id long, text string",
    )
    kw = dict(base=corpus, n=3, k=16, bands=16, max_bucket=None)

    jac_kept = dedup_against_index(batch, idx, threshold=0.8, **kw)
    assert {r["doc_id"] for r in jac_kept.collect()} == {10, 11}

    cont_kept = dedup_against_index(
        batch, idx, threshold=0.8, verify_measure="containment", **kw
    )
    assert {r["doc_id"] for r in cont_kept.collect()} == {11}

    # direction-specific: (None, c_base) only drops batch docs that
    # CONTAIN an indexed doc — the quote (contained, not containing)
    # survives
    dir_kept = dedup_against_index(
        batch, idx, threshold=(None, 0.8), verify_measure="containment", **kw
    )
    assert {r["doc_id"] for r in dir_kept.collect()} == {10, 11}

    with pytest.raises(ValueError, match="containment"):
        dedup_against_index(batch, idx, threshold=(0.8, None), **kw)
    # both directions disabled would verify nothing — reject the typo
    with pytest.raises(ValueError, match="disables both"):
        dedup_against_index(
            batch, idx, threshold=(None, None),
            verify_measure="containment", **kw,
        )
    with pytest.raises(ValueError, match="verify_measure"):
        dedup_against_index(
            batch, idx, threshold=0.8, verify_measure="cosine", **kw
        )


def test_verify_disjoint_ids_asymmetric_exact_path(spark):
    """Small-batch-vs-large-index (the incremental shape): the sketch
    comparison is blind — a fully re-ingested 10-doc batch shifts a
    1000-doc union by ~1%, inside HLL error — so the probe must take
    the exact semi-join path and still raise (ADVICE r7)."""
    from featurestore_spark.operators.probes import verify_disjoint_ids

    large = spark.range(0, 1000).select(F.col("id").alias("doc_id"))
    reingested = spark.range(0, 10).select(F.col("id").alias("doc_id"))
    with pytest.raises(ValueError, match="already exist"):
        verify_disjoint_ids(large, reingested, "doc_id", "extend_index")
    # symmetric order of arguments must not matter
    with pytest.raises(ValueError, match="already exist"):
        verify_disjoint_ids(reingested, large, "doc_id", "extend_index")
    fresh = spark.range(2000, 2010).select(F.col("id").alias("doc_id"))
    verify_disjoint_ids(large, fresh, "doc_id", "extend_index")  # passes
    # empty batch is vacuously disjoint
    verify_disjoint_ids(large, fresh.where("doc_id < 0"), "doc_id", "x")
    # the default 25% band is a documented tolerance, not a blind
    # spot: a 20%-re-ingested batch passes by default but raises at
    # max_overlap_frac=0.0 (ADVICE r8 #2)
    partial = spark.range(0, 2).unionByName(spark.range(3000, 3008)).select(
        F.col("id").alias("doc_id")
    )
    verify_disjoint_ids(large, partial, "doc_id", "extend_index")
    with pytest.raises(ValueError, match="already exist"):
        verify_disjoint_ids(
            large, partial, "doc_id", "extend_index", max_overlap_frac=0.0
        )
    # an EXPLICIT max_overlap_frac that lands in the sketch regime
    # (similar sizes) warns that the strict contract isn't in force
    # (ADVICE r9 #4); the default (None) stays silent there
    import warnings

    a = spark.range(0, 1000).select(F.col("id").alias("doc_id"))
    b = spark.range(1000, 2000).select(F.col("id").alias("doc_id"))
    with pytest.warns(UserWarning, match="sketch regime"):
        verify_disjoint_ids(a, b, "doc_id", "merge", max_overlap_frac=0.0)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        verify_disjoint_ids(a, b, "doc_id", "merge")


def test_url_index_recrawl_round_trip(spark):
    """Incremental recrawl URL dedup: a batch row survives iff its
    canonical form is new to the index AND first within the batch;
    NULL-canonical rows drop; extend_url_index makes a re-crawled
    batch fully collapse on the next pass; an old-format index fails
    fast."""
    from featurestore_spark.operators.incremental import (
        dedup_urls_against_index,
        extend_url_index,
        url_index,
    )

    corpus = spark.createDataFrame(
        [(1, "http://A.com/x?utm_s=1"), (2, "http://a.com/y#frag")],
        "doc_id long, url string",
    )
    idx = url_index(corpus)
    batch = spark.createDataFrame(
        [
            (10, "HTTP://a.COM:80/x/"),   # canonical dup of corpus 1
            (11, "http://a.com/z"),        # new
            (12, "http://a.com/z?utm_a=1"),  # batch-internal dup of 11
            (13, "/robots.txt"),            # NULL canonical -> drop
            (14, "http://b.org/w"),         # new
        ],
        "doc_id long, url string",
    )
    kept = dedup_urls_against_index(batch, idx)
    got = {r["doc_id"]: r["canonical_url"] for r in kept.collect()}
    assert got == {11: "http://a.com/z", 14: "http://b.org/w"}
    # extend (verify probe green on a genuinely-new batch), then the
    # SAME batch is fully seen
    idx2 = extend_url_index(idx, kept, verify=True)
    assert dedup_urls_against_index(batch, idx2).count() == 0
    # plain union (family convention — no full-index distinct per
    # batch); the double-ingestion misuse trips the verify probe
    assert extend_url_index(idx2, kept).count() == idx2.count() + kept.count()
    import pytest as _pytest

    with _pytest.raises(ValueError, match="overlap|double-count"):
        extend_url_index(idx2, kept, verify=True)

    old = spark.createDataFrame([], "url_hash bigint")
    with _pytest.raises(ValueError, match="128-bit"):
        dedup_urls_against_index(batch, old)


def test_against_index_rejects_64bit_line_index(spark, tmp_path, corpus):
    """A pre-round-6 bigint-keyed index fails fast with the rebuild
    instruction, not an opaque join type-mismatch (ADVICE r6) — in the
    stream form too."""
    from featurestore_spark.operators.incremental import (
        dedup_lines_against_index,
        dedup_lines_stream_against_index,
        remove_spans_against_index,
    )

    old_line = spark.createDataFrame([], "line_hash bigint, doc_freq long")
    with pytest.raises(ValueError, match="128-bit"):
        dedup_lines_against_index(corpus, old_line)
    old_span = spark.createDataFrame([], "window_hash bigint, doc_freq long")
    with pytest.raises(ValueError, match="128-bit"):
        remove_spans_against_index(corpus, old_span)
    missing = spark.createDataFrame([], "wrong_col bigint, doc_freq long")
    with pytest.raises(ValueError, match="no 'line_hash' column"):
        dedup_lines_against_index(corpus, missing)
    idx_root = str(tmp_path / "lidx")
    spark.createDataFrame([(1, 2)], "line_hash bigint, doc_freq long").write.parquet(
        f"{idx_root}/batch=seed"
    )
    cb = dedup_lines_stream_against_index(idx_root, str(tmp_path / "lkept"))
    with pytest.raises(ValueError, match="128-bit"):
        cb(corpus, 0)


@pytest.mark.slow  # multi-batch/sweep twin — slow tier (r15)
def test_media_index_recrawl_round_trip(spark):
    """Incremental recrawl media dedup (VERDICT r10 #4): a batch row
    survives iff its payload digest is new to the index AND first
    within the batch; NULL payloads drop; the perceptual probe
    (max_hamming) drops near-variants of indexed media; extension is
    a plain union whose double-ingestion misuse trips verify=; an
    index without signatures fails fast on the perceptual ask."""
    import pytest

    from featurestore_spark.operators.incremental import (
        dedup_media_against_index,
        extend_media_index,
        media_index,
    )

    base = bytes(range(256)) * 4
    var = bytearray(base)
    var[100] ^= 0xFF  # one flipped byte: dhash-near base, md5-far
    far = bytes(reversed(base))
    corpus = spark.createDataFrame(
        [(1, base)], "doc_id long, content binary"
    )
    idx = media_index(corpus, signatures=True)
    assert set(idx.columns) == {"content_md5", "byte_dhash"}
    batch = spark.createDataFrame(
        [
            (10, base),        # exact dup of corpus -> drop
            (11, bytes(var)),  # near-dup of corpus (dhash) -> drop at probe
            (12, far),         # genuinely new
            (13, far),         # batch-internal dup of 12 -> drop
            (14, None),        # NULL payload -> drop
        ],
        "doc_id long, content binary",
    )
    # md5-only probe: near-variant survives, exact dups drop
    kept_exact = dedup_media_against_index(batch, idx)
    assert {r["doc_id"] for r in kept_exact.collect()} == {11, 12}
    # perceptual probe: the near-variant drops too
    kept = dedup_media_against_index(batch, idx, max_hamming=3)
    assert {r["doc_id"] for r in kept.collect()} == {12}
    assert "content_md5" in kept.columns
    # extend (verify green on a fresh batch), then the batch is seen
    idx2 = extend_media_index(idx, kept, verify=True)
    assert dedup_media_against_index(batch, idx2, max_hamming=3).count() == 0
    assert idx2.count() == idx.count() + 1
    # double-ingestion misuse trips the probe; plain union otherwise
    with pytest.raises(ValueError, match="overlap|double-count"):
        extend_media_index(idx2, kept, verify=True)
    assert extend_media_index(idx2, kept).count() == idx2.count() + 1
    # signature-less index: exact probe fine, perceptual ask fails fast
    plain = media_index(corpus)
    assert plain.columns == ["content_md5"]
    with pytest.raises(ValueError, match="signatures=True"):
        dedup_media_against_index(batch, plain, max_hamming=3)
    with pytest.raises(ValueError, match="content_md5"):
        dedup_media_against_index(batch, spark.range(1), max_hamming=3)


def test_compact_index_band_family_read_equivalence(spark, tmp_path, corpus, batch):
    """VERDICT r12 #4: compacting a batch=<id> band-index root is
    read-equivalent — same dedup verdicts before and after — while
    shrinking the partition/file count, leaving the live head batch
    untouched, and keeping the restart guard's high-water mark."""
    from featurestore_spark.operators.incremental import (
        _guard_restart,
        compact_index,
    )

    root = str(tmp_path / "idx")
    minhash_band_index(corpus).write.parquet(f"{root}/batch=seed")
    # three ingestion batches extend the index (one partition each)
    extra = [
        (20, "twenty unique tokens in a row about compaction machinery"),
        (21, "another wholly distinct document concerning parquet files"),
        (22, "third batch content mentioning shuffles and small files"),
    ]
    for i, (did, txt) in enumerate(extra):
        one = spark.createDataFrame([(did, txt)], ["doc_id", "text"])
        minhash_band_index(one).write.parquet(f"{root}/batch={i}")

    def read_all():
        return spark.read.parquet(root).drop("batch")

    before = sorted(
        r["doc_id"] for r in dedup_against_index(batch, read_all()).collect()
    )
    from featurestore_spark.io.fs import HadoopFS

    fs = HadoopFS(spark)
    parts_before = sorted(
        n for n in fs.list_names(root) if n.startswith("batch=")
    )
    assert parts_before == ["batch=0", "batch=1", "batch=2", "batch=seed"]
    stats = compact_index(spark, root)
    # seed + batches 0,1 consolidated; the live head (2) untouched
    assert sorted(stats["compacted"]) == ["batch=0", "batch=1", "batch=seed"]
    assert stats["into"] == "batch=c1"
    parts_after = sorted(
        n for n in fs.list_names(root) if n.startswith("batch=")
    )
    assert parts_after == ["batch=2", "batch=c1"]
    assert stats["files_after"] < stats["files_before"]
    after = sorted(
        r["doc_id"] for r in dedup_against_index(batch, read_all()).collect()
    )
    assert before == after
    # index rows identical, not just verdicts
    assert spark.read.parquet(root).drop("batch").count() == (
        minhash_band_index(corpus).count() + 3 * 4
    )
    # restart guard: c1 + live head 2 still gate a fresh lineage
    with pytest.raises(RuntimeError, match="fresh checkpoint"):
        _guard_restart(spark, root, 0, "t")
    _guard_restart(spark, root, 2, "t")  # retry of the head: fine
    # a second compaction folds c1 (+ nothing else new) -> no-op
    stats2 = compact_index(spark, root)
    assert stats2["compacted"] == [] and stats2["into"] is None


def test_compact_index_frequency_family_sums_deltas(spark, tmp_path):
    """Frequency-delta roots (line/span indexes, summed on read):
    compaction pre-aggregates the deltas — same per-key totals, fewer
    rows and files."""
    from featurestore_spark.operators.incremental import (
        compact_index,
        line_frequency_index,
    )

    root = str(tmp_path / "freq")
    c1 = spark.createDataFrame(
        [(0, "alpha\nbeta"), (1, "alpha\ngamma")], ["doc_id", "text"]
    )
    c2 = spark.createDataFrame(
        [(2, "alpha\nbeta"), (3, "delta")], ["doc_id", "text"]
    )
    c3 = spark.createDataFrame([(4, "beta\ndelta")], ["doc_id", "text"])
    line_frequency_index(c1).write.parquet(f"{root}/batch=seed")
    line_frequency_index(c2).write.parquet(f"{root}/batch=0")
    line_frequency_index(c3).write.parquet(f"{root}/batch=1")

    def totals():
        return {
            (r["line_hash"]["h1"], r["line_hash"]["h2"]): r["doc_freq"]
            for r in spark.read.parquet(root).drop("batch")
            .groupBy("line_hash").agg(F.sum("doc_freq").alias("doc_freq"))
            .collect()
        }

    before = totals()
    rows_before = spark.read.parquet(root).count()
    stats = compact_index(spark, root, sum_col="doc_freq")
    assert sorted(stats["compacted"]) == ["batch=0", "batch=seed"]
    assert totals() == before
    # pre-aggregation collapsed the shared-line delta rows
    assert spark.read.parquet(root).count() < rows_before


def test_compact_index_resumes_crashed_promote(spark, tmp_path):
    """A crash between the source deletes and the rename leaves a
    manifest-carrying staging dir; the next compact_index call
    finishes the promote instead of double-counting or losing data."""
    from featurestore_spark.io.fs import HadoopFS
    from featurestore_spark.operators.incremental import compact_index

    root = str(tmp_path / "r")
    a = spark.createDataFrame([(1, 10)], ["k", "v"])
    b = spark.createDataFrame([(2, 20)], ["k", "v"])
    c = spark.createDataFrame([(3, 30)], ["k", "v"])
    a.write.parquet(f"{root}/batch=seed")
    b.write.parquet(f"{root}/batch=0")
    c.write.parquet(f"{root}/batch=1")
    # hand-build the crashed state: staging data + manifest written,
    # one source already deleted, rename never happened
    fs = HadoopFS(spark)
    spark.read.parquet(f"{root}/batch=seed", f"{root}/batch=0").coalesce(
        1
    ).write.parquet(f"{root}/_compact_tmp")
    fs.write_text(
        f"{root}/_compact_tmp/_SOURCES",
        "batch=c0\nbatch=seed\nbatch=0\n# end",
    )
    fs.delete(f"{root}/batch=seed")
    out = compact_index(spark, root)
    assert out.get("resumed") is True and out["into"] == "batch=c0"
    assert isinstance(out["files_before"], int)  # stats contract holds
    names = sorted(
        n for n in fs.list_names(root) if n.startswith("batch=")
    )
    assert names == ["batch=1", "batch=c0"]
    got = sorted(
        (r["k"], r["v"]) for r in spark.read.parquet(root).drop("batch").collect()
    )
    assert got == [(1, 10), (2, 20), (3, 30)]
    # a manifest-LESS staging dir (crash mid-write) is discarded
    spark.range(1).write.parquet(f"{root}/_compact_tmp")
    out2 = compact_index(spark, root)
    assert not fs.exists(f"{root}/_compact_tmp")
    assert out2["compacted"] == []  # only c0 + live head remain


def test_compact_index_discards_corrupt_manifest(spark, tmp_path):
    """A crash mid-MANIFEST-write leaves a partial/garbled _SOURCES;
    resume must treat it as manifest-less (discard staging, start a
    fresh compaction) instead of promoting a half-named partition."""
    from featurestore_spark.io.fs import HadoopFS
    from featurestore_spark.operators.incremental import compact_index

    root = str(tmp_path / "cm")
    spark.createDataFrame([(1,)], ["k"]).write.parquet(f"{root}/batch=seed")
    spark.createDataFrame([(2,)], ["k"]).write.parquet(f"{root}/batch=0")
    spark.createDataFrame([(3,)], ["k"]).write.parquet(f"{root}/batch=1")
    fs = HadoopFS(spark)
    spark.range(1).write.parquet(f"{root}/_compact_tmp")
    fs.write_text(f"{root}/_compact_tmp/_SOURCES", "batch=c")  # truncated
    out = compact_index(spark, root)
    # fresh compaction ran: seed+0 folded, live head 1 untouched
    assert out.get("resumed") is None
    assert sorted(out["compacted"]) == ["batch=0", "batch=seed"]
    names = sorted(n for n in fs.list_names(root) if n.startswith("batch="))
    assert names == ["batch=1", "batch=c0"]
    assert sorted(r["k"] for r in spark.read.parquet(root).collect()) == [1, 2, 3]


def test_compact_index_discards_truncated_manifest_tail(spark, tmp_path):
    """ADVICE r13: a crash mid-manifest-write can leave a LINE-ALIGNED
    prefix (valid first line + some complete source lines, end marker
    missing). Promoting it would delete only the listed sources and
    leave the rest double-counted next to batch=c<k>; the end-marker
    check must treat it as manifest-less instead."""
    from featurestore_spark.io.fs import HadoopFS
    from featurestore_spark.operators.incremental import compact_index

    root = str(tmp_path / "tt")
    spark.createDataFrame([(1,)], ["k"]).write.parquet(f"{root}/batch=seed")
    spark.createDataFrame([(2,)], ["k"]).write.parquet(f"{root}/batch=0")
    spark.createDataFrame([(3,)], ["k"]).write.parquet(f"{root}/batch=1")
    spark.createDataFrame([(4,)], ["k"]).write.parquet(f"{root}/batch=2")
    fs = HadoopFS(spark)
    # staging claims to hold seed+0+1 but the manifest tail lost
    # batch=1 (and the end marker) in the crash
    spark.read.parquet(
        f"{root}/batch=seed", f"{root}/batch=0", f"{root}/batch=1"
    ).coalesce(1).write.parquet(f"{root}/_compact_tmp")
    fs.write_text(
        f"{root}/_compact_tmp/_SOURCES", "batch=c1\nbatch=seed\nbatch=0"
    )
    out = compact_index(spark, root)
    # the truncated staging dir was discarded and a FRESH compaction
    # consumed all non-head sources exactly once — no double counting
    assert out.get("resumed") is None
    assert sorted(out["compacted"]) == ["batch=0", "batch=1", "batch=seed"]
    names = sorted(n for n in fs.list_names(root) if n.startswith("batch="))
    assert names == ["batch=2", "batch=c1"]
    assert sorted(r["k"] for r in spark.read.parquet(root).collect()) == [
        1, 2, 3, 4,
    ]


def test_restart_guard_decides_from_the_partition_listing(
    spark, tmp_path, jobs_of
):
    """The fresh-checkpoint guard lists the root's `batch=` partitions
    on every call and launches no Spark job. A retry of the head
    passes, a lower id raises, a higher batch written by another
    writer mid-run raises, `batch=c<k>` counts as id k, and after the
    roots are wiped id 0 passes."""
    import shutil

    from featurestore_spark.operators.incremental import _guard_restart

    root = str(tmp_path / "kept")

    def write(name):
        spark.createDataFrame([(1,)], ["k"]).write.parquet(f"{root}/{name}")

    write("batch=0")
    write("batch=1")
    assert jobs_of(lambda: _guard_restart(spark, root, 1, "t")) == 0
    with pytest.raises(RuntimeError, match="fresh checkpoint"):
        _guard_restart(spark, root, 0, "t")
    _guard_restart(spark, root, 2, "t")
    write("batch=2")
    write("batch=5")  # another writer, mid-run
    with pytest.raises(RuntimeError, match="batch=5 > current batch_id=3"):
        _guard_restart(spark, root, 3, "t")
    shutil.rmtree(root)
    write("batch=seed")
    write("batch=c7")
    with pytest.raises(RuntimeError, match="fresh checkpoint"):
        _guard_restart(spark, root, 6, "t")
    _guard_restart(spark, root, 7, "t")
    shutil.rmtree(root)
    _guard_restart(spark, root, 0, "t")  # absent root: the first batch


_TEXT_BATCHES = [
    [(10, f"{BASE_TXT}\ncookie banner"),
     (11, "el perro y la casa que los una con para nada el dia")],
    [(20, "el perro y la casa que los una con para nada el dia\ncookie banner"),
     (21, "and now for something completely different a walk in the park")],
    [(30, "a third batch of novel words about stream state roots"),
     (31, "and now for something completely different a walk in the park\nok")],
]
_VEC_BATCHES = [
    [(10, [1.0, 0.0, 0.0]), (11, [0.0, 0.0, 1.0])],
    [(20, [0.0, 0.0, 1.0]), (21, [0.5, 0.5, 0.5])],
    [(30, [0.2, 0.9, 0.1]), (31, [0.5, 0.5, 0.5])],
]


def _stream_case(spark, tmp, name):
    """(callback, state roots, three micro-batches) for one stream
    wrapper, its roots seeded from a small corpus."""
    from featurestore_spark.operators import incremental as inc
    from featurestore_spark.operators.sampling import (
        hashed_ngram_model,
        hashed_ngram_stream_model,
    )
    from featurestore_spark.operators.search import bm25_index, bm25_stream_index

    idx, kept, base = (str(tmp / r) for r in ("idx", "kept", "base"))
    schema = "doc_id long, text string"
    corpus = spark.createDataFrame(
        [(0, BASE_TXT), (1, "cookie banner\ncorpus one")], schema
    )
    batches = [spark.createDataFrame(rows, schema) for rows in _TEXT_BATCHES]
    if name == "dedup":
        inc.minhash_band_index(corpus, k=16, bands=8).write.parquet(
            f"{idx}/batch=seed"
        )
        corpus.write.parquet(f"{base}/batch=seed")
        cb = inc.dedup_stream_against_index(
            idx, kept, base_path=base, threshold=0.8, k=16, bands=8
        )
        return cb, [kept, idx, base], batches
    if name == "lines":
        inc.line_frequency_index(corpus).write.parquet(f"{idx}/batch=seed")
        return inc.dedup_lines_stream_against_index(idx, kept), [kept, idx], batches
    if name == "spans":
        inc.span_window_index(corpus, n=5).write.parquet(f"{idx}/batch=seed")
        cb = inc.remove_spans_stream_against_index(idx, kept, n=5, min_df=2)
        return cb, [kept, idx], batches
    if name == "emb":
        vecs = "vec_id long, embedding array<double>"
        inc.srp_code_index(
            spark.createDataFrame([(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])], vecs),
            dim=3,
        ).write.parquet(f"{idx}/batch=seed")
        cb = inc.dedup_embeddings_stream_against_index(idx, kept, dim=3)
        return cb, [kept, idx], [
            spark.createDataFrame(rows, vecs) for rows in _VEC_BATCHES
        ]
    if name == "bm25":
        postings, stats = bm25_index(corpus)
        postings.write.parquet(f"{idx}/postings/batch=seed")
        stats.write.parquet(f"{idx}/stats/batch=seed")
        return bm25_stream_index(idx), [f"{idx}/postings", f"{idx}/stats"], batches
    hashed_ngram_model(corpus).write.parquet(f"{idx}/batch=seed")
    return hashed_ngram_stream_model(idx), [idx], batches


# Ceilings on the Spark jobs per micro-batch (batches 1/2/3) of the
# `_stream_case` fixtures at local[4]. Some runs add one job where AQE
# launches a broadcast build on its own, so each ceiling is the highest
# count seen.
_STREAM_JOBS = {
    "dedup": [35, 35, 35],
    "lines": [24, 24, 24],
    "spans": [23, 23, 23],
    "emb": [21, 21, 21],
    "bm25": [4, 4, 4],
    "ngram": [2, 2, 2],
}


@pytest.mark.parametrize("name", [
    # the four dedup callbacks run 20-35 jobs a batch: slow tier
    pytest.param(n, marks=pytest.mark.slow)
    if n in ("dedup", "emb", "lines", "spans") else n
    for n in sorted(_STREAM_JOBS)
])
def test_stream_callbacks_share_the_batch_protocol(
    spark, tmp_path, jobs_of, name
):
    """Every `foreachBatch` callback: pinned Spark jobs per batch; a
    retry of the head batch leaves every state root's row count
    unchanged; a lower batch id raises the fresh-checkpoint error,
    naming the guarded root."""
    cb, roots, batches = _stream_case(spark, tmp_path, name)
    jobs = [
        jobs_of(lambda b=b, i=i: cb(b, i))
        for i, b in enumerate(batches, start=1)
    ]

    def counts():
        return [spark.read.parquet(r).count() for r in roots]

    before = counts()
    cb(batches[-1], len(batches))
    assert counts() == before
    with pytest.raises(RuntimeError, match="fresh checkpoint") as err:
        cb(batches[0], 0)
    # the message names the root the callback guards (roots[0])
    assert f"state root {roots[0]!r}" in str(err.value)
    assert all(n <= cap for n, cap in zip(jobs, _STREAM_JOBS[name])), jobs
