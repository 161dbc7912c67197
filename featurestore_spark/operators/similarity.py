"""Similarity search over embedding columns (`array<float>`).

- `cosine_topk`: brute-force exact top-k — the correctness baseline.
  Queries broadcast (they're the small side by construction);
  candidates stream. Dot products via `zip_with`+`aggregate`
  (JVM-side); per-query top-k via window `row_number`.
- `bucketed_ann_topk`: the scale path — sign-bit LSH bucketing on
  leading dimensions restricts each query to its own bucket
  (equi-join instead of cross product). With b bucket bits the
  candidate set shrinks ~2^b×; `multi_probe=True` raises recall by
  also probing every Hamming-1 neighbor bucket.
- `dot` / `norm` / `cosine`: the scoring columns. Every top-k and
  argmin of the vector-search family (here and in `quantize.py`) runs
  one private score → rank skeleton: `_l2sq` (squared L2),
  `_cosine_of` (NULL for a zero vector), `_top_k` (per-group
  `row_number` window), `_argmin` (nearest id per key) and
  `_mean_vectors` (element-wise mean per key).

At 100 TB of embeddings the brute-force path is O(Q×N) — usable only
for small Q; the bucketed path is the default for pipeline-scale
joins. Corpus-scale near-dup pairs (`embedding_near_dups`) use seeded
random-hyperplane SRP-LSH banding (`srp_hyperplanes` /
`srp_band_codes`) with a `max_bucket` guard — the leading-sign-bit
`sign_bucket` stays as the cheap variant for query-bounded ANN and
centroid seeding, where candidate work is bounded by the broadcast
query side rather than quadratic in the corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from featurestore_spark.operators.dedup import (
    _bucket_pairs,
    _collapse_exact,
    _expand_pairs,
)


def as_double_array(col: str | Column) -> Column:
    """array<numeric> → array<double> via the NATIVE array cast, not
    a per-element `transform`: Cast is codegen'd and — unlike an HOF
    — stays cheap even when Catalyst duplicates it into inferred
    size/notnull filters under a Generate (the q_ivf_topk/q_ivf_serve
    plan_audit entries this replaced, VERDICT r12 #8; the melt FENCE
    was measured slower, PLANS.md r12 — de-HOFing the expression
    clears the flag without adding a Generate)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def _cosine_of(
    d: Column, na: Column, nb: Column, decimals: int | None = 6
) -> Column:
    """Cosine from a dot product and the two norms. A zero norm gives
    NULL (not a DIVIDE_BY_ZERO under ANSI), so an all-zero vector never
    passes a similarity threshold — the same as a NULL vector, and as
    the DuckDB oracles' ``x / 0``."""
    c = F.try_divide(d, na * nb)
    return F.round(c, decimals) if decimals is not None else c


def cosine(a: Column, b: Column, decimals: int | None = 6) -> Column:
    return _cosine_of(dot(a, b), norm(a), norm(b), decimals)


def _l2sq(a: Column, b: Column, decimals: int | None = None) -> Column:
    """Squared L2 distance, folded left to right (DuckDB's in-order
    `list_sum`); rounded to `decimals` only when given — the
    engine-parity knob before an argmin or a rank."""
    d = F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return F.round(d, decimals) if decimals is not None else d


def _top_k(
    df: DataFrame, by: str, order: list, k: int, rank_col: str = "rnk"
) -> DataFrame:
    """The rows ranked 1..k within each `by` group: `row_number` over
    `order`, whose last key is an id, so ties break on the lower id."""
    w = Window.partitionBy(by).orderBy(*order)
    return df.withColumn(rank_col, F.row_number().over(w)).where(
        F.col(rank_col) <= k
    )


def _argmin(
    scored: DataFrame, keys: list[str], dist: str, id_col: str, *carry: str
) -> DataFrame:
    """Per `keys` group, the row of least `dist`, ties on the lowest
    `id_col`: one `min(struct(dist, id, *carry))` aggregate keyed on
    scalar keys — the shuffle key is never a vector array (r1
    windowed `PARTITION BY v`, VERDICT §wrong #3). Returns the keys,
    `dist`, `id_col` and `carry` columns."""
    best = scored.groupBy(*keys).agg(
        F.min(F.struct(dist, id_col, *carry)).alias("_b")
    )
    return best.select(*keys, "_b.*")


def _infer_dim(df: DataFrame, vec_col: str | Column) -> int:
    """The length of the first vector (one eager `first()`); 1 for an
    empty frame, where any dimension will do."""
    row = df.select(F.size(vec_col)).first()
    return row[0] if row is not None and row[0] is not None else 1


def _vectors(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, v) over non-null vectors as ``array<double>`` — the input
    of the exact-vector collapse. Null vectors are dropped: they have
    no similarity to anything (and would crash the SRP UDF)."""
    return df.where(F.col(vec_col).isNotNull()).select(
        id_col, as_double_array(vec_col).alias("v")
    )


def _cosine_topk(
    pairs: DataFrame,
    k: int,
    query_id: str,
    cand_id: str,
    query_vec: str,
    cand_vec: str,
) -> DataFrame:
    """Rank (query, candidate) `pairs` carrying the hoisted norms
    `_qn` / `_cn`: cosine rounded to 6 places before ranking, highest
    first, ties on the lower candidate id; a zero vector's NULL cosine
    ranks last. Hoisted norms are bit-identical to per-pair ones
    (sqrt(dot(v,v)) has the same input either way)."""
    sims = pairs.select(
        query_id,
        cand_id,
        _cosine_of(
            dot(F.col(query_vec), F.col(cand_vec)), F.col("_qn"), F.col("_cn")
        ).alias("sim"),
    )
    return _top_k(sims, query_id, [F.col("sim").desc(), F.col(cand_id)], k).select(
        query_id, "rnk", cand_id, "sim"
    )


def cosine_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int,
    *,
    query_id: str = "query_id",
    cand_id: str = "neighbor_id",
    query_vec: str = "qv",
    cand_vec: str = "cv",
) -> DataFrame:
    """Exact brute-force cosine top-k; queries broadcast, norms
    hoisted to each side before the cross join."""
    q = queries.withColumn("_qn", norm(F.col(query_vec)))
    c = candidates.withColumn("_cn", norm(F.col(cand_vec)))
    return _cosine_topk(
        c.crossJoin(F.broadcast(q)), k, query_id, cand_id, query_vec, cand_vec
    )


SRP_QUANT_SCALE = 1000


def srp_hyperplanes(dim: int, n: int, seed: int = 42) -> list[list[int]]:
    """`n` deterministic pseudo-random hyperplanes with INTEGER
    components in [-100, 100], from a hand-rolled LCG — identical
    constants are reproducible in any engine (the DuckDB oracles
    inline them as literals), and integer components make the SRP
    sign test exact arithmetic (see `srp_band_codes`)."""
    s = seed & 0x7FFFFFFF
    out: list[list[int]] = []
    for _ in range(n):
        h = []
        for _ in range(dim):
            s = (1103515245 * s + 12345) % (1 << 31)
            h.append((s % 201) - 100)
        out.append(h)
    return out


def srp_band_codes(
    vec: Column, hyperplanes: list[list[int]], bits: int, bands: int
) -> Column:
    """array<int> of `bands` SRP (signed-random-projection) band codes
    for an array<float/double> column. Band b's code packs the sign
    bits of dot(quantize(v), h) over its `bits` hyperplanes:
    Σ_j (dot(q, h_{b·bits+j}) > 0) · 2^j, with q = round(v·1000).

    Arrow-batched numpy pandas_udf, same justification as SimHash
    (VERDICT r1): the pure-Column formulation is a ~3,000-literal
    nested higher-order-function tree that costs ~10s of driver-side
    plan processing per query (measured at sf0.1) — the numpy matmul
    is milliseconds. Exactness is engine-portable either way: the
    quantized vectors and integer hyperplanes make every dot product a
    sum of integer-valued float64 products bounded far below 2^53, so
    the result is EXACT (order-independent) and the DuckDB oracle
    reproduces the identical sign bits from inlined literals."""
    import numpy as np
    import pandas as pd

    if len(hyperplanes) != bits * bands:
        raise ValueError(f"need {bits * bands} hyperplanes, got {len(hyperplanes)}")
    hp = np.array(hyperplanes, dtype=np.float64)  # (bits*bands, dim)
    powers = 1 << np.arange(bits, dtype=np.int64)
    scale = SRP_QUANT_SCALE

    def codes(v):
        m = np.asarray(v.tolist(), dtype=np.float64)  # (n, dim)
        # HALF_UP rounding (away from zero) to match Spark/DuckDB round()
        x = m * scale
        q = np.sign(x) * np.floor(np.abs(x) + 0.5)
        d = q @ hp.T  # exact: integer-valued float64, |d| « 2^53
        b = (d > 0).astype(np.int64).reshape(len(m), bands, bits)
        out = (b @ powers).astype(np.int32)
        return pd.Series(list(out))

    # no type hints: the module's postponed annotations (PEP 563) are
    # strings pyspark's hint inference can't resolve; explicit Series
    # eval type via the legacy (function, returnType) form
    return F.pandas_udf(codes, "array<int>")(vec)


def sign_bucket(vec: Column, bits: int = 3) -> Column:
    """LSH bucket id from the sign bits of the first `bits` dims.

    Deterministic, engine-agnostic (SQL: (v[0]>0)*4 + (v[1]>0)*2 + …);
    for isotropic embeddings buckets are near-uniform.
    """
    out = F.lit(0)
    for i in range(bits):
        out = out + F.when(vec.getItem(i) > 0, F.lit(2 ** (bits - 1 - i))).otherwise(
            F.lit(0)
        )
    return out.cast("int")


def bucketed_ann_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int,
    *,
    bits: int = 3,
    multi_probe: bool = False,
    query_id: str = "query_id",
    cand_id: str = "neighbor_id",
    query_vec: str = "qv",
    cand_vec: str = "cv",
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's sign
    bucket (equi-join on bucket id — shuffle keyed by bucket, no cross
    product).

    `multi_probe=True` is the recall knob (VERDICT r1): each query
    also probes every Hamming-1 neighbor bucket (one sign bit flipped
    — the buckets a near-boundary neighbor most likely fell into), so
    the candidate set grows (bits+1)× while staying bucket-bounded.
    Probe buckets are distinct, so no (query, candidate) pair repeats.
    """
    q = queries.withColumn("_bkt", sign_bucket(F.col(query_vec), bits)).withColumn(
        "_qn", norm(F.col(query_vec))
    )
    if multi_probe:
        probes = F.array(
            F.col("_bkt"),
            *[F.col("_bkt").bitwiseXOR(F.lit(1 << i)) for i in range(bits)],
        )
        q = q.withColumn("_bkt", F.explode(probes))
    c = candidates.withColumn("_bkt", sign_bucket(F.col(cand_vec), bits)).withColumn(
        "_cn", norm(F.col(cand_vec))
    )
    return _cosine_topk(
        c.join(F.broadcast(q), "_bkt"), k, query_id, cand_id, query_vec, cand_vec
    )


def train_centroids(
    df: DataFrame,
    n_centroids: int = 16,
    *,
    vec_col: str = "embedding",
    iterations: int = 3,
    round_decimals: int | None = None,
) -> DataFrame:
    """Deterministic Lloyd-style centroids for IVF: seed from sign
    buckets (engine-agnostic), refine with mean-per-cluster rounds.

    All DataFrame ops: assignment = argmin over broadcast centroids;
    mean = `aggregate` element-wise sums / counts. Returns
    (centroid_id, centroid array<double>).

    ``round_decimals`` rounds each mean coordinate and each argmin
    distance — the cross-engine determinism knob (the
    q_temperature_mixture in-plan-thresholds pattern): float
    aggregation order differs between engines/partitionings by
    ~1 ulp, and rounding at 6 decimals makes the whole iterative fit
    replayable bit-for-bit by a SQL oracle with the iterations
    unrolled. No effect on recall at realistic embedding scales;
    leave None when no oracle is in the loop.
    """
    bits = max(1, (n_centroids - 1).bit_length())
    # Row id only disambiguates duplicate vectors in the argmin group
    # key — each row's assignment depends solely on its vector, so the
    # resulting means are id-independent (safe under task retry).
    base = df.select(as_double_array(vec_col).alias("v")).withColumn(
        "_rid", F.monotonically_increasing_id()
    )
    seeded = base.withColumn(
        "centroid_id", sign_bucket(F.col("v"), bits) % n_centroids
    )
    for _ in range(iterations):
        cents = _mean_vectors(
            seeded, ["centroid_id"], "v", "centroid", round_decimals
        )
        scored = base.crossJoin(F.broadcast(cents)).withColumn(
            "_d", _l2sq(F.col("v"), F.col("centroid"), round_decimals)
        )
        seeded = _argmin(scored, ["_rid"], "_d", "centroid_id", "v")
    return _mean_vectors(seeded, ["centroid_id"], "v", "centroid", round_decimals)


def _mean_vectors(
    df: DataFrame,
    keys: list[str],
    vec_col: str,
    out_col: str,
    round_decimals: int | None = None,
) -> DataFrame:
    """Element-wise mean vector per `keys` group, as `out_col`.
    posexplode → per-(key, dim) partial sums → reassemble ordered
    array: bounded memory per group (a collect_list-of-vectors fold
    would buffer whole clusters)."""
    ex = df.select(*keys, F.posexplode(vec_col).alias("pos", "val"))
    mean = F.avg("val")
    if round_decimals is not None:
        mean = F.round(mean, round_decimals)
    per_dim = ex.groupBy(*keys, "pos").agg(mean.alias("mean"))
    return per_dim.groupBy(*keys).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mean"))),
            lambda s: s.getField("mean"),
        ).alias(out_col)
    )


def ivf_topk(
    queries: DataFrame,
    candidates: DataFrame,
    centroids: DataFrame,
    k: int,
    *,
    n_probe: int = 1,
    query_id: str = "query_id",
    cand_id: str = "neighbor_id",
    query_vec: str = "qv",
    cand_vec: str = "cv",
    round_decimals: int | None = None,
) -> DataFrame:
    """IVF search: candidates pre-assigned to their nearest centroid;
    each query probes its `n_probe` nearest centroid lists only. The
    join is an equi-join on centroid_id — at 100 TB the candidate side
    is bucketed/partitioned by centroid_id on disk and only probed
    lists are scanned. ``round_decimals`` rounds the assignment/probe
    distances (see `train_centroids` — the oracle-replay knob)."""
    def scored(df: DataFrame, vec: str, norm_col: str) -> DataFrame:
        return (
            df.withColumn(norm_col, norm(F.col(vec)))
            .crossJoin(F.broadcast(centroids))
            .withColumn("_d", _l2sq(F.col(vec), F.col("centroid"), round_decimals))
        )

    # id threaded through the assignment — the vector rides along, so
    # no re-join (r1 re-joined on array equality; duplicate vectors
    # cross-multiplied, VERDICT §wrong #3).
    cand_assigned = _argmin(
        scored(candidates.select(cand_id, cand_vec), cand_vec, "_cn"),
        [cand_id], "_d", "centroid_id", cand_vec, "_cn",
    )
    q_assigned = _top_k(
        scored(queries, query_vec, "_qn"),
        query_id, [F.col("_d"), F.col("centroid_id")], n_probe, "_rn",
    ).select(query_id, query_vec, "_qn", "centroid_id")
    return _cosine_topk(
        cand_assigned.join(F.broadcast(q_assigned), "centroid_id"),
        k, query_id, cand_id, query_vec, cand_vec,
    )


def embedding_near_dups(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    bits: int = 8,
    bands: int = 6,
    seed: int = 42,
    max_bucket: int = 1000,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via seeded random-
    hyperplane (SRP) LSH banding: a pair is a candidate when it shares
    all `bits` projection signs in at least one of `bands` bands —
    P(candidate) = 1 - (1 - p^bits)^bands with p = 1 - θ/π, so high-
    cosine pairs survive (cos ≥ 0.95 → ~0.97 at 8×6) while the bucket
    count per band is 2^bits (256), keeping in-bucket pair work
    ~bands/2^bits of the all-pairs product. Buckets larger than
    `max_bucket` are dropped — the same quadratic-blowup guard as
    MinHash banding (`dedup.py` minhash_candidate_pairs). Sign bits
    use integer-quantized vectors × integer hyperplanes: exact
    arithmetic, reproducible in any engine (the oracle inlines the
    same constants).

    Scale design (the 10x key-shifted stress exposed this): real
    corpora are dominated by EXACT duplicates, which make the in-bucket
    pair count quadratic in the duplication factor. So the pair join
    runs over DISTINCT vectors only (grouped by a 128-bit scalar hash
    of the vector — ties verified in-group, min id as
    representative), and member ids are expanded back afterwards —
    pair work shrinks by the square of the duplication factor. The
    banding melt carries only (rep_id, band_idx, code); vectors join
    back on the scalar rep_id. Exact-duplicate (intra-group) pairs are
    emitted unconditionally — identical vectors are near-dups by
    definition and must not depend on bucket caps."""
    base = _vectors(df, id_col, vec_col)
    if dim is None:
        dim = _infer_dim(base, "v")
    # Exact-dup collapse on the 128-bit hash of the vector (the
    # exchange carries two longs, not the array; ties verified). The
    # reps checkpoint feeds FOUR consumers (band coding, both sides of
    # the cosine verify, the intra-group pairs) and the membership
    # frame both expansion joins. Measured at sf0.1: near_dups 2.15s
    # -> 1.36s, clusters 4.19s -> 3.42s against recomputing the
    # scan+hash+collapse per consumer. Makes the operator eager at
    # construction.
    reps, members = _collapse_exact(
        base, "v", id_col, "embedding_near_dups",
        fence_members=True, with_cols={"_nrm": norm(F.col("v"))},
    )
    hp = srp_hyperplanes(dim, bits * bands, seed)
    # The reps checkpoint freezes AQE's one-partition coalescing at
    # small scale, so the SRP UDF runs single-task — but re-widening
    # here (fan_out(reps), the dedup-family pattern) was MEASURED as a
    # 2x regression at sf0.1 (near_dups 2.40 -> 5.39s median, clusters
    # 6.11 -> 6.32s, quiet host, r15): the numpy matmul is milliseconds
    # and everything downstream (posexplode + bucket window + banding
    # self-join) is shuffle-bound, exactly the profile where the
    # refinedweb re-widener also lost. Rule: re-widen a frozen
    # checkpoint only when per-row compute dominates downstream.
    coded = reps.select(
        "rep_id", srp_band_codes(F.col("v"), hp, bits, bands).alias("_codes")
    )
    melted = coded.select("rep_id", F.posexplode("_codes").alias("band_idx", "_code"))
    cand = _bucket_pairs(melted, ["band_idx", "_code"], "rep_id", max_bucket)

    def side(r: str, v: str, nrm: str) -> DataFrame:
        return reps.select(
            F.col("rep_id").alias(r), F.col("v").alias(v), F.col("_nrm").alias(nrm)
        )

    hits = (
        cand.join(side("ra", "va", "na"), "ra")
        .join(side("rb", "vb", "nb"), "rb")
        .select(
            "ra", "rb",
            _cosine_of(dot(F.col("va"), F.col("vb")), F.col("na"), F.col("nb"))
            .alias("sim"),
        )
        .where(F.col("sim") >= threshold)
    )
    # pairs WITHIN an exact-duplicate group carry the same expression
    # the naive join would evaluate for two identical vectors (≈1.0;
    # NULL for a zero vector, which never pairs)
    self_sim = _cosine_of(dot(F.col("v"), F.col("v")), F.col("_nrm"), F.col("_nrm"))
    return _expand_pairs(
        hits, members, reps.withColumn("sim", self_sim)
    ).where(F.col("sim") >= threshold)


def assign_to_centroids(
    df: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "centroid",
    decimals: int = 6,
) -> DataFrame:
    """Nearest-centroid assignment against a FIXED centroid table:
    (id, centroid_id, dist2). Squared-L2 distances are rounded to
    `decimals` before the argmin and ties break on the lowest centroid
    id — making the assignment reproducible in any engine (the
    q_ivf_assign oracle recomputes it in SQL), where raw-float argmin
    would be summation-order sensitive.

    Scale shape: centroid table broadcast, argmin = one `min(struct)`
    aggregate keyed on the scalar row id (never the vector array)."""
    base = df.select(F.col(id_col), as_double_array(vec_col).alias("_v"))
    cents = centroids.select(
        F.col(centroid_id_col).alias("_cid"),
        as_double_array(centroid_vec_col).alias("_cv"),
    )
    scored = base.crossJoin(F.broadcast(cents)).withColumn(
        "_d2", _l2sq(F.col("_v"), F.col("_cv"), decimals)
    )
    return _argmin(scored, [id_col], "_d2", "_cid").select(
        F.col(id_col),
        F.col("_cid").alias(centroid_id_col),
        F.col("_d2").alias("dist2"),
    )
