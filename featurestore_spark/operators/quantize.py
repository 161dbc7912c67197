"""Product quantization (PQ) and cluster-then-prune semantic dedup.

The 100-TB story for embedding search has three tiers, and this module
adds the third:

1. `similarity.cosine_topk` — exact brute force (correctness baseline,
   small query sets only);
2. `similarity.bucketed_ann_topk` / `ivf_topk` — LSH / inverted-file
   pruning (scan a fraction of the corpus per query);
3. PQ (here) — COMPRESS the corpus itself: each vector becomes `m`
   small integer codes (64-dim float → 8 bytes at m=8), so a 100-TB
   embedding table shrinks ~32× and distance evaluation against a
   query becomes `m` table lookups instead of `dim` multiplies
   (asymmetric distance computation, ADC).

Public references: Jégou, Douze, Schmid — "Product Quantization for
Nearest Neighbor Search" (TPAMI 2011) for PQ/ADC; Abbas et al. —
"SemDeDup: Data-efficient learning at web-scale through semantic
deduplication" (2023) for cluster-then-prune dedup. Everything below
is expressed as DataFrame ops (broadcast codebooks, scalar-keyed
aggregations); no Python UDFs.

Engine-parity discipline (same as `similarity.assign_to_centroids`):
every distance is rounded to `decimals` BEFORE any argmin/threshold,
ties break on the lowest code/centroid id, and all float folds run
left-to-right in a deterministic array order — so the DuckDB oracles
reproduce results bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from featurestore_spark.operators.dedup import _collapse_exact
from featurestore_spark.operators.materialize import materialize
from featurestore_spark.operators.similarity import (
    _argmin,
    _cosine_of,
    _infer_dim,
    _l2sq,
    _mean_vectors,
    _top_k,
    _vectors,
    as_double_array,
    assign_to_centroids,
    dot,
    norm,
    sign_bucket,
)


def _subspaces(codebooks: DataFrame) -> int:
    """m, the codebook's subspace count (one eager `first()`); an
    empty codebook raises."""
    m = codebooks.select(F.countDistinct("sub_id")).first()[0]
    if not m:
        raise ValueError("empty codebook")
    return m


def pair_dot(a: Column, b: Column) -> Column:
    """Arrow-batched dot product of two equal-length array<double>
    columns, BIT-IDENTICAL to `similarity.dot`'s zip_with/aggregate
    fold: the numpy loop accumulates dimension by dimension
    (acc += a_i·b_i), i.e. the same float64 additions in the same
    order — only evaluated a partition-batch at a time instead of per
    element through the interpreted higher-order-function path. Used
    where an operator must evaluate MANY pair dots exactly (semantic
    dedup's within-cluster product: the HOF path measured ~10 µs/pair,
    this ~0.1 µs/pair at sf0.1). Same Arrow-over-SQL justification as
    the SimHash/SRP UDFs; rounding/thresholding stays in Spark so
    round semantics match every other oracle."""
    import numpy as np
    import pandas as pd

    def fold(sa, sb):
        if len(sa) == 0:
            return pd.Series([], dtype="float64")
        ma = np.asarray(sa.tolist(), dtype=np.float64)
        mb = np.asarray(sb.tolist(), dtype=np.float64)
        acc = np.zeros(len(ma), dtype=np.float64)
        for i in range(ma.shape[1]):
            acc += ma[:, i] * mb[:, i]
        return pd.Series(acc)

    return F.pandas_udf(fold, "double")(a, b)


def explode_subvectors(
    df: DataFrame,
    m: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """(id, sub_id, sv): each vector split into `m` contiguous
    subvectors of dim/m dims (dim must divide evenly). The melt is a
    projection — `inline` of an array of (sub_id, slice) structs, no
    shuffle; downstream ops key on the scalar (id, sub_id)."""
    base = df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col), as_double_array(vec_col).alias("_v")
    )
    if dim is None:
        dim = _infer_dim(base, "_v")
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    d_sub = dim // m
    subs = F.array(
        *[
            F.struct(
                F.lit(s).alias("sub_id"),
                F.slice("_v", s * d_sub + 1, d_sub).alias("sv"),
            )
            for s in range(m)
        ]
    )
    return base.select(F.col(id_col), F.inline(subs))


def pq_train(
    df: DataFrame,
    *,
    m: int = 8,
    k: int = 16,
    vec_col: str = "embedding",
    iterations: int = 3,
    dim: int | None = None,
    decimals: int = 6,
) -> DataFrame:
    """Deterministic per-subspace Lloyd codebooks: (sub_id, code_id,
    codeword array<double>). All `m` subspaces train in ONE distributed
    job per round — the melted (row, sub_id, sv) frame carries every
    subspace, assignment is an argmin against the broadcast codebook
    joined on sub_id, and means aggregate on the (sub_id, code_id)
    composite key. Seeding uses the subvector's leading sign bits
    (engine-agnostic, no RNG); ties and float argmin are rounded/
    id-broken exactly like `assign_to_centroids`, so retrained
    codebooks are stable across runs and engines.

    Codes that lose all members in a Lloyd round disappear from the
    codebook (standard empty-cluster behavior); run
    `densify_codebook` before `pq_encode`/`pq_adc_topk`, which
    require contiguous 0..k'-1 code ids per subspace."""
    base = df.where(F.col(vec_col).isNotNull()).select(
        as_double_array(vec_col).alias("_v")
    )
    # row id only disambiguates duplicate vectors in the argmin group
    # key (same justification as similarity.train_centroids)
    base = base.withColumn("_rid", F.monotonically_increasing_id())
    if dim is None:
        dim = _infer_dim(base, "_v")
    ex = materialize(
        explode_subvectors(base, m, id_col="_rid", vec_col="_v", dim=dim)
    )
    # seed buckets from at most d_sub sign bits (a subvector has only
    # dim/m dims); Lloyd rounds refine a coarser-than-k seeding fine
    bits = min(max(1, (k - 1).bit_length()), dim // m)
    assigned = ex.withColumn("code_id", sign_bucket(F.col("sv"), bits) % k)
    keys = ["sub_id", "code_id"]
    for _ in range(iterations):
        cb = _mean_vectors(assigned, keys, "sv", "codeword")
        scored = ex.join(F.broadcast(cb), "sub_id").withColumn(
            "_d2", _l2sq(F.col("sv"), F.col("codeword"), decimals)
        )
        assigned = _argmin(scored, ["_rid", "sub_id"], "_d2", "code_id", "sv")
    return _mean_vectors(assigned, keys, "sv", "codeword")


def densify_codebook(codebooks: DataFrame) -> DataFrame:
    """Remap each subspace's code ids to contiguous 0..k'-1 (rank
    order preserved). `pq_encode` emits the codebook's code_id and
    `pq_adc_topk` indexes its lookup table by it, so ids must be
    dense — Lloyd training can drop empty codes and leave gaps."""
    w = Window.partitionBy("sub_id").orderBy("code_id")
    return codebooks.select(
        "sub_id",
        (F.row_number().over(w) - 1).alias("code_id"),
        "codeword",
    )


def _codeword_dists(
    df: DataFrame,
    codebooks: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int | None,
    decimals: int,
) -> DataFrame:
    """(id, sub_id, code_id, _d2): every subvector's rounded squared-L2
    to each codeword of its subspace, the codebook broadcast on
    sub_id — what `pq_encode` takes the argmin of and the ADC lookup
    tables hold."""
    ex = explode_subvectors(
        df, _subspaces(codebooks), id_col=id_col, vec_col=vec_col, dim=dim
    )
    cb = codebooks.select(
        "sub_id", "code_id", as_double_array("codeword").alias("_cw")
    )
    return ex.join(F.broadcast(cb), "sub_id").select(
        id_col, "sub_id", "code_id",
        _l2sq(F.col("sv"), F.col("_cw"), decimals).alias("_d2"),
    )


def pq_encode(
    df: DataFrame,
    codebooks: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    decimals: int = 6,
) -> DataFrame:
    """(id, codes array<int>): each vector's per-subspace nearest
    codeword ids, ordered by sub_id. This is the compression step a
    100-TB corpus runs ONCE at ingestion — downstream ANN reads the
    codes column (m small ints) instead of the float vector.

    Shape: melt to (id, sub_id, sv) [projection], broadcast-join the
    codebook on sub_id, rounded-argmin per (id, sub_id), reassemble
    the m codes with one aggregation keyed on the scalar id (group
    payload is m ints — bounded). Codebook code ids must be dense per
    subspace (`densify_codebook`)."""
    best = _argmin(
        _codeword_dists(df, codebooks, id_col, vec_col, dim, decimals),
        [id_col, "sub_id"], "_d2", "code_id",
    )
    return best.groupBy(id_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("sub_id", "code_id"))),
            lambda s: s.getField("code_id"),
        ).alias("codes")
    )


def _adc_topk(
    pairs: DataFrame,
    k: int,
    query_id: str,
    cand_id: str,
    codes_col: str,
    decimals: int,
) -> DataFrame:
    """Rank (candidate, query) `pairs` carrying the query's `_lut`: each
    candidate's distance is its m codes looked up in the table
    (`zip_with(codes, lut, (c, row) → element_at(row, int(c+1)))`, so
    int and bigint codes both index), folded
    in sub order and rounded to `decimals`; ascending, ties on the
    lower neighbor id."""
    dists = pairs.select(
        query_id,
        F.col(cand_id).alias("neighbor_id"),
        F.round(
            F.aggregate(
                F.zip_with(
                    F.col(codes_col),
                    F.col("_lut"),
                    lambda c, row: F.element_at(row, (c + 1).cast("int")),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            decimals,
        ).alias("adist"),
    )
    return _top_k(dists, query_id, ["adist", "neighbor_id"], k).select(
        query_id, "rnk", "neighbor_id", "adist"
    )


def _adc_luts(
    queries: DataFrame,
    codebooks: DataFrame,
    query_id: str,
    query_vec: str,
    dim: int | None,
    decimals: int,
) -> DataFrame:
    """(query_id, _lut): per query, the m×k' table of rounded distances
    from each query subvector to every codeword — inner arrays indexed
    by dense code_id, the outer one by sub_id. Group payloads are k'
    doubles / m arrays — driver-bounded constants."""
    lut_long = _codeword_dists(
        queries, codebooks, query_id, query_vec, dim, decimals
    )
    per_sub = lut_long.groupBy(query_id, "sub_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("code_id", "_d2"))),
            lambda s: s.getField("_d2"),
        ).alias("_row")
    )
    return per_sub.groupBy(query_id).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("sub_id", "_row"))),
            lambda s: s.getField("_row"),
        ).alias("_lut")
    )


def pq_adc_topk(
    queries: DataFrame,
    encoded: DataFrame,
    codebooks: DataFrame,
    k: int,
    *,
    query_id: str = "query_id",
    query_vec: str = "qv",
    cand_id: str = "vec_id",
    codes_col: str = "codes",
    dim: int | None = None,
    decimals: int = 6,
) -> DataFrame:
    """Asymmetric-distance top-k: (query_id, rnk, neighbor_id, adist),
    adist = approximate squared-L2, ascending.

    The PQ payoff: per query, distances to ALL codewords are
    precomputed into an m×k' lookup table (a few KB), the tables
    broadcast with the queries, and each candidate's distance is m
    array lookups summed — `zip_with(codes, lut, (c, row) →
    element_at(row, c+1))` folded left-to-right. The corpus side
    streams its codes column through a projection; no shuffle touches
    a vector. Per-sub LUT entries and the final sum are rounded to
    `decimals` (sub order fold), so the DuckDB oracle reproduces the
    ranking exactly; ties break on neighbor id."""
    luts = _adc_luts(queries, codebooks, query_id, query_vec, dim, decimals)
    return _adc_topk(
        encoded.crossJoin(F.broadcast(luts)), k, query_id, cand_id, codes_col,
        decimals,
    )


def ivf_pq_topk(
    queries: DataFrame,
    encoded: DataFrame,
    codebooks: DataFrame,
    centroids: DataFrame,
    k: int,
    *,
    n_probe: int = 2,
    query_id: str = "query_id",
    query_vec: str = "qv",
    cand_id: str = "vec_id",
    codes_col: str = "codes",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "centroid",
    dim: int | None = None,
    decimals: int = 6,
) -> DataFrame:
    """IVF-PQ: the canonical billion-scale ANN composition — candidates
    pre-assigned to coarse centroids AND PQ-compressed; each query
    probes only its `n_probe` nearest centroid lists and evaluates ADC
    distances against the codes in those lists.

    `encoded` must carry (cand_id, codes, centroid_id) — produce it
    once at ingestion with `pq_encode` + `assign_to_centroids`. At
    100 TB the encoded table is written bucketed/partitioned by
    centroid_id, so a probe scans only its lists' files (partition
    pruning), and each scanned candidate costs m array lookups over a
    ~32× smaller payload than the raw vectors. The probe/LUT side is
    a per-query constant broadcast with the query set; the join is an
    equi-join on centroid_id.

    Same engine-parity discipline as `pq_adc_topk` (rounded LUT
    entries, sub-order fold, ties on neighbor id); probe selection
    uses rounded centroid distances with ties on centroid id."""
    cents = centroids.select(
        F.col(centroid_id_col),
        as_double_array(centroid_vec_col).alias("_cv"),
    )
    # per-query probe lists: rank broadcast centroids by rounded L2
    scored = (
        queries.select(F.col(query_id), as_double_array(query_vec).alias("_qv"))
        .crossJoin(F.broadcast(cents))
        .withColumn("_d2", _l2sq(F.col("_qv"), F.col("_cv"), decimals))
    )
    probes = _top_k(
        scored, query_id, ["_d2", centroid_id_col], n_probe, "_rn"
    ).select(query_id, centroid_id_col)
    luts = _adc_luts(queries, codebooks, query_id, query_vec, dim, decimals)
    return _adc_topk(
        encoded.join(F.broadcast(probes.join(luts, query_id)), centroid_id_col),
        k, query_id, cand_id, codes_col, decimals,
    )


def semantic_dedup(
    df: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "centroid",
    decimals: int = 6,
) -> DataFrame:
    """SemDeDup-style cluster-then-prune: assign every vector to its
    nearest centroid, then WITHIN each cluster drop any item that has
    a lower-id near-duplicate (rounded cosine ≥ threshold). Returns
    (id, centroid_id, keep) over non-null vectors.

    Semantics are defined PAIRWISE on member ids — keep(x) ⇔ no y < x
    in x's cluster with cos(x,y) ≥ t — but the implementation factors
    through the exact-duplicate collapse so it is replication-
    invariant (the round-4/5 theme): pair evaluation runs over
    DISTINCT vectors only. The factoring is exact because cosine and
    the centroid assignment depend only on the vector:

    - members of one exact group share a cluster and have pairwise
      self-sim = cos(v,v); any non-minimal member always has the
      group's rep (= min member id) as a smaller neighbor, so it is
      dropped iff self-sim ≥ t;
    - across groups, the smallest y in group h is rep_h itself, so
      "∃ y < x in a neighbor group" ⇔ "min over neighbor reps < x".

    So per group g we need only nbr_min(g) = min rep over DISTINCT-
    vector neighbors of g in its cluster, plus g's self-sim — both
    linear joins; no member-level pair list is ever built. Equality
    with the naive member-pairwise rule is property-tested under
    replication (tests/test_quantize.py).

    Scale shape: centroid table broadcast; the only quadratic work is
    the within-cluster rep pair join, keyed on centroid_id over
    distinct vectors — for the SemDeDup regime (k clusters sized
    ~n_distinct/k) that is the algorithm's intended n²/k product. For
    corpora where distinct-vector clusters are still huge, raise k
    (more, smaller clusters), which is also what recall wants."""
    # membership feeds exactly ONE consumer (the final keep join) — no
    # fan-out, so unlike embedding_near_dups it stays lazy
    reps, members = _collapse_exact(
        _vectors(df, id_col, vec_col), "v", id_col, "semantic_dedup",
        with_cols={"_nrm": norm(F.col("v"))},
    )
    # Assignment fans out to the pair join (both sides) and the final
    # member join — materialize once (two scalars per distinct
    # vector). An inlined-literal argmin variant (no broadcast, no
    # shuffle) was tried and measured SLOWER: the k×dim literal
    # expression re-evaluates through the interpreted HOF path in
    # every consumer and bloats codegen across the joins.
    assigned = materialize(
        assign_to_centroids(
            reps,
            centroids,
            id_col="rep_id",
            vec_col="v",
            centroid_id_col=centroid_id_col,
            centroid_vec_col=centroid_vec_col,
            decimals=decimals,
        ).select("rep_id", centroid_id_col)
    )
    # Candidate pairs join IDS ONLY on centroid_id (narrow rows — the
    # low-cardinality key is harmless at 8-byte widths), each
    # unordered pair once (ra < rb; cosine is symmetric). Vectors
    # attach afterwards keyed on the SCALAR rep ids, so the expensive
    # cosine evaluation spreads across the full partition count
    # instead of k cluster-keyed tasks (same candidate-expansion shape
    # as embedding_near_dups).
    cand = (
        assigned.select(F.col("rep_id").alias("ra"), centroid_id_col)
        .join(
            assigned.select(F.col("rep_id").alias("rb"), centroid_id_col),
            centroid_id_col,
        )
        .where(F.col("ra") < F.col("rb"))
        .select("ra", "rb")
    )
    va = reps.select(
        F.col("rep_id").alias("ra"), F.col("v").alias("va"), F.col("_nrm").alias("na")
    )
    vb = reps.select(
        F.col("rep_id").alias("rb"), F.col("v").alias("vb"), F.col("_nrm").alias("nb")
    )
    hits = (
        cand.join(va, "ra")
        .join(vb, "rb")
        .where(
            _cosine_of(
                pair_dot(F.col("va"), F.col("vb")), F.col("na"), F.col("nb"),
                decimals,
            )
            >= threshold
        )
        .select("ra", "rb")
    )
    # DIRECTED neighbor minimum per group — for group g we need the
    # min rep over ALL its near-dup neighbors, smaller or larger, so
    # each undirected hit contributes to both endpoints.
    nbr_min = (
        hits.select(F.col("rb").alias("rep_id"), F.col("ra").alias("_n"))
        .unionByName(
            hits.select(F.col("ra").alias("rep_id"), F.col("rb").alias("_n"))
        )
        .groupBy("rep_id")
        .agg(F.min("_n").alias("_nbr_min"))
    )
    # a zero vector's NULL self-similarity is "not a duplicate"
    self_sim = reps.select(
        "rep_id",
        F.coalesce(
            _cosine_of(
                dot(F.col("v"), F.col("v")), F.col("_nrm"), F.col("_nrm"), decimals
            )
            >= threshold,
            F.lit(False),
        ).alias("_self_dup"),
    )
    out = (
        members.join(assigned, "rep_id")
        .join(nbr_min, "rep_id", "left")
        .join(self_sim, "rep_id")
        .select(
            F.col("member_id").alias(id_col),
            centroid_id_col,
            (
                ~(
                    (F.col("_nbr_min").isNotNull() & (F.col("_nbr_min") < F.col("member_id")))
                    | (F.col("_self_dup") & (F.col("member_id") > F.col("rep_id")))
                )
            ).alias("keep"),
        )
    )
    return out
