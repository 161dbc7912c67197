"""Deterministic sampling / dataset splitting for training pipelines.

`split_by_hash` assigns every row to a named split (train/val/test…)
by hashing a stable key — reproducible across runs, engines, and
cluster sizes (unlike `randomSplit`, which depends on partitioning),
and stable under data growth: a row keeps its split when new rows
arrive. md5-derived buckets make the assignment portable to any
engine (the DuckDB oracle replays it exactly).
"""

from __future__ import annotations

import functools
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from featurestore_spark.operators.incremental import _foreach_batch
from featurestore_spark.operators.materialize import materialize

HASH_BUCKETS = 1_000_000


def hash_bucket(key: str | Column, buckets: int = HASH_BUCKETS) -> Column:
    """Uniform bucket in [0, buckets) from md5 of the key (first 7 hex
    digits → 28-bit int, mod buckets) — engine-portable."""
    c = F.col(key) if isinstance(key, str) else key
    return (
        F.conv(F.substring(F.md5(c.cast("string")), 1, 7), 16, 10).cast("long")
        % buckets
    ).cast("int")


def split_by_hash(
    df: DataFrame,
    key: str | Column,
    fractions: dict[str, float],
    *,
    split_col: str = "split",
) -> DataFrame:
    """Append `split_col` ∈ fractions.keys(), deterministic per key.

    Fractions must sum to ≤ 1; any remainder falls into the LAST named
    split. Assignment: cumulative thresholds over the hash bucket.
    """
    total = sum(fractions.values())
    if total > 1.0 + 1e-9:
        raise ValueError(f"fractions sum to {total} > 1")
    bucket = hash_bucket(key)
    expr = None
    acc = 0.0
    names = list(fractions)
    for name in names[:-1]:
        acc += fractions[name]
        cond = bucket < int(acc * HASH_BUCKETS)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = F.lit(names[-1])
    expr = last if expr is None else expr.otherwise(names[-1])
    return df.withColumn(split_col, expr)


def stratified_sample_by_hash(
    df: DataFrame,
    key: str | Column,
    strata_cols: Sequence[str],
    fraction: float,
) -> DataFrame:
    """Deterministic per-stratum sample: within each stratum, keep the
    rows whose hash bucket falls below the fraction threshold —
    reproducible (unlike `sampleBy`) and exact-in-expectation per
    stratum. `strata_cols` participate in the hash so the same key can
    be sampled independently per stratum."""
    h = hash_bucket(
        F.concat_ws(
            "|",
            *[F.col(c).cast("string") for c in strata_cols],
            (F.col(key) if isinstance(key, str) else key).cast("string"),
        )
    )
    return df.where(h < int(fraction * HASH_BUCKETS))


def mixture_sample(
    df: DataFrame,
    rates: dict[str, float],
    *,
    source_col: str = "source",
    key: str | Column = "doc_id",
    default_rate: float = 1.0,
) -> DataFrame:
    """Pretraining data-mixture sampling: keep each row with a
    per-source probability (downsample boilerplate web, keep books),
    decided by the row's stable hash — so the sample is reproducible
    across runs/engines/cluster layouts, rows keep their fate as the
    corpus grows, and exact thresholds are integers (no float-boundary
    ambiguity: threshold = round(rate * HASH_BUCKETS) computed
    driver-side).

    Filter-only (no shuffle); composes with everything downstream.
    """
    thresholds = {s: int(round(r * HASH_BUCKETS)) for s, r in rates.items()}
    default_thr = int(round(default_rate * HASH_BUCKETS))
    thr: Column = F.lit(default_thr)
    for s, t in sorted(thresholds.items()):
        thr = F.when(F.col(source_col) == s, F.lit(t)).otherwise(thr)
    return df.where(hash_bucket(key) < thr)


def global_ntile(
    df: DataFrame,
    order_cols: Sequence[str | Column],
    n_buckets: int,
    *,
    bucket_col: str = "bucket",
) -> DataFrame:
    """Exact `NTILE(n) OVER (ORDER BY order_cols)` without the
    single-task global sort (curriculum bucketing: quality quartiles,
    difficulty deciles over a whole corpus).

    A bare `Window.orderBy` funnels every row through ONE task — the
    classic 100-TB scale-killer. Instead:
      1. `repartitionByRange` on the order columns — a total order
         ACROSS partitions, each sorted locally (Spark's own global
         sort machinery, all partitions work);
      2. per-partition row counts -> cumulative offsets, collected to
         the driver (≤ one row per partition — tiny at any scale);
      3. global rank = local row index + partition offset (local index
         via `monotonically_increasing_id`, which is consecutive
         within a partition), then the exact NTILE bucket formula.

    Only a SLIM projection of the order columns is materialized —
    never the full rows, so a wide corpus (the text column!) is not
    copied into executor/checkpoint storage; bucket assignments join
    back onto `df` by the order key (one extra shuffle of slim
    columns, the 100-TB trade; VERDICT r4 #2). When the order columns
    already cover EVERY column of `df` (bucketing a slim score frame
    — the common curriculum case), the slim frame is `df` itself and
    the join-back is skipped.

    Order must be TOTAL — `order_cols` must uniquely identify rows
    (tie-break with a unique key column); duplicate order keys raise
    on the join-back path (a silent boundary nondeterminism before,
    a row-multiplying join now — so it fails fast instead). Ascending
    plain columns/expressions only: sort-order expressions
    (`.desc()`/`.asc()`) cannot ride through the slim projection —
    pass a precomputed inverse sort key (e.g. `-score`) for
    descending buckets. Result matches
    `F.ntile(n).over(Window.orderBy(*order_cols))` row for row.
    Eager at construction (materializes the slim ranked frame once)."""
    import re as _re

    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    for c in cols:
        # a SortOrder expression crashes codegen inside a projection
        # (Spark 4 exposes no public way to decompose it) — reject it
        # with guidance instead of an INTERNAL_ERROR at execution
        if _re.search(r" (ASC|DESC) NULLS (FIRST|LAST)'?>?$", str(c)):
            raise ValueError(
                "global_ntile order_cols must be plain columns/"
                f"expressions, not sort orders ({c}); for descending "
                "order pass an inverse sort key (e.g. F.col('score') "
                "* -1)"
            )
    reserved = {"_mid", "_pid", "_m0", "_off", "_rank", bucket_col} | {
        f"_oc{i}" for i in range(len(cols))
    }
    clash = reserved & set(df.columns)
    if clash:
        raise ValueError(f"input columns collide with internals: {clash}")
    ocs = [F.col(f"_oc{i}") for i in range(len(cols))]
    slim = materialize(
        df.select(*[c.alias(f"_oc{i}") for i, c in enumerate(cols)])
        .repartitionByRange(*ocs)
        .sortWithinPartitions(*ocs)
        .withColumn("_mid", F.monotonically_increasing_id())
        .withColumn("_pid", F.spark_partition_id())
    )
    stats = sorted(
        slim.groupBy("_pid")
        .agg(F.min("_mid").alias("_m0"), F.count(F.lit(1)).alias("_c"))
        .collect(),
        key=lambda r: r["_pid"],
    )
    total = sum(r["_c"] for r in stats)
    acc = 0
    rows = []
    for r in stats:
        rows.append((int(r["_pid"]), int(r["_m0"]), acc))
        acc += int(r["_c"])
    spark = df.sparkSession
    offsets = F.broadcast(
        spark.createDataFrame(rows, "_pid int, _m0 long, _off long")
    )
    ranked = slim.join(offsets, "_pid").withColumn(
        "_rank", F.col("_mid") - F.col("_m0") + F.col("_off") + F.lit(1)
    )
    # NTILE(n) over N rows: q, r = divmod(N, n); buckets 1..r hold q+1
    # rows, the rest hold q
    q, r = divmod(total, n_buckets)
    cut = r * (q + 1)
    bucket = (
        F.when(
            F.col("_rank") <= cut,
            F.floor((F.col("_rank") - 1) / F.lit(q + 1)) + 1,
        )
        .otherwise(
            F.lit(r)
            + F.floor((F.col("_rank") - cut - 1) / F.lit(max(q, 1)))
            + 1
        )
        .cast("int")
    )
    bucketed = ranked.withColumn(bucket_col, bucket).select(*ocs, bucket_col)
    plain = [c for c in order_cols if isinstance(c, str)]
    if len(plain) == len(cols) and set(plain) == set(df.columns):
        # slim frame == df: restore names (in df's column order), no
        # join-back needed
        idx = {name: i for i, name in enumerate(plain)}
        return bucketed.select(
            *[F.col(f"_oc{idx[name]}").alias(name) for name in df.columns],
            bucket_col,
        )
    # join-back path: duplicate order keys would silently multiply
    # rows — fail fast (one cheap aggregation on the materialized
    # slim frame; the fast path above never joins, so ties there
    # remain the documented boundary nondeterminism only)
    dup = (
        slim.groupBy(*ocs)
        .count()
        .where(F.col("count") > 1)
        .limit(1)
        .count()
    )
    if dup:
        raise ValueError(
            "global_ntile: order_cols do not uniquely identify rows — "
            "the bucket join-back would duplicate rows; add a unique "
            "tie-break column"
        )
    # join the slim assignment back onto the full rows by the (unique)
    # order key — null-safe so null-ordered rows still match
    cond = functools.reduce(
        lambda x, y: x & y,
        [c.eqNullSafe(F.col(f"_oc{i}")) for i, c in enumerate(cols)],
    )
    return df.join(bucketed, cond).drop(*[f"_oc{i}" for i in range(len(cols))])


def token_budget_sample(
    df: DataFrame,
    budget_tokens: int,
    *,
    source_col: str = "source",
    key: str | Column = "doc_id",
    text_col: str = "text",
    token_col: str | None = None,
    n_buckets: int = 256,
) -> DataFrame:
    """Fill each source with documents until its token budget is met —
    mixtures specified in tokens rather than rates (the form real
    pretraining recipes use). Docs are taken in stable hash order
    (ties broken by the key), so the selection is reproducible across
    engines/runs and only the boundary doc changes as the budget moves.
    The doc that crosses the budget is kept ("at least budget" fill).
    Keys must be unique per source (like `pack_chunks`' order_cols) —
    duplicate keys make the boundary-bucket row order, and therefore
    which duplicate crosses the budget, nondeterministic.

    Returns the kept rows plus `n_tokens` (each row's token count,
    already computed for the fill — re-tokenizing downstream would
    re-scan the corpus).

    Scale shape (two-phase distributed prefix sum — a pretraining
    mixture has ~5-20 sources with "web" holding most of the corpus,
    so a per-source running sum must never run in one window task):
      1. project a SLIM per-row frame (source, key, token count, hash
         bucket, contiguous hash-range bucket) — text dropped — and
         materialize it, so the scan + tokenize pass over the corpus
         runs exactly ONCE no matter how many branches read it (the
         unmaterialized version re-ran scan+tokenize three times:
         offsets, full buckets, straddling bucket — the r3 8x bench
         regression). The slim frame is a few scalars per row, tiny
         relative to the corpus at any scale;
      2. aggregate per-bucket token totals (tiny: sources x buckets
         rows) and window THAT frame into cumulative bucket offsets;
      3. broadcast the offsets back onto the slim frame: buckets
         entirely under the budget keep every row with no window at
         all, buckets entirely past it are filtered out, and only the
         single straddling bucket per source (~1/n_buckets of the
         source) pays a windowed prefix sum;
      4. semi-join the kept (source, key) decisions back to the input
         to restore the full rows — one shuffle of the kept subset,
         instead of tokenizing the corpus again."""
    from pyspark.sql import Window

    from featurestore_spark.operators.text import token_count

    nt = token_count(text_col) if token_col is None else F.col(token_col)
    keyc = F.col(key) if isinstance(key, str) else key
    reserved = {"_tbs_key", "_nt", "_hb", "_pf", "_bt", "_off", "_cum", "n_tokens"}
    clash = reserved & set(df.columns)
    if clash:
        raise ValueError(f"input columns collide with internals: {clash}")
    width = max(1, HASH_BUCKETS // n_buckets)
    slim = materialize(
        df.select(
            F.col(source_col),
            keyc.alias("_tbs_key"),
            nt.alias("_nt"),
        )
        .withColumn("_hb", hash_bucket(F.col("_tbs_key")))
        .withColumn("_pf", F.floor(F.col("_hb") / width).cast("int"))
    )
    totals = slim.groupBy(source_col, "_pf").agg(F.sum("_nt").alias("_bt"))
    wb = (
        Window.partitionBy(source_col)
        .orderBy("_pf")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.withColumn(
        "_off", F.coalesce(F.sum("_bt").over(wb), F.lit(0)).cast("long")
    )
    joined = slim.join(F.broadcast(offsets), [source_col, "_pf"])
    # whole buckets below the budget: every row starts < _off + _bt <= budget
    full = joined.where(F.col("_off") + F.col("_bt") <= budget_tokens)
    # the one straddling bucket per source pays the window; explicit
    # ROWS frame so tied orderings never share a cumulative value
    win = (
        Window.partitionBy(source_col, "_pf")
        .orderBy(F.col("_hb"), F.col("_tbs_key"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    straddle = joined.where(
        (F.col("_off") < budget_tokens)
        & (F.col("_off") + F.col("_bt") > budget_tokens)
    )
    straddle_kept = straddle.withColumn(
        "_cum", F.col("_off") + F.sum("_nt").over(win)
    ).where(F.col("_cum") - F.col("_nt") < budget_tokens)
    kept = full.unionByName(straddle_kept, allowMissingColumns=True).select(
        source_col, "_tbs_key", F.col("_nt").alias("n_tokens")
    )
    # restore the original rows (keys are unique per source, so this
    # inner join is 1:1 and re-attaches n_tokens without re-tokenizing)
    return (
        df.withColumn("_tbs_key", keyc)
        .join(kept, [source_col, "_tbs_key"])
        .drop("_tbs_key")
    )


def shard_corpus(
    df: DataFrame,
    key_col: str = "doc_id",
    *,
    n_shards: int,
    seed: int = 0,
    shard_col: str = "shard_id",
    order_col: str = "shard_order",
) -> DataFrame:
    """Deterministic training-export sharding: assign every row a shard
    in [0, n_shards) and a pseudo-random within-shard sort key, both
    derived from md5(seed:key) — reproducible across runs, engines,
    and cluster sizes, and stable per row under data growth.

    This is the global-shuffle step before writing training shards,
    WITHOUT a global sort: the op itself is a pure projection (zero
    shuffle, embarrassingly parallel at any scale); ordering is a
    WRITE-time concern — `write_shards` range-partitions on
    (shard, order) and sorts within partitions, so no single task ever
    holds a shard's total order in memory and no position column needs
    a global window. Readers recover the deterministic shuffled order
    by sorting a shard's files on `order_col` (each file is an
    internally-sorted disjoint range — a merge of sorted runs).
    """
    h = F.md5(
        F.concat_ws(":", F.lit(str(seed)), F.col(key_col).cast("string"))
    )
    return df.withColumns(
        {
            shard_col: (
                F.conv(F.substring(h, 1, 7), 16, 10).cast("long") % n_shards
            ).cast("int"),
            order_col: h,
        }
    )


def write_shards(
    df: DataFrame,
    path: str,
    *,
    shard_col: str = "shard_id",
    order_col: str = "shard_order",
    fmt: str = "parquet",
    num_tasks: int | None = None,
) -> None:
    """Write a `shard_corpus` frame as one directory per shard
    (`shard_id=N/`), each file internally sorted by the shuffle key.

    Write parallelism is DECOUPLED from shard count:
    `repartitionByRange(shard, order)` splits every shard into
    contiguous order-ranges across `num_tasks` tasks (default
    `spark.sql.shuffle.partitions`), so a 2-shard 100-TB export still
    writes with full cluster parallelism — the earlier
    `repartition(shard_col)` hash exchange bounded it at one task per
    shard, and hash collisions could stack several whole shards onto
    one task. A shard directory therefore holds SEVERAL files, each
    internally sorted over a disjoint `order_col` range; readers
    recover the shard's deterministic shuffled order by sorting on
    `order_col` (the documented `shard_corpus` contract — unchanged,
    and cheaper now: it is a merge of sorted runs). There is still no
    global sort; `sortWithinPartitions` is a per-task spillable sort.
    """
    if num_tasks is not None:
        if num_tasks < 1:
            raise ValueError(
                f"write_shards: num_tasks must be >= 1, got {num_tasks}"
            )
        n = num_tasks
    else:
        conf = df.sparkSession.conf.get("spark.sql.shuffle.partitions")
        try:
            n = int(conf)
        except (TypeError, ValueError):
            # e.g. 'auto' on AQE-managed clusters — fall back to the
            # session default parallelism rather than crashing mid-export
            n = df.sparkSession.sparkContext.defaultParallelism
    (
        df.repartitionByRange(n, F.col(shard_col), F.col(order_col))
        .sortWithinPartitions(shard_col, order_col)
        .write.partitionBy(shard_col)
        .mode("overwrite")
        .format(fmt)
        .save(path)
    )


def cluster_balance_sample(
    df: DataFrame,
    centroids: DataFrame,
    *,
    target_per_cluster: int | None = None,
    rates: dict[int, float] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "centroid",
    default_rate: float = 1.0,
) -> DataFrame:
    """Topic-rebalancing sample over an embedding-clustered corpus:
    assign every row to its nearest centroid, then keep it with a
    per-CLUSTER probability — either explicit `rates`
    ({centroid_id: rate}) or derived from `target_per_cluster`
    (rate_c = min(1, target/n_c): oversized topic clusters are
    downsampled toward uniform coverage, small ones kept whole).

    The keep decision is the same stable integer-threshold hash as
    `mixture_sample` (reproducible across runs/engines; a row keeps
    its fate as the corpus grows as long as its cluster's rate does
    not change). Returns the kept rows plus `centroid_id`.

    Scale shape: nearest-centroid assignment broadcasts the codebook
    and aggregates on the scalar row id (see
    `similarity.assign_to_centroids`); cluster sizes are one
    map-side-combined aggregation producing <= k rows, joined back
    broadcast-sized; the final filter is a projection. Thresholds are
    computed IN the plan (round(min(1, t/n) * buckets)) — identical
    IEEE arithmetic in any engine, nothing collected to the driver."""
    from featurestore_spark.operators.similarity import assign_to_centroids

    if (target_per_cluster is None) == (rates is None):
        raise ValueError(
            "cluster_balance_sample: exactly one of target_per_cluster "
            "or rates is required"
        )
    assigned = assign_to_centroids(
        df,
        centroids,
        id_col=id_col,
        vec_col=vec_col,
        centroid_id_col=centroid_id_col,
        centroid_vec_col=centroid_vec_col,
    ).select(id_col, centroid_id_col)
    out = df.join(assigned, id_col)
    if rates is not None:
        thresholds = {
            int(c): int(round(r * HASH_BUCKETS)) for c, r in rates.items()
        }
        thr: Column = F.lit(int(round(default_rate * HASH_BUCKETS)))
        for c, t in sorted(thresholds.items()):
            thr = F.when(F.col(centroid_id_col) == c, F.lit(t)).otherwise(thr)
    else:
        sizes = assigned.groupBy(centroid_id_col).agg(
            F.count(F.lit(1)).alias("_n")
        )
        out = out.join(sizes, centroid_id_col)
        thr = F.round(
            F.least(
                F.lit(1.0),
                F.lit(float(target_per_cluster)) / F.col("_n"),
            )
            * HASH_BUCKETS
        ).cast("long")
    return out.where(hash_bucket(id_col) < thr).drop("_n")


# -- DSIR importance weighting (Xie et al. 2023) ------------------------------


def hashed_ngram_features(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    n_buckets: int = 10_000,
    include_bigrams: bool = True,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Per-document hashed n-gram feature stream (id, bucket): each
    unigram (and bigram, by default) hashes into one of ``n_buckets``
    buckets via the engine-portable md5-prefix hash (`hash_bucket`) —
    the feature extraction of Data Selection via Importance Resampling
    (DSIR; Xie et al. 2023), which fits bag-of-hashed-ngram unigram
    models over these buckets. Occurrences keep their multiplicity
    (bag semantics). One scan, no shuffle — the consumer aggregates.

    ``carry_cols`` names source columns replicated onto every feature
    row: extract ONCE over a corpus carrying its domain/split label,
    then derive per-domain models by filtering the shared stream
    instead of re-tokenizing per domain (filter commutes with the
    per-row projection+explode, so counts are identical)."""
    from featurestore_spark.operators.dedup import zipped_ngrams
    from featurestore_spark.operators.text import clean_tokens

    toks = clean_tokens(text_col)
    grams = toks
    if include_bigrams:
        bigrams = F.when(F.size(toks) >= 2, zipped_ngrams(toks, 2)).otherwise(
            F.array().cast("array<string>")
        )
        grams = F.concat(toks, bigrams)
    from featurestore_spark.operators.materialize import plan_fence

    carry = [F.col(c) for c in carry_cols]
    return plan_fence(
        df.select(F.col(id_col), *carry, grams.alias("_grams"))
    ).select(
        F.col(id_col), *carry, F.explode("_grams").alias("_g")
    ).select(
        id_col, *carry_cols, hash_bucket(F.col("_g"), n_buckets).alias("bucket")
    )


def hashed_ngram_model(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    n_buckets: int = 10_000,
    include_bigrams: bool = True,
    features: DataFrame | None = None,
) -> DataFrame:
    """(bucket, count) bag-of-hashed-ngrams model over a corpus — at
    most ``n_buckets`` rows regardless of corpus size (the sufficient
    statistic for DSIR's unigram bucket model). One scan + one
    map-side-combined aggregate on the bucket key.

    Pass ``features`` (a :func:`hashed_ngram_features` frame, possibly
    filtered by a carried domain column) to fit from a shared
    extracted stream instead of re-tokenizing ``df`` — the caller owns
    the stream's consistency with the extraction knobs."""
    feats = (
        features
        if features is not None
        else hashed_ngram_features(
            df, text_col, id_col,
            n_buckets=n_buckets, include_bigrams=include_bigrams,
        )
    )
    return feats.groupBy("bucket").agg(F.count(F.lit(1)).alias("count"))


def dsir_log_weights(
    raw: DataFrame,
    target_model: DataFrame,
    raw_model: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 10_000,
    include_bigrams: bool = True,
    smoothing: float = 1.0,
    decimals: int | None = 4,
    features: DataFrame | None = None,
) -> DataFrame:
    """Per-document DSIR importance log-weight: the log-likelihood
    ratio of the doc's hashed n-gram bag under the TARGET model vs the
    RAW model,

        log w(x) = sum over features f of
                   [ln p_target(bucket(f)) - ln p_raw(bucket(f))]

    with add-``smoothing`` Laplace estimates. High weights mark raw
    docs that look like the target domain; feed the output to
    `split_by_hash`/`global_ntile`-style selection (the paper's Gumbel
    resampling is a nondeterministic variant of rank-by-weight).
    Returns (id, n_feats, log_weight); docs with zero features are
    omitted (no evidence either way).

    Scale shape: the ratio table is built once from the two
    bucket-count models (<= n_buckets rows; totals ride a single-row
    cross join — the bm25 stats idiom) and BROADCAST to the scoring
    join, so the corpus-sized feature stream never shuffles on the
    bucket key; the only corpus-sized shuffle is the per-doc sum,
    map-side combined on the doc id. `raw_model` must be fit on a
    superset of the docs being scored (buckets absent from it would
    have no ratio row — with the catalog usage, raw ⊇ scored, this
    cannot happen; a scored bucket with no ratio row NULLs that doc's
    log_weight outright — visible, instead of silently dropping the
    feature from the sum).

    Pass ``features`` (a persisted :func:`hashed_ngram_features`
    frame, (id, bucket)) to skip re-extracting from ``raw`` — at
    100 TB the feature stream feeding `hashed_ngram_model` should be
    written once and reused for scoring instead of re-tokenizing the
    corpus; when given, ``raw``/``text_col``/``n_buckets``/
    ``include_bigrams`` are ignored for extraction (the caller owns
    their consistency with the models)."""
    t_tot = target_model.agg(F.sum("count").alias("_nt"))
    r_tot = raw_model.agg(F.sum("count").alias("_nr"))
    ratio = (
        raw_model.select("bucket", F.col("count").alias("_cr"))
        .join(
            target_model.select("bucket", F.col("count").alias("_ct")),
            "bucket",
            "left",
        )
        .crossJoin(F.broadcast(t_tot))
        .crossJoin(F.broadcast(r_tot))
        .select(
            "bucket",
            (
                F.log(
                    (F.coalesce(F.col("_ct"), F.lit(0)) + F.lit(smoothing))
                    / (F.col("_nt") + F.lit(smoothing * n_buckets))
                )
                - F.log(
                    (F.col("_cr") + F.lit(smoothing))
                    / (F.col("_nr") + F.lit(smoothing * n_buckets))
                )
            ).alias("_lr"),
        )
    )
    feats = (
        features
        if features is not None
        else hashed_ngram_features(
            raw, text_col, id_col,
            n_buckets=n_buckets, include_bigrams=include_bigrams,
        )
    )
    # F.sum skips NULLs, which would silently drop unmatched buckets —
    # instead a single unmatched bucket NULLs the whole doc's weight
    weight = F.when(
        F.sum(F.when(F.col("_lr").isNull(), 1).otherwise(0)) > 0, F.lit(None)
    ).otherwise(F.sum("_lr"))
    if decimals is not None:
        weight = F.round(weight, decimals)
    return (
        feats.join(F.broadcast(ratio), "bucket", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_feats"),
            weight.alias("log_weight"),
        )
    )


def merge_hashed_ngram_models(a: DataFrame, b: DataFrame) -> DataFrame:
    """Additive merge of two `hashed_ngram_model` frames fit over
    DISJOINT document sets (the incremental fit: model new partitions,
    merge into the base — bucket counts are sums, so no corpus
    re-scan; same contract as `merge_bigram_lm` / `merge_bm25_index`).
    Bucket-bounded work: the union is at most 2 x n_buckets rows."""
    return (
        a.unionByName(b).groupBy("bucket").agg(F.sum("count").alias("count"))
    )


def hashed_ngram_stream_model(
    model_path: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 10_000,
    include_bigrams: bool = True,
):
    """`foreachBatch` callback maintaining a DSIR hashed-n-gram model
    over a document stream: each micro-batch writes its bucket counts
    under ``<model_path>`` on the shared `batch=<id>` protocol
    (docs/usage.md §6), like `bm25_stream_index` and the dedup index
    streams.

    A checkpointed stream delivers each document exactly once, so the
    per-batch models cover DISJOINT doc sets — the accumulated model
    is their additive merge (`merge_hashed_ngram_models` semantics);
    read it back with :func:`read_hashed_ngram_model` and score with
    :func:`dsir_log_weights`. Seed with an initial corpus:
    ``hashed_ngram_model(corpus).write.parquet(f"{model_path}/batch=seed")``.
    """

    def step(batch_df: DataFrame, read) -> dict:
        return {
            model_path: hashed_ngram_model(
                batch_df, text_col, id_col,
                n_buckets=n_buckets, include_bigrams=include_bigrams,
            )
        }

    return _foreach_batch("hashed_ngram_stream_model", model_path, step)


def read_hashed_ngram_model(spark, model_path: str) -> DataFrame:
    """Load the accumulated model state written by
    :func:`hashed_ngram_stream_model`: per-batch bucket counts summed
    to the single merged model (bucket-bounded aggregate)."""
    return (
        spark.read.parquet(model_path)
        .groupBy("bucket")
        .agg(F.sum("count").alias("count"))
    )


def temperature_mixture_sample(
    df: DataFrame,
    *,
    temperature: float,
    target_frac: float = 1.0,
    source_col: str = "source",
    key: str | Column = "doc_id",
) -> DataFrame:
    """Temperature-based mixture sampling (the mT5 scheme, Xue et al.
    2021): sampling weight per source q_i ∝ p_i^(1/T) where p_i is the
    source's corpus share — T=1 keeps natural proportions, T→∞ tends
    to uniform across sources, boosting low-resource sources. The
    materialized per-source keep fraction is

        f_i = min(1, q_i * target_frac * N / n_i)

    i.e. a corpus of ~target_frac*N rows with composition q_i (capped
    where a small source cannot supply its quota — the standard cap;
    no upsampling/duplication here, compose with an explode for
    epochs-style repetition). Rows keep/drop by the stable md5 hash of
    ``key`` (reproducible across runs/engines; rows keep their fate as
    the corpus grows ONLY for fixed f_i — unlike `mixture_sample`'s
    explicit rates, f_i here is data-derived by design).

    Scale shape: everything before the filter is source-bounded (a
    count aggregate + two single-row cross joins); the per-source
    threshold frame broadcasts back onto the corpus and the filter is
    projection-only — the corpus never shuffles. Thresholds are
    rounded to integer buckets in-plan so the oracle replays them
    exactly. Rows with NULL ``source_col`` are dropped (a threshold
    cannot equi-join on NULL — same documented exclusion as
    `unigram_kl_divergence`)."""
    if temperature <= 0:
        raise ValueError(
            f"temperature_mixture_sample: temperature must be > 0, got {temperature}"
        )
    if not (0 < target_frac <= 1):
        raise ValueError(
            f"temperature_mixture_sample: target_frac must be in (0, 1], got {target_frac}"
        )
    counts = df.where(F.col(source_col).isNotNull()).groupBy(source_col).agg(
        F.count(F.lit(1)).alias("_n")
    )
    n_tot = counts.agg(F.sum("_n").alias("_nt"))
    w = counts.crossJoin(F.broadcast(n_tot)).select(
        source_col,
        "_n",
        "_nt",
        F.pow(F.col("_n") / F.col("_nt"), F.lit(1.0 / temperature)).alias("_w"),
    )
    z = w.agg(F.sum("_w").alias("_z"))
    thr = (
        w.crossJoin(F.broadcast(z))
        .select(
            source_col,
            F.round(
                F.least(
                    F.lit(1.0),
                    (F.col("_w") / F.col("_z"))
                    * F.lit(target_frac)
                    * F.col("_nt")
                    / F.col("_n"),
                )
                * HASH_BUCKETS,
                0,
            )
            .cast("long")
            .alias("_thr"),
        )
    )
    return (
        df.join(F.broadcast(thr), source_col)
        .where(hash_bucket(key) < F.col("_thr"))
        .drop("_thr")
    )


def repeat_epochs(
    df: DataFrame,
    epochs: dict[str, float],
    *,
    source_col: str = "source",
    key: str | Column = "doc_id",
    default_epochs: float = 1.0,
    epoch_col: str = "epoch",
) -> DataFrame:
    """Deterministic fractional-epoch repetition — the up-sampling half
    of a data recipe ("books x2.5, web x0.3"): every row of a source
    with e epochs appears floor(e) times, plus once more for the
    stable hash fraction frac(e) of rows — so the expected multiplicity
    is exactly e, reproducibly (same rows get the extra copy on every
    run/engine). `epoch_col` numbers the copies 0..k-1 so downstream
    shuffles/sharding can spread replicas (dedup them back out by
    filtering `epoch = 0`). Rates < 1 are pure down-sampling (floor(e)
    = 0 rows keep only the fractional-hash subset), making this a
    superset of `mixture_sample`'s semantics with repetition.

    Scale shape: a projection + `explode(sequence(...))` — no shuffle,
    no aggregate; output size is sum(e_i * n_i) by construction.
    Thresholds are integers computed driver-side from the literal
    epoch map (no float-boundary ambiguity — the `mixture_sample`
    discipline). A NULL ``key`` cannot take a hash fate: such rows get
    exactly floor(e) copies (never the fractional extra)."""
    for s, e in {**epochs, "<default>": default_epochs}.items():
        if e < 0:
            raise ValueError(f"repeat_epochs: epochs must be >= 0 ({s}={e})")
    whole: Column = F.lit(int(default_epochs))
    thr: Column = F.lit(int(round((default_epochs % 1) * HASH_BUCKETS)))
    for s, e in sorted(epochs.items()):
        whole = F.when(F.col(source_col) == s, F.lit(int(e))).otherwise(whole)
        thr = F.when(
            F.col(source_col) == s, F.lit(int(round((e % 1) * HASH_BUCKETS)))
        ).otherwise(thr)
    # NULL key -> NULL comparison would NULL n_copies and silently drop
    # the row; coalesce to "no fractional extra" instead (floor(e) copies)
    n_copies = whole + F.coalesce((hash_bucket(key) < thr).cast("int"), F.lit(0))
    return (
        df.withColumn("_nc", n_copies)
        .where(F.col("_nc") > 0)
        .withColumn(
            epoch_col, F.explode(F.sequence(F.lit(0), F.col("_nc") - 1))
        )
        .drop("_nc")
    )
