"""Incremental corpus deduplication — dedup a NEW ingestion batch
against a persisted signature index of the already-accepted corpus,
without re-reading the corpus.

This is the rolling-ingestion shape of the LSH dedup pipeline
(`operators/dedup.py`): a 100-TB pretraining corpus is not deduped in
one shot — batches arrive continuously, and re-running the full
pairwise pipeline over corpus ∪ batch would re-shingle and re-shuffle
the whole corpus per batch. Instead:

1. `minhash_band_index(corpus)` is computed ONCE and persisted
   (parquet, ideally bucketed by `band_hash`): one melted row
   (doc_id, band_idx, band_hash, text_h1, text_h2) per band per
   DISTINCT corpus text — ~bands × 56 bytes per distinct document,
   independent of document length. At 10^10 docs × 4 bands that's
   ~2 TB — 2 % of the corpus, and the only thing a batch ever joins
   against. The `text_h1/text_h2` columns carry the 128-bit exact
   hash so verbatim duplicates drop INDEPENDENTLY of any bucket cap.
2. `dedup_against_index(batch, index, base=…, threshold=…)` drops
   batch docs that are near-dups of indexed texts. The batch is
   exact-collapsed first (`dedup._collapse_exact`), so all band and
   verify work is per DISTINCT batch text; the corpus is touched only
   by the verify join, and only for the candidate rep ids — a
   semi-join that prunes to a tiny fraction of the corpus (predicate
   pushdown on the corpus table's id column).
3. `extend_index(index, kept)` appends the accepted batch's bands so
   the next batch dedups against corpus + this batch.

Within-batch duplicates are deliberately out of scope — compose
`dedup.dedup_keep_docs(batch)` BEFORE the against-index step (tested
equivalence: index-dedup ∘ within-batch-dedup == restricting the
full-corpus pipeline's keep set to the batch, when base ids precede
batch ids and no `max_bucket` cap binds).

The reference has no incremental surface (batch-only, SURVEY.md §2);
this is net-new scale scope alongside the dedup family.
"""

from __future__ import annotations

import functools
import re

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from featurestore_spark.io.fs import HadoopFS
from featurestore_spark.operators.dedup import (
    _collapse_exact,
    _melt_bands,
    hash128,
    minhash_bands,
    ngram_jaccard,
    shingles,
)
from featurestore_spark.operators.materialize import materialize


def _require_hash128(index: DataFrame, col: str, op_name: str) -> None:
    """Round 6 migrated the line/span index keys from a 64-bit bigint
    to the 128-bit struct<h1,h2> (`dedup.hash128`) — an index persisted
    under the old format would otherwise surface as an opaque join
    type-mismatch AnalysisException deep inside the plan. Fail fast
    with the migration instruction instead (see docs/scale.md)."""
    from pyspark.sql.types import StructType

    field = next((f for f in index.schema.fields if f.name == col), None)
    if field is None:
        raise ValueError(
            f"{op_name}: supplied index has no '{col}' column "
            f"(columns: {index.columns})"
        )
    if not isinstance(field.dataType, StructType):
        raise ValueError(
            f"{op_name}: index column '{col}' is {field.dataType.simpleString()}, "
            "but round-6+ indexes key on the 128-bit struct<h1:bigint,"
            "h2:bigint> (64-bit keys birthday-collide at corpus scale "
            "and silently false-drop). Rebuild the index with "
            "line_frequency_index/span_window_index from the current "
            "version — the corpus scan is the same cost as the "
            "original build."
        )


def _drop_oversized_buckets(
    index: DataFrame, keys: list[str], max_bucket: int | None
) -> DataFrame:
    """Drop index rows in degenerate buckets (> max_bucket rows per
    bucket key) — the quadratic-blowup guard, sized on the index side
    where the skew lives. A hash AGGREGATE + anti-join, not a window:
    the window formulation sorts the ENTIRE index per batch; the
    aggregate shuffles only map-side-combined partial counts and the
    over-cap key set is tiny (broadcast anti-join). `max_bucket=None`
    skips the pass entirely — pass that when the persisted index is
    already pruned (the counts are static per index version, so prune
    once at build/extend time and save the per-batch aggregation)."""
    if max_bucket is None:
        return index
    over = (
        index.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_bn"))
        .where(F.col("_bn") > max_bucket)
        .select(*keys)
    )
    return index.join(over, keys, "left_anti")


def prune_index(index: DataFrame, max_bucket: int = 1000) -> DataFrame:
    """Pre-prune a band/code index: drop rows in degenerate buckets
    once, at build/extend time, so every subsequent batch can pass
    `max_bucket=None` and skip the per-batch counting aggregate
    entirely (bucket counts are static per index version). Detects the
    text side ((band_idx, band_hash)) vs the embedding side
    ((band_idx, code)) from the schema. Persist the result as the
    serving index; keep the unpruned one if you later want a bigger
    cap."""
    if "band_hash" in index.columns:
        keys = ["band_idx", "band_hash"]
    elif "code" in index.columns:
        keys = ["band_idx", "code"]
    else:
        raise ValueError(
            "prune_index: expected a minhash_band_index (band_hash) or "
            f"srp_code_index (code) schema, got {index.columns}"
        )
    return _drop_oversized_buckets(index, keys, max_bucket)


def minhash_band_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    n: int = 3,
    k: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Melted band index over DISTINCT texts: (doc_id, band_idx,
    band_hash, text_h1, text_h2), where doc_id is each exact-duplicate
    group's minimum id and text_h1/text_h2 the group's verified
    128-bit scalar text hash (two seeded xxhash64 longs — the same
    scheme as `dedup._collapse_exact`). Persist this (parquet;
    bucket by band_hash for co-located batch joins) — it is the only
    corpus-derived state a future batch needs. The hash columns let
    `dedup_against_index` drop verbatim duplicates of indexed texts
    unconditionally, independent of the LSH bucket cap.

    Lazy on purpose (unlike the dedup operators' eager collapse): the
    index is built to be WRITTEN, a single linear consumer, so no
    materialization barrier is needed."""
    reps, _ = _collapse_exact(
        df, text_col, id_col, "minhash_band_index", fence_reps=False
    )
    reps = reps.select(
        F.col("rep_id").alias(id_col), text_col,
        F.col("_h1").alias("text_h1"), F.col("_h2").alias("text_h2"),
    )
    b = minhash_bands(
        reps.select(id_col, text_col), text_col, id_col, n=n, k=k, bands=bands
    )
    return _melt_bands(b, id_col, bands).join(
        reps.select(id_col, "text_h1", "text_h2"), id_col
    )


def dedup_against_index(
    batch: DataFrame,
    index: DataFrame,
    *,
    base: DataFrame | None = None,
    threshold: float | tuple[float | None, float | None] | None = None,
    verify_measure: str = "jaccard",
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    k: int = 16,
    bands: int = 4,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """Drop batch docs that are near-duplicates of the indexed corpus;
    returns the KEPT batch rows (all columns).

    Two modes:
    - **band-only** (`threshold=None`): a batch doc drops iff its text
      shares ≥1 band hash with the index — the cheap high-recall mode
      (LSH false positives drop too; acceptable when the corpus is
      authoritative and the batch expendable).
    - **verified** (`threshold` + `base`): band collisions are
      verified with an exact n-gram measure against the colliding
      base documents; a batch doc drops iff some verified near-dup
      exists. Only candidate rep ids' texts are read from `base` — at
      scale an id-pushdown semi-join, not a corpus scan. If the index
      names a candidate id that `base` does not contain (index/base
      drift — e.g. the index grew under band-only mode without base
      upkeep), the verify job RAISES rather than silently keeping a
      near-duplicate.

    ``verify_measure`` selects the verified-mode measure:
    - ``'jaccard'`` (default): drop when |A∩B|/|A∪B| ≥ threshold —
      whole-document similarity.
    - ``'containment'`` (Broder's asymmetric measure, the
      `containment_pairs` semantics): a short batch doc quoted inside
      a long indexed doc has near-1 containment but low Jaccard (the
      union is dominated by the long doc), so Jaccard-mode verify
      under-scores exactly the sub-document duplication rolling
      ingestion most wants to catch. `threshold` may be a float
      (drop when EITHER direction ≥ it) or a ``(c_batch, c_base)``
      pair thresholding |A∩B|/|batch| and |A∩B|/|base| separately
      (None disables that direction) — e.g. ``(0.9, None)`` drops
      batch docs mostly contained in the corpus while keeping long
      batch docs that merely quote an indexed snippet.
      Same plan shape and cost as Jaccard (the intersection/size
      arithmetic changes, the joins do not). Note the LSH candidate
      stage still keys on MinHash-Jaccard collisions: a tiny quote
      inside a huge doc may never band-collide — lower `n`/raise
      `bands` or use the span index for exact-substring coverage.

    In BOTH modes, verbatim duplicates of indexed texts drop
    unconditionally via the index's `text_h1/text_h2` exact-hash
    columns — independent of `max_bucket` (the dedup family's
    invariant: exact-duplicate drops never depend on bucket caps). An
    index persisted without those columns (foreign producer) skips
    the exact stage; exact dups then drop via band collision only,
    which a binding cap can defeat.

    Shuffle pattern: exact-collapse the batch (all band/verify work
    per DISTINCT batch text) → melt reps' bands → equi-join against
    the index on (band_idx, band_hash) → [verify join] → expand
    dropped reps to members via the membership frame (linear joins,
    never a per-group array). Degenerate index buckets larger than
    `max_bucket` are dropped via a hash aggregate + anti-join (see
    `_drop_oversized_buckets`; pass `max_bucket=None` for a
    pre-pruned index).

    Contract: `id_col` must be unique ACROSS base and batch (the
    verify join looks texts up by id). Any ingestion pipeline
    assigning monotone batch ids satisfies this."""
    if threshold is not None and base is None:
        raise ValueError(
            "dedup_against_index: verified mode (threshold set) requires "
            "`base` (the corpus docs) for the verify join"
        )
    if verify_measure not in ("jaccard", "containment"):
        raise ValueError(
            "dedup_against_index: verify_measure must be 'jaccard' or "
            f"'containment', got {verify_measure!r}"
        )
    if isinstance(threshold, tuple) and verify_measure != "containment":
        raise ValueError(
            "dedup_against_index: a (c_batch, c_base) threshold pair "
            "requires verify_measure='containment'"
        )
    if isinstance(threshold, tuple) and threshold == (None, None):
        # both directions disabled would make the verify step a
        # silent no-op (hit stays False, nothing ever drops beyond
        # exact hashes) — in a function that fails fast on every
        # other bad input, a typo must not get "verified mode" that
        # verifies nothing
        raise ValueError(
            "dedup_against_index: containment threshold (None, None) "
            "disables both directions — pass band-only mode "
            "(threshold=None) if that is intended"
        )
    reps, members = _collapse_exact(
        batch, text_col, id_col, "dedup_against_index"
    )
    texts = reps.select(F.col("rep_id").alias(id_col), text_col)
    melt_q = _melt_bands(
        minhash_bands(texts, text_col, id_col, n=n, k=k, bands=bands), id_col, bands
    )
    idx = _drop_oversized_buckets(
        index, ["band_idx", "band_hash"], max_bucket
    ).select(F.col(id_col).alias("_base_id"), "band_idx", "band_hash")
    cand = melt_q.join(idx, ["band_idx", "band_hash"]).select(
        F.col(id_col).alias("_q_id"), "_base_id"
    )
    verify = None
    if threshold is not None:
        # Verify join reads only the candidate base ids' texts — the
        # base scan stays slim (id + text) so column pruning reaches
        # the corpus parquet.
        sh_q = reps.select(
            F.col("rep_id").alias("_q_id"), shingles(text_col, n).alias("_sh_q")
        )
        sh_b = base.select(
            F.col(id_col).alias("_base_id"), shingles(text_col, n).alias("_sh_b")
        )
        if verify_measure == "jaccard":
            hit = ngram_jaccard(F.col("_sh_q"), F.col("_sh_b")) >= threshold
        else:
            inter = F.size(
                F.array_intersect(F.col("_sh_q"), F.col("_sh_b"))
            ).cast("double")
            c_q = F.round(inter / F.size("_sh_q"), 4)
            c_b = F.round(inter / F.size("_sh_b"), 4)
            t_q, t_b = (
                threshold
                if isinstance(threshold, tuple)
                else (threshold, threshold)
            )
            hit = F.lit(False)
            if t_q is not None:
                hit = hit | (c_q >= t_q)
            if t_b is not None:
                hit = hit | (c_b >= t_b)
        verify = (sh_q, sh_b, hit)
    return _drop_against_index(
        batch, id_col, "dedup_against_index", reps, members, cand, verify,
        index, ("text_h1", "text_h2"),
    )


def _drop_against_index(
    batch: DataFrame,
    id_col: str,
    op_name: str,
    reps: DataFrame,
    members: DataFrame,
    cand: DataFrame,
    verify: tuple[DataFrame, DataFrame, Column] | None,
    index: DataFrame,
    hash_cols: tuple[str, str],
) -> DataFrame:
    """The drop tail shared by the text and embedding against-index
    operators; only the similarity measure differs per side. Returns
    the batch rows kept.

    ``cand`` holds (_q_id, _base_id) band/code collisions of batch reps
    with index entries. Band-only mode (``verify=None``) drops every
    colliding rep. Verified mode passes (rep features keyed _q_id, base
    features keyed _base_id, hit Column over both): the candidate list
    is materialized — it feeds BOTH the base semi-join and the verify
    join, and without the barrier the batch × index join (the
    expensive subtree) runs once per consumer — and the base lookup is
    an id semi-join on it, so only candidate ids are read from `base`.
    `_present` marks ids actually found there; its absence after the
    LEFT join means the index names an id the corpus no longer has —
    an index/base consistency bug that raises, not quietly keeps the
    near-duplicate.

    In both modes reps whose verified 128-bit hash (``reps``' _h1/_h2)
    is in the index's ``hash_cols`` drop unconditionally, independent
    of any bucket cap (skipped for an index without those columns).
    Dropped reps expand to members through the membership frame."""
    if verify is None:
        dropped = cand.select(F.col("_q_id").alias("rep_id")).distinct()
    else:
        q_side, b_side, hit = verify
        pairs = materialize(cand.distinct())
        b_side = b_side.join(
            pairs.select("_base_id").distinct(), "_base_id"
        ).withColumn("_present", F.lit(True))
        checked = F.when(F.col("_present").isNotNull(), hit).otherwise(
            F.raise_error(
                F.lit(
                    f"{op_name}: index names a candidate id missing from "
                    "`base` — index and base are out of sync"
                )
            )
        )
        dropped = (
            pairs.join(q_side, "_q_id")
            .join(b_side, "_base_id", "left")
            .where(checked)
            .select(F.col("_q_id").alias("rep_id"))
            .distinct()
        )
    if set(hash_cols) <= set(index.columns):
        exact = reps.join(
            index.select(*(F.col(c).alias(h) for c, h in zip(hash_cols, ("_h1", "_h2")))),
            ["_h1", "_h2"],
            "left_semi",
        ).select("rep_id")
        dropped = dropped.unionByName(exact).distinct()
    drops = (
        members.join(dropped, "rep_id")
        .select(F.col("member_id").alias(id_col))
        .distinct()
    )
    return batch.join(drops, id_col, "left_anti")


# -- embedding side (SRP-LSH) -----------------------------------------------


def srp_code_index(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    bits: int = 8,
    bands: int = 6,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Melted SRP band-code index over DISTINCT vectors: (vec_id,
    band_idx, code, vec_h1, vec_h2) — the embedding-side analog of
    `minhash_band_index`, with the verified 128-bit vector hash
    carried for cap-independent exact-duplicate drops. ~bands × 32
    bytes per distinct vector, independent of embedding width;
    persist it (bucket by code) and incremental batches dedup against
    it without re-reading the corpus's embeddings. Codes use the
    seeded integer-hyperplane SRP family of
    `similarity.srp_band_codes` (exact arithmetic,
    engine-reproducible); the collapse is `dedup._collapse_exact` —
    one implementation across the near-dup and incremental
    operators."""
    from featurestore_spark.operators.similarity import (
        _infer_dim,
        _vectors,
        srp_band_codes,
        srp_hyperplanes,
    )

    base = _vectors(df, id_col, vec_col)
    if dim is None:
        dim = _infer_dim(base, "v")
    reps, _ = _collapse_exact(base, "v", id_col, "srp_code_index", fence_reps=False)
    hp = srp_hyperplanes(dim, bits * bands, seed)
    coded = reps.select(
        F.col("rep_id").alias(id_col),
        F.col("_h1").alias("vec_h1"),
        F.col("_h2").alias("vec_h2"),
        srp_band_codes(F.col("v"), hp, bits, bands).alias("_codes"),
    )
    return coded.select(
        id_col,
        "vec_h1",
        "vec_h2",
        F.posexplode("_codes").alias("band_idx", "code"),
    ).select(id_col, "band_idx", "code", "vec_h1", "vec_h2")


def dedup_embeddings_against_index(
    batch: DataFrame,
    index: DataFrame,
    *,
    base: DataFrame | None = None,
    threshold: float | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 8,
    bands: int = 6,
    seed: int = 42,
    dim: int | None = None,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """Drop batch rows whose embedding is a near-duplicate (cosine ≥
    threshold) of an indexed corpus vector; returns the KEPT batch
    rows. Embedding-side analog of `dedup_against_index`:

    - band-only (`threshold=None`): any shared (band_idx, code) with
      the index drops the batch vector — cheap, high recall;
    - verified (`threshold` + `base`): code collisions are verified
      with exact cosine against only the candidate corpus ids'
      vectors (id-pushdown semi-join on `base`); a candidate id
      missing from `base` RAISES (index/base drift must fail loudly).

    In both modes, vectors identical to an indexed vector drop
    unconditionally via the index's `vec_h1/vec_h2` columns,
    independent of `max_bucket` (skipped if a foreign index lacks
    them). Same scale shape and drop tail as the text side: batch
    collapsed to DISTINCT vectors first (`dedup._collapse_exact`),
    degenerate index code buckets dropped by a hash aggregate +
    anti-join (`max_bucket=None` for a pre-pruned index), drops
    expanded through the membership frame. Rows with NULL embeddings
    are always kept (no similarity to anything — the
    `embedding_near_dups` contract), and so are all-zero embeddings
    in verified mode (their cosine is NULL)."""
    from featurestore_spark.operators.similarity import (
        _cosine_of,
        _vectors,
        as_double_array,
        dot,
        norm,
        srp_band_codes,
        srp_hyperplanes,
    )

    if threshold is not None and base is None:
        raise ValueError(
            "dedup_embeddings_against_index: verified mode (threshold set) "
            "requires `base` (the corpus embeddings) for the cosine verify"
        )
    vecs = _vectors(batch, id_col, vec_col)
    if dim is None:
        row = vecs.select(F.size("v")).first()
        if row is None:
            return batch  # empty/all-null batch: nothing can collide
        dim = row[0]
    # reps has three consumers and is materialized; members feeds the
    # single drops-expansion join — lazy, as on the text side
    reps, members = _collapse_exact(
        vecs, "v", id_col, "dedup_embeddings_against_index"
    )
    hp = srp_hyperplanes(dim, bits * bands, seed)
    melt_q = reps.select(
        "rep_id", srp_band_codes(F.col("v"), hp, bits, bands).alias("_codes")
    ).select("rep_id", F.posexplode("_codes").alias("band_idx", "code"))
    idx = _drop_oversized_buckets(index, ["band_idx", "code"], max_bucket).select(
        F.col(id_col).alias("_base_id"), "band_idx", "code"
    )
    cand = melt_q.join(idx, ["band_idx", "code"]).select(
        F.col("rep_id").alias("_q_id"), "_base_id"
    )
    verify = None
    if threshold is not None:
        qvec = reps.select(
            F.col("rep_id").alias("_q_id"),
            F.col("v").alias("qv"),
            norm(F.col("v")).alias("_qn"),
        )
        bvec = base.select(
            F.col(id_col).alias("_base_id"),
            as_double_array(vec_col).alias("bv"),
        )
        bv = F.col("bv")
        sim = _cosine_of(dot(F.col("qv"), bv), F.col("_qn"), norm(bv))
        verify = (qvec, bvec, sim >= threshold)
    return _drop_against_index(
        batch, id_col, "dedup_embeddings_against_index", reps, members, cand,
        verify, index, ("vec_h1", "vec_h2"),
    )


# -- the `batch=<id>` state protocol behind every foreachBatch wrapper ---------

_PARTITION = re.compile(r"batch=(c?)(-?\d+)")


def _batch_ids(names) -> dict[str, int]:
    """The batch id of each partition name: ``n`` for `batch=<n>`,
    ``k`` for a compacted `batch=c<k>` (the highest id it holds).
    Other names (`batch=seed`, `_temporary`, …) are left out."""
    return {
        name: int(m.group(2)) for name in names if (m := _PARTITION.fullmatch(name))
    }


def _sum_by_rest(df: DataFrame, sum_col: str) -> DataFrame:
    """Group by every other column and sum ``sum_col``: how the
    per-batch count deltas of the line/span indexes add up."""
    keys = [c for c in df.columns if c != sum_col]
    return df.groupBy(*keys).agg(F.sum(sum_col).alias(sum_col))


def _read_state(spark, root: str, batch_id: int, *, sum_col=None, empty=None):
    """Every partition of a state root but the current batch's, without
    the `batch` column: a retry must not see its failed attempt's
    writes (its survivors would match themselves in the index and
    drop). ``sum_col`` sums the count deltas. ``empty`` is the schema
    returned when the root does not exist yet — without it a missing
    root raises AnalysisException."""
    try:
        df = spark.read.parquet(root)
    except AnalysisException:
        if empty is None:
            raise
        return spark.createDataFrame([], empty)
    df = df.where(F.col("batch").cast("string") != str(batch_id)).drop("batch")
    return df if sum_col is None else _sum_by_rest(df, sum_col)


def _guard_restart(spark, root: str, batch_id: int, op_name: str) -> None:
    """Raise when ``root`` already holds a batch id above ``batch_id``.
    A foreachBatch retry only ever re-runs the highest id, so a higher
    one means the stream was restarted with a fresh checkpoint, whose
    overwrites would replace accepted batches. Decides from a listing
    of the partition names, so it launches no Spark job."""
    head = max(_batch_ids(HadoopFS(spark).list_names(root)).values(),
               default=batch_id)
    if head > batch_id:
        raise RuntimeError(
            f"{op_name}: state root {root!r} already contains "
            f"batch={head} > current batch_id={batch_id} — the stream "
            "was restarted with a fresh checkpoint against existing state "
            "roots; reuse the original checkpointLocation or point at "
            "fresh state roots"
        )


def _foreach_batch(op_name: str, guard_root: str, step):
    """The `foreachBatch` callback behind every stream wrapper
    (docs/usage.md §6 states the protocol). After `_guard_restart`
    checks ``guard_root``, ``step(batch_df, read)`` returns ``{root:
    frame}``, reading state through ``read(root, sum_col=None,
    empty=None)`` (`_read_state` without the current batch). Each
    frame then overwrites ``<root>/batch=<id>``, in insertion order."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        _guard_restart(spark, guard_root, batch_id, op_name)
        read = functools.partial(_read_state, spark, batch_id=batch_id)
        for root, frame in step(batch_df, read).items():
            frame.write.mode("overwrite").parquet(f"{root}/batch={batch_id}")

    return process


def dedup_stream_against_index(
    index_path: str,
    kept_path: str,
    *,
    base_path: str | None = None,
    threshold: float | tuple[float | None, float | None] | None = None,
    verify_measure: str = "jaccard",
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    k: int = 16,
    bands: int = 4,
    max_bucket: int | None = 1000,
):
    """`foreachBatch` callback for streaming ingestion dedup: each
    micro-batch is deduped against the persisted band index
    (`dedup_against_index`), and the survivors' bands are added so
    batch N+1 dedups against everything accepted through batch N.
    State layout, retries and the fresh-checkpoint guard follow the
    shared `batch=<id>` protocol (docs/usage.md §6).

    - `index_path`: band index root. Seed it with
      `minhash_band_index(corpus).write.parquet(f"{index_path}/batch=seed")`.
      After many batches, consolidate the accumulated `batch=` subdirs
      offline with :func:`compact_index` (reads need no change).
    - `kept_path`: accepted (deduped) docs, the pipeline's output.
    - `base_path` (verified mode): (id, text) corpus lookup for the
      Jaccard verify join — seed with the corpus's id/text columns;
      each batch's survivors are appended (their own `batch=` subdir)
      so later batches verify against them too.

    Usage::

        cb = dedup_stream_against_index("/idx", "/kept",
                                        base_path="/base", threshold=0.8)
        stream.writeStream.foreachBatch(cb).option(
            "checkpointLocation", "/chk").start()
    """
    if threshold is not None and base_path is None:
        raise ValueError(
            "dedup_stream_against_index: verified mode requires base_path"
        )

    def step(batch_df: DataFrame, read) -> dict:
        base = (read(base_path).select(id_col, text_col)
                if base_path is not None else None)
        # One pass, fanned out to the 2-3 writes — and the read/write
        # barrier: the index is both read and re-written in one batch,
        # so the writes must not start until the reads have finished.
        kept = materialize(dedup_against_index(
            batch_df, read(index_path), base=base, threshold=threshold,
            verify_measure=verify_measure, text_col=text_col, id_col=id_col,
            n=n, k=k, bands=bands, max_bucket=max_bucket,
        ))
        state = {
            kept_path: kept,
            index_path: minhash_band_index(
                kept, text_col, id_col, n=n, k=k, bands=bands
            ),
        }
        if base_path is not None:
            state[base_path] = kept.select(id_col, text_col)
        return state

    return _foreach_batch("dedup_stream_against_index", kept_path, step)


def extend_index(
    index: DataFrame,
    kept: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    n: int = 3,
    k: int = 16,
    bands: int = 4,
    verify: bool = False,
) -> DataFrame:
    """Append the accepted batch's band rows to the index so the next
    batch dedups against corpus + this batch. Returns the unioned
    index frame; the caller persists it (append-mode parquet write of
    just the new rows in production — the union here is for in-session
    chaining and tests).

    The batch's doc ids must be NEW (a re-extended batch would pair
    every future duplicate with two identical index rows and, worse,
    mark the batch a duplicate of itself on the next against-index
    run). ``verify=True`` runs the shared sketch probe
    (:func:`featurestore_spark.operators.probes.verify_disjoint_ids`)
    against the index's rep doc ids and raises on gross overlap —
    three aggregates' cost, catching the double-ingestion misuse."""
    new_rows = minhash_band_index(
        kept, text_col, id_col, n=n, k=k, bands=bands
    )
    if verify:
        from featurestore_spark.operators.probes import verify_disjoint_ids

        verify_disjoint_ids(index, new_rows, id_col, "extend_index")
    return index.unionByName(new_rows)


# -- canonical-URL index (incremental recrawl dedup) ---------------------------


def url_index(
    df: DataFrame, url_col: str = "url", *, strip_www: bool = False
) -> DataFrame:
    """Distinct-canonical-URL index for incremental recrawl dedup:
    one ``url_hash`` row (the 128-bit two-seeded struct,
    `dedup.hash128`) per distinct canonical URL — 16 bytes per seen
    page, the only state a recrawl needs to skip already-fetched
    resources. Persist as parquet (ideally bucketed by url_hash so
    batch joins co-locate); extend per accepted batch with
    `extend_url_index`. 128-bit keys for the same reason as the
    line/span indexes: a frontier index holds billions of distinct
    URLs, where 64-bit birthday collisions are expected and each one
    silently DROPS a never-fetched page. NULL-canonical rows (no
    host) are excluded — `canonical_url` semantics."""
    from featurestore_spark.operators.dedup import hash128
    from featurestore_spark.operators.web import canonical_url

    canon = canonical_url(url_col, strip_www=strip_www)
    return (
        df.select(canon.alias("_cu"))
        .where(F.col("_cu").isNotNull())
        .select(hash128(F.col("_cu")).alias("url_hash"))
        .distinct()
    )


def dedup_urls_against_index(
    batch: DataFrame,
    index: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    *,
    strip_www: bool = False,
    out_col: str = "canonical_url",
) -> DataFrame:
    """URL-level dedup of a crawl batch against a persisted
    `url_index`, without re-reading the corpus — the recrawl shape of
    `web.url_dedup`: keep each batch row whose canonical URL is (a)
    NEW to the index and (b) first within the batch (minimum id among
    the batch rows sharing the canonical form). Returns the kept
    batch rows (all columns) plus ``out_col``; NULL-canonical rows
    drop (no fetchable resource), same contract as `url_dedup`.

    Scale shape: the batch-internal collapse is one groupBy on the
    canonical string (map-side combine) + a semi-join back; the index
    probe is an equi-anti-join on the 16-byte hash key — the index's
    billions of rows never broadcast, and only hashes move."""
    from featurestore_spark.operators.dedup import hash128
    from featurestore_spark.operators.web import canonical_url

    _require_hash128(index, "url_hash", "dedup_urls_against_index")
    canon = batch.withColumn(
        out_col, canonical_url(url_col, strip_www=strip_www)
    ).where(F.col(out_col).isNotNull())
    first = canon.groupBy(out_col).agg(F.min(id_col).alias(id_col))
    kept = canon.join(first, [id_col, out_col], "left_semi")
    return (
        kept.withColumn("_uh", hash128(F.col(out_col)))
        .join(
            index.select(F.col("url_hash").alias("_uh")), "_uh", "left_anti"
        )
        .drop("_uh")
    )


def extend_url_index(index: DataFrame, kept: DataFrame,
                     url_col: str = "canonical_url", *,
                     verify: bool = False) -> DataFrame:
    """Append the accepted batch's canonical URLs to the index for
    the next batch (plain union here for in-session chaining;
    production appends just the new hash rows to the parquet index).
    ``url_col`` must already BE canonical (pass
    `dedup_urls_against_index`'s output through) — that contract
    guarantees the batch's hashes are NEW to the index (anti-join)
    and batch-internally unique (first-per-canonical collapse), so no
    distinct runs here: re-shuffling billions of index rows per batch
    to re-prove the contract is the family anti-pattern (`extend_index`
    is a plain union for the same reason; VERDICT r10 #5 removed the
    full-index distinct this function used to run). ``verify=True``
    runs the shared sketch/exact probe
    (:func:`featurestore_spark.operators.probes.verify_disjoint_ids`)
    against the index's hashes and raises on gross overlap — the
    double-ingestion misuse tripwire, a few aggregates' cost."""
    from featurestore_spark.operators.dedup import hash128

    _require_hash128(index, "url_hash", "extend_url_index")
    new_rows = (
        kept.select(F.col(url_col).alias("_cu"))
        .where(F.col("_cu").isNotNull())
        .select(hash128(F.col("_cu")).alias("url_hash"))
    )
    if verify:
        from featurestore_spark.operators.probes import verify_disjoint_ids

        verify_disjoint_ids(
            index, new_rows, "url_hash", "extend_url_index"
        )
    return index.unionByName(new_rows)


# -- media digest index (incremental recrawl media dedup) ---------------------


def _require_media_index(index: DataFrame, op_name: str) -> None:
    if "content_md5" not in index.columns:
        raise ValueError(
            f"{op_name}: supplied index has no 'content_md5' column "
            f"(columns: {index.columns}) — build it with media_index"
        )


def media_index(
    df: DataFrame, binary_col: str = "content", *, signatures: bool = False
) -> DataFrame:
    """Distinct-payload digest index for incremental recrawl media
    dedup — the `url_index` rung for the multimodal surface
    (re-hosted byte-identical images are the dominant media-dup
    class): one ``content_md5`` row (32-char hex, 16 bytes of
    entropy) per distinct non-NULL payload. ``signatures=True`` adds
    the 64-bit ``byte_dhash`` per distinct digest, enabling the
    near-dup probe of `dedup_media_against_index` (8 extra bytes per
    distinct payload). Persist as parquet (ideally bucketed by
    content_md5); extend per accepted batch with `extend_media_index`.

    Scale shape: digests and signatures are computed per ROW in one
    scan (the dhash UDF is a linear byte pass) and deduplicated on
    the 40-byte (digest, signature) pair — the multi-MB payloads
    never shuffle; collapsing to a representative payload first would
    move them. MD5 for the exact key, not a 64-bit hash: a crawl
    index holds billions of distinct payloads, where 64-bit birthday
    collisions silently drop never-fetched media."""
    base = df.where(F.col(binary_col).isNotNull())
    if not signatures:
        return base.select(
            F.md5(F.col(binary_col)).alias("content_md5")
        ).distinct()
    from featurestore_spark.operators.multimodal import with_byte_dhash

    return (
        with_byte_dhash(base, binary_col)
        .select(F.md5(F.col(binary_col)).alias("content_md5"), "byte_dhash")
        .distinct()
    )


def dedup_media_against_index(
    batch: DataFrame,
    index: DataFrame,
    binary_col: str = "content",
    id_col: str = "doc_id",
    *,
    max_hamming: int | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """Media-level dedup of a crawl batch against a persisted
    `media_index`, without re-reading the corpus — the recrawl shape
    of `multimodal.dedup_media_exact`: keep each batch row whose
    payload is (a) NEW to the index (md5 anti-join) and (b) first
    within the batch (minimum id among batch rows sharing the
    digest). Returns the kept batch rows (all columns) plus
    ``content_md5``; NULL payloads drop (no content), same contract
    as `dedup_media_exact`.

    ``max_hamming=`` adds the PERCEPTUAL probe (needs a
    ``signatures=True`` index): kept rows whose `byte_dhash` sits
    within ``max_hamming`` of ANY index signature also drop —
    re-encoded/truncated variants of already-crawled media. The
    probe is `dedup.banded_hamming_probe`: pigeonhole block
    equi-join + exact Hamming verify, EXACT within the bound, never
    all-pairs; ``max_bucket`` caps degenerate index blocks (recall
    cost documented there). Batch-INTERNAL near-dups are out of
    scope here — run `multimodal.dedup_media_docs` on the batch
    first, exactly as `dedup_against_index` expects within-batch
    text dedup to have run.

    Scale shape: the exact probe is an equi-anti-join on the digest
    string — the index's billions of rows never broadcast, payloads
    never shuffle (only digests and 8-byte signatures move)."""
    _require_media_index(index, "dedup_media_against_index")
    b = batch.where(F.col(binary_col).isNotNull()).withColumn(
        "content_md5", F.md5(F.col(binary_col))
    )
    first = b.groupBy("content_md5").agg(F.min(id_col).alias(id_col))
    kept = b.join(first, [id_col, "content_md5"], "left_semi")
    kept = kept.join(
        index.select("content_md5"), "content_md5", "left_anti"
    )
    if max_hamming is not None:
        if "byte_dhash" not in index.columns:
            raise ValueError(
                "dedup_media_against_index: max_hamming needs an index "
                "built with media_index(signatures=True) — this one has "
                f"columns {index.columns}"
            )
        from featurestore_spark.operators.dedup import banded_hamming_probe
        from featurestore_spark.operators.multimodal import with_byte_dhash

        sigs = with_byte_dhash(kept, binary_col).select(
            F.col(id_col).alias("rep_id"), "byte_dhash"
        )
        near = banded_hamming_probe(
            sigs,
            index.select("byte_dhash"),
            "byte_dhash",
            max_hamming,
            max_bucket=max_bucket,
        ).select(F.col("rep_id").alias(id_col))
        kept = kept.join(near, id_col, "left_anti")
    return kept


def extend_media_index(
    index: DataFrame,
    kept: DataFrame,
    binary_col: str = "content",
    *,
    verify: bool = False,
) -> DataFrame:
    """Append the accepted batch's digests (and signatures, when the
    index carries them) for the next batch — plain union, the family
    convention (`extend_index`/`extend_url_index`):
    `dedup_media_against_index`'s contract already guarantees the
    batch digests are NEW (anti-join) and batch-internally unique
    (first-per-digest collapse), so no per-batch re-distinct of a
    billion-row index. ``verify=True`` runs the shared probe
    (:func:`featurestore_spark.operators.probes.verify_disjoint_ids`)
    on the digests — the double-ingestion tripwire."""
    _require_media_index(index, "extend_media_index")
    new_rows = media_index(
        kept, binary_col, signatures="byte_dhash" in index.columns
    )
    if verify:
        from featurestore_spark.operators.probes import verify_disjoint_ids

        verify_disjoint_ids(
            index, new_rows, "content_md5", "extend_media_index"
        )
    return index.unionByName(new_rows)


# -- line-frequency index (incremental line-level dedup) ----------------------


def line_frequency_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    delimiter: str = "\n",
    normalize: bool = True,
) -> DataFrame:
    """Document frequency of every distinct normalized line, keyed by
    hash: (line_hash, doc_freq) — the only corpus-derived state that
    incremental line-level dedup needs (24 bytes per distinct line;
    persist as parquet, ideally bucketed by line_hash so batch joins
    co-locate). Built once over the accepted corpus, then extended per
    batch with `extend_line_index` — the corpus text is never re-split.
    `line_hash` is the 128-bit two-seeded struct (`dedup.hash128`): a
    corpus-scale line index holds enough distinct keys that 64-bit
    collisions would silently merge unrelated lines into false drops.

    Splitting runs once per DISTINCT text (exact-dup collapse); a
    line's document frequency is the sum of its reps' duplicate
    counts. Counting shuffles are narrow (hash + weight, no line
    text) with map-side partial aggregation. Empty normalized lines
    are excluded (never counted, never dropped)."""
    reps, _ = _collapse_exact(df, text_col, id_col, "line_frequency_index")
    line = F.explode(F.split(F.col(text_col), delimiter)).alias("_line")
    norm = (
        F.lower(F.trim(F.col("_line"))) if normalize else F.col("_line")
    )
    return (
        reps.select(F.col("rep_id"), F.col("n_members").alias("_w"), line)
        .select("rep_id", "_w", norm.alias("_nl"))
        .where(F.col("_nl") != "")
        .select("rep_id", "_w", hash128(F.col("_nl")).alias("line_hash"))
        .distinct()
        .groupBy("line_hash")
        .agg(F.sum("_w").alias("doc_freq"))
    )


def dedup_lines_against_index(
    batch: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    max_docs: int = 1,
    include_batch: bool = True,
    delimiter: str = "\n",
    output_delimiter: str = "\n",
    normalize: bool = True,
    collapse_exact: bool | str = "auto",
) -> DataFrame:
    """Line-level dedup of an ingestion batch against a persisted
    `line_frequency_index`, without re-reading the corpus: a line is
    dropped when its corpus frequency plus this batch's frequency
    (`include_batch=True`, the corpus-wide CCNet semantic) exceeds
    `max_docs`. Equals `curation.dedup_lines` over corpus ∪ batch,
    restricted to the batch rows — test-asserted. Same output schema
    and scale shape as `dedup_lines` (this is a thin wrapper passing
    the index through)."""
    from featurestore_spark.operators.curation import dedup_lines

    _require_hash128(index, "line_hash", "dedup_lines_against_index")
    return dedup_lines(
        batch,
        text_col,
        id_col,
        max_docs=max_docs,
        delimiter=delimiter,
        output_delimiter=output_delimiter,
        normalize=normalize,
        collapse_exact=collapse_exact,
        index=index,
        include_batch=include_batch,
    )


def extend_line_index(
    index: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    delimiter: str = "\n",
    normalize: bool = True,
) -> DataFrame:
    """Merge a batch's line frequencies into the index so the next
    batch counts against corpus + this batch. Returns the merged
    (line_hash, doc_freq) frame; the caller persists it. In production
    prefer writing the batch's delta rows to a `batch=<id>` partition
    and summing on read (idempotent under retry, no index rewrite) —
    the eager merge here suits in-session chaining and tests.

    The batch must not already be counted in the index (a re-extended
    batch doubles its lines' doc_freq → over-aggressive dropping).
    Unlike `extend_index`/`merge_bm25_index`, no sketch probe can
    enforce this: the persisted state is (line_hash, doc_freq) with no
    document identity, and hash overlap between a legitimate new batch
    and the corpus is EXPECTED (shared lines are the whole point of
    counting). Use the `batch=<id>` partition layout above — the
    partition name is the idempotency key."""
    delta = line_frequency_index(
        batch, text_col, id_col, delimiter=delimiter, normalize=normalize
    )
    return _sum_by_rest(index.unionByName(delta), "doc_freq")


def dedup_lines_stream_against_index(
    index_path: str,
    kept_path: str,
    *,
    max_docs: int = 1,
    include_batch: bool = True,
    text_col: str = "text",
    id_col: str = "doc_id",
    delimiter: str = "\n",
    output_delimiter: str = "\n",
    normalize: bool = True,
):
    """`foreachBatch` callback for streaming line-level dedup: each
    micro-batch's lines are counted against the persisted line
    frequency accumulated so far (`dedup_lines_against_index`),
    over-frequent lines are dropped, and the batch's OWN line
    frequencies are recorded so batch N+1 counts against everything
    seen through batch N. State follows the shared `batch=<id>`
    protocol (docs/usage.md §6); the index is a set of per-batch count
    deltas, summed on read and never rewritten in place.

    Prefix semantics (inherent to streaming): a batch is deduped
    against counts seen SO FAR — the first `max_docs` sightings of a
    line survive, later ones drop. The recorded delta is the ORIGINAL
    batch's frequencies, not the survivors': a line dropped from every
    doc of its own batch (within-batch frequent) stays on record, so
    future occurrences keep dropping — matching the corpus-wide
    semantic rather than resetting.

    Seed with
    `line_frequency_index(corpus).write.parquet(f"{index_path}/batch=seed")`.
    """

    def step(batch_df: DataFrame, read) -> dict:
        # no index yet reads as an EMPTY index (not None), so
        # include_batch=False means "no corpus counts, nothing drops"
        # rather than falling back to within-batch counting
        idx = read(
            index_path,
            sum_col="doc_freq",
            empty="line_hash struct<h1:bigint,h2:bigint>, doc_freq long",
        )
        kept = materialize(dedup_lines_against_index(
            batch_df, idx, text_col, id_col, max_docs=max_docs,
            include_batch=include_batch, delimiter=delimiter,
            output_delimiter=output_delimiter, normalize=normalize,
        ))
        return {
            kept_path: kept,
            index_path: line_frequency_index(
                batch_df, text_col, id_col, delimiter=delimiter,
                normalize=normalize,
            ),
        }

    return _foreach_batch("dedup_lines_stream_against_index", kept_path, step)


# -- shared-span window index (incremental span removal) ----------------------


def span_window_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    n: int = 10,
) -> DataFrame:
    """Document frequency of every distinct positional length-`n`
    token window, keyed by hash: (window_hash, doc_freq) — the corpus
    state incremental span removal needs (24 bytes per distinct
    window; the 128-bit `dedup.hash128` struct key, since at the
    documented O(corpus tokens) distinct-window scale 64-bit
    collisions are expected and silently merge unrelated windows;
    persist as parquet; see docs/scale.md for the sizing bound). Extended per batch with `extend_span_index`;
    the corpus text is never re-tokenized. Window extraction runs once
    per DISTINCT text (exact-dup collapse), a window's frequency being
    the sum of its reps' duplicate counts."""
    from featurestore_spark.operators.curation import (
        _positional_gram_hashes,
    )

    reps, _ = _collapse_exact(df, text_col, id_col, "span_window_index")
    unit = reps.select(
        F.col("rep_id").alias("_uid"), F.col(text_col).alias("_utext")
    )
    weights = reps.select(
        F.col("rep_id").alias("_uid"), F.col("n_members").alias("_w")
    )
    return (
        _positional_gram_hashes(unit, n)
        .select("_uid", "_gh")
        .distinct()
        .join(weights, "_uid")
        .groupBy(F.col("_gh").alias("window_hash"))
        .agg(F.sum("_w").alias("doc_freq"))
    )


def remove_spans_against_index(
    batch: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    n: int = 10,
    min_df: int = 2,
    include_batch: bool = True,
    collapse_exact: bool | str = "auto",
) -> DataFrame:
    """Shared-span removal of an ingestion batch against a persisted
    `span_window_index`: a window is over-frequent when its corpus
    frequency plus this batch's (`include_batch=True`) reaches
    `min_df`. Equals full-corpus `remove_shared_spans` restricted to
    the batch rows — test-asserted. Same output schema and scale shape
    as `remove_shared_spans` (this is a thin wrapper passing the index
    through)."""
    from featurestore_spark.operators.curation import remove_shared_spans

    _require_hash128(index, "window_hash", "remove_spans_against_index")
    return remove_shared_spans(
        batch,
        text_col,
        id_col,
        n=n,
        min_df=min_df,
        collapse_exact=collapse_exact,
        index=index,
        include_batch=include_batch,
    )


def extend_span_index(
    index: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    n: int = 10,
) -> DataFrame:
    """Merge a batch's window frequencies into the index (caller
    persists; prefer `batch=<id>` delta partitions summed on read in
    production, as with the other incremental indexes). As with
    `extend_line_index`, a re-extended batch double-counts and no
    sketch probe can detect it from (window_hash, doc_freq) state —
    the `batch=<id>` partition name is the idempotency key."""
    delta = span_window_index(batch, text_col, id_col, n=n)
    return _sum_by_rest(index.unionByName(delta), "doc_freq")


def dedup_embeddings_stream_against_index(
    index_path: str,
    kept_path: str,
    *,
    base_path: str | None = None,
    threshold: float | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 8,
    bands: int = 6,
    seed: int = 42,
    dim: int | None = None,
    max_bucket: int | None = 1000,
):
    """`foreachBatch` callback for streaming embedding dedup — the
    vector-side analog of `dedup_stream_against_index`, on the shared
    `batch=<id>` protocol (docs/usage.md §6). Each micro-batch is
    deduped against the persisted SRP code index
    (`dedup_embeddings_against_index`); survivors' codes (and, in
    verified mode, their vectors) are added so batch N+1 dedups
    against everything accepted through batch N.

    Seed with
    `srp_code_index(corpus).write.parquet(f"{index_path}/batch=seed")`
    (and the corpus's (id, vector) columns under `base_path/batch=seed`
    for verified mode)."""
    if threshold is not None and base_path is None:
        raise ValueError(
            "dedup_embeddings_stream_against_index: verified mode "
            "requires base_path"
        )

    def step(batch_df: DataFrame, read) -> dict:
        base = (read(base_path).select(id_col, vec_col)
                if base_path is not None else None)
        kept = materialize(dedup_embeddings_against_index(
            batch_df, read(index_path), base=base, threshold=threshold,
            id_col=id_col, vec_col=vec_col, bits=bits, bands=bands,
            seed=seed, dim=dim, max_bucket=max_bucket,
        ))
        state = {
            kept_path: kept,
            index_path: srp_code_index(
                kept, id_col, vec_col, bits=bits, bands=bands, seed=seed,
                dim=dim,
            ),
        }
        if base_path is not None:
            state[base_path] = kept.select(id_col, vec_col)
        return state

    return _foreach_batch(
        "dedup_embeddings_stream_against_index", kept_path, step
    )


def remove_spans_stream_against_index(
    index_path: str,
    kept_path: str,
    *,
    n: int = 10,
    min_df: int = 2,
    include_batch: bool = True,
    text_col: str = "text",
    id_col: str = "doc_id",
    collapse_exact: bool | str = "auto",
):
    """`foreachBatch` callback for streaming span removal — the
    span-side analog of `dedup_lines_stream_against_index` (per-batch
    count DELTAS, summed on read; prefix semantics; deltas record the
    ORIGINAL batch's window frequencies), on the shared `batch=<id>`
    protocol (docs/usage.md §6). Seed with
    `span_window_index(corpus, n=n).write.parquet(f"{index_path}/batch=seed")`.

    Mind the span-index sizing bound (docs/scale.md): the window index
    is O(corpus tokens); prefer large `n` and consider cadenced batch
    reprocessing when the state budget binds."""

    def step(batch_df: DataFrame, read) -> dict:
        idx = read(
            index_path,
            sum_col="doc_freq",
            empty="window_hash struct<h1:bigint,h2:bigint>, doc_freq long",
        )
        kept = materialize(remove_spans_against_index(
            batch_df, idx, text_col, id_col, n=n, min_df=min_df,
            include_batch=include_batch, collapse_exact=collapse_exact,
        ))
        return {
            kept_path: kept,
            index_path: span_window_index(batch_df, text_col, id_col, n=n),
        }

    return _foreach_batch("remove_spans_stream_against_index", kept_path, step)


# last line of a complete _SOURCES manifest: a manifest without it is
# a truncated write and the staging dir it describes is discarded
_MANIFEST_END = "# end"


def compact_index(
    spark,
    path: str,
    *,
    sum_col: str | None = None,
    target_files: int | None = None,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Consolidate a `batch=<id>` incremental-state root (VERDICT r12
    #4): after hundreds of ingestion batches the band/SRP/frequency
    index roots become a small-files field — every read lists and
    opens one partition per batch. This maintenance rung rewrites all
    but the HIGHEST-numbered batch partition (plus `seed` and any
    previous compaction) into ONE `batch=c<k>` partition, where ``k``
    is the highest batch id consumed — so the restart guard keeps its
    high-water mark and the existing readers keep working unchanged
    (partition discovery still surfaces `batch`; a compacted value
    never equals a live numeric batch id, so the current-batch
    exclusion and retry idempotency hold).

    - ``sum_col`` — for the frequency-delta families
      (`line_frequency_index` / `span_window_index`, summed on read):
      pre-aggregate by every other column and SUM this one, shrinking
      the row count as well as the file count. Leave None for
      row-set families (band / SRP / URL / media indexes, kept/base
      corpora) — pure rewrite.
    - ``target_files`` — output file count; default sized from the
      compactable bytes at ``target_file_bytes`` per file.

    The highest NUMERIC batch partition is never touched: it is the
    only partition a foreachBatch retry can legally overwrite, so
    leaving it alone keeps the exactly-once overwrite contract even
    if a compaction races the stream's final commit. Run this OFFLINE
    (stream stopped / between batches) all the same — the promote
    step below is not atomic across directories.

    Crash safety (resumable, never lossy): the consolidated data is
    written to a `_compact_tmp` staging dir (underscore-prefixed —
    invisible to partition discovery), a `_SOURCES` manifest naming
    the consumed partitions is written LAST — terminated by an end
    marker, so a crash that leaves a line-aligned PREFIX of the
    manifest (ADVICE r13) reads as incomplete, not as a shorter
    source list that would promote while unlisted sources double-count
    — and only then are the sources deleted and the staging dir
    renamed to `batch=c<k>`. A re-run after a crash resumes from a
    complete manifest (and discards a manifest-less or truncated
    staging dir, starting over); reads between a mid-promote crash
    and the re-run can under-count — another reason this is an
    offline op. Returns a stats dict (`compacted`, `into`,
    `files_before`, `files_after`; resumed runs add `resumed: True`,
    with `files_before` counted at resume time)."""
    fs = HadoopFS(spark)
    tmp = f"{path}/_compact_tmp"
    manifest = f"{tmp}/_SOURCES"

    def _promote(sources: list[str], final: str) -> None:
        for name in sources:
            src = f"{path}/{name}"
            if fs.exists(src):
                fs.delete(src)
        fs.rename(tmp, f"{path}/{final}")

    # resume a crashed promote first: staging with a manifest is
    # complete data whose sources may be half-deleted
    if fs.exists(tmp):
        names_txt = fs.read_text(manifest)
        lines = (
            [ln for ln in names_txt.splitlines() if ln.strip()]
            if names_txt is not None else []
        )
        # a crash can also land mid-MANIFEST-write: a partial first
        # line would promote to a half-named partition, and a
        # LINE-ALIGNED truncation (first line + some complete source
        # lines) would promote while the unlisted sources stay on
        # disk — double-counting their rows (ADVICE r13). The
        # manifest is therefore complete-or-absent: the last line is
        # an end marker, and anything that does not parse as (final
        # c-partition, >=1 batch= sources, end marker) is treated
        # like a manifest-less staging dir
        valid = (
            len(lines) >= 3
            and lines[-1] == _MANIFEST_END
            and lines[0].startswith("batch=c")
            and lines[0] in _batch_ids(lines[:1])
            and all(ln.startswith("batch=") for ln in lines[1:-1])
        )
        if not valid:
            fs.delete(tmp)  # crash mid-write: staging data unusable
        else:
            final, sources = lines[0], lines[1:-1]
            files_before = fs.file_count(path)
            _promote(sources, final)
            return {
                "resumed": True,
                "compacted": sources,
                "into": final,
                "files_before": files_before,
                "files_after": fs.file_count(path),
            }

    parts = [
        n for n in fs.list_names(path)
        if n.startswith("batch=") and not n.startswith("batch=.")
    ]
    ids = _batch_ids(parts)
    live_head = max(
        (n for n in ids if not n.startswith("batch=c")), key=ids.get,
        default=None,
    )
    sources = [n for n in parts if n != live_head]
    if len(sources) < 2:
        return {"compacted": [], "into": None,
                "files_before": fs.file_count(path),
                "files_after": fs.file_count(path)}
    # high-water mark of the consumed partitions: numeric ids and any
    # previous compaction's k (seed contributes nothing)
    final = f"batch=c{max([-1] + [ids[n] for n in sources if n in ids])}"

    files_before = fs.file_count(path)
    src_paths = [f"{path}/{n}" for n in sources]
    df = spark.read.parquet(*src_paths)
    if sum_col is not None:
        df = _sum_by_rest(df, sum_col)
    if target_files is None:
        total = sum(fs.size_bytes(p) for p in src_paths)
        target_files = max(1, -(-total // target_file_bytes))
    df.coalesce(int(target_files)).write.mode("overwrite").parquet(tmp)
    fs.write_text(
        manifest, "\n".join([final] + sources + [_MANIFEST_END])
    )
    _promote(sources, final)
    return {
        "compacted": sources,
        "into": final,
        "files_before": files_before,
        "files_after": fs.file_count(path),
    }
