"""Lexical retrieval + statistical LM quality scoring for training-data
pipelines: BM25 top-k search and CCNet-style bigram-LM cross-entropy.

No reference counterpart (like the rest of the LLM-pipeline surface —
the reference stops at feature/vault loading); these implement the
published definitions directly: Okapi BM25 (Robertson & Zaragoza 2009,
the Lucene ``ln(1 + (N-df+0.5)/(df+0.5))`` IDF form, which is always
positive) and the perplexity-filter stage of CCNet (Wenzek et al.
2020) with a self-fit (or externally fit) add-k-smoothed bigram model
in place of KenLM — the model is a plain DataFrame, so fitting is an
aggregation and scoring is a join, both SQL-expressible for oracles.

100-TB shape (everything is Column expressions, zero Python UDFs):

* ``bm25_topk`` reads the corpus twice: one slim pass for corpus
  stats (N, avgdl — a projection + single-row aggregate) and one pass
  building postings, where tokens are filtered against the broadcast
  query-term set BEFORE the tf aggregation, so the only shuffle over
  corpus-sized data carries postings for the query terms alone (a few
  rows per matching doc) — the corpus itself never shuffles. The
  postings frame (matching docs × query terms) is materialized once
  and reused for document frequencies and scoring, so neither incurs
  a further corpus scan. Doc length rides the explode, so no
  corpus-sized join is ever needed. Top-k is a per-query row_number
  window — Spark's WindowGroupLimit prunes to k per partition before
  the final exchange.
* ``lm_cross_entropy`` with an external ``lm`` frame is one scoring
  pass over the corpus plus a slim id-projection pass (preserving
  zero-bigram docs in the output); self-fit adds a fit pass and a
  vocabulary-count pass (the fit result is materialized — vocabulary²-bounded with
  map-side partial aggregation, not corpus-bounded — so scoring and
  context sums never re-run the fit). Scoring joins the per-doc
  bigram stream against the counts on (w1, w2); for a real corpus the
  LM frame is millions of rows, so this is a sort-merge join (AQE may
  broadcast when it fits — no hint is forced, since the counts and
  context frames are vocabulary-scaled). A Zipf-headed bigram
  co-locates its probe rows in one partition: keep AQE's skew-join
  split on (see docs/scale.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from featurestore_spark.operators.incremental import _foreach_batch
from featurestore_spark.operators.materialize import materialize
from featurestore_spark.operators.probes import verify_disjoint_ids as _verify_disjoint_ids
from featurestore_spark.operators.text import clean_tokens as _clean_tokens


def _normalize_queries(
    queries: DataFrame, query_id_col: str, term_col: str
) -> DataFrame:
    # terms get the SAME normalization the corpus tokenizer applies
    # (trim + lowercase) — an uppercase query term would otherwise
    # silently match nothing; duplicate terms within a query collapse
    # (classic BM25 with query term frequency 1)
    return queries.select(
        F.col(query_id_col).alias("query_id"),
        F.lower(F.trim(F.col(term_col))).alias("term"),
    ).distinct()


def _bm25_score(
    postings: DataFrame,
    stats: DataFrame,
    q: DataFrame,
    *,
    k: int,
    k1: float,
    b: float,
    id_col: str,
    score_decimals: int,
) -> DataFrame:
    """Score materialized query-term postings (doc, dl, term, tf)
    against (n_docs, sum_dl) stats. Document frequency is computed
    from the postings themselves — term-filtering preserves every
    posting OF a kept term, so df is exact in both the direct and
    against-index paths."""
    dfreq = postings.groupBy("term").agg(
        F.count("*").cast("double").alias("_df")
    )
    n = F.col("n_docs").cast("double")
    avgdl = F.col("sum_dl") / n  # dl are integers: sum is exact, so
    # avgdl (and every score) is identical however the index was
    # merged or partitioned
    idf = F.log(F.lit(1.0) + (n - F.col("_df") + 0.5) / (F.col("_df") + 0.5))
    sat = (F.col("_tf") * (k1 + 1.0)) / (
        F.col("_tf") + k1 * (1.0 - b + b * F.col("_dl") / avgdl)
    )
    scored = (
        postings.join(F.broadcast(q), "term")
        .join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("query_id", "_id")
        .agg(F.round(F.sum(idf * sat), score_decimals).alias("score"))
    )

    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", F.col("_id").alias(id_col), "score")
    )


def bm25_index(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> tuple[DataFrame, DataFrame]:
    """Build the persistable BM25 inverted index: ``(postings,
    stats)`` where postings = (term, doc_id, tf, dl) — one row per
    distinct (term, doc) — and stats is a single row (n_docs,
    sum_dl). Persist postings partitioned (or bucketed) BY TERM so
    query-time term filters become partition pruning instead of a
    corpus-index scan; stats holds the SUM of doc lengths (not the
    average) so merged/unioned indexes recompute avgdl exactly
    (integer-valued dl sums are exact in doubles)."""
    from featurestore_spark.operators.materialize import plan_fence

    toked = docs.select(
        F.col(id_col).alias("doc_id"), _clean_tokens(text_col).alias("_toks")
    )
    # fence before the explode (InferFiltersFromGenerate re-inlining;
    # see nb_scores)
    postings = (
        plan_fence(toked).select(
            "doc_id",
            F.size("_toks").cast("double").alias("dl"),
            F.explode("_toks").alias("term"),
        )
        .groupBy("term", "doc_id", "dl")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    stats = toked.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size("_toks")).cast("double").alias("sum_dl"),
    )
    return postings, stats


def merge_bm25_index(
    a: tuple[DataFrame, DataFrame],
    b: tuple[DataFrame, DataFrame],
    *,
    verify: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Merge two BM25 indexes built over DISJOINT document sets (the
    incremental build: index new partitions, merge into the base —
    counts are additive, so the merge is a union plus a single-row
    stats sum; no corpus re-scan). Overlapping doc sets would double-
    count postings and n_docs; callers own that invariant (checking it
    EXACTLY would cost a full postings join, defeating the incremental
    point). ``verify=True`` runs a cheap sketch probe instead — three
    ``approx_count_distinct(doc_id)`` aggregates (each side + the
    union) — and raises on GROSS overlap (union estimate well below
    the sum of the parts, beyond sketch error); it catches the
    double-ingested-batch misuse for three aggregates' cost, not
    small overlaps."""
    pa, sa = a
    pb, sb = b
    if verify:
        _verify_disjoint_ids(pa, pb, "doc_id", "merge_bm25_index")
    postings = pa.unionByName(pb)
    stats = (
        sa.unionByName(sb)
        .agg(
            F.sum("n_docs").alias("n_docs"),
            F.sum("sum_dl").cast("double").alias("sum_dl"),
        )
    )
    return postings, stats


def bm25_topk_against_index(
    index: tuple[DataFrame, DataFrame],
    queries: DataFrame,
    *,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    term_col: str = "term",
    score_decimals: int = 6,
) -> DataFrame:
    """Top-k per query against a prebuilt :func:`bm25_index` — the
    rolling-corpus serving path: the corpus is never re-read, and with
    postings persisted partitioned by term the semi-join below prunes
    the scan to the query terms' partitions. Result is row-for-row
    identical to :func:`bm25_topk` on the same corpus (test-asserted
    and shared-oracle-verified)."""
    if k < 1:
        raise ValueError(f"bm25_topk_against_index: k must be >= 1, got {k}")
    postings, stats = index
    q = _normalize_queries(queries, query_id_col, term_col)
    terms = q.select("term").distinct()
    matched = materialize(
        postings.join(F.broadcast(terms), "term", "left_semi").select(
            F.col("doc_id").alias("_id"),
            F.col("dl").alias("_dl"),
            "term",
            F.col("tf").alias("_tf"),
        )
    )
    return _bm25_score(
        matched, stats, q,
        k=k, k1=k1, b=b, id_col=id_col, score_decimals=score_decimals,
    )


def bm25_stream_index(
    index_path: str, *, id_col: str = "doc_id", text_col: str = "text"
):
    """`foreachBatch` callback maintaining a BM25 inverted index over a
    document stream — the retrieval-side analog of the incremental
    dedup wrappers: each micro-batch writes its postings and stats under
    ``<index_path>/postings`` and ``<index_path>/stats`` on the shared
    `batch=<id>` protocol (docs/usage.md §6).

    Because a checkpointed stream delivers each document exactly once,
    per-batch postings cover DISJOINT doc sets — the accumulated index
    is just their union, which is exactly :func:`merge_bm25_index`
    semantics; no compaction or in-place rewrite ever happens. Serve
    queries with :func:`read_bm25_index` +
    :func:`bm25_topk_against_index`. Document updates/deletions are
    out of scope (an append-only corpus stream).

    Seed with an initial corpus:
    ``p, s = bm25_index(corpus);
    p.write.parquet(f"{index_path}/postings/batch=seed");
    s.write.parquet(f"{index_path}/stats/batch=seed")``.
    """

    def step(batch_df: DataFrame, read) -> dict:
        postings, stats = bm25_index(batch_df, id_col=id_col, text_col=text_col)
        return {f"{index_path}/postings": postings, f"{index_path}/stats": stats}

    return _foreach_batch("bm25_stream_index", f"{index_path}/postings", step)


def read_bm25_index(spark, index_path: str) -> tuple[DataFrame, DataFrame]:
    """Load the accumulated (postings, stats) state written by
    :func:`bm25_stream_index` for serving: per-batch postings union by
    partition discovery (disjoint doc sets), stats summed to a single
    row — ready for :func:`bm25_topk_against_index`."""
    postings = spark.read.parquet(f"{index_path}/postings").select(
        "term", "doc_id", "tf", "dl"
    )
    stats = (
        spark.read.parquet(f"{index_path}/stats")
        .agg(
            F.sum("n_docs").alias("n_docs"),
            F.sum("sum_dl").cast("double").alias("sum_dl"),
        )
    )
    return postings, stats


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    term_col: str = "term",
    score_decimals: int = 6,
) -> DataFrame:
    """Top-k documents per query under Okapi BM25, direct from the
    corpus (one slim stats pass + one postings pass — see module
    docstring; for repeated query batches build a :func:`bm25_index`
    once instead).

    ``queries`` is a (query_id, term) frame — one row per query term;
    duplicate terms within a query are collapsed (classic BM25 with
    query term frequency 1). Returns (query_id, rank, doc_id, score)
    with rank 1..k ordered by (score desc, doc_id); only documents
    matching at least one query term appear. Scores are rounded to
    ``score_decimals`` BEFORE ranking so the ordering is stable across
    summation orders (ties broken by doc_id).
    """
    if k < 1:
        raise ValueError(f"bm25_topk: k must be >= 1, got {k}")
    q = _normalize_queries(queries, query_id_col, term_col)
    terms = q.select("term").distinct()

    toked = docs.select(
        F.col(id_col).alias("_id"), _clean_tokens(text_col).alias("_toks")
    )
    # single-row corpus stats, carried in-plan (no driver collect)
    stats = toked.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size("_toks")).cast("double").alias("sum_dl"),
    )

    # postings for query terms only: dl is computed alongside the
    # explode so scoring never joins back against a corpus-sized
    # frame; materialized because both dfreq and scoring read it (a
    # second reference would otherwise re-run the corpus scan)
    from featurestore_spark.operators.materialize import plan_fence

    postings = materialize(
        plan_fence(toked).select(
            "_id",
            F.size("_toks").cast("double").alias("_dl"),
            F.explode("_toks").alias("term"),
        )
        .join(F.broadcast(terms), "term", "left_semi")
        .groupBy("_id", "_dl", "term")
        .agg(F.count("*").cast("double").alias("_tf"))
    )
    return _bm25_score(
        postings, stats, q,
        k=k, k1=k1, b=b, id_col=id_col, score_decimals=score_decimals,
    )


def doc_bigrams(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, w1, w2) — one row per adjacent token pair per document.
    Documents with fewer than two tokens contribute no rows."""
    toked = docs.select(
        F.col(id_col).alias("_id"), _clean_tokens(text_col).alias("_toks")
    )
    n = F.size("_toks")
    pairs = F.arrays_zip(
        F.slice(F.col("_toks"), 1, F.greatest(n - 1, F.lit(0))).alias("w1"),
        F.slice(F.col("_toks"), 2, F.greatest(n - 1, F.lit(0))).alias("w2"),
    )
    from featurestore_spark.operators.materialize import plan_fence

    return (
        plan_fence(toked).select("_id", F.explode(pairs).alias("_p"))
        .select("_id", F.col("_p.w1").alias("w1"), F.col("_p.w2").alias("w2"))
    )


def merge_bigram_lm(*lms: DataFrame) -> DataFrame:
    """Merge bigram-LM count frames additively (union + sum): the
    incremental fit — count new document batches with
    :func:`fit_bigram_lm` and fold them in; counts are associative so
    any merge order gives the same model. Remember that ``vocab_size``
    passed to :func:`lm_cross_entropy` must track the distinct tokens
    of the MERGED fitting corpus."""
    if not lms:
        raise ValueError("merge_bigram_lm: at least one lm frame required")
    merged = lms[0]
    for other in lms[1:]:
        merged = merged.unionByName(other)
    return merged.groupBy("w1", "w2").agg(F.sum("c").alias("c"))


def fit_bigram_lm(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(w1, w2, c) bigram counts over the corpus — the "model" frame
    for :func:`lm_cross_entropy`. One aggregation with map-side
    partial combine; the result is vocabulary²-bounded (in practice
    far smaller), not corpus-bounded."""
    return (
        doc_bigrams(docs, id_col=id_col, text_col=text_col)
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c"))
    )


def lm_cross_entropy(
    docs: DataFrame,
    lm: DataFrame | None = None,
    *,
    vocab_size: int | None = None,
    add_k: float = 1.0,
    id_col: str = "doc_id",
    text_col: str = "text",
    decimals: int = 6,
) -> DataFrame:
    """Per-document bigram cross-entropy under an add-k-smoothed LM —
    the CCNet-style quality signal (low = fluent/common, high =
    gibberish or out-of-domain; CCNet buckets the corpus by the
    per-doc score of a reference-domain LM).

    ``lm``: (w1, w2, c) counts from :func:`fit_bigram_lm`; when None
    the model is fit on ``docs`` itself (two corpus scans). With an
    external ``lm``, ``vocab_size`` (V of the FITTING corpus) must be
    given — the smoothed probability is
    ``p(w2|w1) = (c(w1,w2)+k) / (c(w1·)+k·V)`` where ``c(w1·)`` sums
    the model counts for context w1, so unseen contexts degrade to the
    uniform 1/V floor rather than dividing by zero.

    Returns every input document: (id, n_bigrams, cross_entropy,
    perplexity); docs with < 2 tokens get n_bigrams = 0 and NULL
    scores. cross_entropy is avg(-ln p) rounded to ``decimals``
    (rounded before exp, so perplexity is deterministic too).
    """
    if add_k <= 0:
        raise ValueError(f"lm_cross_entropy: add_k must be > 0, got {add_k}")
    if lm is not None and vocab_size is None:
        raise ValueError(
            "lm_cross_entropy: vocab_size is required with an external lm "
            "(it is V of the corpus the lm was fit on)"
        )
    big = doc_bigrams(docs, id_col=id_col, text_col=text_col)
    if lm is None:
        # materialized: ctx and the scoring join both read the counts,
        # and each unmaterialized reference would re-run the fit scan
        lm = materialize(big.groupBy("w1", "w2").agg(F.count("*").alias("c")))
    ctx = lm.groupBy("w1").agg(F.sum("c").alias("c1"))

    # no broadcast hint on lm/ctx: both are vocabulary-scaled (ctx is
    # one row per distinct context token — easily 10^7+ on a real
    # corpus), so AQE decides; the joins degrade gracefully to
    # sort-merge
    scored = big.join(lm, ["w1", "w2"], "left").join(ctx, "w1", "left")
    if vocab_size is None:
        # self-fit: V = distinct tokens of docs, computed in-plan as a
        # single-row broadcast (no driver collect)
        from featurestore_spark.operators.materialize import plan_fence

        toked = plan_fence(
            docs.select(_clean_tokens(text_col).alias("_ta"))
        ).select(F.explode("_ta").alias("_t"))
        vfr = toked.agg(F.count_distinct("_t").cast("double").alias("_v"))
        scored = scored.crossJoin(F.broadcast(vfr))
        v = F.col("_v")
    else:
        v = F.lit(float(vocab_size))
    neg_log_p = -F.log(
        (F.coalesce(F.col("c"), F.lit(0)).cast("double") + F.lit(add_k))
        / (F.coalesce(F.col("c1"), F.lit(0)).cast("double") + F.lit(add_k) * v)
    )
    per_doc = scored.groupBy("_id").agg(
        F.count("*").alias("n_bigrams"),
        F.round(F.avg(neg_log_p), decimals).alias("cross_entropy"),
    )
    all_ids = docs.select(F.col(id_col).alias("_aid"))
    # eqNullSafe: a NULL id's aggregate row would be silently dropped
    # by an equi-join (NULL != NULL); note that groupBy has already
    # merged ALL NULL-id docs into one aggregate — NULL ids are not
    # distinguishable from each other
    return (
        all_ids.join(
            per_doc, all_ids["_aid"].eqNullSafe(per_doc["_id"]), "left"
        )
        .drop("_id")
        .withColumnRenamed("_aid", "_id")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce(F.col("n_bigrams"), F.lit(0)).alias("n_bigrams"),
            "cross_entropy",
            F.round(F.exp("cross_entropy"), decimals).alias("perplexity"),
        )
    )


def ccnet_perplexity_buckets(
    docs: DataFrame,
    lm: DataFrame | None = None,
    *,
    vocab_size: int | None = None,
    add_k: float = 1.0,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CCNet's head/middle/tail split (Wenzek et al. 2020, §4.3):
    within each ``group_col`` partition (CCNet: language), order
    documents by LM score ascending and cut the corpus into thirds by
    TOKEN MASS — head is the most-fluent third (closest to the
    reference domain), tail the least. Returns every input document:

    (id, group, n_tokens, cross_entropy, bucket)

    with bucket in ('head', 'middle', 'tail'). The boundary is
    assigned at the SCORE-VALUE level: all docs sharing one rounded
    cross-entropy value get the same bucket (a value lands in head iff
    the cumulative token mass through it fits in the first third,
    3*cum <= total — integer arithmetic on token counts, so the split
    is deterministic across engines and never tie-broken by id).
    Unscoreable docs (< 2 tokens, NULL cross-entropy) land in tail.

    100-TB shape: the corpus is never sorted whole — the cumulative
    walk runs over the (group, score) HISTOGRAM (bounded by distinct
    rounded scores per group, ~1e6 rows at 6 decimals, not by docs),
    and docs pick up their bucket by joining back on (group, score);
    the corpus-sized work is one hash aggregate and one equi-join
    that AQE typically broadcasts (the histogram side is small). A
    doc-level `row_number` window here would serialize each language
    through one task — exactly the shape this avoids.

    ``lm`` / ``vocab_size`` / ``add_k`` pass through to
    :func:`lm_cross_entropy` (CCNet fits the model on the reference
    domain — e.g. Wikipedia — and scores the crawl with it; the
    self-fit default is the q_lm_perplexity configuration)."""
    from pyspark.sql import Window

    scored = lm_cross_entropy(
        docs,
        lm,
        vocab_size=vocab_size,
        add_k=add_k,
        id_col=id_col,
        text_col=text_col,
    ).select(id_col, "cross_entropy")
    base = docs.select(
        F.col(id_col),
        F.col(group_col),
        F.size(_clean_tokens(text_col)).cast("long").alias("n_tokens"),
    )
    # left + null-safe: a NULL-id doc must come back out (scored NULL,
    # bucket tail), not vanish in a null-unsafe inner join — the same
    # eqNullSafe discipline lm_cross_entropy itself uses
    d = (
        base.join(
            scored.withColumnRenamed(id_col, "_sid"),
            base[id_col].eqNullSafe(F.col("_sid")),
            "left",
        )
        .drop("_sid")
    )
    hist = (
        d.where(F.col("cross_entropy").isNotNull())
        .groupBy(group_col, "cross_entropy")
        .agg(F.sum("n_tokens").alias("_w"))
    )
    w_ord = Window.partitionBy(group_col).orderBy(F.col("cross_entropy").asc())
    cum = hist.withColumn(
        "_cum",
        F.sum("_w").over(w_ord.rowsBetween(Window.unboundedPreceding, 0)),
    ).withColumn("_tot", F.sum("_w").over(Window.partitionBy(group_col)))
    buckets = cum.select(
        F.col(group_col).alias("_bg"),
        F.col("cross_entropy").alias("_bx"),
        F.when(3 * F.col("_cum") <= F.col("_tot"), F.lit("head"))
        .when(3 * F.col("_cum") <= 2 * F.col("_tot"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )
    # null-safe join-back so a NULL GROUP is a real partition (its
    # fluent docs land in head like any other group's), not silently
    # forced to tail; NULL-score docs have no histogram row either
    # way and coalesce to tail
    return (
        d.join(
            buckets,
            d[group_col].eqNullSafe(F.col("_bg"))
            & d["cross_entropy"].eqNullSafe(F.col("_bx")),
            "left",
        )
        .select(
            id_col,
            group_col,
            "n_tokens",
            "cross_entropy",
            F.coalesce(F.col("bucket"), F.lit("tail")).alias("bucket"),
        )
    )


# -- multinomial Naive Bayes text classification ------------------------------


def fit_nb_classifier(
    docs: DataFrame,
    label_col: str,
    *,
    text_col: str = "text",
    tokens: Column | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Fit a multinomial Naive Bayes text classifier — the
    SQL-expressible stand-in for the fastText-style linear classifiers
    used for corpus quality/domain filtering (CCNet, LLaMA data
    pipelines): fitting is pure counting, so a 100-TB labeled corpus
    fits in one scan. Returns ``(word_counts, class_stats)``:
    word_counts = (label, w, c) token-occurrence counts per class
    (vocabulary × classes bounded); class_stats = (label, n_docs,
    n_tokens). Rows with NULL labels are excluded (same documented
    rule as the other per-group operators). Tokens come from the
    shared `clean_tokens`, so fit and classify can never disagree on
    word boundaries — or pass ``tokens=`` (an array<string> Column
    over `docs`) to fit on a different feature set (e.g. the char
    n-grams of `text.lid_fit`); pass the SAME expression to
    `nb_classify`. If the expression derives from a computed column,
    project that column to an attribute on `docs` first (the
    HOF-inlining trap)."""
    feats = tokens if tokens is not None else _clean_tokens(text_col)
    labeled = docs.where(F.col(label_col).isNotNull()).select(
        F.col(label_col).alias("label"), feats.alias("_toks")
    )
    toks = labeled.select("label", F.size("_toks").alias("_nt"), "_toks")
    # fence before the explode — same InferFiltersFromGenerate
    # re-inlining pathology as nb_scores (see there); the fit's
    # counting scan pays it once per fit
    from featurestore_spark.operators.materialize import plan_fence

    word_counts = (
        plan_fence(toks.select("label", "_toks"))
        .select("label", F.explode("_toks").alias("w"))
        .groupBy("label", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    class_stats = toks.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_nt").alias("n_tokens"),
    )
    return word_counts, class_stats


def _materialize_once(df: DataFrame) -> DataFrame:
    """Memoized `materialize`: the materialized copy is stamped on
    the input frame object, so every later call with the SAME frame
    (the common shape — one fitted model scored repeatedly) reuses
    the first call's localCheckpoint instead of re-running the
    model's counting scan per scoring call (ADVICE r12). The stamp
    lives only as long as the caller holds the model frame — no
    global registry, nothing leaks."""
    from featurestore_spark.operators.materialize import materialize

    cached = getattr(df, "_fs_eager_copy", None)
    if cached is None:
        cached = materialize(df)
        df._fs_eager_copy = cached
    return cached


def nb_scores(
    docs: DataFrame,
    model: tuple[DataFrame, DataFrame],
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    smoothing: float = 1.0,
    score_decimals: int = 4,
    tokens: Column | None = None,
    eager: bool = True,
) -> DataFrame:
    """Per-(document, class) Naive Bayes log-likelihood frame for a
    fitted :func:`fit_nb_classifier` model: ``ln p(c) + Σ_w m_w ln
    p(w|c)`` with add-``smoothing`` estimates over the training
    vocabulary. Returns (id, label, score, n_tokens) — one row per
    doc × class, scores rounded to ``score_decimals`` (stable across
    engines). :func:`nb_classify` is the argmax over this frame;
    binary gates (`text.quality_classify`) consume the raw scores to
    form calibrated log-odds. ``tokens=`` overrides the feature
    extractor — pass the SAME expression the model was fitted with.

    Scale shape: the smoothed-default mass factors out per class
    (``t_d · ln(k/(n_c+kV))``), so the corpus only joins the model for
    (word, class) pairs that actually occur — a sparse join on the
    word key (AQE decides broadcast; the model frame is
    vocabulary-scaled, like the LM scoring join). Class constants and
    the vocabulary size ride single-row/per-class broadcast cross
    joins. Corpus-sized shuffles: the (doc, word) multiplicity
    aggregate and the word-keyed model join; everything downstream is
    (doc × classes)-bounded (plan-audited).

    EAGER: both model frames materialize at call time (see
    `operators.materialize`) because each fans out to TWO consumers
    here (word_counts → the vocabulary-size aggregate AND the
    correction join; class_stats → the corpus-size aggregate AND the
    per-class constants) — left lazy, a freshly-FIT model re-runs its
    whole counting scan (corpus scan + token explode + groupBy) once
    per consumer: q_lid_classify's executed plan showed SIX corpus
    FileScans and zero ReusedExchange before this barrier (r12).
    The materialized copy is MEMOIZED per model-frame object, so
    repeated scoring calls against the same fitted model (a quality
    gate scoring threshold + argmax, a serving loop) pay the
    counting scan once, not per call (ADVICE r12). Models read back
    from a persisted table can skip the copy entirely with
    ``eager=False`` — correct whenever each model frame is a plain
    table/parquet read (the scan is its own barrier); leave True for
    freshly-fit models."""
    word_counts, class_stats = model
    if eager:
        word_counts = _materialize_once(word_counts)
        class_stats = _materialize_once(class_stats)
    k = float(smoothing)
    v_row = word_counts.agg(
        F.count_distinct("w").cast("double").alias("_v")
    )
    n_row = class_stats.agg(F.sum("n_docs").cast("double").alias("_nd"))
    consts = (
        class_stats.crossJoin(F.broadcast(v_row))
        .crossJoin(F.broadcast(n_row))
        .select(
            "label",
            F.log(F.col("n_docs") / F.col("_nd")).alias("_prior"),
            # a model with NO features at all (every labeled doc had
            # zero tokens: n_tokens = V = 0) degrades to prior-only
            # classification instead of ln(k/0)
            F.when(
                F.col("n_tokens") + F.lit(k) * F.col("_v") > 0,
                F.log(
                    F.lit(k) / (F.col("n_tokens") + F.lit(k) * F.col("_v"))
                ),
            ).otherwise(F.lit(0.0)).alias("_base"),
        )
    )
    toked = docs.select(
        F.col(id_col).alias("_id"),
        (tokens if tokens is not None else _clean_tokens(text_col)).alias(
            "_toks"
        ),
    )
    td = toked.select("_id", F.size("_toks").alias("_td"))
    # plan_fence before the explode: InferFiltersFromGenerate inserts
    # a `size(_toks) > 0` filter UNDER the Generate, and pushing it
    # past the projection re-inlines the whole token expression (for
    # HOF extractors like char_ngrams, an interpreted re-evaluation
    # per row) into the Filter — measured 11.9s -> 1.7s on the sf0.1
    # LID gram explode (PLANS r12). The fence pins the filter to the
    # computed array.
    from featurestore_spark.operators.materialize import plan_fence

    # r15 examined-and-REJECTED: joining the exploded gram stream
    # directly to the model and aggregating once by (doc, class)
    # (Σ ln((c+k)/k) over occurrences ≡ Σ m·ln((c+k)/k)) removes this
    # exchange — but the model join MULTIPLIES its input by the
    # matching classes, so the un-aggregated occurrence stream blows
    # up before the (doc, class) aggregation can collapse it.
    # Measured (alternating same-protocol runs, per-arm minima):
    # q_nb_classify 1.51 -> 2.37s, q_lid_classify 3.23 -> 5.53s.
    # The (doc, gram) pre-aggregation is load-bearing: it reduces the
    # join-multiplier's input (guide §2.3 "aggregate before you
    # shuffle" — which includes aggregating before a join that fans
    # out). Kept as-is.
    tok = (
        plan_fence(toked).select("_id", F.explode("_toks").alias("w"))
        .groupBy("_id", "w")
        .agg(F.count(F.lit(1)).alias("_m"))
    )
    # correction over the smoothed default: m * ln((c+k)/k) — the
    # (n_c + kV) denominators cancel against the default term
    corr = (
        tok.join(word_counts, "w")
        .groupBy("_id", "label")
        .agg(
            F.sum(
                F.col("_m") * F.log((F.col("c") + F.lit(k)) / F.lit(k))
            ).alias("_corr")
        )
    )
    return (
        td.crossJoin(F.broadcast(consts))
        .join(corr, ["_id", "label"], "left")
        .select(
            F.col("_id").alias(id_col),
            "label",
            F.round(
                F.col("_prior")
                + F.col("_td") * F.col("_base")
                + F.coalesce(F.col("_corr"), F.lit(0.0)),
                score_decimals,
            ).alias("score"),
            F.col("_td").alias("n_tokens"),
        )
    )


def nb_classify(
    docs: DataFrame,
    model: tuple[DataFrame, DataFrame],
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    smoothing: float = 1.0,
    score_decimals: int = 4,
    tokens: Column | None = None,
) -> DataFrame:
    """Classify documents with a fitted :func:`fit_nb_classifier`
    model: label = argmax over classes of the :func:`nb_scores`
    log-likelihoods. Returns (id, label_pred, score); zero-token docs
    get the max-prior class. Scores are rounded BEFORE the argmax so
    ranking is stable across engines; ties break on the label.
    ``tokens=`` overrides the feature extractor — pass the SAME
    expression the model was fitted with (see `fit_nb_classifier`).
    Scale shape: see `nb_scores`; the argmax window runs over
    (docs × classes)-bounded rows."""
    scored = nb_scores(
        docs, model,
        text_col=text_col, id_col=id_col, smoothing=smoothing,
        score_decimals=score_decimals, tokens=tokens,
    )
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("label")
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(
            id_col,
            F.col("label").alias("label_pred"),
            "score",
        )
    )


def mine_hard_negatives(
    docs: DataFrame,
    queries: DataFrame,
    positives: DataFrame,
    *,
    k: int = 5,
    depth: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    term_col: str = "term",
    score_decimals: int = 6,
    hits: DataFrame | None = None,
) -> DataFrame:
    """BM25 hard negatives for retriever training (the standard
    DPR/sentence-transformers mining recipe): retrieve the top
    ``depth`` BM25 hits per query, remove the KNOWN positives
    (``positives`` = (query_id, doc_id) pairs), and re-rank the
    survivors 1..k — lexically-close-but-not-relevant documents, the
    negatives that actually teach a dense retriever. Returns
    (query_id, neg_rank, doc_id, score).

    Scale shape: :func:`bm25_topk`'s postings-only shuffle bounds the
    retrieval; the positive removal is an anti-join on (query, doc) —
    AQE decides broadcast, since a production positives table
    (training pairs) can itself be large — and the re-rank window
    runs over <= depth rows per query (WindowGroupLimit territory).
    Depth must exceed k by enough to survive positive removal; rows
    short of k negatives return what exists (no padding).

    Pass ``hits`` (a (query_id, rank, doc_id, score) frame ranked at
    least ``depth`` deep — a persisted :func:`bm25_topk` result) to
    skip the internal retrieval pass: when the positives are
    themselves derived from the same ranking (top-1 as the simulated
    label), scoring the corpus once and mining from the shared frame
    halves the corpus scans; the caller owns the frame's consistency
    with ``docs``/``queries``.

    FAILURE MODE the operator cannot detect (ADVICE r14): a ``hits``
    frame ranked SHALLOWER than ``depth`` silently mines from fewer
    candidates than the depth contract promises — there is no
    runtime check because verifying the frame's max rank would cost
    a full extra job per call. If the mined negatives look thin,
    audit that the shared frame was built with ``k >= depth``."""
    if k < 1 or depth < k:
        raise ValueError(
            f"mine_hard_negatives: need depth >= k >= 1, got k={k} depth={depth}"
        )
    if hits is None:
        hits = bm25_topk(
            docs, queries,
            k=depth, id_col=id_col, text_col=text_col,
            query_id_col=query_id_col, term_col=term_col,
            score_decimals=score_decimals,
        )
    else:
        # a deeper-ranked frame mines the same negatives as an
        # internal depth-k retrieval would — cut it to the contract
        hits = hits.where(F.col("rank") <= depth)
    pos = positives.select(
        F.col(query_id_col).alias("query_id"), F.col(id_col)
    )
    negs = hits.join(pos, ["query_id", id_col], "left_anti")
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy("rank")
    return (
        negs.withColumn("neg_rank", F.row_number().over(w))
        .where(F.col("neg_rank") <= k)
        .select("query_id", "neg_rank", id_col, "score")
    )
