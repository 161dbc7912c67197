"""Eager materialization barrier with a cluster-durability knob.

Several operators (exact-dup collapse, SRP rep frames, global_ntile's
ranked frame, connected-components rounds, token_budget_sample's slim
frame) materialize an intermediate DataFrame because it fans out to
multiple consumers, feeds an iterative loop, or must yield CONSISTENT
nondeterministic values (`monotonically_increasing_id`) across two
jobs. `materialize()` is the single switch point for HOW that happens,
selected by the Spark conf `spark.featurestore.materialize`:

- ``local`` (default): `localCheckpoint(eager=True)`. Fastest — blocks
  live in executor storage — but NON-REPLICATED: on a real cluster,
  losing one executor mid-operator makes the blocks unrecoverable and
  fails the job. The right default for local[*] testing and
  short-lived jobs.
- ``reliable``: `checkpoint(eager=True)` to the SparkContext checkpoint
  directory (call `sc.setCheckpointDir("hdfs://...")` first). Survives
  any executor loss; costs a write to distributed storage. The right
  mode for 100-TB runs where an operator holds materialized state for
  minutes-to-hours.

Both modes TRUNCATE lineage — a requirement, not an optimization:
iterative consumers (connected components, whose pointer-jumping
rounds self-join the label frame) grow the logical plan geometrically
when lineage survives the barrier. A `persist(DISK_ONLY_2)`-based
mode was tried and removed for exactly that reason: persist keeps the
full logical plan, and a 30-round CC run OOMed the DRIVER during
analysis (exponential tree) while also leaking CacheManager entries.
Durability without external storage is not achievable with a
lineage-truncating barrier, so there is no third mode.

Set once on the session::

    spark.conf.set("spark.featurestore.materialize", "reliable")
    spark.sparkContext.setCheckpointDir("hdfs:///tmp/fs_ckpt")

Every mode runs Spark jobs AT CALL TIME — see docs/usage.md
("Eager operators") for which operators trigger this. Each barrier's
jobs carry the description ``fs:materialize:<calling function>`` in
the Spark UI and REST API.
"""

from __future__ import annotations

import sys

from pyspark.sql import DataFrame

from featurestore_spark.session import _job_description

MATERIALIZE_CONF = "spark.featurestore.materialize"
_MODES = ("local", "reliable")


def materialize(df: DataFrame) -> DataFrame:
    """Eagerly materialize `df` per the session's durability mode.

    The checkpoint's jobs are described as
    ``fs:materialize:<calling function>``; the caller's own job
    description (if any) is restored afterwards. The job group is left
    alone."""
    mode = df.sparkSession.conf.get(MATERIALIZE_CONF, "local")
    if mode not in _MODES:
        raise ValueError(
            f"unknown {MATERIALIZE_CONF}={mode!r}; expected one of {_MODES}"
        )
    sc = df.sparkSession.sparkContext
    if mode == "reliable" and sc.getCheckpointDir() is None:
        raise ValueError(
            f"{MATERIALIZE_CONF}=reliable requires "
            "SparkContext.setCheckpointDir(...) to be set"
        )
    with _job_description(
        sc, f"fs:materialize:{sys._getframe(1).f_code.co_name}"
    ):
        if mode == "local":
            return df.localCheckpoint(eager=True)
        return df.checkpoint(eager=True)


def fan_out(df: DataFrame) -> DataFrame:
    """Scale-adaptive input fan-out for per-row-HEAVY operators
    (optimization guide §2.5 "input skew"): a small table written as
    one file/row group yields a one-task scan no matter the core
    count — `maxPartitionBytes` cannot split inside a row group — so
    an operator whose cost is per-row compute (the Gopher repetition
    kernel, NB/LID gram explodes, main-content block scoring) runs on
    ONE core of N. When the input frame plans to fewer than half the
    session's parallelism, round-robin repartition to the session
    default; otherwise pass through untouched. On real multi-split
    inputs (any table at scale) the check is a driver-side no-op and
    no exchange is added.

    Apply ONLY where per-row compute dominates: for shuffle-bound
    pipelines (LSH banding, joins, aggregations) the added exchange +
    task fan-out of a tiny input was MEASURED as a net loss at sf0.1
    (q_minhash_pairs 2.3s -> 3.7s, q_incremental_dedup 7s -> 16s —
    the r14 load-level-fanout rejection), which is why this sits in
    chosen operators and not in the table loader.

    DRIVER COST (ADVICE r14): the partition probe
    (`df.rdd.getNumPartitions()`) forces a full physical-planning
    pass of the upstream plan on the driver and observes pre-AQE
    partitioning. The operators that call this sit at or near their
    pipeline's scan (small composed plans), where the extra analysis
    is microseconds; do NOT add new call sites deep inside large
    composed plans without measuring driver-side planning time.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    try:
        cur = df.rdd.getNumPartitions()
    except Exception:
        return df
    if 2 * cur >= par:
        return df
    return df.repartition(par)


def plan_fence(df: DataFrame) -> DataFrame:
    """Zero-cost Catalyst fence: re-emit every column through a
    one-element ``explode`` (a Generate node), so downstream filters
    evaluate the columns AS COMPUTED instead of inlining their
    definitions.

    Why: when a filter references an expensive derived column — the
    rule operators' ``keep``, a conjunction over a dozen interpreted
    HOF folds — Catalyst substitutes the alias chain into the
    predicate while pushing it down, duplicating every shared
    subexpression across the conjuncts (HOF expressions are
    interpreted, so there is no runtime common-subexpression
    elimination to save it). Generator outputs cannot be
    substituted, so the fence pins the filter above the projection
    pipeline with all sharing intact — unlike `materialize`, the plan
    stays lazy and single-scan, and the fence costs one one-element
    explode per row.

    History: the fence was introduced for `gopher_repetition_rules`'
    former pure-Column formulation, where at sf0.1 ``.where("keep")``
    turned a 9-zip/11-fold plan into a 90-zip/28-fold one and 10s into
    46s. Its callers now are the HOF-fold rule operators (e.g.
    `text.gopher_doc_rules`, `curation.c4_line_filter`), the explodes
    over computed arrays, and `gopher_repetition_rules`' Arrow
    kernel, whose ``keep`` filter would otherwise be pushed through
    `fan_out`'s repartition onto a single-split scan (measured on a
    one-file 250-doc shard through curate_corpus('gopher') →
    dedup_corpus → redact_pii: the kernel ran in one task, and the
    repartition moved to the end, writing 4 files instead of 1).

    Trade-off: EXTERNAL cheap predicates (partition pruning on source
    columns) also stop at the fence — filter source columns BEFORE a
    fenced operator, not after."""
    from pyspark.sql import functions as F

    row = F.explode(F.array(F.struct(*[F.col(c) for c in df.columns])))
    return df.select(row.alias("_fenced")).select("_fenced.*")
