"""Skew and co-location utilities for cluster-scale joins.

- `salted_join`: explicit salting for power-law keys — replicate the
  small side `salt` ways, scatter the big side uniformly; the join key
  becomes (key, salt) so one hot key spreads over `salt` reducers.
  AQE's skew-join split handles *detected* skew after a shuffle
  materializes; salting prevents the hot partition from ever being
  built, and works for aggregations too (`salted_count`).
- `write_bucketed` / `read_bucketed`: persist a table bucketed by its
  join key so repeated joins/aggregations on that key are
  exchange-free (bucketing survives restarts; a `repartition` doesn't).

At 100 TB these are the difference between a straggler task holding
the job for hours and uniform completion.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def _salt_column(df: DataFrame, salt: int) -> Column:
    """Uniform salt in [0, salt): hash of (row position, row content).

    `monotonically_increasing_id` = (partition id << 33) | row index —
    per-row entropy that differs even across identical duplicate rows.
    Content columns are mixed in so the salt stays well-spread even
    under single-partition inputs.

    Retry caveat: a position-derived salt replays identically on task
    retry ONLY when intra-partition row order is deterministic (file
    scans, narrow deterministic pipelines). Immediately downstream of a
    shuffle whose read order is not stable (`repartition()`, shuffled
    joins), a fetch-failure recomputation can reassign salts — the
    SPARK-23207 hazard class, which a pure content hash is immune to.
    Materialize the input (see `operators.materialize`) before salting
    if its order is not deterministic; the identical-duplicate
    scattering is worth that constraint (a content-only salt sends all
    copies of a hot duplicate row to one reducer, silently disabling
    the mitigation)."""
    return F.pmod(
        F.xxhash64(
            F.monotonically_increasing_id(),
            *[F.col(c) for c in df.columns],
        ),
        F.lit(salt),
    ).cast("int")


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    *,
    salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Join with the big side's hot keys scattered over `salt` buckets.

    `small` is replicated `salt`× (explode over the salt range) — use
    only when small is genuinely small or the skew is worth the
    replication. Output matches a plain `big.join(small, on)` for
    `how` in (inner, left, left_semi): exactly one of the small side's
    replicas matches each big row. Right/full outer would emit each
    UNMATCHED small row salt× (every replica survives), so those modes
    are rejected rather than silently wrong (ADVICE r1).

    The salt mixes the row's physical position (partition id + row
    index via `monotonically_increasing_id`) with its content — never
    `rand()` — so a hot key scatters even when its rows are IDENTICAL
    duplicates, the dominant shape in dedup-bound corpora (a
    content-only salt sent all copies to one reducer, silently
    disabling the mitigation). Which salt a row draws never affects
    results: every small-side key exists at every salt value. The
    position term is deterministic under retry only when `big`'s
    intra-partition order is — see `_salt_column`'s retry caveat; for
    inputs straight out of a nondeterministic shuffle, materialize
    first.
    """
    if how not in ("inner", "left", "left_outer", "left_semi"):
        raise ValueError(
            f"salted_join supports inner/left/left_semi, not {how!r}: "
            "outer-replicated small rows would duplicate"
        )
    salted_big = big.withColumn("_salt", _salt_column(big, salt))
    salted_small = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    )
    return salted_big.join(salted_small, [on, "_salt"], how).drop("_salt")


def salted_count(
    df: DataFrame,
    keys: list[str],
    *,
    salt: int = 16,
    count_col: str = "n",
) -> DataFrame:
    """Two-phase count for skewed group keys: partial count per
    (key, salt), then final sum per key — the hot key's rows are
    pre-combined across `salt` reducers before the final (small)
    shuffle. Spark's hash aggregate already does map-side partials;
    salting additionally splits the REDUCE side of a hot key."""
    partial = (
        df.withColumn("_salt", _salt_column(df, salt))
        .groupBy(*keys, "_salt")
        .agg(F.count(F.lit(1)).alias("_pc"))
    )
    return partial.groupBy(*keys).agg(F.sum("_pc").cast("bigint").alias(count_col))


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int,
    *,
    sort_cols: list[str] | None = None,
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Persist bucketed (and optionally sorted) by the join key:
    subsequent equi-joins / groupBys on `bucket_cols` between tables
    with matching bucketing run with NO exchange — the shuffle is
    paid once at write time and amortized over every later join
    (this is the primitive the against-index docstrings' "persist
    bucketed by <key>" notes point at). Requires `saveAsTable`:
    bucket metadata lives in the catalog, `parquet(path)` has
    nowhere to put it. Pick `n_buckets` so one bucket's share fits
    task memory at full scale — buckets are the parallelism FLOOR
    for later scans."""
    if n_buckets < 1:
        raise ValueError(
            f"write_bucketed: n_buckets must be >= 1: {n_buckets}"
        )
    if not bucket_cols:
        raise ValueError("write_bucketed: need at least one bucket column")
    writer = df.write.mode(mode).format(fmt).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)


class BucketedTableSink:
    """Sink-protocol wrapper over :func:`write_bucketed` (ctx keys:
    `table`, `bucket_cols`, `n_buckets`, optional `sort_cols` /
    `fmt` / `mode`) — drops into transform pipelines like
    CSVSink/ParquetSink."""

    def __call__(self, df: DataFrame, ctx) -> DataFrame:
        write_bucketed(
            df,
            ctx["table"],
            ctx["bucket_cols"],
            ctx["n_buckets"],
            sort_cols=ctx.get("sort_cols"),
            fmt=ctx.get("fmt", "parquet"),
            mode=ctx.get("mode", "overwrite"),
        )
        return df

    def apply(self, df, ctx):
        return self(df, ctx)


def is_bucketed_on(
    spark: SparkSession, table: str, bucket_cols: list[str]
) -> bool:
    """True when `table`'s catalog metadata buckets by exactly
    `bucket_cols` (order-sensitive — bucket pruning and join
    co-location key on the full tuple). Guard an against-index
    table's probe with this before assuming its layout."""
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
    meta = {r["col_name"]: r["data_type"] for r in rows}
    cols = meta.get("Bucket Columns", "")
    want = ", ".join(f"`{c}`" for c in bucket_cols)
    return cols.strip("[]") == want
