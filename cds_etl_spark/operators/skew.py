"""Skew-mitigation utilities: salted aggregation and salted broadcast
join.

AQE's skew-join splitting (on in session.RUNTIME_CONFS) handles skewed
SORT-MERGE joins automatically; these helpers cover the two shapes AQE
does not re-plan:

* `salted_agg` — a groupBy where a handful of hot keys dominate (the
  many_to_many file↔sample edge of the reference's model is exactly
  this shape at scale). Two-level aggregation: partial agg on
  (key, salt) spreads a hot key over `buckets` reducers, then a final
  agg on key merges the per-salt partials. Cost: one extra (tiny)
  shuffle over the already-reduced partials.
* `salted_broadcast_join` — replicate the small side `buckets`× with a
  salt column, salt the big side randomly, join on (key, salt): every
  executor core takes 1/buckets of a hot key's rows. Only needed when
  the big side must NOT be shuffled (else AQE skew-split of SMJ wins).

Salt is `pmod(hash(unique_col), buckets)` when a unique column is
available (deterministic, test-friendly) or `floor(rand()*buckets)`
otherwise.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SALT = "_salt"


def with_salt(df: DataFrame, buckets: int, det_col: str | None = None) -> DataFrame:
    salt = (
        F.pmod(F.hash(F.col(det_col)), F.lit(buckets))
        if det_col
        else F.floor(F.rand() * buckets).cast("int")
    )
    return df.withColumn(SALT, salt)


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[Column, Column]],
    buckets: int = 16,
    det_col: str | None = None,
) -> DataFrame:
    """Two-level skew-safe aggregation.

    `aggs` maps output name → (partial_expr, merge_expr), e.g.
        {"n":     (F.count(F.lit(1)),  F.sum("n")),
         "total": (F.sum("value"),     F.sum("total"))}
    Algebraic aggregates only (count/sum/min/max/avg-as-sum+count):
    the partial must be mergeable by the merge expr.
    """
    partial = (
        with_salt(df, buckets, det_col)
        .groupBy(*keys, SALT)
        .agg(*[expr.alias(name) for name, (expr, _) in aggs.items()])
    )
    return partial.groupBy(*keys).agg(
        *[merge.alias(name) for name, (_, merge) in aggs.items()]
    )


def salted_broadcast_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    buckets: int = 8,
    det_col: str | None = None,
) -> DataFrame:
    """Inner join with the small side replicated `buckets`× and
    broadcast, the big side salted — a hot key's rows split across
    `buckets` parallel streams instead of one."""
    salts = big.sparkSession.range(buckets).select(
        F.col("id").cast("int").alias(SALT)
    )
    small_rep = small.crossJoin(salts)
    return (
        with_salt(big, buckets, det_col)
        # bcast: BOUNDED operator contract: caller-asserted small side, replicated x buckets for salting
        .join(F.broadcast(small_rep), [on, SALT], "inner")
        .drop(SALT)
    )


def spread_scan(df: DataFrame, *keys: str, factor: int = 4) -> DataFrame:
    """Scale-adaptive repartition-after-read (input skew: one small or
    unsplittable file yields a one-split scan, serializing every
    row-local stage built on it — spark_optimization_guide §2.5).

    When the plan's scan parallelism is below the session's core count,
    repartition to ``factor * cores`` on ``keys`` (deterministic hash
    spread; round-robin when no key is given). When the scan already
    has at least ``cores`` splits — the normal case at real scale —
    return ``df`` unchanged so the extra exchange is never paid where
    it cannot help.
    """
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= cores:
        return df
    n = cores * factor
    if keys:
        return df.repartition(n, *[F.col(k) for k in keys])
    return df.repartition(n)
