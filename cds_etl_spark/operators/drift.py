"""Distribution-drift monitoring: binned histograms + PSI.

The production-ML counterpart of qs159's batch PSI query: a standing
BASELINE histogram (the reference window, persisted as parquet) and a
per-batch comparison producing one PSI row per group — the monitor a
100 TB/day ingest alarms on before bad data reaches training.

Determinism contract (shared with qs159): bin edges divide by a
power-of-two width (exact IEEE scaling — floor cannot straddle
engines or runs), counts are exact integers, Laplace +1 smoothing
keeps empty bins finite, and the final ≤``n_bins``-term float sum is
rounded at 4 dp. Scale shape: binning is a scan-fused projection, the
histogram is one narrow groupBy, and PSI computes over
(groups × bins) rows — never corpus-sized state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def bin_histogram(
    df: DataFrame,
    value_col: str = "value",
    group_col: str = "event_type",
    width: float = 32.0,
    n_bins: int = 16,
) -> DataFrame:
    """(group, bin, c): fixed-width clamped bins, one narrow groupBy.
    ``width`` should stay a power of two (exact scaling)."""
    b = df.select(
        F.col(group_col).alias("grp"),
        F.least(
            F.greatest(
                F.floor(F.col(value_col) / width).cast("bigint"), F.lit(0)
            ),
            F.lit(n_bins - 1),
        ).alias("bin"),
    )
    return b.groupBy("grp", "bin").agg(F.count(F.lit(1)).alias("c"))


def psi(
    current: DataFrame, baseline: DataFrame, n_bins: int = 16
) -> DataFrame:
    """PSI per group between two ``bin_histogram`` outputs:
    Σ (p_cur − p_base)·ln(p_cur/p_base) with +1 smoothing over the
    FULL ``n_bins`` grid. Returns (grp, n_current, n_baseline, psi).
    The +1/(t + n_bins) smoothing gives never-observed bins real
    mass, so they contribute terms — summing only the occupied bins
    understated PSI against the formula's own denominator (r10
    intent-audit repair, matching qs159)."""
    u = current.select(
        "grp", "bin", F.col("c").alias("c1"), F.lit(0).alias("c2")
    ).unionByName(
        baseline.select(
            "grp", "bin", F.lit(0).alias("c1"), F.col("c").alias("c2")
        )
    )
    occ = u.groupBy("grp", "bin").agg(
        F.sum("c1").alias("c1"), F.sum("c2").alias("c2")
    )
    spark = current.sparkSession
    grid = (
        u.select("grp")
        .distinct()
        .crossJoin(
            spark.range(int(n_bins)).select(F.col("id").alias("bin"))
        )
    )
    p = grid.join(occ, ["grp", "bin"], "left").fillna(
        0, subset=["c1", "c2"]
    )
    from pyspark.sql import Window

    wg = Window.partitionBy("grp")
    p = p.withColumn("t1", F.sum("c1").over(wg)).withColumn(
        "t2", F.sum("c2").over(wg)
    )
    p1 = (F.col("c1") + 1.0) / (F.col("t1") + float(n_bins))
    p2 = (F.col("c2") + 1.0) / (F.col("t2") + float(n_bins))
    return (
        p.groupBy("grp")
        .agg(
            F.max("t1").cast("bigint").alias("n_current"),
            F.max("t2").cast("bigint").alias("n_baseline"),
            F.round(F.sum((p1 - p2) * F.log(p1 / p2)), 4).alias("psi"),
        )
    )


def build_drift_baseline(
    df: DataFrame,
    path: str,
    value_col: str = "value",
    group_col: str = "event_type",
    width: float = 32.0,
    n_bins: int = 16,
) -> None:
    """Persist the reference-window histogram. The baseline is the
    monitor's only state: (groups × bins) parquet rows, rebuilt
    deliberately (a new reference window is a policy decision, never
    an implicit rolling update that would mask slow drift)."""
    bin_histogram(df, value_col, group_col, width, n_bins).write.mode(
        "overwrite"
    ).parquet(path)


def build_anomaly_baseline(
    df: DataFrame,
    path: str,
    value_col: str = "value",
    group_col: str = "event_type",
) -> None:
    """Persist per-group reference moments (grp, n, mu, sigma) for
    z-score anomaly flagging — the POINT-anomaly sibling of the PSI
    baseline: PSI asks "did the distribution move", this asks "is this
    individual row wild against the reference". Same state policy:
    the baseline is groups-sized parquet, rebuilt deliberately, never
    rolled forward implicitly (a self-updating reference learns to
    love its own anomalies). Uses Spark's numerically stable
    avg/stddev_samp — the reference window can be petabyte-scale, so
    the exact-integer algebra of qs167 (bounded there by its 20-row
    frame) would overflow; moment floats wobble only at the last ulp,
    harmless at z-threshold scale."""
    stats = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(value_col).alias("mu"),
        F.stddev_samp(value_col).alias("sigma"),
    )
    stats.write.mode("overwrite").parquet(path)


def zscore_anomalies(
    batch: DataFrame,
    baseline: DataFrame,
    value_col: str = "value",
    group_col: str = "event_type",
    z: float = 3.0,
) -> DataFrame:
    """Flag rows whose value deviates more than ``z`` reference
    standard deviations from their group's baseline mean. The
    baseline is groups-sized, so the join BROADCASTS — the batch
    never shuffles; output is the flagged rows with a ``zscore``
    column. Degenerate groups (sigma = 0 or NULL, n < 2) and groups
    absent from the baseline flag nothing (inner join + sigma guard):
    an unknown group is a schema event, not a point anomaly."""
    j = batch.join(
        # bcast: BOUNDED caller contract: baseline is groups-sized
        F.broadcast(baseline),
        batch[group_col] == baseline["grp"],
        "inner",
    )
    score = (F.col(value_col) - F.col("mu")) / F.col("sigma")
    return (
        j.filter(
            F.col("sigma").isNotNull()
            & (F.col("sigma") > 0)
            & (F.abs(F.col(value_col) - F.col("mu")) > F.lit(z) * F.col("sigma"))
        )
        .select(*batch.columns, F.round(score, 2).alias("zscore"))
    )


def zscore_anomalies_rolling(
    df: DataFrame,
    n: int = 20,
    z: int = 3,
    id_col: str = "event_id",
    group_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    shard: str = "day",
) -> DataFrame:
    """Trailing-window z-score anomalies (the qs167 semantics: flag
    rows > ``z`` sample stddevs from their group's previous ``n``
    rows, exact integer-cents arithmetic) — in the DAY-SHARDED
    formulation that survives low-cardinality groups at scale.

    The direct window ``partitionBy(group)`` serializes each group
    into ONE task: with 5 event types, a 10M-row corpus sorts on 5
    cores no matter how large the cluster (measured 19.9 s at sf10).
    Here the window partitions by (group, day) and each day-shard
    receives the previous day-shard's last ``n`` rows as CONTEXT
    (tagged, never emitted): every emitted row sees exactly the same
    ``n`` predecessors as the serial formulation, but parallelism is
    groups × days. Correctness precondition — each non-first
    shard holds ≥ ``n`` rows (else a frame would need rows from
    two shards back) — is VALIDATED eagerly against the data and
    violated loudly, not silently; pick ``shard`` ('day', 'week',
    'month' — any date_trunc unit) so the thinnest shard clears it.

    Returns (id, group, value_cents), identical to qs167's output —
    equality-tested against the serial formulation in
    tests/test_drift.py."""
    cents = F.round(F.col(value_col) * 100, 0).cast("long")
    b = df.select(
        F.col(id_col).alias("_id"),
        F.col(group_col).alias("_grp"),
        F.col(ts_col).alias("_ts"),
        F.date_trunc(shard, F.col(ts_col)).alias("_day"),
        cents.alias("_x"),
    ).withColumn("_x2", F.col("_x") * F.col("_x"))
    days = (
        b.select("_grp", "_day")
        .distinct()
        .withColumn(
            "_di",
            F.row_number().over(
                Window.partitionBy("_grp").orderBy("_day")
            ),
        )
    )
    # bcast: CALENDAR distinct (group, day) spine - calendar x groups
    b2 = b.join(F.broadcast(days), ["_grp", "_day"])
    # Precondition: every INTERIOR shard has >= n rows. A thin
    # FIRST shard is safe (no rows exist before it, so context
    # carries all of it and both formulations see identical —
    # possibly short — frames), and a thin LAST shard is safe (it
    # provides context to nobody). Only a thin interior shard can
    # starve its successor's frames of rows that exist further back.
    counts = b2.groupBy("_grp", "_di").agg(
        F.count(F.lit(1)).alias("_c")
    )
    mx = counts.groupBy("_grp").agg(F.max("_di").alias("_mx"))
    short = (
        counts.join(mx, "_grp")
        .filter(
            (F.col("_di") > 1)
            & (F.col("_di") < F.col("_mx"))
            & (F.col("_c") < n)
        )
        .limit(1)
        .collect()
    )
    if short:
        r = short[0]
        raise ValueError(
            f"{shard}-shard ({r['_grp']}, idx {r['_di']}) has only "
            f"{r['_c']} rows < window n={n}; shard context would be "
            f"insufficient — use a coarser `shard` than '{shard}' "
            "or the serial form"
        )
    rn_desc = F.row_number().over(
        Window.partitionBy("_grp", "_di").orderBy(
            F.col("_ts").desc(), F.col("_id").desc()
        )
    )
    ctx = (
        b2.withColumn("_rn", rn_desc)
        .filter(F.col("_rn") <= n)
        .drop("_rn")
        .withColumn("_di", F.col("_di") + 1)
        .withColumn("_ctx", F.lit(True))
    )
    allr = b2.withColumn("_ctx", F.lit(False)).unionByName(ctx)
    win = (
        Window.partitionBy("_grp", "_di")
        .orderBy("_ts", "_id")
        .rowsBetween(-n, -1)
    )
    w = (
        allr.withColumn("_n", F.count("_x").over(win))
        .withColumn("_s1", F.sum("_x").over(win))
        .withColumn("_s2", F.sum("_x2").over(win))
    )
    nn, x = F.col("_n"), F.col("_x")
    s1, s2 = F.col("_s1"), F.col("_s2")
    return (
        w.filter(
            (~F.col("_ctx"))
            & (nn == n)
            & ((nn * s2 - s1 * s1) > 0)
            & (
                (nn * x - s1) * (nn * x - s1) * (nn - F.lit(1))
                > F.lit(z * z) * nn * (nn * s2 - s1 * s1)
            )
        )
        .select(
            F.col("_id").alias(id_col),
            F.col("_grp").alias(group_col),
            x.alias("value_cents"),
        )
    )
