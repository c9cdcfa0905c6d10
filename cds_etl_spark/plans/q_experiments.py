"""Experimentation / causal-inference family: CUPED variance
reduction, Benjamini–Hochberg FDR over per-metric z-tests,
Cochran–Mantel–Haenszel pooled odds ratio, Jarque–Bera normality,
Granger-style lagged predictive regression, and exact-covariate
matching ATT (qs275–qs280) — the experiment-analysis surface beside
the DiD (qs216), event-study (qs223) and proportion-z (qs168)
blocks. A data platform that curates training corpora also measures
interventions on them; these are the standard estimators.

Determinism doctrine (the qs272 lesson): every query aggregates to
EXACT integers (cents / counts / centered powers in
BIGINT/DECIMAL(38)), pivots to one row (or a handful of
epilogue rows), and only then runs a FIXED scalar double expression
— identical IEEE op trees on both engines, so no summation-order
noise can reach the ROUNDed output. Registration contract:
cds_etl_spark/plans/registry.py.

Reference parity: the reference's validation-report surface
(/root/reference/cds_transformation_functions.py:247-299) motivates
the audit framing; the estimators themselves are the LLM-pipeline
extension surface (SURVEY.md §2.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cds_etl_spark.catalog import load_table
from cds_etl_spark.plans.registry import query

# --------------------------------------------------------------------------
# qs275 CUPED-adjusted lift (pre-period covariate variance reduction)
# --------------------------------------------------------------------------


@query(
    "qs275_cuped_lift",
    oracle="""
    WITH u AS (
      SELECT user_id % 2 AS arm,
             SUM(CASE WHEN date_part('day', ts) <= 15
                 THEN CAST(ROUND(value * 100, 0) AS BIGINT)
                 ELSE 0 END) AS p,
             SUM(CASE WHEN date_part('day', ts) > 15
                 THEN CAST(ROUND(value * 100, 0) AS BIGINT)
                 ELSE 0 END) AS q
      FROM events GROUP BY user_id),
    w AS (
      SELECT
        SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n0,
        SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n1,
        SUM(CASE WHEN arm = 0 THEN p ELSE 0 END) AS sp0,
        SUM(CASE WHEN arm = 1 THEN p ELSE 0 END) AS sp1,
        SUM(CASE WHEN arm = 0 THEN q ELSE 0 END) AS sq0,
        SUM(CASE WHEN arm = 1 THEN q ELSE 0 END) AS sq1,
        SUM(p * p) AS spp, SUM(p * q) AS spq, SUM(q * q) AS sqq,
        COUNT(*) AS nn
      FROM u),
    d AS (
      SELECT CAST(n0 AS DOUBLE) AS n0, CAST(n1 AS DOUBLE) AS n1,
             CAST(nn AS DOUBLE) AS nn,
             CAST(sp0 AS DOUBLE) AS sp0, CAST(sp1 AS DOUBLE) AS sp1,
             CAST(sq0 AS DOUBLE) AS sq0, CAST(sq1 AS DOUBLE) AS sq1,
             CAST(spp AS DOUBLE) AS spp, CAST(spq AS DOUBLE) AS spq,
             CAST(sqq AS DOUBLE) AS sqq
      FROM w),
    e AS (
      SELECT n0, n1, nn, sp0, sp1, sq0, sq1,
             (nn * spq - (sp0 + sp1) * (sq0 + sq1))
               / (nn * spp - (sp0 + sp1) * (sp0 + sp1)) AS theta,
             (nn * spq - (sp0 + sp1) * (sq0 + sq1))
               * (nn * spq - (sp0 + sp1) * (sq0 + sq1))
               / ((nn * spp - (sp0 + sp1) * (sp0 + sp1))
                  * (nn * sqq - (sq0 + sq1) * (sq0 + sq1))) AS rho2
      FROM d)
    SELECT CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
           ROUND((sq1 / n1 - sq0 / n0) / 100, 4) AS lift_raw,
           ROUND((sq1 / n1 - theta * (sp1 / n1 - (sp0 + sp1) / nn)
                  - (sq0 / n0
                     - theta * (sp0 / n0 - (sp0 + sp1) / nn)))
                 / 100, 4) AS lift_cuped,
           ROUND(theta, 6) AS theta,
           ROUND(100.0 * rho2, 2) AS var_reduction_pct
    FROM e
    """,
)
def qs275(spark: SparkSession, sf: str) -> DataFrame:
    """CUPED (Controlled-experiment Using Pre-Experiment Data)
    variance-reduced lift: per-user pre-period (days 1–15) spend is
    the covariate, post-period (days 16–30) spend the metric, arms
    by user-id parity. θ = cov(pre,post)/var(pre) pooled; adjusted
    metric = post − θ·(pre − mean(pre)); the variance-reduction
    fraction is ρ². The standard experimentation estimator beside
    qs216's DiD and qs223's event study.

    Determinism: per-user cents sums are exact BIGINT; per-arm and
    pooled moments pivot into ONE row; θ/ρ²/lifts are a fixed pure-
    arithmetic double tree (no libm), so both engines agree bitwise.
    Plan: one scan → user-keyed partial agg → one-row epilogue; no
    join, no window."""
    ev = load_table(spark, sf, "events")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    pre = F.dayofmonth("ts") <= 15
    u = ev.groupBy((F.col("user_id") % 2).alias("arm"), "user_id").agg(
        F.sum(F.when(pre, cents).otherwise(0)).alias("p"),
        F.sum(F.when(~pre, cents).otherwise(0)).alias("q"),
    )
    w = u.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("n0"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("arm") == 0, F.col("p")).otherwise(0)).alias("sp0"),
        F.sum(F.when(F.col("arm") == 1, F.col("p")).otherwise(0)).alias("sp1"),
        F.sum(F.when(F.col("arm") == 0, F.col("q")).otherwise(0)).alias("sq0"),
        F.sum(F.when(F.col("arm") == 1, F.col("q")).otherwise(0)).alias("sq1"),
        F.sum(F.col("p") * F.col("p")).alias("spp"),
        F.sum(F.col("p") * F.col("q")).alias("spq"),
        F.sum(F.col("q") * F.col("q")).alias("sqq"),
        F.count(F.lit(1)).alias("nn"),
    )
    dbl = {
        c: F.col(c).cast("double").alias(c)
        for c in (
            "n0", "n1", "nn", "sp0", "sp1", "sq0", "sq1",
            "spp", "spq", "sqq",
        )
    }
    d = w.select(*dbl.values())
    sp = F.col("sp0") + F.col("sp1")
    sq = F.col("sq0") + F.col("sq1")
    covn = F.col("nn") * F.col("spq") - sp * sq
    varpn = F.col("nn") * F.col("spp") - sp * sp
    varqn = F.col("nn") * F.col("sqq") - sq * sq
    e = d.select(
        "n0", "n1", "nn", "sp0", "sp1", "sq0", "sq1",
        (covn / varpn).alias("theta"),
        (covn * covn / (varpn * varqn)).alias("rho2"),
    )
    mean_pre = sp / F.col("nn")
    adj1 = F.col("sq1") / F.col("n1") - F.col("theta") * (
        F.col("sp1") / F.col("n1") - mean_pre
    )
    adj0 = F.col("sq0") / F.col("n0") - F.col("theta") * (
        F.col("sp0") / F.col("n0") - mean_pre
    )
    return e.select(
        F.col("n0").cast("long").alias("n0"),
        F.col("n1").cast("long").alias("n1"),
        F.round(
            (F.col("sq1") / F.col("n1") - F.col("sq0") / F.col("n0"))
            / 100,
            4,
        ).alias("lift_raw"),
        F.round((adj1 - adj0) / 100, 4).alias("lift_cuped"),
        F.round("theta", 6).alias("theta"),
        F.round(F.lit(100.0) * F.col("rho2"), 2).alias(
            "var_reduction_pct"
        ),
    )


# --------------------------------------------------------------------------
# qs276 Benjamini–Hochberg FDR over per-event-type conversion z-tests
# --------------------------------------------------------------------------

# Abramowitz–Stegun 7.1.26 erf polynomial — written ONCE as a Horner
# tree and mirrored verbatim in both dialects so the op order (and
# thus IEEE result, modulo a 1-ulp libm exp() skew) matches.
_ERF_T = "(1.0 / (1.0 + 0.3275911 * {x}))"
_ERF_POLY = (
    "({t} * (0.254829592 + {t} * (-0.284496736 + {t} * (1.421413741 "
    "+ {t} * (-1.453152027 + {t} * 1.061405429)))))"
)


@query(
    "qs276_bh_fdr",
    oracle="""
    WITH ua AS (
      SELECT user_id % 2 AS arm, user_id, event_type
      FROM events GROUP BY 1, 2, 3),
    narm AS (
      SELECT SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n0,
             SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n1
      FROM (SELECT DISTINCT arm, user_id FROM ua)),
    conv AS (
      SELECT event_type,
             SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS x0,
             SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS x1
      FROM ua GROUP BY event_type),
    z AS (
      SELECT event_type,
             CAST(x0 AS DOUBLE) / n0 AS p0,
             CAST(x1 AS DOUBLE) / n1 AS p1,
             CASE WHEN x0 + x1 = 0 OR x0 + x1 = n0 + n1 THEN 0.0
             ELSE
               (CAST(x1 AS DOUBLE) / n1 - CAST(x0 AS DOUBLE) / n0)
               / sqrt((CAST(x0 + x1 AS DOUBLE) / (n0 + n1))
                      * (1.0 - CAST(x0 + x1 AS DOUBLE) / (n0 + n1))
                      * (1.0 / n0 + 1.0 / n1))
             END AS zval
      FROM conv CROSS JOIN narm),
    p AS (
      SELECT event_type, p0, p1, zval,
             {poly} * exp(-({x} * {x})) AS ptwo
      FROM z),
    r AS (
      SELECT event_type, p0, p1, zval, ptwo,
             ROW_NUMBER() OVER (ORDER BY ptwo, event_type) AS i,
             COUNT(*) OVER () AS m
      FROM p),
    k AS (
      SELECT r.*,
             MAX(CASE WHEN ptwo <= 0.05 * i / m THEN i ELSE 0 END)
               OVER () AS kmax
      FROM r)
    SELECT event_type,
           ROUND(p0, 4) AS conv0, ROUND(p1, 4) AS conv1,
           ROUND(zval, 4) AS z,
           ROUND(ptwo, 6) AS p_two,
           CAST(i AS BIGINT) AS bh_rank,
           CAST(CASE WHEN i <= kmax THEN 1 ELSE 0 END AS INT)
             AS significant
    FROM k ORDER BY event_type
    """.format(
        poly=_ERF_POLY.format(t=_ERF_T.format(x="(abs(zval) * 0.7071067811865476)")),
        x="(abs(zval) * 0.7071067811865476)",
    ),
)
def qs276(spark: SparkSession, sf: str) -> DataFrame:
    """BENJAMINI–HOCHBERG step-up FDR control over the five
    per-event-type conversion z-tests (arms by user parity): rank
    the two-sided p-values, find the largest i with
    p_(i) ≤ (i/m)·0.05, and flag everything at or below it — the
    multiple-comparisons layer qs168's single z-test needs once a
    dashboard tests many metrics at once.

    Determinism: conversion counts are exact integers; z and the
    A&S-7.1.26 erf-polynomial p-value are fixed per-row double trees
    (exp() is the only libm call — a 1-ulp engine skew cannot move
    ROUND 6 off-boundary values); the BH rank runs over 5 epilogue
    rows with an event_type tiebreak. Plan: one distinct-user agg +
    one per-type agg, broadcast-scalar cross, 5-row window."""
    ev = load_table(spark, sf, "events")
    ua = (
        ev.select(
            (F.col("user_id") % 2).alias("arm"),
            "user_id",
            "event_type",
        )
        .groupBy("arm", "user_id", "event_type")
        .agg(F.lit(1))
        .select("arm", "user_id", "event_type")
    )
    narm = (
        ua.select("arm", "user_id")
        .distinct()
        .agg(
            F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("n0"),
            F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("n1"),
        )
    )
    conv = ua.groupBy("event_type").agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("x0"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("x1"),
    )
    z = conv.crossJoin(narm)
    p0 = F.col("x0").cast("double") / F.col("n0")
    p1 = F.col("x1").cast("double") / F.col("n1")
    phat = (F.col("x0") + F.col("x1")).cast("double") / (
        F.col("n0") + F.col("n1")
    )
    # Degenerate metric (0% or 100% pooled conversion): zero pooled
    # variance — define z = 0 (p = 1) instead of dividing by zero,
    # mirrored exactly in the oracle's CASE.
    allconv = F.col("x0") + F.col("x1")
    zval = F.when(
        (allconv == 0) | (allconv == F.col("n0") + F.col("n1")),
        F.lit(0.0),
    ).otherwise(
        (p1 - p0)
        / F.sqrt(
            phat
            * (F.lit(1.0) - phat)
            * (F.lit(1.0) / F.col("n0") + F.lit(1.0) / F.col("n1"))
        )
    )
    z = z.select(
        "event_type", p0.alias("p0"), p1.alias("p1"), zval.alias("zval")
    )
    x = "(abs(zval) * 0.7071067811865476)"
    ptwo = F.expr(
        _ERF_POLY.format(t=_ERF_T.format(x=x)) + f" * exp(-({x} * {x}))"
    )
    p = z.withColumn("ptwo", ptwo)
    # window: GRID BH FDR: 5 p-values
    wrank = Window.orderBy("ptwo", "event_type")
    wall = Window.partitionBy()
    r = p.withColumn("i", F.row_number().over(wrank)).withColumn(
        "m", F.count(F.lit(1)).over(wall)
    )
    k = r.withColumn(
        "kmax",
        F.max(
            F.when(
                F.col("ptwo")
                <= F.lit(0.05) * F.col("i") / F.col("m"),
                F.col("i"),
            ).otherwise(0)
        ).over(wall),
    )
    return (
        k.select(
            "event_type",
            F.round("p0", 4).alias("conv0"),
            F.round("p1", 4).alias("conv1"),
            F.round("zval", 4).alias("z"),
            F.round("ptwo", 6).alias("p_two"),
            F.col("i").cast("long").alias("bh_rank"),
            F.when(F.col("i") <= F.col("kmax"), 1)
            .otherwise(0)
            .cast("int")
            .alias("significant"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# qs277 Cochran–Mantel–Haenszel pooled odds ratio across strata
# --------------------------------------------------------------------------


@query(
    "qs277_cmh_odds",
    oracle="""
    WITH cells AS (
      SELECT o_orderpriority AS stratum,
             SUM(CASE WHEN o_custkey % 2 = 1
                      AND o_orderstatus = 'F' THEN 1 ELSE 0 END) AS a,
             SUM(CASE WHEN o_custkey % 2 = 1
                      AND o_orderstatus <> 'F' THEN 1 ELSE 0 END) AS b,
             SUM(CASE WHEN o_custkey % 2 = 0
                      AND o_orderstatus = 'F' THEN 1 ELSE 0 END) AS c,
             SUM(CASE WHEN o_custkey % 2 = 0
                      AND o_orderstatus <> 'F' THEN 1 ELSE 0 END) AS d
      FROM orders GROUP BY o_orderpriority),
    t AS (
      SELECT COUNT(*) AS strata, SUM(a + b + c + d) AS n,
             SUM(CAST(a AS DOUBLE) * d / (a + b + c + d)) AS sad,
             SUM(CAST(b AS DOUBLE) * c / (a + b + c + d)) AS sbc,
             SUM(CAST(a AS DOUBLE)) AS sa,
             SUM(CAST(a + b AS DOUBLE) * (a + c)
                 / (a + b + c + d)) AS se,
             SUM(CAST(a + b AS DOUBLE) * (c + d) * (a + c) * (b + d)
                 / (CAST(a + b + c + d AS DOUBLE)
                    * (a + b + c + d) * (a + b + c + d - 1))) AS sv
      FROM cells)
    SELECT CAST(strata AS BIGINT) AS strata, CAST(n AS BIGINT) AS n,
           ROUND(sad / sbc, 4) AS or_cmh,
           ROUND((abs(sa - se) - 0.5) * (abs(sa - se) - 0.5) / sv, 4)
             AS chi2_cmh
    FROM t
    """,
)
def qs277(spark: SparkSession, sf: str) -> DataFrame:
    """COCHRAN–MANTEL–HAENSZEL pooled odds ratio: does customer-key
    parity (the "exposure") associate with finished order status,
    controlling for order priority as strata? OR = Σ(aᵢdᵢ/nᵢ) /
    Σ(bᵢcᵢ/nᵢ) with the continuity-corrected CMH χ² — the stratified
    counterpart of qs241's single-table χ², and the estimator that
    makes qs228's Simpson reversals actionable.

    Determinism: the 2×2×K table is exact integer counts from one
    grouped scan; the five per-stratum double terms are fixed
    expressions summed over K=5 rows (positive, same magnitude — no
    cancellation), final ROUND 4. Plan: one partial-agg scan → 5
    cell rows → one-row epilogue."""
    o = load_table(spark, sf, "orders")
    exp_ = F.col("o_custkey") % 2 == 1
    out = F.col("o_orderstatus") == "F"
    cells = o.groupBy(F.col("o_orderpriority").alias("stratum")).agg(
        F.sum(F.when(exp_ & out, 1).otherwise(0)).alias("a"),
        F.sum(F.when(exp_ & ~out, 1).otherwise(0)).alias("b"),
        F.sum(F.when(~exp_ & out, 1).otherwise(0)).alias("c"),
        F.sum(F.when(~exp_ & ~out, 1).otherwise(0)).alias("d"),
    )
    nn = F.col("a") + F.col("b") + F.col("c") + F.col("d")
    t = cells.agg(
        F.count(F.lit(1)).alias("strata"),
        F.sum(nn).alias("n"),
        F.sum(F.col("a").cast("double") * F.col("d") / nn).alias("sad"),
        F.sum(F.col("b").cast("double") * F.col("c") / nn).alias("sbc"),
        F.sum(F.col("a").cast("double")).alias("sa"),
        F.sum(
            (F.col("a") + F.col("b")).cast("double")
            * (F.col("a") + F.col("c"))
            / nn
        ).alias("se"),
        F.sum(
            (F.col("a") + F.col("b")).cast("double")
            * (F.col("c") + F.col("d"))
            * (F.col("a") + F.col("c"))
            * (F.col("b") + F.col("d"))
            / (nn.cast("double") * nn * (nn - 1))
        ).alias("sv"),
    )
    dev = F.abs(F.col("sa") - F.col("se")) - F.lit(0.5)
    return t.select(
        F.col("strata").cast("long").alias("strata"),
        F.col("n").cast("long").alias("n"),
        F.round(F.col("sad") / F.col("sbc"), 4).alias("or_cmh"),
        F.round(dev * dev / F.col("sv"), 4).alias("chi2_cmh"),
    )


# --------------------------------------------------------------------------
# qs278 Jarque–Bera normality test on order totals
# --------------------------------------------------------------------------


@query(
    "qs278_jarque_bera",
    oracle="""
    WITH v AS (
      SELECT CAST(ROUND(o_totalprice, 0) AS BIGINT) AS v
      FROM orders),
    g AS (SELECT SUM(v) AS s, COUNT(*) AS n FROM v),
    c AS (SELECT s // n AS c, n FROM g),
    d AS (
      SELECT v.v - c.c AS d, c.n FROM v CROSS JOIN c),
    m AS (
      SELECT MAX(n) AS n, SUM(d) AS s1, SUM(d * d) AS s2,
             SUM(d * d * d) AS s3,
             SUM(CAST(d * d * d AS HUGEINT) * d) AS s4
      FROM d),
    f AS (
      SELECT CAST(n AS DOUBLE) AS n, CAST(s1 AS DOUBLE) AS s1,
             CAST(s2 AS DOUBLE) AS s2, CAST(s3 AS DOUBLE) AS s3,
             CAST(s4 AS DOUBLE) AS s4
      FROM m),
    mm AS (
      SELECT n, s1 / n AS e,
             s2 / n - (s1 / n) * (s1 / n) AS m2,
             s3 / n - 3.0 * (s1 / n) * (s2 / n)
               + 2.0 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
             s4 / n - 4.0 * (s1 / n) * (s3 / n)
               + 6.0 * (s1 / n) * (s1 / n) * (s2 / n)
               - 3.0 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n)
               AS m4
      FROM f),
    st AS (
      SELECT n, m3 / (m2 * sqrt(m2)) AS skew,
             m4 / (m2 * m2) - 3.0 AS exkurt
      FROM mm)
    SELECT CAST(n AS BIGINT) AS n,
           ROUND(skew, 4) AS skewness,
           ROUND(exkurt, 4) AS ex_kurtosis,
           ROUND(n / 6.0 * (skew * skew + exkurt * exkurt / 4.0), 2)
             AS jb_stat
    FROM st
    """,
)
def qs278(spark: SparkSession, sf: str) -> DataFrame:
    """JARQUE–BERA normality test on order totals: JB =
    n/6·(S² + K²/4) from sample skewness S and excess kurtosis K —
    the distribution-shape audit behind choosing parametric (qs272)
    vs rank (qs271) tests.

    Determinism: whole-dollar values re-center EXACTLY on the
    integer grand mean c = S DIV N (the qs272 pattern — naive raw
    moments cancel catastrophically at the 4th power), so Σd..Σd⁴
    are exact integers (d⁴ in DECIMAL(38)/HUGEINT: |d| ≤ ~6e5
    dollars keeps Σd⁴ < 1e33 even at sf10 row counts); central
    moments about the true mean follow by the fixed binomial-shift
    double tree, sqrt is IEEE-exact. Plan: two scans of one column
    (grand sum, then centered powers — the second fused with a
    broadcast scalar), one-row epilogue."""
    o = load_table(spark, sf, "orders")
    v = o.select(
        F.round(F.col("o_totalprice"), 0).cast("long").alias("v")
    )
    g = v.agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
    c = g.select(F.expr("s DIV n").alias("c"), "n")
    d = v.crossJoin(c).select(
        (F.col("v") - F.col("c")).alias("d"), "n"
    )
    m = d.agg(
        F.max("n").alias("n"),
        F.sum("d").alias("s1"),
        # d² and d³ fit BIGINT per row but their SUMS overflow it
        # from sf1 row counts up — accumulate in DECIMAL(38,0)
        # (DuckDB's SUM(BIGINT) is HUGEINT already).
        F.sum((F.col("d") * F.col("d")).cast("decimal(38,0)")).alias(
            "s2"
        ),
        F.sum(
            (F.col("d") * F.col("d") * F.col("d")).cast(
                "decimal(38,0)"
            )
        ).alias("s3"),
        F.sum(
            (F.col("d") * F.col("d") * F.col("d")).cast(
                "decimal(38,0)"
            )
            * F.col("d")
        ).alias("s4"),
    )
    f = m.select(
        *[F.col(x).cast("double").alias(x) for x in ("n", "s1", "s2", "s3", "s4")]
    )
    e = F.col("s1") / F.col("n")
    m2 = F.col("s2") / F.col("n") - e * e
    m3 = (
        F.col("s3") / F.col("n")
        - F.lit(3.0) * e * (F.col("s2") / F.col("n"))
        + F.lit(2.0) * e * e * e
    )
    m4 = (
        F.col("s4") / F.col("n")
        - F.lit(4.0) * e * (F.col("s3") / F.col("n"))
        + F.lit(6.0) * e * e * (F.col("s2") / F.col("n"))
        - F.lit(3.0) * e * e * e * e
    )
    mm = f.select("n", m2.alias("m2"), m3.alias("m3"), m4.alias("m4"))
    st = mm.select(
        "n",
        (F.col("m3") / (F.col("m2") * F.sqrt("m2"))).alias("skew"),
        (F.col("m4") / (F.col("m2") * F.col("m2")) - F.lit(3.0)).alias(
            "exkurt"
        ),
    )
    return st.select(
        F.col("n").cast("long").alias("n"),
        F.round("skew", 4).alias("skewness"),
        F.round("exkurt", 4).alias("ex_kurtosis"),
        F.round(
            F.col("n")
            / F.lit(6.0)
            * (
                F.col("skew") * F.col("skew")
                + F.col("exkurt") * F.col("exkurt") / F.lit(4.0)
            ),
            2,
        ).alias("jb_stat"),
    )


# --------------------------------------------------------------------------
# qs279 Granger-style lagged predictive regression (clicks → purchases)
# --------------------------------------------------------------------------


@query(
    "qs279_granger_lag",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
               AS xc,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS yc
      FROM events GROUP BY 1),
    lagd AS (
      SELECT yc AS y,
             LAG(yc) OVER (ORDER BY day) AS y1,
             LAG(xc) OVER (ORDER BY day) AS x1
      FROM daily),
    s AS (
      SELECT COUNT(*) AS n, SUM(y) AS sy, SUM(y1) AS sy1,
             SUM(x1) AS sx1, SUM(y * y) AS syy,
             SUM(y * y1) AS syy1, SUM(y * x1) AS syx1,
             SUM(y1 * y1) AS sy1y1, SUM(x1 * x1) AS sx1x1,
             SUM(y1 * x1) AS sy1x1
      FROM lagd WHERE y1 IS NOT NULL),
    cd AS (
      SELECT CAST(n AS DOUBLE) AS n,
        CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n AS cyy,
        CAST(syy1 AS DOUBLE) - CAST(sy AS DOUBLE) * sy1 / n AS cyy1,
        CAST(syx1 AS DOUBLE) - CAST(sy AS DOUBLE) * sx1 / n AS cyx1,
        CAST(sy1y1 AS DOUBLE) - CAST(sy1 AS DOUBLE) * sy1 / n
          AS cy1y1,
        CAST(sx1x1 AS DOUBLE) - CAST(sx1 AS DOUBLE) * sx1 / n
          AS cx1x1,
        CAST(sy1x1 AS DOUBLE) - CAST(sy1 AS DOUBLE) * sx1 / n
          AS cy1x1
      FROM s),
    fit AS (
      SELECT n, cyy, cyy1, cyx1,
             cyy - (cyy1 * cyy1 / cy1y1) AS rss_r,
             (cyy1 * cx1x1 - cyx1 * cy1x1)
               / (cy1y1 * cx1x1 - cy1x1 * cy1x1) AS b_y1,
             (cy1y1 * cyx1 - cy1x1 * cyy1)
               / (cy1y1 * cx1x1 - cy1x1 * cy1x1) AS b_x1
      FROM cd),
    ff AS (
      SELECT n, rss_r, b_y1, b_x1,
             cyy - b_y1 * cyy1 - b_x1 * cyx1 AS rss_f
      FROM fit)
    SELECT CAST(n AS BIGINT) AS n_days,
           ROUND(b_y1, 6) AS b_lag_y,
           ROUND(b_x1, 6) AS b_lag_x,
           ROUND((rss_r - rss_f) / (rss_f / (n - 3.0)), 4)
             AS f_stat,
           ROUND(100.0 * (rss_r - rss_f) / rss_r, 2)
             AS rss_reduction_pct
    FROM ff
    """,
)
def qs279(spark: SparkSession, sf: str) -> DataFrame:
    """GRANGER-style lagged predictive regression: do yesterday's
    clicks improve the prediction of today's purchases beyond
    yesterday's purchases? Nested OLS — restricted y~y₋₁ vs full
    y~y₋₁+x₋₁ — compared by the incremental F statistic; the
    temporal-causality screen beside qs204's autocorrelation and
    qs202's per-group trend.

    Determinism: daily counts are exact integers; the 29-row lag
    frame collapses to exact integer cross-moments in ONE aggregate;
    centered moments, the 2×2 Cramer solve and F are a fixed scalar
    double tree. Plan: one grouped scan → 30-row window (epilogue-
    sized) → one-row moment agg."""
    ev = load_table(spark, sf, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("xc"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("yc"),
    )
    # window: GRID Granger: 30-day grid
    wlag = Window.orderBy("day")
    lagd = daily.select(
        F.col("yc").alias("y"),
        F.lag("yc").over(wlag).alias("y1"),
        F.lag("xc").over(wlag).alias("x1"),
    ).filter(F.col("y1").isNotNull())
    s = lagd.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("sy"),
        F.sum("y1").alias("sy1"),
        F.sum("x1").alias("sx1"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("y") * F.col("y1")).alias("syy1"),
        F.sum(F.col("y") * F.col("x1")).alias("syx1"),
        F.sum(F.col("y1") * F.col("y1")).alias("sy1y1"),
        F.sum(F.col("x1") * F.col("x1")).alias("sx1x1"),
        F.sum(F.col("y1") * F.col("x1")).alias("sy1x1"),
    )
    n = F.col("n").cast("double")
    cd = s.select(
        n.alias("n"),
        (F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy") / n).alias("cyy"),
        (F.col("syy1").cast("double") - F.col("sy").cast("double") * F.col("sy1") / n).alias("cyy1"),
        (F.col("syx1").cast("double") - F.col("sy").cast("double") * F.col("sx1") / n).alias("cyx1"),
        (F.col("sy1y1").cast("double") - F.col("sy1").cast("double") * F.col("sy1") / n).alias("cy1y1"),
        (F.col("sx1x1").cast("double") - F.col("sx1").cast("double") * F.col("sx1") / n).alias("cx1x1"),
        (F.col("sy1x1").cast("double") - F.col("sy1").cast("double") * F.col("sx1") / n).alias("cy1x1"),
    )
    det = F.col("cy1y1") * F.col("cx1x1") - F.col("cy1x1") * F.col("cy1x1")
    fit = cd.select(
        "n", "cyy", "cyy1", "cyx1",
        (F.col("cyy") - F.col("cyy1") * F.col("cyy1") / F.col("cy1y1")).alias("rss_r"),
        ((F.col("cyy1") * F.col("cx1x1") - F.col("cyx1") * F.col("cy1x1")) / det).alias("b_y1"),
        ((F.col("cy1y1") * F.col("cyx1") - F.col("cy1x1") * F.col("cyy1")) / det).alias("b_x1"),
    )
    ff = fit.select(
        "n", "rss_r", "b_y1", "b_x1",
        (
            F.col("cyy")
            - F.col("b_y1") * F.col("cyy1")
            - F.col("b_x1") * F.col("cyx1")
        ).alias("rss_f"),
    )
    return ff.select(
        F.col("n").cast("long").alias("n_days"),
        F.round("b_y1", 6).alias("b_lag_y"),
        F.round("b_x1", 6).alias("b_lag_x"),
        F.round(
            (F.col("rss_r") - F.col("rss_f"))
            / (F.col("rss_f") / (F.col("n") - F.lit(3.0))),
            4,
        ).alias("f_stat"),
        F.round(
            F.lit(100.0)
            * (F.col("rss_r") - F.col("rss_f"))
            / F.col("rss_r"),
            2,
        ).alias("rss_reduction_pct"),
    )


# --------------------------------------------------------------------------
# qs280 exact-covariate matching ATT estimator
# --------------------------------------------------------------------------


@query(
    "qs280_matching_att",
    oracle="""
    WITH spend AS (
      SELECT o_custkey, SUM(CAST(ROUND(o_totalprice * 100, 0)
             AS BIGINT)) AS cents
      FROM orders GROUP BY o_custkey),
    cust AS (
      SELECT c_custkey, c_nationkey,
             CASE WHEN c_acctbal < 0 THEN 0
                  WHEN c_acctbal < 5000 THEN 1 ELSE 2 END AS bal,
             CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END
               AS treated,
             COALESCE(spend.cents, 0) AS y
      FROM customer LEFT JOIN spend ON spend.o_custkey = c_custkey),
    cells AS (
      SELECT c_nationkey, bal,
             SUM(CASE WHEN treated = 1 THEN 1 ELSE 0 END) AS nt,
             SUM(CASE WHEN treated = 1 THEN y ELSE 0 END) AS st,
             SUM(CASE WHEN treated = 0 THEN 1 ELSE 0 END) AS nc,
             SUM(CASE WHEN treated = 0 THEN y ELSE 0 END) AS sc
      FROM cust GROUP BY c_nationkey, bal),
    t AS (
      SELECT
        SUM(CASE WHEN nt > 0 AND nc > 0 THEN 1 ELSE 0 END)
          AS n_cells,
        SUM(CASE WHEN nt > 0 AND nc > 0 THEN nt ELSE 0 END)
          AS nt_matched,
        SUM(CASE WHEN nt > 0 AND nc > 0
            THEN CAST(st AS DOUBLE) ELSE 0.0 END) AS sst,
        SUM(CASE WHEN nt > 0 AND nc > 0
            THEN nt * (CAST(sc AS DOUBLE) / nc) ELSE 0.0 END) AS ssc,
        SUM(nt) AS nt_all, SUM(st) AS st_all,
        SUM(nc) AS nc_all, SUM(sc) AS sc_all
      FROM cells)
    SELECT CAST(n_cells AS BIGINT) AS n_cells,
           CAST(nt_matched AS BIGINT) AS n_treated_matched,
           ROUND((sst - ssc) / nt_matched / 100, 2) AS att,
           ROUND((CAST(st_all AS DOUBLE) / nt_all
                  - CAST(sc_all AS DOUBLE) / nc_all) / 100, 2)
             AS naive_diff
    FROM t
    """,
)
def qs280(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT-COVARIATE MATCHING ATT: effect of the AUTOMOBILE market
    segment ("treatment") on total customer spend, matched exactly
    on (nation, account-balance bucket) cells — treated units
    compare against the control mean of their own cell, unmatched
    cells drop, and the naive unmatched difference is reported for
    contrast. The covariate-adjustment estimator beside qs216 (DiD)
    and qs275 (CUPED); reference parity: the governed-model join
    discipline of /root/reference/cds_transformation_functions.py.

    Determinism: per-customer spend and per-cell sums are exact
    integer cents; the only doubles are per-cell control means
    summed over ~75 bounded cells (positive, like-magnitude — noise
    ~1e-5 cents under ROUND 2 dollars). Plan: orders collapse
    custkey-keyed BEFORE the customer join (partial agg, then one
    keyed shuffle), cells are a second partial agg, epilogue is one
    row."""
    o = load_table(spark, sf, "orders")
    cu = load_table(spark, sf, "customer")
    spend = o.groupBy("o_custkey").agg(
        F.sum(
            F.round(F.col("o_totalprice") * 100, 0).cast("long")
        ).alias("cents")
    )
    cust = (
        cu.join(spend, cu.c_custkey == spend.o_custkey, "left")
        .select(
            "c_nationkey",
            F.when(F.col("c_acctbal") < 0, 0)
            .when(F.col("c_acctbal") < 5000, 1)
            .otherwise(2)
            .alias("bal"),
            F.when(F.col("c_mktsegment") == "AUTOMOBILE", 1)
            .otherwise(0)
            .alias("treated"),
            F.coalesce(F.col("cents"), F.lit(0)).alias("y"),
        )
    )
    cells = cust.groupBy("c_nationkey", "bal").agg(
        F.sum(F.when(F.col("treated") == 1, 1).otherwise(0)).alias("nt"),
        F.sum(F.when(F.col("treated") == 1, F.col("y")).otherwise(0)).alias("st"),
        F.sum(F.when(F.col("treated") == 0, 1).otherwise(0)).alias("nc"),
        F.sum(F.when(F.col("treated") == 0, F.col("y")).otherwise(0)).alias("sc"),
    )
    matched = (F.col("nt") > 0) & (F.col("nc") > 0)
    t = cells.agg(
        F.sum(F.when(matched, 1).otherwise(0)).alias("n_cells"),
        F.sum(F.when(matched, F.col("nt")).otherwise(0)).alias("nt_matched"),
        F.sum(
            F.when(matched, F.col("st").cast("double")).otherwise(0.0)
        ).alias("sst"),
        F.sum(
            F.when(
                matched,
                F.col("nt") * (F.col("sc").cast("double") / F.col("nc")),
            ).otherwise(0.0)
        ).alias("ssc"),
        F.sum("nt").alias("nt_all"),
        F.sum("st").alias("st_all"),
        F.sum("nc").alias("nc_all"),
        F.sum("sc").alias("sc_all"),
    )
    return t.select(
        F.col("n_cells").cast("long").alias("n_cells"),
        F.col("nt_matched").cast("long").alias("n_treated_matched"),
        F.round(
            (F.col("sst") - F.col("ssc")) / F.col("nt_matched") / 100, 2
        ).alias("att"),
        F.round(
            (
                F.col("st_all").cast("double") / F.col("nt_all")
                - F.col("sc_all").cast("double") / F.col("nc_all")
            )
            / 100,
            2,
        ).alias("naive_diff"),
    )


# --------------------------------------------------------------------------
# qs292 minimum-detectable-effect design table per metric
# --------------------------------------------------------------------------


@query(
    "qs292_mde_power",
    oracle="""
    WITH u AS (
      SELECT event_type, user_id,
             SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS x
      FROM events GROUP BY event_type, user_id),
    m AS (
      SELECT event_type, COUNT(*) AS n, SUM(x) AS s1,
             SUM(CAST(x AS HUGEINT) * x) AS s2
      FROM u GROUP BY event_type),
    v AS (
      SELECT event_type, n,
             CAST(s1 AS DOUBLE) / n AS mu,
             sqrt((CAST(s2 AS DOUBLE)
                   - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1))
               AS sd
      FROM m)
    SELECT event_type, CAST(n AS BIGINT) AS n_users,
           ROUND(mu / 100, 2) AS mean_dollars,
           ROUND(sd / 100, 2) AS sd_dollars,
           ROUND(2.801585 * sd
                 * sqrt(2.0 / (CAST(n AS DOUBLE) / 2.0)) / 100, 2)
             AS mde_dollars,
           ROUND(100.0 * 2.801585 * sd
                 * sqrt(2.0 / (CAST(n AS DOUBLE) / 2.0)) / mu, 2)
             AS mde_pct
    FROM v ORDER BY event_type
    """,
)
def qs292(spark: SparkSession, sf: str) -> DataFrame:
    """MINIMUM DETECTABLE EFFECT design table: for each metric
    (per-user spend by event type), the smallest true lift a 50/50
    experiment on the current population can detect at 80% power,
    α = 0.05 two-sided — MDE = (z_{0.975}+z_{0.80})·σ·√(2/n_arm)
    with the constant 1.959964 + 0.841621 = 2.801585 folded into a
    literal. The DESIGN step that precedes qs275's CUPED analysis
    and qs276's corrected readout (and quantifies what qs275's
    variance reduction buys).

    Determinism: per-user cents and per-type (n, Σx, Σx²) are exact
    integers; σ/MDE are fixed per-row double trees (√ IEEE-exact),
    ROUND 2. Plan: one user-keyed aggregate collapses the corpus,
    one type-keyed moment aggregate, 5-row epilogue."""
    ev = load_table(spark, sf, "events")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    u = ev.groupBy("event_type", "user_id").agg(
        F.sum(cents).alias("x")
    )
    m = u.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s1"),
        F.sum(
            F.col("x").cast("decimal(38,0)") * F.col("x")
        ).alias("s2"),
    )
    mu = F.col("s1").cast("double") / F.col("n")
    sd = F.sqrt(
        (
            F.col("s2").cast("double")
            - F.col("s1").cast("double") * F.col("s1") / F.col("n")
        )
        / (F.col("n") - 1)
    )
    v = m.select(
        "event_type", "n", mu.alias("mu"), sd.alias("sd")
    )
    mde = (
        F.lit(2.801585)
        * F.col("sd")
        * F.sqrt(F.lit(2.0) / (F.col("n").cast("double") / F.lit(2.0)))
    )
    return (
        v.select(
            "event_type",
            F.col("n").cast("long").alias("n_users"),
            F.round(F.col("mu") / 100, 2).alias("mean_dollars"),
            F.round(F.col("sd") / 100, 2).alias("sd_dollars"),
            F.round(mde / 100, 2).alias("mde_dollars"),
            F.round(F.lit(100.0) * mde / F.col("mu"), 2).alias(
                "mde_pct"
            ),
        )
        .orderBy("event_type")
    )
