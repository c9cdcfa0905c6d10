"""Round-11 family (qs351+): variance-equality and heteroscedasticity
tests (Brown–Forsythe Levene, Breusch–Pagan), multi-rater agreement
(Fleiss' kappa), randomness/spectral time-series diagnostics (turning
points, periodogram, Lo–MacKinlay variance ratio, seasonal strength,
D'Agostino skewness z), privacy audits beyond qs313's k-anonymity
(l-diversity, t-closeness), nominal association (Goodman–Kruskal
lambda), count-model dispersion, sequential A/B (SPRT), and the
corpus-quality trio boilerplate n-grams / PMI collocations / Heaps'
law — the statistical-validation surface the reference's loader hooks
(/root/reference/data_loader.py validation + report paths) imply for
a curation pipeline, re-expressed as Spark aggregate plans.

Registration contract, aliasing and cross-engine determinism rules:
cds_etl_spark/plans/registry.py. The exact-integer / one-row-pivot
doctrine applies throughout: every statistic's core moments are exact
integers (cents, counts, squared integer deviations), grouped double
sums appear only over literal-sized grids or positive-term epilogues,
and multi-point OLS fits use the qs345 explicit fixed-term expansion.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cds_etl_spark.catalog import load_table
from cds_etl_spark.plans.registry import query


# --------------------------------------------------------------------------
# qs351 Brown–Forsythe Levene test for equal variances across segments
# --------------------------------------------------------------------------


@query(
    "qs351_levene_test",
    oracle="""
    WITH x AS (
      SELECT c_mktsegment AS seg,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) AS c
      FROM customer),
    med AS (
      SELECT seg, CAST(2 * quantile_cont(c, 0.5) AS BIGINT) AS m2
      FROM x GROUP BY seg),
    z AS (
      SELECT x.seg, ABS(2 * x.c - med.m2) AS z2
      FROM x JOIN med ON x.seg = med.seg),
    g AS (
      SELECT seg, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(z2) AS BIGINT) AS s1,
             CAST(SUM(z2 * z2) AS BIGINT) AS s2
      FROM z GROUP BY seg),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn,
                   CAST(COUNT(*) AS BIGINT) AS k,
                   CAST(SUM(s1) AS DOUBLE) / SUM(n) AS zbar
            FROM g)
    SELECT nn AS n_rows, k AS n_groups,
           ROUND(
             (CAST(nn - k AS DOUBLE) / (k - 1))
             * SUM(n * (CAST(s1 AS DOUBLE) / n - zbar)
                     * (CAST(s1 AS DOUBLE) / n - zbar))
             / SUM(s2 - CAST(s1 AS DOUBLE) * s1 / n), 4) AS levene_w
    FROM g CROSS JOIN tot GROUP BY nn, k
    """,
)
def qs351(spark: SparkSession, sf: str) -> DataFrame:
    """Brown–Forsythe Levene test: are account-balance variances equal
    across the 5 market segments?  z_ij = |x_ij - median_j| replaces
    the classic mean deviation (the robust variant), and
    W = ((N-k)/(k-1)) * SUM n_j (zbar_j - zbar)^2 / SUM_j SS_j is the
    one-way ANOVA F computed on the deviations.

    Determinism: balances are exact cents; the group median doubles to
    an exact integer m2 = 2*median (interpolated median of integers is
    a half-integer), so z2 = |2x - m2| is an exact integer and the
    per-group moments n / SUM z2 / SUM z2^2 are exact integers (z2 <
    2.2e6, z2^2 < 4.9e12, fits through sf30).  The W epilogue is a
    5-row grid sum of positive terms from those integers, ROUND 4.
    Plan: one scan -> 5-group exact-percentile agg, broadcast back,
    one grouped-moment agg, one-row epilogue; no window."""
    x = load_table(spark, sf, "customer").select(
        F.col("c_mktsegment").alias("seg"),
        F.round(F.col("c_acctbal") * 100)
        .cast("long")
        .alias("c"),
    )
    med = x.groupBy("seg").agg(
        (2 * F.percentile("c", F.lit(0.5))).cast("long").alias("m2")
    )
    # bcast: GRID per-segment doubled-median, 5 rows
    z = x.join(F.broadcast(med), "seg").select(
        "seg", F.abs(2 * F.col("c") - F.col("m2")).alias("z2")
    )
    g = z.groupBy("seg").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("z2").cast("long").alias("s1"),
        F.sum(F.col("z2") * F.col("z2")).cast("long").alias("s2"),
    )
    tot = g.agg(
        F.sum("n").cast("long").alias("nn"),
        F.count(F.lit(1)).cast("long").alias("k"),
        (F.sum("s1").cast("double") / F.sum("n")).alias("zbar"),
    )
    zm = F.col("s1").cast("double") / F.col("n")
    return (
        g.crossJoin(tot)
        .groupBy("nn", "k")
        .agg(
            F.round(
                ((F.col("nn") - F.col("k")).cast("double") / (F.col("k") - 1))
                * F.sum(
                    F.col("n") * (zm - F.col("zbar")) * (zm - F.col("zbar"))
                )
                / F.sum(
                    F.col("s2")
                    - F.col("s1").cast("double") * F.col("s1") / F.col("n")
                ),
                4,
            ).alias("levene_w")
        )
        .select(
            F.col("nn").alias("n_rows"),
            F.col("k").alias("n_groups"),
            "levene_w",
        )
    )


def _rater4_moments(spark: SparkSession, sf: str) -> DataFrame:
    """Shared subject/moment pipeline for the 4-rater agreement pair
    (qs352 Fleiss' kappa, qs380 Gwet's AC1): orders with exactly 4
    line items are the subjects, the 4 lines the raters, and the
    return flag (R/N/A) the assigned category.  Returns the one-row
    moment frame (n, sp, tr, tn, ta) where sp = SUM_i(SUM_j n_ij^2
    - 4) shares the fixed n(n-1) = 12 denominator.  The matching
    oracle CTEs (subj/m) are likewise shared text between the two
    queries' SQL — keep all three in sync on any edit."""
    li = load_table(spark, sf, "lineitem")
    flag_n = {
        f: F.sum(
            F.when(F.col("l_returnflag") == f, 1).otherwise(0)
        ).cast("long")
        for f in ("R", "N", "A")
    }
    subj = (
        li.groupBy("l_orderkey")
        .agg(
            flag_n["R"].alias("nr"),
            flag_n["N"].alias("nn"),
            flag_n["A"].alias("na"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .filter(F.col("cnt") == 4)
    )
    return subj.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            F.col("nr") * F.col("nr")
            + F.col("nn") * F.col("nn")
            + F.col("na") * F.col("na")
            - 4
        )
        .cast("long")
        .alias("sp"),
        F.sum("nr").cast("long").alias("tr"),
        F.sum("nn").cast("long").alias("tn"),
        F.sum("na").cast("long").alias("ta"),
    )



# --------------------------------------------------------------------------
# qs352 Fleiss' kappa over 4-rater return-flag "judgements" per order
# --------------------------------------------------------------------------


@query(
    "qs352_fleiss_kappa",
    oracle="""
    WITH subj AS (
      SELECT l_orderkey,
             CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS BIGINT) AS nr,
             CAST(SUM(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END)
                  AS BIGINT) AS nn,
             CAST(SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END)
                  AS BIGINT) AS na
      FROM lineitem GROUP BY l_orderkey HAVING COUNT(*) = 4),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_subjects,
             CAST(SUM(nr * nr + nn * nn + na * na - 4) AS BIGINT) AS sp,
             CAST(SUM(nr) AS BIGINT) AS tr,
             CAST(SUM(nn) AS BIGINT) AS tn,
             CAST(SUM(na) AS BIGINT) AS ta
      FROM subj)
    SELECT n_subjects,
           ROUND(CAST(sp AS DOUBLE) / (n_subjects * 12), 6) AS p_bar,
           ROUND(
             (CAST(sp AS DOUBLE) / (n_subjects * 12)
              - (CAST(tr AS DOUBLE) * tr + CAST(tn AS DOUBLE) * tn
                 + CAST(ta AS DOUBLE) * ta)
                / (16.0 * n_subjects * n_subjects))
             / (1.0
                - (CAST(tr AS DOUBLE) * tr + CAST(tn AS DOUBLE) * tn
                   + CAST(ta AS DOUBLE) * ta)
                  / (16.0 * n_subjects * n_subjects)), 6) AS fleiss_kappa
    FROM m
    """,
)
def qs352(spark: SparkSession, sf: str) -> DataFrame:
    """Fleiss' kappa — chance-corrected agreement when each subject is
    rated by the same number of raters: orders with exactly 4 line
    items are the subjects, the 4 lines are the raters, and the
    return flag (R/N/A) is the category each "rater" assigns.
    kappa = (P_bar - P_e) / (1 - P_e) with
    P_i = (SUM_j n_ij^2 - n) / (n(n-1)), P_e = SUM_j p_j^2.

    Determinism: with n = 4 raters, every P_i shares the denominator
    n(n-1) = 12, so SUM_i (SUM_j n_ij^2 - 4) is one exact integer and
    P_bar is a single division; the category totals are exact
    integers and P_e is a fixed 3-term double tree.  ROUND 6.
    Plan: one grouped scan (conditional sums per flag, shared with
    qs380 via _rater4_moments), one-row epilogue; no window, no
    join."""
    m = _rater4_moments(spark, sf)
    p_bar = F.col("sp").cast("double") / (F.col("n") * 12)
    p_e = (
        F.col("tr").cast("double") * F.col("tr")
        + F.col("tn").cast("double") * F.col("tn")
        + F.col("ta").cast("double") * F.col("ta")
    ) / (16.0 * F.col("n").cast("double") * F.col("n"))
    return m.select(
        F.col("n").alias("n_subjects"),
        F.round(p_bar, 6).alias("p_bar"),
        F.round((p_bar - p_e) / (1.0 - p_e), 6).alias("fleiss_kappa"),
    )


# --------------------------------------------------------------------------
# qs353 Turning-points randomness test on the daily order-count series
# --------------------------------------------------------------------------


@query(
    "qs353_turning_points",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS c
      FROM orders GROUP BY 1),
    lagged AS (
      SELECT c,
             LAG(c) OVER (ORDER BY d) AS pc,
             LEAD(c) OVER (ORDER BY d) AS nc
      FROM daily),
    t AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN pc IS NOT NULL AND nc IS NOT NULL
                           AND ((c > pc AND c > nc)
                                OR (c < pc AND c < nc))
                      THEN 1 ELSE 0 END) AS BIGINT) AS tp
      FROM lagged)
    SELECT n AS n_days, tp AS t_points,
           ROUND((tp - 2.0 * (n - 2) / 3.0)
                 / sqrt((16.0 * n - 29.0) / 90.0), 4) AS z
    FROM t
    """,
)
def qs353(spark: SparkSession, sf: str) -> DataFrame:
    """Turning-points test for randomness of the daily order-count
    series: T = number of STRICT local maxima/minima (plateau ties do
    not turn — documented convention; counts are integers so ties
    occur), E[T] = 2(n-2)/3, Var[T] = (16n-29)/90 under i.i.d., and
    z = (T - E)/sqrt(Var) is the randomness diagnostic next to
    qs302's runs test (signs) and qs204's autocorrelation (levels).

    Determinism: counts are exact integers, the strict comparisons
    are integer compares, T and n are exact, the z epilogue is one
    fixed double tree, ROUND 4.  Plan: one grouped scan -> ~2,400-row
    day grid; lag/lead run on the grid (GRID window class), one-row
    epilogue."""
    o = load_table(spark, sf, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("d")
    ).agg(F.count(F.lit(1)).alias("c"))
    # window: GRID turning points: lag/lead on the ~2,400-row day grid (post-agg)
    w = Window.orderBy("d")
    lagged = daily.select(
        "c",
        F.lag("c").over(w).alias("pc"),
        F.lead("c").over(w).alias("nc"),
    )
    t = lagged.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            F.when(
                F.col("pc").isNotNull()
                & F.col("nc").isNotNull()
                & (
                    ((F.col("c") > F.col("pc")) & (F.col("c") > F.col("nc")))
                    | ((F.col("c") < F.col("pc")) & (F.col("c") < F.col("nc")))
                ),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("tp"),
    )
    return t.select(
        F.col("n").alias("n_days"),
        F.col("tp").alias("t_points"),
        F.round(
            (F.col("tp") - 2.0 * (F.col("n") - 2) / 3.0)
            / F.sqrt((16.0 * F.col("n") - 29.0) / 90.0),
            4,
        ).alias("z"),
    )


# --------------------------------------------------------------------------
# qs354 Periodogram — normalized spectral power at candidate periods
# --------------------------------------------------------------------------

_PERIODS = (7, 30, 91, 365)


@query(
    "qs354_periodogram",
    oracle="""
    WITH daily AS (
      SELECT datediff('day', DATE '1995-01-01',
                      CAST(o_orderdate AS DATE)) AS t,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS y
      FROM orders GROUP BY 1),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(y) AS DOUBLE) / COUNT(*) AS ybar
            FROM daily),
    per AS (SELECT unnest([7, 30, 91, 365]) AS period),
    comp AS (
      SELECT per.period, tot.n,
             SUM((d.y - tot.ybar) * cos(2 * pi() * d.t / per.period)) AS cs,
             SUM((d.y - tot.ybar) * sin(2 * pi() * d.t / per.period)) AS sn,
             SUM((d.y - tot.ybar) * (d.y - tot.ybar)) AS ss
      FROM daily d CROSS JOIN tot CROSS JOIN per
      GROUP BY per.period, tot.n)
    SELECT CAST(period AS BIGINT) AS period,
           ROUND((cs * cs + sn * sn) / (2.0 * n * ss), 6) AS norm_power
    FROM comp ORDER BY period
    """,
)
def qs354(spark: SparkSession, sf: str) -> DataFrame:
    """Periodogram probe: normalized spectral power of the
    mean-centered daily-revenue series at the seasonality candidates
    a commerce series actually has (weekly 7, monthly 30, quarterly
    91, yearly 365).  norm_power(P) = (C^2 + S^2) / (2 n SS) with
    C = SUM y~_t cos(2 pi t / P), S the sine sum, SS = SUM y~_t^2 —
    Cauchy–Schwarz bounds C^2, S^2 <= n*SS each, so the statistic is
    mathematically confined to [0, 1].

    Determinism: daily cents are exact integers; the mean and the
    centered values are the same double tree on both engines; the
    three per-period sums run over the ~2,400-row day grid (partial-
    agg order noise ~1e-12 relative against a ROUND-6 boundary — the
    qs291 margin argument; cos/sin of identical doubles are
    identical IEEE values on both libms for these arguments, and any
    last-ulp wobble is absorbed by the same margin).  Plan: one
    grouped scan -> day grid, broadcast one-row totals, broadcast
    4-row period explode, one grouped epilogue; no window."""
    o = load_table(spark, sf, "orders")
    daily = o.groupBy(
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")
        ).alias("t")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("y")
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (F.sum("y").cast("double") / F.count(F.lit(1))).alias("ybar"),
    )
    per = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(p) for p in _PERIODS])
        ).alias("period")
    )
    yc = F.col("y") - F.col("ybar")
    ang = 2 * math.pi * F.col("t") / F.col("period")
    comp = (
        daily.crossJoin(tot)
        .crossJoin(per)
        .groupBy("period", "n")
        .agg(
            F.sum(yc * F.cos(ang)).alias("cs"),
            F.sum(yc * F.sin(ang)).alias("sn"),
            F.sum(yc * yc).alias("ss"),
        )
    )
    return comp.select(
        F.col("period").cast("long").alias("period"),
        F.round(
            (F.col("cs") * F.col("cs") + F.col("sn") * F.col("sn"))
            / (2.0 * F.col("n") * F.col("ss")),
            6,
        ).alias("norm_power"),
    ).orderBy("period")


# --------------------------------------------------------------------------
# qs355 Lo–MacKinlay variance ratio VR(5) on daily log revenue
# --------------------------------------------------------------------------


@query(
    "qs355_variance_ratio",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS y
      FROM orders GROUP BY 1),
    r AS (
      SELECT ln(CAST(y AS DOUBLE))
             - ln(CAST(LAG(y) OVER (ORDER BY d) AS DOUBLE)) AS r,
             ROW_NUMBER() OVER (ORDER BY d) AS i
      FROM daily QUALIFY LAG(y) OVER (ORDER BY d) IS NOT NULL),
    s AS (
      SELECT SUM(r) OVER (ORDER BY i
                          ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS sq,
             COUNT(*) OVER (ORDER BY i
                            ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS w
      FROM r),
    v1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                  SUM(r) / COUNT(*) AS mu,
                  SUM(r * r) / COUNT(*)
                  - (SUM(r) / COUNT(*)) * (SUM(r) / COUNT(*)) AS var1
           FROM r),
    vq AS (SELECT CAST(COUNT(*) AS BIGINT) AS m,
                  SUM(sq * sq) / COUNT(*)
                  - (SUM(sq) / COUNT(*)) * (SUM(sq) / COUNT(*)) AS varq
           FROM s WHERE w = 5)
    SELECT v1.n AS n_returns, vq.m AS n_windows,
           ROUND(vq.varq / (5.0 * v1.var1), 4) AS vr5
    FROM v1 CROSS JOIN vq
    """,
)
def qs355(spark: SparkSession, sf: str) -> DataFrame:
    """Lo–MacKinlay variance-ratio diagnostic VR(5) on the daily
    log-revenue increments: population variance of overlapping 5-day
    return sums over 5x the 1-day variance.  VR ~ 1 is a random walk,
    > 1 momentum, < 1 mean reversion — the horizon-scaling companion
    to qs345's Hurst exponent (simple population-variance form, no
    heteroscedasticity correction — documented convention).

    Determinism: daily cents are exact integers; log returns are the
    same two-log double tree on both engines; both variances are
    moment epilogues over the ~2,400-row grid (positive r*r / sq*sq
    term sums — the margin argument), ROUND 4.  Plan: one grouped
    scan -> day grid; lag + rolling-5 windows run on the grid (GRID
    class), two one-row epilogues crossed."""
    o = load_table(spark, sf, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("d")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("y")
    )
    # window: GRID variance ratio: log-return lag on the day grid
    w = Window.orderBy("d")
    r = (
        daily.select(
            F.log(F.col("y").cast("double")).alias("ly"),
            F.log(F.lag("y").over(w).cast("double")).alias("lp"),
            F.row_number().over(w).alias("i"),
        )
        .filter(F.col("lp").isNotNull())
        .select((F.col("ly") - F.col("lp")).alias("r"), "i")
    )
    # window: GRID variance ratio: rolling-5 sum on the day grid
    w5 = Window.orderBy("i").rowsBetween(-4, 0)
    s = r.select(
        F.sum("r").over(w5).alias("sq"),
        F.count(F.lit(1)).over(w5).alias("w"),
    ).filter(F.col("w") == 5)
    v1 = r.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (
            F.sum(F.col("r") * F.col("r")) / F.count(F.lit(1))
            - (F.sum("r") / F.count(F.lit(1)))
            * (F.sum("r") / F.count(F.lit(1)))
        ).alias("var1"),
    )
    vq = s.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        (
            F.sum(F.col("sq") * F.col("sq")) / F.count(F.lit(1))
            - (F.sum("sq") / F.count(F.lit(1)))
            * (F.sum("sq") / F.count(F.lit(1)))
        ).alias("varq"),
    )
    return v1.crossJoin(vq).select(
        F.col("n").alias("n_returns"),
        F.col("m").alias("n_windows"),
        F.round(F.col("varq") / (5.0 * F.col("var1")), 4).alias("vr5"),
    )


# --------------------------------------------------------------------------
# qs356 l-diversity audit over quasi-identifier classes
# --------------------------------------------------------------------------


@query(
    "qs356_l_diversity",
    oracle="""
    WITH cls AS (
      SELECT c.c_nationkey AS nat, c.c_mktsegment AS seg,
             CAST(COUNT(DISTINCT o.o_orderpriority) AS BIGINT) AS l,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(MIN(l) AS BIGINT) AS min_l,
           CAST(MAX(l) AS BIGINT) AS max_l,
           CAST(SUM(CASE WHEN l >= 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_l_ge_3,
           CAST(MIN(n) AS BIGINT) AS min_class_rows
    FROM cls
    """,
)
def qs356(spark: SparkSession, sf: str) -> DataFrame:
    """l-diversity audit — the release-safety check one step past
    qs313's k-anonymity: within every quasi-identifier class
    (nation x market segment), how many DISTINCT values of the
    sensitive attribute (order priority) appear?  A class with l = 1
    lets an attacker infer the sensitive value from the QI alone
    even when k-anonymity holds.  Reports the class count, min/max
    l, how many classes reach l >= 3, and the smallest class.

    Determinism: pure exact counting (COUNT DISTINCT over a 5-value
    attribute, integer mins/maxes).  Plan: one key-shuffle join
    (orders x customer — BOTH corpus-proportional, so no broadcast
    hint: AQE picks the join strategy and may still broadcast at
    small SFs, but the plan is not pinned into a driver-OOM at
    100x), one grouped distinct-count on the <=125-class grid,
    one-row epilogue."""
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    cls = (
        o.join(
            c.select("c_custkey", "c_nationkey", "c_mktsegment"),
            o["o_custkey"] == c["c_custkey"],
        )
        .groupBy(
            F.col("c_nationkey").alias("nat"),
            F.col("c_mktsegment").alias("seg"),
        )
        .agg(
            F.countDistinct("o_orderpriority").cast("long").alias("l"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
    )
    return cls.agg(
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.min("l").cast("long").alias("min_l"),
        F.max("l").cast("long").alias("max_l"),
        F.sum(F.when(F.col("l") >= 3, 1).otherwise(0))
        .cast("long")
        .alias("n_l_ge_3"),
        F.min("n").cast("long").alias("min_class_rows"),
    )


# --------------------------------------------------------------------------
# qs357 t-closeness (ordered EMD) over the same QI classes
# --------------------------------------------------------------------------


@query(
    "qs357_t_closeness",
    oracle="""
    WITH f AS (
      SELECT c.c_nationkey AS nat, c.c_mktsegment AS seg,
             TRY_CAST(substr(o.o_orderpriority, 1, 1) AS BIGINT) AS r
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
      WHERE TRY_CAST(substr(o.o_orderpriority, 1, 1) AS BIGINT)
            IS NOT NULL),
    cls AS (
      SELECT nat, seg, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN r = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
             CAST(SUM(CASE WHEN r = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
             CAST(SUM(CASE WHEN r = 3 THEN 1 ELSE 0 END) AS BIGINT) AS c3,
             CAST(SUM(CASE WHEN r = 4 THEN 1 ELSE 0 END) AS BIGINT) AS c4
      FROM f GROUP BY 1, 2),
    tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS tn,
             CAST(SUM(c1) AS BIGINT) AS t1, CAST(SUM(c2) AS BIGINT) AS t2,
             CAST(SUM(c3) AS BIGINT) AS t3, CAST(SUM(c4) AS BIGINT) AS t4
      FROM cls),
    emd AS (
      SELECT (ABS(d1) + ABS(d1 + d2) + ABS(d1 + d2 + d3)
              + ABS(d1 + d2 + d3 + d4)) / 4.0 AS e
      FROM (
        SELECT CAST(c1 AS DOUBLE) / n - CAST(t1 AS DOUBLE) / tn AS d1,
               CAST(c2 AS DOUBLE) / n - CAST(t2 AS DOUBLE) / tn AS d2,
               CAST(c3 AS DOUBLE) / n - CAST(t3 AS DOUBLE) / tn AS d3,
               CAST(c4 AS DOUBLE) / n - CAST(t4 AS DOUBLE) / tn AS d4
        FROM cls CROSS JOIN tot))
    SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
           ROUND(MAX(e), 6) AS t_closeness,
           ROUND(AVG(e), 6) AS avg_emd
    FROM emd
    """,
)
def qs357(spark: SparkSession, sf: str) -> DataFrame:
    """t-closeness audit — the distributional privacy check past
    qs356's l-diversity: for each QI class, the earth-mover's
    distance between the class's distribution of the ORDERED
    sensitive attribute (priority rank 1..5, unit ground distance)
    and the global distribution,
    EMD = SUM_{i=1..m-1} |cum_i(p - q)| / (m - 1) in [0, 1];
    t-closeness is the worst class.

    Determinism: all counts exact integers; each class's EMD is a
    fixed 4-term tree of exact-integer-derived doubles; MAX over
    classes is order-free and AVG runs over the <=125-row grid
    (positive terms, ROUND 6 margin).  Plan: one key-shuffle join
    (orders x customer — both corpus-proportional, no broadcast
    hint; AQE chooses), one grouped conditional-sum agg on the
    class grid, broadcast one-row totals, one-row epilogue."""
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    f = o.join(
        c.select("c_custkey", "c_nationkey", "c_mktsegment"),
        o["o_custkey"] == c["c_custkey"],
    ).select(
        F.col("c_nationkey").alias("nat"),
        F.col("c_mktsegment").alias("seg"),
        # try_cast + drop: the sensitive-attribute distribution runs
        # over rows whose priority rank parses (r15 NULL-axis
        # convention; ANSI CAST throws on dirty source strings).
        F.substring("o_orderpriority", 1, 1).try_cast("long").alias("r"),
    ).filter(F.col("r").isNotNull())
    conds = [
        F.sum(F.when(F.col("r") == i, 1).otherwise(0))
        .cast("long")
        .alias(f"c{i}")
        for i in (1, 2, 3, 4)
    ]
    cls = f.groupBy("nat", "seg").agg(
        F.count(F.lit(1)).cast("long").alias("n"), *conds
    )
    tot = cls.agg(
        F.sum("n").cast("long").alias("tn"),
        *[
            F.sum(f"c{i}").cast("long").alias(f"t{i}")
            for i in (1, 2, 3, 4)
        ],
    )
    d = [
        (
            F.col(f"c{i}").cast("double") / F.col("n")
            - F.col(f"t{i}").cast("double") / F.col("tn")
        )
        for i in (1, 2, 3, 4)
    ]
    e = (
        F.abs(d[0])
        + F.abs(d[0] + d[1])
        + F.abs(d[0] + d[1] + d[2])
        + F.abs(d[0] + d[1] + d[2] + d[3])
    ) / 4.0
    return (
        cls.crossJoin(tot)
        .select(e.alias("e"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_classes"),
            F.round(F.max("e"), 6).alias("t_closeness"),
            F.round(F.avg("e"), 6).alias("avg_emd"),
        )
    )


# --------------------------------------------------------------------------
# qs358 Breusch–Pagan heteroscedasticity test on the revenue trend
# --------------------------------------------------------------------------


@query(
    "qs358_breusch_pagan",
    oracle="""
    WITH daily AS (
      SELECT datediff('day', DATE '1995-01-01',
                      CAST(o_orderdate AS DATE)) AS t,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS y
      FROM orders GROUP BY 1),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(t) AS BIGINT) AS st,
             CAST(SUM(t * t) AS BIGINT) AS stt,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(t * y) AS BIGINT) AS sty
      FROM daily),
    fit AS (
      SELECT n, st, stt,
             (CAST(n AS DOUBLE) * sty - CAST(st AS DOUBLE) * sy)
               / (CAST(n AS DOUBLE) * stt - CAST(st AS DOUBLE) * st) AS b,
             (CAST(sy AS DOUBLE)
              - st * ((CAST(n AS DOUBLE) * sty - CAST(st AS DOUBLE) * sy)
                      / (CAST(n AS DOUBLE) * stt
                         - CAST(st AS DOUBLE) * st))) / n AS a
      FROM m),
    u AS (
      SELECT d.t,
             (d.y - fit.a - fit.b * d.t) * (d.y - fit.a - fit.b * d.t) AS u,
             fit.n, fit.st, fit.stt
      FROM daily d CROSS JOIN fit),
    r2 AS (
      SELECT n,
             (CAST(n AS DOUBLE) * SUM(t * u) - CAST(st AS DOUBLE) * SUM(u))
             * (CAST(n AS DOUBLE) * SUM(t * u) - CAST(st AS DOUBLE) * SUM(u))
             / ((CAST(n AS DOUBLE) * stt - CAST(st AS DOUBLE) * st)
                * (CAST(n AS DOUBLE) * SUM(u * u)
                   - SUM(u) * SUM(u))) AS rsq
      FROM u GROUP BY n, st, stt)
    SELECT n AS n_days, ROUND(rsq, 6) AS r2_aux,
           ROUND(n * rsq, 4) AS bp_lm
    FROM r2
    """,
)
def qs358(spark: SparkSession, sf: str) -> DataFrame:
    """Breusch–Pagan heteroscedasticity test on the daily-revenue
    time trend: fit y_t = a + b t by OLS, regress the squared
    residuals u_t = e_t^2 back on t, and report the auxiliary R^2
    and the LM statistic n*R^2 (Koenker's studentized form) —
    chi2(1) under homoscedasticity.  The variance-stability check
    behind every forecasting query (qs338, qs173).

    Determinism: the first OLS runs entirely on exact integer sums
    (SUM t*y fits int64 through sf30 — ~1.4e18 at 45M orders/day
    grid); residuals and u_t are the same double tree on both
    engines; the auxiliary sums are positive-term or margin-safe
    grid sums over ~2,400 rows, ROUND 6/4.  Plan: one grouped scan
    -> day grid, one-row moment epilogue, broadcast back, second
    one-row epilogue; no window."""
    o = load_table(spark, sf, "orders")
    daily = o.groupBy(
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")
        ).alias("t")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("y")
    )
    m = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("t").cast("long").alias("st"),
        F.sum(F.col("t") * F.col("t")).cast("long").alias("stt"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("t") * F.col("y")).cast("long").alias("sty"),
    )
    den = (
        F.col("n").cast("double") * F.col("stt")
        - F.col("st").cast("double") * F.col("st")
    )
    b = (
        F.col("n").cast("double") * F.col("sty")
        - F.col("st").cast("double") * F.col("sy")
    ) / den
    fit = m.select(
        "n",
        "st",
        "stt",
        b.alias("b"),
        ((F.col("sy").cast("double") - F.col("st") * b) / F.col("n")).alias(
            "a"
        ),
    )
    e = F.col("y") - F.col("a") - F.col("b") * F.col("t")
    u = daily.crossJoin(fit).select(
        "t", (e * e).alias("u"), "n", "st", "stt"
    )
    num = (
        F.col("n").cast("double") * F.sum(F.col("t") * F.col("u"))
        - F.col("st").cast("double") * F.sum("u")
    )
    r2 = u.groupBy("n", "st", "stt").agg(
        (
            num
            * num
            / (
                (
                    F.col("n").cast("double") * F.col("stt")
                    - F.col("st").cast("double") * F.col("st")
                )
                * (
                    F.col("n").cast("double")
                    * F.sum(F.col("u") * F.col("u"))
                    - F.sum("u") * F.sum("u")
                )
            )
        ).alias("rsq")
    )
    return r2.select(
        F.col("n").alias("n_days"),
        F.round(F.col("rsq"), 6).alias("r2_aux"),
        F.round(F.col("n") * F.col("rsq"), 4).alias("bp_lm"),
    )


# --------------------------------------------------------------------------
# qs359 Overdispersion index of daily event counts per type
# --------------------------------------------------------------------------


@query(
    "qs359_overdispersion",
    oracle="""
    WITH types AS (SELECT DISTINCT event_type FROM events),
    bounds AS (
      SELECT MIN(datediff('day', DATE '1995-01-01', CAST(ts AS DATE))) AS a,
             MAX(datediff('day', DATE '1995-01-01', CAST(ts AS DATE))) AS b
      FROM events),
    spine AS (
      SELECT t.event_type, dd.dd
      FROM types t CROSS JOIN
        (SELECT unnest(range((SELECT a FROM bounds),
                             (SELECT b FROM bounds) + 1)) AS dd) dd),
    daily AS (
      SELECT event_type,
             datediff('day', DATE '1995-01-01', CAST(ts AS DATE)) AS dd,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2),
    dense AS (
      SELECT s.event_type, COALESCE(d.c, 0) AS c
      FROM spine s LEFT JOIN daily d
        ON d.event_type = s.event_type AND d.dd = s.dd),
    m AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(c) AS BIGINT) AS s1,
             CAST(SUM(c * c) AS BIGINT) AS s2
      FROM dense GROUP BY 1)
    SELECT event_type, n AS n_days,
           ROUND(CAST(s1 AS DOUBLE) / n, 4) AS mean_count,
           ROUND((CAST(n AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1)
                 / (CAST(n AS DOUBLE) * s1), 4) AS dispersion
    FROM m ORDER BY event_type
    """,
)
def qs359(spark: SparkSession, sf: str) -> DataFrame:
    """Overdispersion index D = Var/Mean of the daily event counts per
    event type over the dense observed-day spine (zero days INCLUDED
    — dropping them biases the variance down, the classic mistake).
    D ~ 1 is Poisson arrivals; D >> 1 flags bursty/clustered traffic
    the Poisson-GOF query (qs284) would reject — the count-model
    companion to qs167's z-score anomalies.  The spine is data-driven
    (min..max observed day) so the query is calendar-agnostic.

    Determinism: counts are exact integers; with population variance,
    D = (n*S2 - S1^2) / (n*S1) is ONE division of exact integers per
    type (S2 <= 365 * 2.7e8 at sf30 — safe), ROUND 4.  Plan: one
    grouped scan -> (type, day) cells, left join onto the generated
    types x days spine (broadcast), 5-row epilogue."""
    ev = load_table(spark, sf, "events")
    dd = F.datediff(
        F.col("ts").cast("date"), F.lit("1995-01-01").cast("date")
    )
    types = ev.select("event_type").distinct()
    days = (
        ev.agg(F.min(dd).alias("a"), F.max(dd).alias("b"))
        .select(
            F.explode(
                F.sequence(F.col("a").cast("long"), F.col("b").cast("long"))
            ).alias("dd")
        )
    )
    spine = types.crossJoin(days)
    daily = ev.groupBy(
        "event_type", dd.alias("dd")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    dense = spine.join(daily, ["event_type", "dd"], "left").select(
        "event_type", F.coalesce(F.col("c"), F.lit(0)).alias("c")
    )
    m = dense.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("c").cast("long").alias("s1"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("s2"),
    )
    return m.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.round(F.col("s1").cast("double") / F.col("n"), 4).alias(
            "mean_count"
        ),
        F.round(
            (
                F.col("n").cast("double") * F.col("s2")
                - F.col("s1").cast("double") * F.col("s1")
            )
            / (F.col("n").cast("double") * F.col("s1")),
            4,
        ).alias("dispersion"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# qs360 Boilerplate bigram audit per source
# --------------------------------------------------------------------------


@query(
    "qs360_boilerplate_ngrams",
    oracle="""
    WITH t AS (
      SELECT doc_id, source,
             list_filter(string_split(lower(text), ' '), x -> x <> '') AS ts
      FROM documents),
    bge AS (
      SELECT doc_id, source, bg FROM (
        SELECT doc_id, source, unnest(CASE WHEN len(ts) >= 2 THEN
            list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i+1])
          ELSE [] END) AS bg
        FROM t)),
    grams AS (
      SELECT source, bg, CAST(COUNT(*) AS BIGINT) AS inst,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS docs
      FROM bge GROUP BY 1, 2),
    per_src AS (
      SELECT source,
             CAST(SUM(inst) AS BIGINT) AS total_inst,
             CAST(SUM(CASE WHEN docs >= 3 THEN inst ELSE 0 END)
                  AS BIGINT) AS boiler_inst,
             CAST(SUM(CASE WHEN docs >= 3 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_boiler_bigrams
      FROM grams GROUP BY 1),
    nd AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
           FROM documents GROUP BY 1)
    SELECT p.source, nd.n_docs, p.n_boiler_bigrams,
           ROUND(CAST(p.boiler_inst AS DOUBLE) / p.total_inst, 6)
             AS boiler_ratio
    FROM per_src p JOIN nd ON nd.source = p.source
    ORDER BY p.source
    """,
)
def qs360(spark: SparkSession, sf: str) -> DataFrame:
    """Boilerplate n-gram audit — the template-contamination signal
    web-corpus curation runs before training: within each source, a
    bigram that recurs across >= 3 distinct documents is boilerplate
    (headers, footers, navigation chrome); report how many bigram
    TYPES are boilerplate and what fraction of the source's bigram
    INSTANCES they cover.  High ratios mark sources to de-template
    before dedup (boilerplate inflates MinHash similarity — qs55).

    Determinism: pure exact counting plus one final division, ROUND
    6.  Plan: row-local bigram transform (no per-doc shuffle), one
    grouped count on (source, bigram), per-source epilogue joined to
    the per-source doc counts; all shuffles are on the gram/source
    keys — no window, no driver collect."""
    d = load_table(spark, sf, "documents")
    toks = d.select(
        "doc_id",
        "source",
        F.filter(
            F.split(F.lower(F.col("text")), " "), lambda x: x != F.lit("")
        ).alias("ts"),
    )
    bge = toks.select(
        "doc_id",
        "source",
        F.explode(
            F.when(
                F.size("ts") >= 2,
                F.expr(
                    "transform(sequence(1, size(ts) - 1), "
                    "i -> concat(element_at(ts, i), ' ', "
                    "element_at(ts, i + 1)))"
                ),
            ).otherwise(F.array())
        ).alias("bg"),
    )
    grams = bge.groupBy("source", "bg").agg(
        F.count(F.lit(1)).cast("long").alias("inst"),
        F.countDistinct("doc_id").cast("long").alias("docs"),
    )
    per_src = grams.groupBy("source").agg(
        F.sum("inst").cast("long").alias("total_inst"),
        F.sum(F.when(F.col("docs") >= 3, F.col("inst")).otherwise(0))
        .cast("long")
        .alias("boiler_inst"),
        F.sum(F.when(F.col("docs") >= 3, 1).otherwise(0))
        .cast("long")
        .alias("n_boiler_bigrams"),
    )
    nd = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    return (
        per_src.join(nd, "source")
        .select(
            "source",
            "n_docs",
            "n_boiler_bigrams",
            F.round(
                F.col("boiler_inst").cast("double") / F.col("total_inst"), 6
            ).alias("boiler_ratio"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# qs361 Goodman–Kruskal lambda (nominal predictive association)
# --------------------------------------------------------------------------


@query(
    "qs361_gk_lambda",
    oracle="""
    WITH grid AS (
      SELECT c_nationkey AS nat, c_mktsegment AS seg,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM customer GROUP BY 1, 2),
    n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM grid),
    rm AS (SELECT CAST(SUM(mx) AS BIGINT) AS srm FROM
             (SELECT nat, MAX(c) AS mx FROM grid GROUP BY nat)),
    cm AS (SELECT CAST(SUM(mx) AS BIGINT) AS scm FROM
             (SELECT seg, MAX(c) AS mx FROM grid GROUP BY seg)),
    rs AS (SELECT CAST(MAX(s) AS BIGINT) AS mr FROM
             (SELECT nat, SUM(c) AS s FROM grid GROUP BY nat)),
    cs AS (SELECT CAST(MAX(s) AS BIGINT) AS mc FROM
             (SELECT seg, SUM(c) AS s FROM grid GROUP BY seg))
    SELECT n.n AS n_rows,
           ROUND(CAST(rm.srm - cs.mc AS DOUBLE) / (n.n - cs.mc), 6)
             AS lambda_seg_given_nat,
           ROUND(CAST(cm.scm - rs.mr AS DOUBLE) / (n.n - rs.mr), 6)
             AS lambda_nat_given_seg
    FROM n, rm, cm, rs, cs
    """,
)
def qs361(spark: SparkSession, sf: str) -> DataFrame:
    """Goodman–Kruskal lambda — the proportional-reduction-in-error
    association for NOMINAL pairs (qs327's gamma/Somers' D need
    order; nation and segment have none): how much better do you
    predict a customer's segment knowing their nation (and vice
    versa) than always guessing the modal category?
    lambda = (SUM_rows max_col n_rc - max_col n_+c) / (n - max_col
    n_+c), in [0, 1].

    Determinism: every term is an exact integer from the 125-cell
    contingency grid (modal counts, not argmax — ties cannot bite);
    each lambda is ONE division, ROUND 6.  Plan: one grouped scan ->
    grid, four grid-sized re-aggregations, one-row epilogue of five
    crossed scalars."""
    c = load_table(spark, sf, "customer")
    grid = c.groupBy(
        F.col("c_nationkey").alias("nat"),
        F.col("c_mktsegment").alias("seg"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    n = grid.agg(F.sum("c").cast("long").alias("n"))
    rm = (
        grid.groupBy("nat")
        .agg(F.max("c").alias("mx"))
        .agg(F.sum("mx").cast("long").alias("srm"))
    )
    cm = (
        grid.groupBy("seg")
        .agg(F.max("c").alias("mx"))
        .agg(F.sum("mx").cast("long").alias("scm"))
    )
    rs = (
        grid.groupBy("nat")
        .agg(F.sum("c").alias("s"))
        .agg(F.max("s").cast("long").alias("mr"))
    )
    cs = (
        grid.groupBy("seg")
        .agg(F.sum("c").alias("s"))
        .agg(F.max("s").cast("long").alias("mc"))
    )
    return (
        n.crossJoin(rm)
        .crossJoin(cm)
        .crossJoin(rs)
        .crossJoin(cs)
        .select(
            F.col("n").alias("n_rows"),
            F.round(
                (F.col("srm") - F.col("mc")).cast("double")
                / (F.col("n") - F.col("mc")),
                6,
            ).alias("lambda_seg_given_nat"),
            F.round(
                (F.col("scm") - F.col("mr")).cast("double")
                / (F.col("n") - F.col("mr")),
                6,
            ).alias("lambda_nat_given_seg"),
        )
    )


# --------------------------------------------------------------------------
# qs362 D'Agostino skewness z-test on account balances
# --------------------------------------------------------------------------


@query(
    "qs362_dagostino_skew",
    oracle="""
    WITH x AS (
      SELECT CAST(ROUND(c_acctbal, 0) AS BIGINT) AS x FROM customer),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS s1,
             CAST(SUM(x * x) AS BIGINT) AS s2,
             CAST(SUM(x * x * x) AS BIGINT) AS s3
      FROM x),
    g AS (
      SELECT n,
        (CAST(s3 AS DOUBLE) / n
         - 3.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n)
         + 2.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
           * (CAST(s1 AS DOUBLE) / n))
        / pow(CAST(s2 AS DOUBLE) / n
              - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n),
              1.5) AS g1
      FROM m),
    z AS (
      SELECT n, g1,
        g1 * sqrt((CAST(n AS DOUBLE) + 1) * (n + 3) / (6.0 * (n - 2)))
          AS y,
        3.0 * (CAST(n AS DOUBLE) * n + 27 * n - 70) * (n + 1) * (n + 3)
          / ((CAST(n AS DOUBLE) - 2) * (n + 5) * (n + 7) * (n + 9)) AS b2
      FROM g),
    p AS (
      SELECT n, g1, y,
             sqrt(2.0 * (b2 - 1)) - 1.0 AS w2
      FROM z)
    SELECT n AS n_rows, ROUND(g1, 6) AS g1,
           ROUND(
             (1.0 / sqrt(ln(sqrt(w2))))
             * ln(y / sqrt(2.0 / (w2 - 1))
                  + sqrt((y / sqrt(2.0 / (w2 - 1)))
                         * (y / sqrt(2.0 / (w2 - 1))) + 1.0)), 4)
             AS z_skew
    FROM p
    """,
)
def qs362(spark: SparkSession, sf: str) -> DataFrame:
    """D'Agostino skewness z-test on customer balances: the sample
    skewness g1 transformed to an approximately standard-normal z
    (D'Agostino 1970): Y = g1*sqrt((n+1)(n+3)/(6(n-2))), beta2 the
    exact kurtosis of g1 under normality, W^2 = sqrt(2(beta2-1))-1,
    delta = 1/sqrt(ln W), alpha^2 = 2/(W^2-1), and
    z = delta * asinh(Y/alpha).  The normality screen finer than
    qs278's omnibus Jarque–Bera (which cannot say WHICH moment
    deviates).

    Determinism: x = whole-dollar balances (ROUND half-away — exact
    on both engines since only exact .5 doubles sit on the
    boundary); S1/S2/S3 are exact integers (|x|^3 <= 1e12, SUM <=
    4.5e18 at sf30); everything downstream is one fixed scalar tree
    (the n-polynomials computed in doubles — they overflow int64
    past sf10), ROUND 6/4.  asinh is spelled ln(v + sqrt(v^2+1))
    identically on both engines.  Plan: one scan, one-row moments,
    scalar epilogue."""
    x = load_table(spark, sf, "customer").select(
        F.round(F.col("c_acctbal"), 0).cast("long").alias("x")
    )
    m = x.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s1"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("s2"),
        F.sum(F.col("x") * F.col("x") * F.col("x")).cast("long").alias("s3"),
    )
    nd = F.col("n").cast("double")
    mu = F.col("s1").cast("double") / F.col("n")
    m2 = F.col("s2").cast("double") / F.col("n") - mu * mu
    m3 = (
        F.col("s3").cast("double") / F.col("n")
        - 3.0 * mu * (F.col("s2").cast("double") / F.col("n"))
        + 2.0 * mu * mu * mu
    )
    g1 = m3 / F.pow(m2, 1.5)
    y = g1 * F.sqrt((nd + 1) * (F.col("n") + 3) / (6.0 * (F.col("n") - 2)))
    b2 = (
        3.0
        * (nd * F.col("n") + 27 * F.col("n") - 70)
        * (F.col("n") + 1)
        * (F.col("n") + 3)
        / ((nd - 2) * (F.col("n") + 5) * (F.col("n") + 7) * (F.col("n") + 9))
    )
    w2 = F.sqrt(2.0 * (b2 - 1)) - 1.0
    alpha = F.sqrt(2.0 / (w2 - 1))
    v = y / alpha
    z = (1.0 / F.sqrt(F.log(F.sqrt(w2)))) * F.log(
        v + F.sqrt(v * v + 1.0)
    )
    return m.select(
        F.col("n").alias("n_rows"),
        F.round(g1, 6).alias("g1"),
        F.round(z, 4).alias("z_skew"),
    )


# --------------------------------------------------------------------------
# qs363 Seasonal strength of weekly seasonality (STL-lite)
# --------------------------------------------------------------------------


@query(
    "qs363_seasonal_strength",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS y
      FROM orders GROUP BY 1),
    spine AS (
      SELECT CAST(unnest(generate_series(
               (SELECT MIN(d) FROM daily), (SELECT MAX(d) FROM daily),
               INTERVAL 1 DAY)) AS DATE) AS d),
    dense AS (
      SELECT s.d, CAST(COALESCE(daily.y, 0) AS BIGINT) AS y
      FROM spine s LEFT JOIN daily ON daily.d = s.d),
    tr AS (
      SELECT d, y,
             AVG(CAST(y AS DOUBLE)) OVER (ORDER BY d
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS trend,
             COUNT(*) OVER (ORDER BY d
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS w
      FROM dense),
    det AS (
      SELECT ((datediff('day', DATE '1995-01-01', d) % 7) + 7) % 7
               AS dow,
             y - trend AS dt
      FROM tr WHERE w = 7),
    sea AS (SELECT dow, AVG(dt) AS s FROM det GROUP BY dow),
    r AS (
      SELECT det.dt, det.dt - sea.s AS r
      FROM det JOIN sea ON sea.dow = det.dow),
    v AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             SUM(r * r) / COUNT(*)
               - (SUM(r) / COUNT(*)) * (SUM(r) / COUNT(*)) AS vr,
             SUM(dt * dt) / COUNT(*)
               - (SUM(dt) / COUNT(*)) * (SUM(dt) / COUNT(*)) AS vd
      FROM r)
    SELECT n AS n_days,
           ROUND(CASE WHEN 1.0 - vr / vd > 0.0
                      THEN 1.0 - vr / vd ELSE 0.0 END, 4)
             AS seasonal_strength
    FROM v
    """,
)
def qs363(spark: SparkSession, sf: str) -> DataFrame:
    """Seasonal-strength diagnostic (the STL decomposition measure,
    computed moving-average style): detrend the dense daily-revenue
    series with a centered 7-day moving average, estimate the weekly
    seasonal as the per-day-of-week mean of the detrended series,
    and report Fs = max(0, 1 - Var(remainder)/Var(detrended)) in
    [0, 1] — how much of the detrended variance weekly seasonality
    explains.  The quantitative version of qs190's day-of-week
    profile.

    Determinism: daily cents exact, zero-filled on the generated
    spine; trend/seasonal/remainder are the same double trees on
    both engines (7-term window means; day-of-week via a NON-NEGATIVE
    modulus pmod(datediff, 7) from a fixed anchor — sign-safe for
    pre-anchor dates, no engine dow-convention dependence); the
    variance epilogues are positive-term grid sums, ROUND 4.  Plan:
    dense grid via generated spine left-join, one GRID window pass,
    broadcast 7-row seasonal join, one-row epilogue."""
    o = load_table(spark, sf, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("d")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("y")
    )
    spine = daily.agg(
        F.min("d").alias("mn"), F.max("d").alias("mx")
    ).select(
        F.explode(F.sequence("mn", "mx")).alias("d")
    )
    dense = spine.join(daily, "d", "left").select(
        "d", F.coalesce(F.col("y"), F.lit(0)).cast("long").alias("y")
    )
    # window: GRID seasonal strength: centered 7-day MA on the dense calendar grid
    w7 = Window.orderBy("d").rowsBetween(-3, 3)
    tr = dense.select(
        "d",
        "y",
        F.avg(F.col("y").cast("double")).over(w7).alias("trend"),
        F.count(F.lit(1)).over(w7).alias("w"),
    ).filter(F.col("w") == 7)
    det = tr.select(
        F.pmod(
            F.datediff("d", F.lit("1995-01-01").cast("date")), F.lit(7)
        ).alias("dow"),
        (F.col("y") - F.col("trend")).alias("dt"),
    )
    sea = det.groupBy("dow").agg(F.avg("dt").alias("s"))
    # bcast: GRID day-of-week seasonal means, 7 rows
    r = det.join(F.broadcast(sea), "dow").select(
        "dt", (F.col("dt") - F.col("s")).alias("r")
    )
    cnt = F.count(F.lit(1))
    v = r.agg(
        cnt.cast("long").alias("n"),
        (
            F.sum(F.col("r") * F.col("r")) / cnt
            - (F.sum("r") / cnt) * (F.sum("r") / cnt)
        ).alias("vr"),
        (
            F.sum(F.col("dt") * F.col("dt")) / cnt
            - (F.sum("dt") / cnt) * (F.sum("dt") / cnt)
        ).alias("vd"),
    )
    fs = 1.0 - F.col("vr") / F.col("vd")
    return v.select(
        F.col("n").alias("n_days"),
        F.round(
            F.when(fs > 0.0, fs).otherwise(F.lit(0.0)), 4
        ).alias("seasonal_strength"),
    )


# --------------------------------------------------------------------------
# qs364 Sequential probability ratio test (SPRT) on daily conversions
# --------------------------------------------------------------------------


@query(
    "qs364_sprt_ab",
    oracle="""
    WITH daily AS (
      SELECT datediff('day', DATE '1995-01-01', CAST(ts AS DATE)) AS dd,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN value >= 70.0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS x
      FROM events WHERE user_id % 2 = 1 GROUP BY 1),
    cum AS (
      SELECT dd,
             SUM(x * ln(0.35 / 0.25)
                 + (n - x) * ln(0.65 / 0.75)) OVER (ORDER BY dd) AS llr
      FROM daily),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
             SUM(x * ln(0.35 / 0.25) + (n - x) * ln(0.65 / 0.75))
               AS final_llr
      FROM daily),
    cross_hi AS (SELECT MIN(dd) AS d_hi FROM cum WHERE llr >= ln(19.0)),
    cross_lo AS (SELECT MIN(dd) AS d_lo FROM cum WHERE llr <= -ln(19.0))
    SELECT agg.n_days, ROUND(agg.final_llr, 4) AS final_llr,
           CASE WHEN d_hi IS NOT NULL
                     AND (d_lo IS NULL OR d_hi <= d_lo) THEN 'reject_h0'
                WHEN d_lo IS NOT NULL THEN 'accept_h0'
                ELSE 'continue' END AS decision,
           CAST(LEAST(d_hi, d_lo) AS BIGINT) AS cross_day
    FROM agg, cross_hi, cross_lo
    """,
)
def qs364(spark: SparkSession, sf: str) -> DataFrame:
    """Wald sequential probability ratio test on the treatment arm's
    daily conversion stream (users with odd id; conversion = event
    value >= 70): H0 p = 0.25 vs H1 p = 0.35, alpha = beta = 0.05,
    so the decision boundaries are +/- ln(19).  Reports the final
    cumulative log-likelihood ratio, the decision at the first
    boundary crossing, and the crossing day — the early-stopping
    companion to qs168's fixed-horizon z-test.

    Determinism: daily trial/success counts are exact integers; the
    LLR increments multiply them by two shared log literals, the
    running sum is frame-ordered on the unique day grid (GRID
    window), and the boundary compare carries O(1)-sized increments
    against ln 19 — a last-ulp libm wobble cannot flip a crossing
    (margin argument, documented).  ROUND 4 on the reported LLR.
    Plan: one grouped scan -> <=365-row day grid, one GRID running
    window, three one-row epilogues crossed."""
    la = math.log(0.35 / 0.25)
    lb = math.log(0.65 / 0.75)
    bound = math.log(19.0)
    ev = load_table(spark, sf, "events").filter(
        F.col("user_id") % 2 == 1
    )
    daily = ev.groupBy(
        F.datediff(
            F.col("ts").cast("date"), F.lit("1995-01-01").cast("date")
        ).alias("dd")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("value") >= 70.0, 1).otherwise(0))
        .cast("long")
        .alias("x"),
    )
    inc = F.col("x") * F.lit(la) + (F.col("n") - F.col("x")) * F.lit(lb)
    cum = daily.select(
        # window: GRID SPRT: running LLR on the <=365-row day grid (post-agg)
        "dd", F.sum(inc).over(Window.orderBy("dd")).alias("llr")
    )
    agg = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(inc).alias("final_llr"),
    )
    hi = cum.filter(F.col("llr") >= bound).agg(F.min("dd").alias("d_hi"))
    lo = cum.filter(F.col("llr") <= -bound).agg(F.min("dd").alias("d_lo"))
    return (
        agg.crossJoin(hi)
        .crossJoin(lo)
        .select(
            "n_days",
            F.round("final_llr", 4).alias("final_llr"),
            F.when(
                F.col("d_hi").isNotNull()
                & (
                    F.col("d_lo").isNull()
                    | (F.col("d_hi") <= F.col("d_lo"))
                ),
                F.lit("reject_h0"),
            )
            .when(F.col("d_lo").isNotNull(), F.lit("accept_h0"))
            .otherwise(F.lit("continue"))
            .alias("decision"),
            F.least("d_hi", "d_lo").cast("long").alias("cross_day"),
        )
    )


# --------------------------------------------------------------------------
# qs365 PMI collocations (pointwise mutual information bigrams)
# --------------------------------------------------------------------------


@query(
    "qs365_pmi_collocations",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), x -> x <> '') AS ts
      FROM documents),
    uni AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS c FROM
        (SELECT unnest(ts) AS term FROM t) GROUP BY term),
    bge AS (
      SELECT bg['w1'] AS w1, bg['w2'] AS w2 FROM (
        SELECT unnest(CASE WHEN len(ts) >= 2 THEN
            list_transform(range(1, len(ts)),
                           i -> struct_pack(w1 := ts[i], w2 := ts[i+1]))
          ELSE [] END) AS bg
        FROM t)),
    big AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
            FROM bge GROUP BY 1, 2),
    tot AS (
      SELECT (SELECT CAST(SUM(c) AS BIGINT) FROM uni) AS nu,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM bge) AS nb)
    SELECT big.w1, big.w2, big.c12,
           ROUND(ln((CAST(big.c12 AS DOUBLE) * nu * nu)
                    / (CAST(nb AS DOUBLE) * u1.c * u2.c)), 6) AS pmi
    FROM big
    JOIN uni u1 ON u1.term = big.w1
    JOIN uni u2 ON u2.term = big.w2
    CROSS JOIN tot
    WHERE big.c12 >= 5
    ORDER BY pmi DESC, big.w1, big.w2 LIMIT 20
    """,
)
def qs365(spark: SparkSession, sf: str) -> DataFrame:
    """PMI collocation mining — the top-20 adjacent word pairs whose
    co-occurrence most exceeds chance: PMI = ln(p(w1,w2) / (p(w1)
    p(w2))) with bigram probabilities over the bigram total and
    unigram probabilities over the token total, minimum bigram count
    5 (the low-count PMI explosion guard).  The collocation signal
    tokenizer training uses to decide merge candidates (qs-BPE's
    statistical cousin).

    Determinism: all counts exact integers; PMI is one ln of a
    double ratio built identically on both engines; ordering is by
    the ROUNDED pmi (6 dp) with a full (w1, w2) tiebreak, so a
    last-ulp ln wobble cannot reorder the kept 20.  Plan: row-local
    bigram transform, two grid-sized count aggs (vocab is corpus-
    bounded), key-shuffle unigram joins onto the bigram grid (the
    unigram table is vocab-sized, i.e. grows with the corpus — no
    broadcast hint; AQE chooses), top-k
    sort on the <=|V|^2 grid."""
    d = load_table(spark, sf, "documents")
    toks = d.select(
        "doc_id",
        F.filter(
            F.split(F.lower(F.col("text")), " "), lambda x: x != F.lit("")
        ).alias("ts"),
    )
    uni = toks.select(F.explode("ts").alias("term")).groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    bge = toks.select(
        F.explode(
            F.when(
                F.size("ts") >= 2,
                F.expr(
                    "transform(sequence(1, size(ts) - 1), "
                    "i -> struct(element_at(ts, i) as w1, "
                    "element_at(ts, i + 1) as w2))"
                ),
            ).otherwise(F.array())
        ).alias("bg")
    ).select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    big = bge.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("c12")
    )
    tot = uni.agg(F.sum("c").cast("long").alias("nu")).crossJoin(
        bge.agg(F.count(F.lit(1)).cast("long").alias("nb"))
    )
    u1 = uni.select(F.col("term").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("term").alias("w2"), F.col("c").alias("c2"))
    pmi = F.round(
        F.log(
            (F.col("c12").cast("double") * F.col("nu") * F.col("nu"))
            / (F.col("nb").cast("double") * F.col("c1") * F.col("c2"))
        ),
        6,
    )
    return (
        big.filter(F.col("c12") >= 5)
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(tot)
        .select("w1", "w2", "c12", pmi.alias("pmi"))
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(20)
    )


# --------------------------------------------------------------------------
# qs366 Heaps' law fit on bigram-vocabulary growth
# --------------------------------------------------------------------------


@query(
    "qs366_heaps_law",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), x -> x <> '') AS ts
      FROM documents),
    nn AS (SELECT CAST(MAX(doc_id) + 1 AS BIGINT) AS nd FROM documents),
    bge AS (
      SELECT doc_id, bg FROM (
        SELECT doc_id, unnest(CASE WHEN len(ts) >= 2 THEN
            list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i+1])
          ELSE [] END) AS bg
        FROM t)),
    cp AS (
      SELECT
        CAST(COUNT(CASE WHEN doc_id * 10 < nd THEN 1 END) AS BIGINT) AS t1,
        CAST(COUNT(DISTINCT CASE WHEN doc_id * 10 < nd THEN bg END)
             AS BIGINT) AS v1,
        CAST(COUNT(CASE WHEN doc_id * 4 < nd THEN 1 END) AS BIGINT) AS t2,
        CAST(COUNT(DISTINCT CASE WHEN doc_id * 4 < nd THEN bg END)
             AS BIGINT) AS v2,
        CAST(COUNT(CASE WHEN doc_id * 2 < nd THEN 1 END) AS BIGINT) AS t3,
        CAST(COUNT(DISTINCT CASE WHEN doc_id * 2 < nd THEN bg END)
             AS BIGINT) AS v3,
        CAST(COUNT(*) AS BIGINT) AS t4,
        CAST(COUNT(DISTINCT bg) AS BIGINT) AS v4,
        MAX(nd) AS nd
      FROM bge CROSS JOIN nn)
    SELECT nd AS n_docs, t4 AS n_bigrams, v4 AS n_types,
      ROUND((4.0 * (ln(t1) * ln(v1) + ln(t2) * ln(v2) + ln(t3) * ln(v3)
                    + ln(t4) * ln(v4))
             - (ln(t1) + ln(t2) + ln(t3) + ln(t4))
               * (ln(v1) + ln(v2) + ln(v3) + ln(v4)))
            / (4.0 * (ln(t1) * ln(t1) + ln(t2) * ln(t2) + ln(t3) * ln(t3)
                      + ln(t4) * ln(t4))
               - (ln(t1) + ln(t2) + ln(t3) + ln(t4))
                 * (ln(t1) + ln(t2) + ln(t3) + ln(t4))), 4) AS beta
    FROM cp
    """,
)
def qs366(spark: SparkSession, sf: str) -> DataFrame:
    """Heaps'-law growth fit on the bigram vocabulary: V(T) ~ K*T^beta
    measured at four corpus prefixes (10%/25%/50%/100% of documents
    by id), beta from the 4-point log-log OLS.  Sublinear beta is
    the expected vocabulary-growth law; beta near 0 means the corpus
    is saturated/templated, near 1 means unbounded novelty — the
    scaling companion to qs262's n-gram novelty and qs335's Zipf
    slope.  Bigram types (not unigrams) are the vocabulary so growth
    is visible on a closed word list.

    Determinism: prefix token/type counts are exact integers
    (conditional counts against the doc-id cutoffs — doc ids are the
    dense 0..N-1 synthetic keys); the OLS is the qs345 explicit
    4-term expansion over their logs, one-row, ROUND 4.  Plan:
    row-local bigram transform, ONE aggregate with four conditional
    distinct-counts (grid-sized distinct spaces), scalar epilogue."""
    d = load_table(spark, sf, "documents")
    nn = d.agg((F.max("doc_id") + 1).cast("long").alias("nd"))
    toks = d.select(
        "doc_id",
        F.filter(
            F.split(F.lower(F.col("text")), " "), lambda x: x != F.lit("")
        ).alias("ts"),
    )
    bge = toks.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("ts") >= 2,
                F.expr(
                    "transform(sequence(1, size(ts) - 1), "
                    "i -> concat(element_at(ts, i), ' ', "
                    "element_at(ts, i + 1)))"
                ),
            ).otherwise(F.array())
        ).alias("bg"),
    )
    cuts = {1: 10, 2: 4, 3: 2}
    aggs = []
    for k, mult in cuts.items():
        cond = F.col("doc_id") * mult < F.col("nd")
        aggs.append(
            F.count(F.when(cond, 1)).cast("long").alias(f"t{k}")
        )
        aggs.append(
            F.countDistinct(F.when(cond, F.col("bg")))
            .cast("long")
            .alias(f"v{k}")
        )
    aggs.append(F.count(F.lit(1)).cast("long").alias("t4"))
    aggs.append(F.countDistinct("bg").cast("long").alias("v4"))
    aggs.append(F.max("nd").alias("nd"))
    cp = bge.crossJoin(nn).agg(*aggs)
    lx = [F.log(F.col(f"t{k}").cast("double")) for k in (1, 2, 3, 4)]
    ly = [F.log(F.col(f"v{k}").cast("double")) for k in (1, 2, 3, 4)]
    sx = lx[0] + lx[1] + lx[2] + lx[3]
    sy = ly[0] + ly[1] + ly[2] + ly[3]
    sxy = sum((lx[i] * ly[i] for i in range(1, 4)), lx[0] * ly[0])
    sxx = sum((lx[i] * lx[i] for i in range(1, 4)), lx[0] * lx[0])
    beta = (4.0 * sxy - sx * sy) / (4.0 * sxx - sx * sx)
    return cp.select(
        F.col("nd").alias("n_docs"),
        F.col("t4").alias("n_bigrams"),
        F.col("v4").alias("n_types"),
        F.round(beta, 4).alias("beta"),
    )


# --------------------------------------------------------------------------
# qs367 Cox–Stuart trend test on daily revenue
# --------------------------------------------------------------------------


@query(
    "qs367_cox_stuart",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS y
      FROM orders GROUP BY 1),
    idx AS (
      SELECT y, ROW_NUMBER() OVER (ORDER BY d) AS rn,
             CAST(COUNT(*) OVER () AS BIGINT) AS n
      FROM daily),
    pairs AS (
      SELECT a.y AS y1, b.y AS y2
      FROM idx a JOIN idx b
        ON b.rn = a.rn + (a.n + 1) // 2
      WHERE a.rn <= a.n // 2),
    s AS (
      SELECT CAST(SUM(CASE WHEN y2 > y1 THEN 1 ELSE 0 END) AS BIGINT)
               AS sp,
             CAST(SUM(CASE WHEN y2 <> y1 THEN 1 ELSE 0 END) AS BIGINT)
               AS np
      FROM pairs)
    SELECT np AS n_pairs, sp AS s_plus,
           ROUND((sp - np / 2.0) / sqrt(np / 4.0), 4) AS z
    FROM s
    """,
)
def qs367(spark: SparkSession, sf: str) -> DataFrame:
    """Cox–Stuart trend test: pair each day in the first half of the
    daily-revenue series with its opposite in the second half
    (offset ceil(n/2), middle dropped when n is odd); under no trend
    the signs of the differences are a fair coin, so
    z = (S+ - n'/2)/sqrt(n'/4) over the n' untied pairs.  The
    distribution-free sibling of qs305's Mann–Kendall (which weighs
    ALL pairs; Cox–Stuart is the O(n) long-span variant).

    Determinism: daily cents exact; sign compares are integer; S+
    and n' exact; one fixed z tree, ROUND 4.  Plan: one grouped scan
    -> day grid, grid self-join on the computed offset (GRID
    row_number), one-row epilogue."""
    o = load_table(spark, sf, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("d")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("y")
    )
    # window: GRID Cox-Stuart: row_number + global count on the ~2,400-row day grid (post-agg)
    w = Window.orderBy("d")
    idx = daily.select(
        "y",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).cast("long").alias("n"),
    )
    a = idx.filter(F.col("rn") <= F.expr("n div 2")).select(
        F.col("y").alias("y1"),
        (F.col("rn") + F.expr("(n + 1) div 2")).alias("target"),
    )
    b = idx.select(F.col("rn").alias("target"), F.col("y").alias("y2"))
    s = a.join(b, "target").agg(
        F.sum(F.when(F.col("y2") > F.col("y1"), 1).otherwise(0))
        .cast("long")
        .alias("sp"),
        F.sum(F.when(F.col("y2") != F.col("y1"), 1).otherwise(0))
        .cast("long")
        .alias("np"),
    )
    return s.select(
        F.col("np").alias("n_pairs"),
        F.col("sp").alias("s_plus"),
        F.round(
            (F.col("sp") - F.col("np") / 2.0)
            / F.sqrt(F.col("np") / 4.0),
            4,
        ).alias("z"),
    )


# --------------------------------------------------------------------------
# qs368 Bartels rank von Neumann randomness test
# --------------------------------------------------------------------------


@query(
    "qs368_bartels_rank",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS y
      FROM orders GROUP BY 1),
    rk AS (
      SELECT d, CAST(ROW_NUMBER() OVER (ORDER BY y, d) AS BIGINT) AS r
      FROM daily),
    seq AS (
      SELECT r, LEAD(r) OVER (ORDER BY d) AS nr
      FROM rk),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN nr IS NULL THEN 0
                           ELSE (r - nr) * (r - nr) END) AS BIGINT) AS nm,
             CAST(SUM(r) AS BIGINT) AS sr,
             CAST(SUM(r * r) AS BIGINT) AS srr
      FROM seq)
    SELECT n AS n_days,
           ROUND(nm / (srr - CAST(sr AS DOUBLE) * sr / n), 4) AS rvn,
           ROUND((nm / (srr - CAST(sr AS DOUBLE) * sr / n) - 2.0)
                 / sqrt(4.0 * (n - 2) * (5.0 * n * n - 2 * n - 9)
                        / (5.0 * n * (n + 1.0) * (n - 1) * (n - 1))),
                 4) AS z
    FROM m
    """,
)
def qs368(spark: SparkSession, sf: str) -> DataFrame:
    """Bartels' rank von Neumann ratio — the rank (outlier-proof)
    version of qs303's Durbin–Watson randomness check:
    RVN = SUM (R_t - R_{t+1})^2 / SUM (R_t - Rbar)^2 over the ranks
    of the daily-revenue series, E[RVN] = 2 under randomness, and
    z uses Bartels' exact variance 4(n-2)(5n^2-2n-9)/(5n(n+1)(n-1)^2).
    Rank convention: unique permutation ranks via the (y, day)
    tiebreak (documented — integer cents make exact ties possible in
    principle but the tiebreak keeps both engines identical).

    Determinism: ranks are exact integers, both sums exact integers,
    one fixed double tree, ROUND 4.  Plan: one grouped scan -> day
    grid; the rank and lead run on the grid (GRID windows), one-row
    epilogue."""
    o = load_table(spark, sf, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("d")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("y")
    )
    rk = daily.select(
        "d",
        # window: GRID Bartels: permutation rank on the day grid
        F.row_number().over(Window.orderBy("y", "d")).cast("long").alias("r"),
    )
    seq = rk.select(
        # window: GRID Bartels: rank lead on the day grid
        "r", F.lead("r").over(Window.orderBy("d")).alias("nr")
    )
    m = seq.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            F.when(F.col("nr").isNull(), 0).otherwise(
                (F.col("r") - F.col("nr")) * (F.col("r") - F.col("nr"))
            )
        )
        .cast("long")
        .alias("nm"),
        F.sum("r").cast("long").alias("sr"),
        F.sum(F.col("r") * F.col("r")).cast("long").alias("srr"),
    )
    den = F.col("srr") - F.col("sr").cast("double") * F.col("sr") / F.col("n")
    rvn = F.col("nm") / den
    nd = F.col("n").cast("double")
    var = (
        4.0
        * (F.col("n") - 2)
        * (5.0 * nd * F.col("n") - 2 * F.col("n") - 9)
        / (5.0 * nd * (F.col("n") + 1.0) * (F.col("n") - 1) * (F.col("n") - 1))
    )
    return m.select(
        F.col("n").alias("n_days"),
        F.round(rvn, 4).alias("rvn"),
        F.round((rvn - 2.0) / F.sqrt(var), 4).alias("z"),
    )


# --------------------------------------------------------------------------
# qs369 Hartley's Fmax variance-ratio screen
# --------------------------------------------------------------------------


@query(
    "qs369_hartley_fmax",
    oracle="""
    WITH x AS (
      SELECT c_mktsegment AS seg,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) AS c
      FROM customer),
    g AS (
      SELECT seg, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(c) AS BIGINT) AS s1,
             CAST(SUM(c * c) AS BIGINT) AS s2
      FROM x GROUP BY seg),
    v AS (
      SELECT seg, n,
             (s2 - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1) AS var
      FROM g)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(MIN(n) AS BIGINT) AS min_n,
           ROUND(MAX(var) / MIN(var), 4) AS f_max
    FROM v
    """,
)
def qs369(spark: SparkSession, sf: str) -> DataFrame:
    """Hartley's Fmax — the quick variance-homogeneity screen before
    ANOVA: the ratio of the largest to the smallest sample variance
    across the 5 market segments, >= 1 by construction (~1 = safe,
    >> 1 = heteroscedastic; qs351's Levene and qs309's Bartlett are
    the formal tests this screens for).

    Determinism: per-group sample variances come from exact integer
    moments (one double tree each); MAX/MIN over the 5-row grid are
    order-free; ONE division, ROUND 4.  Plan: one grouped scan,
    5-row epilogue."""
    x = load_table(spark, sf, "customer").select(
        F.col("c_mktsegment").alias("seg"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("c"),
    )
    g = x.groupBy("seg").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("c").cast("long").alias("s1"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("s2"),
    )
    var = (
        F.col("s2") - F.col("s1").cast("double") * F.col("s1") / F.col("n")
    ) / (F.col("n") - 1)
    return g.select("n", var.alias("var")).agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.min("n").cast("long").alias("min_n"),
        F.round(F.max("var") / F.min("var"), 4).alias("f_max"),
    )


# --------------------------------------------------------------------------
# qs370 Hoover (Robin Hood) index over part-group revenue
# --------------------------------------------------------------------------


@query(
    "qs370_hoover_index",
    oracle="""
    WITH g AS (
      SELECT l_partkey % 200 AS grp,
             CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS c
      FROM lineitem GROUP BY 1),
    tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS tc,
                   CAST(COUNT(*) AS BIGINT) AS n FROM g)
    SELECT n AS n_groups,
           ROUND(0.5 * SUM(ABS(c / tc - 1.0 / n)), 6) AS hoover
    FROM g CROSS JOIN tot GROUP BY n
    """,
)
def qs370(spark: SparkSession, sf: str) -> DataFrame:
    """Hoover / Robin Hood index over the 200-part-group revenue
    distribution: H = (1/2) SUM |s_g - 1/G| — the fraction of total
    revenue that would have to move to equalize the groups, in
    [0, 1].  The third member of the inequality family (qs307 Gini =
    area-based, qs350 Theil = entropy-based, Hoover = L1) — the
    three disagree exactly when the distribution shape matters.

    Determinism: group cents exact; each |.| term is the same fixed
    double; the 200-term positive sum carries the qs291 ROUND-6
    margin.  Plan: one grouped scan -> 200-row grid, broadcast
    one-row total, one-row epilogue."""
    li = load_table(spark, sf, "lineitem")
    g = li.groupBy((F.col("l_partkey") % 200).alias("grp")).agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
        .cast("long")
        .alias("c")
    )
    tot = g.agg(
        F.sum("c").cast("double").alias("tc"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    return (
        g.crossJoin(tot)
        .groupBy("n")
        .agg(
            F.round(
                0.5
                * F.sum(
                    F.abs(F.col("c") / F.col("tc") - 1.0 / F.col("n"))
                ),
                6,
            ).alias("hoover")
        )
        .select(F.col("n").alias("n_groups"), "hoover")
    )


# --------------------------------------------------------------------------
# qs371 Atkinson inequality index (epsilon = 1)
# --------------------------------------------------------------------------


@query(
    "qs371_atkinson_index",
    oracle="""
    WITH g AS (
      SELECT l_partkey % 200 AS grp,
             CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS c
      FROM lineitem GROUP BY 1),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(c) AS DOUBLE) / COUNT(*) AS mean,
                 SUM(ln(CAST(c AS DOUBLE))) / COUNT(*) AS mlog
          FROM g)
    SELECT n AS n_groups,
           ROUND(1.0 - exp(mlog) / mean, 6) AS atkinson
    FROM m
    """,
)
def qs371(spark: SparkSession, sf: str) -> DataFrame:
    """Atkinson inequality index at inequality-aversion epsilon = 1:
    A = 1 - geometric_mean/arithmetic_mean over the 200-part-group
    revenues — in [0, 1) for positive values by AM-GM, and the
    member of the inequality family with an explicit welfare
    interpretation (the fraction of total revenue society would give
    up to equalize).  Completes qs307/qs350/qs370.

    Determinism: group cents exact and strictly positive (every
    group has revenue at every SF); mean-log is a 200-term
    same-sign-add grid sum (margin argument), one exp and one
    division, ROUND 6.  Plan: one grouped scan -> 200-row grid,
    one-row epilogue."""
    li = load_table(spark, sf, "lineitem")
    g = li.groupBy((F.col("l_partkey") % 200).alias("grp")).agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
        .cast("long")
        .alias("c")
    )
    m = g.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (F.sum("c").cast("double") / F.count(F.lit(1))).alias("mean"),
        (
            F.sum(F.log(F.col("c").cast("double"))) / F.count(F.lit(1))
        ).alias("mlog"),
    )
    return m.select(
        F.col("n").alias("n_groups"),
        F.round(1.0 - F.exp(F.col("mlog")) / F.col("mean"), 6).alias(
            "atkinson"
        ),
    )


# --------------------------------------------------------------------------
# qs372 Pairwise source KL-divergence matrix over unigram models
# --------------------------------------------------------------------------


@query(
    "qs372_source_kl_matrix",
    oracle="""
    WITH t AS (
      SELECT source,
             list_filter(string_split(lower(text), ' '), x -> x <> '') AS ts
      FROM documents),
    tok AS (SELECT source, unnest(ts) AS w FROM t),
    vocab AS (SELECT DISTINCT w FROM tok),
    srcs AS (SELECT DISTINCT source FROM documents),
    cnt AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
            FROM tok GROUP BY 1, 2),
    vn AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM vocab),
    totals AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS tt
               FROM tok GROUP BY 1),
    dense AS (
      SELECT s.source, vb.w,
             (COALESCE(cnt.c, 0) + 1.0)
               / (totals.tt + vn.v) AS p
      FROM srcs s CROSS JOIN vocab vb CROSS JOIN vn
      JOIN totals ON totals.source = s.source
      LEFT JOIN cnt ON cnt.source = s.source AND cnt.w = vb.w),
    kl AS (
      SELECT a.source AS source_a, b.source AS source_b,
             SUM(a.p * ln(a.p / b.p)) AS kl
      FROM dense a JOIN dense b ON a.w = b.w
      WHERE a.source <> b.source
      GROUP BY 1, 2)
    SELECT source_a, source_b, ROUND(kl, 6) AS kl_nats
    FROM kl ORDER BY source_a, source_b
    """,
)
def qs372(spark: SparkSession, sf: str) -> DataFrame:
    """Pairwise KL divergence between per-source unigram language
    models (add-1 smoothing over the shared vocabulary, so every
    support is full and KL is finite and >= 0 by Gibbs) — the
    source-similarity matrix corpus curation uses to decide which
    sources are redundant and which add distributional novelty
    (pairs with qs274's symmetric JSD on two fixed cohorts; this is
    the full asymmetric matrix).

    Determinism: counts exact; smoothed probabilities are identical
    double trees; each KL sums |vocab| fixed-form terms on the
    (source_a, source_b) grid (ROUND-6 margin).  Plan: one token
    scan -> (source, word) counts; the dense model is sources x
    vocab (grid-sized — vocab is corpus-bounded); the matrix is a
    grid self-join on the word key.  At 100 TB the vocab grid, not
    the corpus, is what the pairwise join touches."""
    d = load_table(spark, sf, "documents")
    tok = d.select(
        "source",
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), " "),
                lambda x: x != F.lit(""),
            )
        ).alias("w"),
    )
    cnt = tok.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    vocab = tok.select("w").distinct()
    srcs = d.select("source").distinct()
    vn = vocab.agg(F.count(F.lit(1)).cast("long").alias("v"))
    totals = tok.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("tt")
    )
    dense = (
        srcs.crossJoin(vocab)
        .crossJoin(vn)
        # bcast: GRID per-source token totals, one row per source label
        .join(F.broadcast(totals), "source")
        .join(cnt, ["source", "w"], "left")
        .select(
            "source",
            "w",
            (
                (F.coalesce(F.col("c"), F.lit(0)) + 1.0)
                / (F.col("tt") + F.col("v"))
            ).alias("p"),
        )
    )
    a = dense.select(
        F.col("source").alias("source_a"), "w", F.col("p").alias("pa")
    )
    b = dense.select(
        F.col("source").alias("source_b"), "w", F.col("p").alias("pb")
    )
    return (
        a.join(b, "w")
        .filter(F.col("source_a") != F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.round(
                F.sum(F.col("pa") * F.log(F.col("pa") / F.col("pb"))), 6
            ).alias("kl_nats")
        )
        .orderBy("source_a", "source_b")
    )


# --------------------------------------------------------------------------
# qs373 Adjusted Rand index between price tier and priority
# --------------------------------------------------------------------------


@query(
    "qs373_adjusted_rand",
    oracle="""
    WITH f AS (
      SELECT LEAST(3, CAST(FLOOR(o_totalprice / 125000) AS BIGINT)) AS x,
             o_orderpriority AS y
      FROM orders),
    grid AS (SELECT x, y, CAST(COUNT(*) AS BIGINT) AS c
             FROM f GROUP BY 1, 2),
    m AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n,
             CAST(SUM(c * (c - 1) / 2) AS BIGINT) AS sij
      FROM grid),
    ra AS (SELECT CAST(SUM(s * (s - 1) / 2) AS BIGINT) AS sa FROM
             (SELECT x, SUM(c) AS s FROM grid GROUP BY x)),
    rb AS (SELECT CAST(SUM(s * (s - 1) / 2) AS BIGINT) AS sb FROM
             (SELECT y, SUM(c) AS s FROM grid GROUP BY y))
    SELECT m.n AS n_rows,
           ROUND((m.sij - CAST(ra.sa AS DOUBLE) * rb.sb
                          / (CAST(m.n AS DOUBLE) * (m.n - 1) / 2))
                 / ((CAST(ra.sa AS DOUBLE) + rb.sb) / 2
                    - CAST(ra.sa AS DOUBLE) * rb.sb
                      / (CAST(m.n AS DOUBLE) * (m.n - 1) / 2)), 6)
             AS ari
    FROM m, ra, rb
    """,
)
def qs373(spark: SparkSession, sf: str) -> DataFrame:
    """Adjusted Rand index between two partitions of the order set —
    the 4-band price tier vs the 5-level priority: the
    chance-corrected pair-counting agreement
    ARI = (SUMij C(n_ij,2) - E) / (max - E) with
    E = SUMa*SUMb / C(n,2).  ~0 for unrelated partitions, 1 for
    identical — the clustering-evaluation workhorse (label-free,
    unlike qs331's MCC which needs a designated truth).

    Determinism: every pair count C(x,2) = x(x-1)/2 is an exact
    integer off the 20-cell contingency grid; the E and max terms
    are fixed double trees (the SUMa*SUMb product overflows int64
    past ~sf10 so the ratio runs in doubles by design), ROUND 6.
    Plan: one grouped scan -> grid, three grid re-aggregations,
    one-row epilogue."""
    o = load_table(spark, sf, "orders")
    f = o.select(
        F.least(
            F.lit(3), F.floor(F.col("o_totalprice") / 125000)
        ).cast("long").alias("x"),
        F.col("o_orderpriority").alias("y"),
    )
    grid = f.groupBy("x", "y").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    c2 = lambda col: F.sum(col * (col - 1) / 2).cast("long")  # noqa: E731
    m = grid.agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("c") * (F.col("c") - 1) / 2).cast("long").alias("sij"),
    )
    ra = grid.groupBy("x").agg(F.sum("c").alias("s")).agg(
        c2(F.col("s")).alias("sa")
    )
    rb = grid.groupBy("y").agg(F.sum("c").alias("s")).agg(
        c2(F.col("s")).alias("sb")
    )
    npairs = F.col("n").cast("double") * (F.col("n") - 1) / 2
    e = F.col("sa").cast("double") * F.col("sb") / npairs
    mx = (F.col("sa").cast("double") + F.col("sb")) / 2
    return (
        m.crossJoin(ra)
        .crossJoin(rb)
        .select(
            F.col("n").alias("n_rows"),
            F.round((F.col("sij") - e) / (mx - e), 6).alias("ari"),
        )
    )


# --------------------------------------------------------------------------
# qs374 Fowlkes–Mallows + Rand index (nation vs segment)
# --------------------------------------------------------------------------


@query(
    "qs374_fowlkes_mallows",
    oracle="""
    WITH grid AS (
      SELECT c_nationkey AS x, c_mktsegment AS y,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM customer GROUP BY 1, 2),
    m AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n,
             CAST(SUM(c * (c - 1) / 2) AS BIGINT) AS sij
      FROM grid),
    ra AS (SELECT CAST(SUM(s * (s - 1) / 2) AS BIGINT) AS sa FROM
             (SELECT x, SUM(c) AS s FROM grid GROUP BY x)),
    rb AS (SELECT CAST(SUM(s * (s - 1) / 2) AS BIGINT) AS sb FROM
             (SELECT y, SUM(c) AS s FROM grid GROUP BY y))
    SELECT m.n AS n_rows,
           ROUND(m.sij / sqrt(CAST(ra.sa AS DOUBLE) * rb.sb), 6) AS fm,
           ROUND(1.0 - (CAST(ra.sa AS DOUBLE) + rb.sb - 2.0 * m.sij)
                       / (CAST(m.n AS DOUBLE) * (m.n - 1) / 2), 6)
             AS rand_index
    FROM m, ra, rb
    """,
)
def qs374(spark: SparkSession, sf: str) -> DataFrame:
    """Fowlkes–Mallows index and plain Rand index between the nation
    partition (25 blocks) and the segment partition (5 blocks) of
    the customer set: FM = TP/sqrt((TP+FP)(TP+FN)) is the geometric
    mean of pairwise precision and recall; RI the raw pair-agreement
    rate.  The un-adjusted companions to qs373's ARI — reported
    together because FM stays informative when one partition is much
    finer, exactly where RI saturates.

    Determinism: same exact-integer pair counting off the 125-cell
    grid; two fixed double expressions, ROUND 6.  Plan: one grouped
    scan -> grid, three grid re-aggregations, one-row epilogue."""
    cu = load_table(spark, sf, "customer")
    grid = cu.groupBy(
        F.col("c_nationkey").alias("x"),
        F.col("c_mktsegment").alias("y"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    c2 = lambda col: F.sum(col * (col - 1) / 2).cast("long")  # noqa: E731
    m = grid.agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("c") * (F.col("c") - 1) / 2).cast("long").alias("sij"),
    )
    ra = grid.groupBy("x").agg(F.sum("c").alias("s")).agg(
        c2(F.col("s")).alias("sa")
    )
    rb = grid.groupBy("y").agg(F.sum("c").alias("s")).agg(
        c2(F.col("s")).alias("sb")
    )
    npairs = F.col("n").cast("double") * (F.col("n") - 1) / 2
    return (
        m.crossJoin(ra)
        .crossJoin(rb)
        .select(
            F.col("n").alias("n_rows"),
            F.round(
                F.col("sij")
                / F.sqrt(F.col("sa").cast("double") * F.col("sb")),
                6,
            ).alias("fm"),
            F.round(
                1.0
                - (
                    F.col("sa").cast("double")
                    + F.col("sb")
                    - 2.0 * F.col("sij")
                )
                / npairs,
                6,
            ).alias("rand_index"),
        )
    )


# --------------------------------------------------------------------------
# qs375 Hosmer–Lemeshow calibration test
# --------------------------------------------------------------------------


@query(
    "qs375_hosmer_lemeshow",
    oracle="""
    WITH sc AS (
      SELECT CAST(FLOOR(value / 10) AS BIGINT) AS bin,
             1.0 / (1.0 + exp(-(value - 50.0) / 10.0)) AS p,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS o
      FROM events WHERE value < 100),
    b AS (
      SELECT bin, CAST(COUNT(*) AS BIGINT) AS nb,
             CAST(SUM(o) AS BIGINT) AS obs, SUM(p) AS exp
      FROM sc GROUP BY bin)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
           CAST(SUM(nb) AS BIGINT) AS n_events,
           ROUND(SUM((obs - exp) * (obs - exp)
                     / (exp * (1.0 - exp / nb))), 4) AS hl_chi2
    FROM b
    """,
)
def qs375(spark: SparkSession, sf: str) -> DataFrame:
    """Hosmer–Lemeshow goodness-of-fit on a deterministic logistic
    scorer (p = sigmoid((value-50)/10), outcome = purchase event):
    bin by predicted probability (10 fixed score bands — p is
    monotone in value so value bands ARE p-deciles of the design),
    chi2 = SUM (O_g - E_g)^2 / (E_g (1 - E_g/n_g)).  The calibration
    TEST next to qs264's ECE (which measures miscalibration but
    carries no null distribution).

    Determinism: O and n are exact integers; E sums positive
    sigmoids per bin (same double tree both engines, ROUND-4 margin);
    10-term epilogue.  Plan: one scan -> 10-row grid, one-row
    epilogue."""
    ev = load_table(spark, sf, "events").filter(F.col("value") < 100)
    sc = ev.select(
        F.floor(F.col("value") / 10).cast("long").alias("bin"),
        (
            1.0 / (1.0 + F.exp(-(F.col("value") - 50.0) / 10.0))
        ).alias("p"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("o"),
    )
    b = sc.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("nb"),
        F.sum("o").cast("long").alias("obs"),
        F.sum("p").alias("exp"),
    )
    return b.agg(
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        F.sum("nb").cast("long").alias("n_events"),
        F.round(
            F.sum(
                (F.col("obs") - F.col("exp"))
                * (F.col("obs") - F.col("exp"))
                / (F.col("exp") * (1.0 - F.col("exp") / F.col("nb")))
            ),
            4,
        ).alias("hl_chi2"),
    )


# --------------------------------------------------------------------------
# qs376 Youden's J optimal threshold over score bands
# --------------------------------------------------------------------------


@query(
    "qs376_youden_threshold",
    oracle="""
    WITH sc AS (
      SELECT CAST(FLOOR(value / 5) AS BIGINT) AS band,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
      FROM events WHERE value < 100),
    b AS (
      SELECT band, CAST(SUM(pos) AS BIGINT) AS p,
             CAST(SUM(1 - pos) AS BIGINT) AS q
      FROM sc GROUP BY band),
    cum AS (
      SELECT band,
             SUM(p) OVER (ORDER BY band DESC) AS cp,
             SUM(q) OVER (ORDER BY band DESC) AS cq,
             SUM(p) OVER () AS tp, SUM(q) OVER () AS tq
      FROM b),
    j AS (
      SELECT CAST(band * 5 AS BIGINT) AS threshold,
             ROUND(CAST(cp AS DOUBLE) / tp, 6) AS tpr,
             ROUND(CAST(cq AS DOUBLE) / tq, 6) AS fpr,
             ROUND(CAST(cp AS DOUBLE) / tp
                   - CAST(cq AS DOUBLE) / tq, 6) AS j
      FROM cum)
    SELECT threshold, tpr, fpr, j FROM j
    ORDER BY j DESC, threshold LIMIT 1
    """,
)
def qs376(spark: SparkSession, sf: str) -> DataFrame:
    """Youden's J optimal operating point: score events by value (20
    fixed bands), positives = purchase events, and for each
    candidate threshold t compute TPR(t) - FPR(t); report the
    J-maximizing threshold (smallest on ties).  The
    threshold-SELECTION query next to qs181's threshold-free AUC and
    qs264's fixed-threshold calibration.

    Determinism: band counts exact; suffix cumulatives run on the
    20-row band grid; TPR/FPR/J are ROUNDed (6 dp) BEFORE the
    ordered LIMIT with a full threshold tiebreak (round-before-rank
    doctrine).  Plan: one scan -> 20-row grid, GRID window, top-1
    sort on 20 rows."""
    ev = load_table(spark, sf, "events").filter(F.col("value") < 100)
    sc = ev.select(
        F.floor(F.col("value") / 5).cast("long").alias("band"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("pos"),
    )
    b = sc.groupBy("band").agg(
        F.sum("pos").cast("long").alias("p"),
        F.sum(1 - F.col("pos")).cast("long").alias("q"),
    )
    # window: GRID Youden: suffix cumulatives on the 20-row band grid
    wdesc = Window.orderBy(F.col("band").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = b.select(
        "band",
        F.sum("p").over(wdesc).alias("cp"),
        F.sum("q").over(wdesc).alias("cq"),
        F.sum("p").over(wall).alias("tp"),
        F.sum("q").over(wall).alias("tq"),
    )
    tpr = F.round(F.col("cp").cast("double") / F.col("tp"), 6)
    fpr = F.round(F.col("cq").cast("double") / F.col("tq"), 6)
    j = F.round(
        F.col("cp").cast("double") / F.col("tp")
        - F.col("cq").cast("double") / F.col("tq"),
        6,
    )
    return (
        cum.select(
            (F.col("band") * 5).cast("long").alias("threshold"),
            tpr.alias("tpr"),
            fpr.alias("fpr"),
            j.alias("j"),
        )
        .orderBy(F.col("j").desc(), "threshold")
        .limit(1)
    )


# --------------------------------------------------------------------------
# qs377 Cramér–von Mises two-sample test on segment revenue series
# --------------------------------------------------------------------------


@query(
    "qs377_cramer_von_mises",
    oracle="""
    WITH daily AS (
      SELECT c.c_mktsegment AS seg, CAST(o.o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS y
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
        AND o.o_orderdate IS NOT NULL
        AND o.o_totalprice IS NOT NULL
      GROUP BY 1, 2),
    rk AS (
      SELECT seg,
             CAST(ROW_NUMBER() OVER (ORDER BY y, seg, d) AS BIGINT) AS r,
             CAST(ROW_NUMBER() OVER (PARTITION BY seg
                                     ORDER BY y, seg, d) AS BIGINT) AS i
      FROM daily),
    m AS (
      SELECT
        CAST(SUM(CASE WHEN seg = 'BUILDING' THEN 1 ELSE 0 END)
             AS BIGINT) AS n,
        CAST(SUM(CASE WHEN seg = 'MACHINERY' THEN 1 ELSE 0 END)
             AS BIGINT) AS mm,
        CAST(SUM(CASE WHEN seg = 'BUILDING'
                 THEN (r - i) * (r - i) ELSE 0 END) AS BIGINT) AS ux,
        CAST(SUM(CASE WHEN seg = 'MACHINERY'
                 THEN (r - i) * (r - i) ELSE 0 END) AS BIGINT) AS uy
      FROM rk)
    SELECT n AS n_x, mm AS n_y,
           ROUND((CAST(n AS DOUBLE) * ux + CAST(mm AS DOUBLE) * uy)
                 / (CAST(n AS DOUBLE) * mm * (n + mm))
                 - (4.0 * n * mm - 1) / (6.0 * (n + mm)), 6) AS cvm_t
    FROM m
    """,
)
def qs377(spark: SparkSession, sf: str) -> DataFrame:
    """Cramér–von Mises two-sample test between the BUILDING and
    MACHINERY daily-revenue distributions — the integrated-squared
    ECDF distance that weighs the WHOLE distribution, where qs227's
    KS statistic sees only the single worst gap:
    T = (n*U_x + m*U_y)/(nm(n+m)) - (4nm-1)/(6(n+m)) with
    U_s = SUM (r_i - i)^2 over each sample's combined-vs-own ranks.
    Rank convention: unique permutation ranks via the (y, seg, day)
    tiebreak (documented, same on both engines).

    Determinism: both rank sets and both U sums are exact integers
    on the ~4,800-row day grid; one fixed double tree, ROUND 6.
    Plan: one key-shuffle join (orders x 2-segment customer slice —
    still corpus-proportional, no broadcast hint; AQE chooses) +
    grouped scan -> (seg, day) grid,
    two GRID rank windows, one-row epilogue."""
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    daily = (
        # NULL-date / NULL-price orders excluded on both sides: the
        # unique (y, seg, d) rank tiebreak needs non-null keys —
        # engine default null ordering diverges (r15 NULL-axis
        # convention).
        o.filter(
            F.col("o_orderdate").isNotNull()
            & F.col("o_totalprice").isNotNull()
        )
        .join(
            c.select("c_custkey", "c_mktsegment").filter(
                F.col("c_mktsegment").isin("BUILDING", "MACHINERY")
            ),
            o["o_custkey"] == c["c_custkey"],
        )
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_orderdate").cast("date").alias("d"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("y")
        )
    )
    rk = daily.select(
        "seg",
        F.row_number()
        # window: GRID CvM: combined rank on the ~4,800-row (seg, day) grid (post-agg)
        .over(Window.orderBy("y", "seg", "d"))
        .cast("long")
        .alias("r"),
        F.row_number()
        # window: GRID CvM: per-sample rank on the same day grid
        .over(Window.partitionBy("seg").orderBy("y", "seg", "d"))
        .cast("long")
        .alias("i"),
    )
    d2 = (F.col("r") - F.col("i")) * (F.col("r") - F.col("i"))
    m = rk.agg(
        F.sum(F.when(F.col("seg") == "BUILDING", 1).otherwise(0))
        .cast("long")
        .alias("n"),
        F.sum(F.when(F.col("seg") == "MACHINERY", 1).otherwise(0))
        .cast("long")
        .alias("mm"),
        F.sum(F.when(F.col("seg") == "BUILDING", d2).otherwise(0))
        .cast("long")
        .alias("ux"),
        F.sum(F.when(F.col("seg") == "MACHINERY", d2).otherwise(0))
        .cast("long")
        .alias("uy"),
    )
    nd = F.col("n").cast("double")
    md = F.col("mm").cast("double")
    t = (nd * F.col("ux") + md * F.col("uy")) / (
        nd * F.col("mm") * (F.col("n") + F.col("mm"))
    ) - (4.0 * F.col("n") * md - 1) / (6.0 * (F.col("n") + F.col("mm")))
    return m.select(
        F.col("n").alias("n_x"),
        F.col("mm").alias("n_y"),
        F.round(t, 6).alias("cvm_t"),
    )


# --------------------------------------------------------------------------
# qs378 Theil T within/between decomposition
# --------------------------------------------------------------------------


@query(
    "qs378_theil_decomposition",
    oracle="""
    WITH g AS (
      SELECT l_partkey % 200 AS grp,
             CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS c
      FROM lineitem GROUP BY 1),
    tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS tc,
                   CAST(COUNT(*) AS BIGINT) AS ng FROM g),
    reg AS (
      SELECT grp % 5 AS r, CAST(SUM(c) AS DOUBLE) AS cr,
             CAST(COUNT(*) AS BIGINT) AS nr
      FROM g GROUP BY 1),
    tw AS (
      SELECT reg.r,
             SUM((g.c / reg.cr) * ln(g.c * reg.nr / reg.cr)) AS tr,
             MAX(reg.cr) AS cr
      FROM g JOIN reg ON g.grp % 5 = reg.r
      GROUP BY reg.r),
    parts AS (
      SELECT SUM((tw.cr / tot.tc) * tw.tr) AS t_within,
             SUM((tw.cr / tot.tc)
                 * ln((tw.cr / tot.tc) * 5.0)) AS t_between,
             MAX(tot.ng) AS ng
      FROM tw CROSS JOIN tot),
    ttot AS (
      SELECT SUM((g.c / tot.tc) * ln(g.c * tot.ng / tot.tc)) AS t_total
      FROM g CROSS JOIN tot)
    SELECT parts.ng AS n_groups,
           ROUND(ttot.t_total, 6) AS t_total,
           ROUND(parts.t_within, 6) AS t_within,
           ROUND(parts.t_between, 6) AS t_between
    FROM parts, ttot
    """,
)
def qs378(spark: SparkSession, sf: str) -> DataFrame:
    """Theil T within/between decomposition — the property qs350
    advertises, executed: partition the 200 revenue groups into 5
    equal-size super-regions (grp % 5) and split total inequality
    EXACTLY into T_total = SUM_r s_r T_r + T_between (s_r = revenue
    share).  The intent test asserts the identity to float
    precision — the decomposition is its own cross-check, which is
    why concentration audits prefer Theil over Gini (whose
    decomposition has a residual).

    Determinism: group cents exact; every term is a fixed double
    tree over the 200-row / 5-row grids with same-sign sums per
    index (ROUND-6 margin).  Plan: one grouped scan -> 200-row grid,
    5-row region re-aggregation, broadcast totals, two one-row
    epilogues crossed."""
    li = load_table(spark, sf, "lineitem")
    g = li.groupBy((F.col("l_partkey") % 200).alias("grp")).agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
        .cast("long")
        .alias("c")
    )
    tot = g.agg(
        F.sum("c").cast("double").alias("tc"),
        F.count(F.lit(1)).cast("long").alias("ng"),
    )
    reg = g.groupBy((F.col("grp") % 5).alias("r")).agg(
        F.sum("c").cast("double").alias("cr"),
        F.count(F.lit(1)).cast("long").alias("nr"),
    )
    tw = (
        g.select((F.col("grp") % 5).alias("r"), "c")
        # bcast: GRID grp%5 regional aggregate, 5 rows
        .join(F.broadcast(reg), "r")
        .groupBy("r")
        .agg(
            F.sum(
                (F.col("c") / F.col("cr"))
                * F.log(F.col("c") * F.col("nr") / F.col("cr"))
            ).alias("tr"),
            F.max("cr").alias("cr"),
        )
    )
    parts = tw.crossJoin(tot).agg(
        F.sum((F.col("cr") / F.col("tc")) * F.col("tr")).alias("t_within"),
        F.sum(
            (F.col("cr") / F.col("tc"))
            * F.log((F.col("cr") / F.col("tc")) * 5.0)
        ).alias("t_between"),
        F.max("ng").alias("ng"),
    )
    ttot = g.crossJoin(tot).agg(
        F.sum(
            (F.col("c") / F.col("tc"))
            * F.log(F.col("c") * F.col("ng") / F.col("tc"))
        ).alias("t_total")
    )
    return parts.crossJoin(ttot).select(
        F.col("ng").alias("n_groups"),
        F.round("t_total", 6).alias("t_total"),
        F.round("t_within", 6).alias("t_within"),
        F.round("t_between", 6).alias("t_between"),
    )


# --------------------------------------------------------------------------
# qs379 Quintile share ratio + Palma ratio
# --------------------------------------------------------------------------


@query(
    "qs379_quintile_shares",
    oracle="""
    WITH g AS (
      SELECT l_partkey % 200 AS grp,
             CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS c
      FROM lineitem GROUP BY 1),
    d AS (
      SELECT c, NTILE(10) OVER (ORDER BY c, grp) AS dec
      FROM g),
    sh AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(c) AS DOUBLE) AS tc,
             CAST(SUM(CASE WHEN dec >= 9 THEN c ELSE 0 END) AS DOUBLE)
               AS top20,
             CAST(SUM(CASE WHEN dec <= 2 THEN c ELSE 0 END) AS DOUBLE)
               AS bot20,
             CAST(SUM(CASE WHEN dec = 10 THEN c ELSE 0 END) AS DOUBLE)
               AS top10,
             CAST(SUM(CASE WHEN dec <= 4 THEN c ELSE 0 END) AS DOUBLE)
               AS bot40
      FROM d)
    SELECT n AS n_groups,
           ROUND(top20 / bot20, 6) AS s80_s20,
           ROUND(top10 / bot40, 6) AS palma
    FROM sh
    """,
)
def qs379(spark: SparkSession, sf: str) -> DataFrame:
    """Quintile share ratio (S80/S20, the Eurostat headline
    inequality indicator) and Palma ratio (top-10% share over
    bottom-40% share) of the 200-part-group revenue distribution —
    the RATIO members of the inequality family (qs307 Gini, qs350
    Theil, qs370 Hoover, qs371 Atkinson), the two that track the
    tails specifically where Gini is famously middle-sensitive.

    Determinism: the decile assignment is NTILE(10) over (c, grp) —
    200 groups split 20/20 exactly (no ntile remainder ambiguity at
    any SF since the group count is the fixed 200 grid), a unique
    total order; the four conditional sums are exact integers and
    each ratio is ONE division, ROUND 6.  S80/S20 >= 1 by the sort.
    Plan: one grouped scan -> 200-row grid, GRID ntile window,
    one-row epilogue."""
    li = load_table(spark, sf, "lineitem")
    g = li.groupBy((F.col("l_partkey") % 200).alias("grp")).agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
        .cast("long")
        .alias("c")
    )
    d = g.select(
        # window: GRID quintile shares: ntile over the fixed 200-row group grid
        "c", F.ntile(10).over(Window.orderBy("c", "grp")).alias("dec")
    )
    sh = d.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("dec") >= 9, F.col("c")).otherwise(0))
        .cast("double")
        .alias("top20"),
        F.sum(F.when(F.col("dec") <= 2, F.col("c")).otherwise(0))
        .cast("double")
        .alias("bot20"),
        F.sum(F.when(F.col("dec") == 10, F.col("c")).otherwise(0))
        .cast("double")
        .alias("top10"),
        F.sum(F.when(F.col("dec") <= 4, F.col("c")).otherwise(0))
        .cast("double")
        .alias("bot40"),
    )
    return sh.select(
        F.col("n").alias("n_groups"),
        F.round(F.col("top20") / F.col("bot20"), 6).alias("s80_s20"),
        F.round(F.col("top10") / F.col("bot40"), 6).alias("palma"),
    )


# --------------------------------------------------------------------------
# qs380 Gwet's AC1 agreement (kappa-paradox-robust)
# --------------------------------------------------------------------------


@query(
    "qs380_gwet_ac1",
    oracle="""
    WITH subj AS (
      SELECT l_orderkey,
             CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS BIGINT) AS nr,
             CAST(SUM(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END)
                  AS BIGINT) AS nn,
             CAST(SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END)
                  AS BIGINT) AS na
      FROM lineitem GROUP BY l_orderkey HAVING COUNT(*) = 4),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(nr * nr + nn * nn + na * na - 4) AS BIGINT) AS sp,
             CAST(SUM(nr) AS BIGINT) AS tr,
             CAST(SUM(nn) AS BIGINT) AS tn,
             CAST(SUM(na) AS BIGINT) AS ta
      FROM subj),
    p AS (
      SELECT n,
             CAST(sp AS DOUBLE) / (n * 12) AS pa,
             (CAST(tr AS DOUBLE) / (4 * n) * (1 - CAST(tr AS DOUBLE) / (4 * n))
              + CAST(tn AS DOUBLE) / (4 * n) * (1 - CAST(tn AS DOUBLE) / (4 * n))
              + CAST(ta AS DOUBLE) / (4 * n) * (1 - CAST(ta AS DOUBLE) / (4 * n)))
             / 2.0 AS pe
      FROM m)
    SELECT n AS n_subjects, ROUND(pa, 6) AS pa,
           ROUND((pa - pe) / (1.0 - pe), 6) AS gwet_ac1
    FROM p
    """,
)
def qs380(spark: SparkSession, sf: str) -> DataFrame:
    """Gwet's AC1 chance-corrected agreement on the same 4-rater
    return-flag construction as qs352 — the estimator built to
    escape the kappa paradox (Fleiss' kappa collapses toward 0 when
    one category dominates even at near-perfect raw agreement):
    AC1 = (Pa - Pe)/(1 - Pe) with Pe = (1/(K-1)) SUM pi_k(1 - pi_k).
    Reporting both (qs352 + this) is the standard practice the
    agreement literature recommends.

    Determinism: identical exact-integer moments as qs352 (shared
    n(n-1) = 12 denominator for Pa); Pe is a fixed 3-term double
    tree, ROUND 6.  Plan: one grouped scan (shared with qs352 via
    _rater4_moments — the subj/m oracle CTEs are the same shared
    text), one-row epilogue."""
    m = _rater4_moments(spark, sf)
    pa = F.col("sp").cast("double") / (F.col("n") * 12)
    pis = [
        F.col(c).cast("double") / (4 * F.col("n"))
        for c in ("tr", "tn", "ta")
    ]
    pe = sum((p * (1 - p) for p in pis[1:]), pis[0] * (1 - pis[0])) / 2.0
    return m.select(
        F.col("n").alias("n_subjects"),
        F.round(pa, 6).alias("pa"),
        F.round((pa - pe) / (1.0 - pe), 6).alias("gwet_ac1"),
    )


# --------------------------------------------------------------------------
# qs381 Seasonal Mann–Kendall trend test
# --------------------------------------------------------------------------


@query(
    "qs381_seasonal_mann_kendall",
    oracle="""
    WITH m AS (
      SELECT YEAR(o_orderdate) AS yr, MONTH(o_orderdate) AS season,
             CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS y
      FROM orders GROUP BY 1, 2),
    s AS (
      SELECT CAST(SUM(CASE WHEN b.y > a.y THEN 1
                           WHEN b.y < a.y THEN -1 ELSE 0 END)
                  AS BIGINT) AS s
      FROM m a JOIN m b ON a.season = b.season AND a.yr < b.yr),
    v AS (
      SELECT CAST(SUM(CAST(n AS HUGEINT) * (n - 1) * (2 * n + 5))
                  AS DOUBLE) / 18.0 AS var
      FROM (SELECT season, COUNT(*) AS n FROM m GROUP BY season)),
    cnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cells FROM m)
    SELECT cnt.n_cells, s.s AS s_stat,
           ROUND(CASE WHEN s.s > 0 THEN (s.s - 1)
                      WHEN s.s < 0 THEN (s.s + 1) ELSE 0 END
                 / sqrt(v.var), 4) AS z
    FROM cnt CROSS JOIN s CROSS JOIN v
    """,
)
def qs381(spark: SparkSession, sf: str) -> DataFrame:
    """Seasonal Mann–Kendall trend test on monthly revenue: qs305's
    S statistic computed WITHIN each calendar month across years
    (Jan-vs-Jan, Feb-vs-Feb, ...) and summed — the Hirsch–Slack
    variant that detects a multi-year trend qs305's all-pairs S
    dilutes when the series has strong seasonality.  S = SUM_s S_s,
    Var = SUM_s n_s(n_s-1)(2n_s+5)/18 (no tie term — monthly cents
    sums are effectively tie-free and the convention is documented;
    qs305 carries the tie correction for the pooled variant),
    z continuity-corrected exactly as qs305 (zero at S = 0).

    Determinism: per-season pair signs are integer compares on exact
    cents; S and the per-season counts are exact; one fixed z tree,
    ROUND 4.  Plan: one grouped scan -> (year, month) grid (~84
    rows), grid self-join per season, one-row epilogue."""
    o = load_table(spark, sf, "orders")
    m = o.groupBy(
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("season"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
        .cast("long")
        .alias("y")
    )
    a = m.select(
        F.col("season").alias("s1"),
        F.col("yr").alias("yr1"),
        F.col("y").alias("ya"),
    )
    b = m.select(
        F.col("season").alias("s1"),
        F.col("yr").alias("yr2"),
        F.col("y").alias("yb"),
    )
    s = (
        a.join(b, "s1")
        .filter(F.col("yr1") < F.col("yr2"))
        .agg(
            F.sum(
                F.when(F.col("yb") > F.col("ya"), 1)
                .when(F.col("yb") < F.col("ya"), -1)
                .otherwise(0)
            )
            .cast("long")
            .alias("s")
        )
    )
    v = (
        m.groupBy("season")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(
            (
                F.sum(
                    F.col("n").cast("double")
                    * (F.col("n") - 1)
                    * (2 * F.col("n") + 5)
                )
                / 18.0
            ).alias("var")
        )
    )
    cnt = m.agg(F.count(F.lit(1)).cast("long").alias("n_cells"))
    zc = (
        F.when(F.col("s") > 0, F.col("s") - 1)
        .when(F.col("s") < 0, F.col("s") + 1)
        .otherwise(0)
    )
    return (
        cnt.crossJoin(s)
        .crossJoin(v)
        .select(
            "n_cells",
            F.col("s").alias("s_stat"),
            F.round(zc / F.sqrt(F.col("var")), 4).alias("z"),
        )
    )


# --------------------------------------------------------------------------
# qs382 Wilcoxon signed-rank test on paired yearly revenue
# --------------------------------------------------------------------------


@query(
    "qs382_wilcoxon_signed_rank",
    oracle="""
    WITH g AS (
      SELECT o_custkey % 100 AS grp,
             CAST(SUM(CASE WHEN YEAR(o_orderdate) = 1995
                      THEN CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS y95,
             CAST(SUM(CASE WHEN YEAR(o_orderdate) = 1996
                      THEN CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS y96
      FROM orders WHERE YEAR(o_orderdate) IN (1995, 1996)
      GROUP BY 1),
    d AS (
      SELECT grp, y96 - y95 AS d FROM g WHERE y96 <> y95),
    rk AS (
      SELECT d, CAST(ROW_NUMBER() OVER (ORDER BY ABS(d), grp)
                     AS BIGINT) AS r
      FROM d),
    w AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN d > 0 THEN r ELSE 0 END) AS BIGINT)
               AS w_plus
      FROM rk)
    SELECT n AS n_pairs, w_plus,
           ROUND((w_plus - CAST(n AS DOUBLE) * (n + 1) / 4)
                 / sqrt(CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 24),
                 4) AS z
    FROM w
    """,
)
def qs382(spark: SparkSession, sf: str) -> DataFrame:
    """Wilcoxon signed-rank test — the PAIRED rank test missing
    between qs181's unpaired Mann–Whitney and qs254's paired-binary
    McNemar: pair each customer group's 1995 revenue with its 1996
    revenue, rank the absolute differences, and test whether the
    positive-difference ranks dominate.
    z = (W+ - n(n+1)/4) / sqrt(n(n+1)(2n+1)/24), zero-differences
    dropped.  Rank convention: permutation ranks via the (|d|, grp)
    tiebreak (documented — exact-cents |d| ties are measure-zero and
    the tiebreak keeps both engines identical; equal to midranks
    when no ties).

    Determinism: yearly cents, differences, ranks, and W+ are exact
    integers on the 100-group grid; one fixed z tree, ROUND 4.
    Plan: one grouped scan -> 100-row grid, GRID rank window,
    one-row epilogue."""
    o = load_table(spark, sf, "orders").filter(
        F.year("o_orderdate").isin(1995, 1996)
    )
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    g = o.groupBy((F.col("o_custkey") % 100).alias("grp")).agg(
        F.sum(
            F.when(F.year("o_orderdate") == 1995, cents).otherwise(0)
        )
        .cast("long")
        .alias("y95"),
        F.sum(
            F.when(F.year("o_orderdate") == 1996, cents).otherwise(0)
        )
        .cast("long")
        .alias("y96"),
    )
    d = g.filter(F.col("y96") != F.col("y95")).select(
        "grp", (F.col("y96") - F.col("y95")).alias("d")
    )
    rk = d.select(
        "d",
        F.row_number()
        # window: GRID Wilcoxon: |d| rank over the 100-row pair grid
        .over(Window.orderBy(F.abs(F.col("d")), F.col("grp")))
        .cast("long")
        .alias("r"),
    )
    w = rk.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("d") > 0, F.col("r")).otherwise(0))
        .cast("long")
        .alias("w_plus"),
    )
    nd = F.col("n").cast("double")
    return w.select(
        F.col("n").alias("n_pairs"),
        "w_plus",
        F.round(
            (F.col("w_plus") - nd * (F.col("n") + 1) / 4)
            / F.sqrt(nd * (F.col("n") + 1) * (2 * F.col("n") + 1) / 24),
            4,
        ).alias("z"),
    )
