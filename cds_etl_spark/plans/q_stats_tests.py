"""Hypothesis-test family (qs269–qs274, qs288–qs291,
qs298–qs302): log-rank survival comparison, Welch t,
Kruskal–Wallis + Dunn post-hoc, one-way ANOVA + Brown–Forsythe,
Friedman, Cronbach's α, Jonckheere–Terpstra trend, Kendall τ-b,
Theil's U, the runs test, Cramér's V association audit, and
Jensen–Shannon source divergence — one family of the declared
oracle-checkable query set. These extend the survival
(qs182/qs246), rank (qs181/qs243), and drift (qs159/qs227) blocks
with the classical inference tests a data-quality/ETL pipeline runs
over curated tables (reference validation-report surface:
/root/reference/data_loader.py validation hooks). Registration
contract, aliasing and cross-engine rules:
cds_etl_spark/plans/registry.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cds_etl_spark.catalog import load_table
from cds_etl_spark.operators.prefix import bucketed_prefix_sum, midrank2
from cds_etl_spark.plans.registry import query

# --------------------------------------------------------------------------
# qs269 two-group log-rank test on user churn (pairs with qs182/qs246)
# --------------------------------------------------------------------------


@query(
    "qs269_logrank_test",
    oracle="""
    WITH lastd AS (
      SELECT user_id % 2 AS g, MAX(CAST(ts AS DATE)) AS day
      FROM events GROUP BY user_id),
    d AS (SELECT day, g, COUNT(*) AS d FROM lastd GROUP BY day, g),
    days AS (SELECT DISTINCT day FROM d),
    grid AS (
      SELECT days.day, gg.g, COALESCE(d.d, 0) AS d
      FROM days CROSS JOIN (SELECT 0 AS g UNION ALL SELECT 1) gg
      LEFT JOIN d ON d.day = days.day AND d.g = gg.g),
    tot AS (SELECT g, SUM(d) AS tot FROM grid GROUP BY g),
    risk AS (
      SELECT grid.day, grid.g, grid.d,
             tot.tot - COALESCE(SUM(grid.d) OVER (
               PARTITION BY grid.g ORDER BY grid.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS n
      FROM grid JOIN tot ON tot.g = grid.g),
    byday AS (
      SELECT day,
             SUM(CASE WHEN g = 1 THEN d ELSE 0 END) AS d1,
             SUM(d) AS d,
             SUM(CASE WHEN g = 1 THEN n ELSE 0 END) AS n1,
             SUM(n) AS n
      FROM risk GROUP BY day),
    terms AS (
      SELECT d1, d * 1.0 * n1 / n AS e1,
             CASE WHEN n > 1 THEN
               (d * 1.0 * n1 / n) * (1.0 * (n - n1) / n)
                 * (1.0 * (n - d) / (n - 1))
             ELSE 0.0 END AS v
      FROM byday WHERE d > 0)
    SELECT CAST(SUM(d1) AS BIGINT) AS observed1,
           ROUND(SUM(e1), 4) AS expected1,
           ROUND(SUM(v), 4) AS variance1,
           ROUND(POWER(SUM(d1) - SUM(e1), 2) / SUM(v), 4)
             AS logrank_chi2
    FROM terms
    """,
)
def qs269(spark: SparkSession, sf: str) -> DataFrame:
    """LOG-RANK test comparing churn ("death" = a user's last active
    day, the qs182 framing) between two user cohorts (user_id
    parity): at each death day the observed cohort-1 deaths are
    compared with the hypergeometric expectation d·n1/n given the
    at-risk sets, and (ΣO−ΣE)²/ΣV is the χ²₁ statistic — the
    standard two-sample survival comparison that Kaplan–Meier curves
    (qs182) get eyeballed for.

    Determinism: deaths and at-risk counts are exact integers built
    on a days×2 grid (missing cells pinned to 0 so both cohorts'
    at-risk windows see every death day); expectation/variance terms
    are exact-integer ratios in double, summed over ≤ #days rows,
    ROUND 4. Plan: the corpus collapses to one row per user, then to
    a days-sized grid — windows and the final aggregate run on
    <1k rows regardless of corpus size."""
    ev = load_table(spark, sf, "events")
    lastd = ev.groupBy("user_id").agg(
        F.max(F.col("ts").cast("date")).alias("day")
    ).select((F.col("user_id") % 2).alias("g"), "day")
    d = lastd.groupBy("day", "g").agg(F.count(F.lit(1)).alias("d"))
    days = d.select("day").distinct()
    groups = spark.range(2).select(F.col("id").alias("g"))
    grid = (
        days.crossJoin(groups)
        .join(d, ["day", "g"], "left")
        .select("day", "g", F.coalesce("d", F.lit(0)).alias("d"))
    )
    tot = grid.groupBy("g").agg(F.sum("d").alias("tot"))
    wprev = (
        Window.partitionBy("g")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # bcast: ONE-ROW global .agg() scalar frame (one row by construction)
    risk = grid.join(F.broadcast(tot), "g").withColumn(
        "n",
        F.col("tot")
        - F.coalesce(F.sum("d").over(wprev), F.lit(0)),
    )
    byday = risk.groupBy("day").agg(
        F.sum(F.when(F.col("g") == 1, F.col("d")).otherwise(0)).alias("d1"),
        F.sum("d").alias("d"),
        F.sum(F.when(F.col("g") == 1, F.col("n")).otherwise(0)).alias("n1"),
        F.sum("n").alias("n"),
    ).filter(F.col("d") > 0)
    e1 = F.col("d") * F.lit(1.0) * F.col("n1") / F.col("n")
    v = F.when(
        F.col("n") > 1,
        e1
        * (F.lit(1.0) * (F.col("n") - F.col("n1")) / F.col("n"))
        * (F.lit(1.0) * (F.col("n") - F.col("d")) / (F.col("n") - 1)),
    ).otherwise(F.lit(0.0))
    agg = byday.agg(
        F.sum("d1").alias("o1"),
        F.sum(e1).alias("e1"),
        F.sum(v).alias("v1"),
    )
    return agg.select(
        F.col("o1").cast("long").alias("observed1"),
        F.round("e1", 4).alias("expected1"),
        F.round("v1", 4).alias("variance1"),
        F.round(
            F.pow(F.col("o1") - F.col("e1"), 2) / F.col("v1"), 4
        ).alias("logrank_chi2"),
    )


# --------------------------------------------------------------------------
# qs270 Welch two-sample t-test (unequal variances)
# --------------------------------------------------------------------------


@query(
    "qs270_welch_ttest",
    oracle="""
    WITH s AS (
      SELECT c_nationkey AS g,
             CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS cents
      FROM customer WHERE c_nationkey IN (0, 1)),
    m AS (SELECT g, COUNT(*) AS n, SUM(cents) AS s1,
                 SUM(cents * cents) AS s2
          FROM s GROUP BY g),
    w AS (SELECT
      MAX(CASE WHEN g = 0 THEN n END) AS n0,
      MAX(CASE WHEN g = 1 THEN n END) AS n1,
      MAX(CASE WHEN g = 0 THEN CAST(s1 AS DOUBLE) END) AS a0,
      MAX(CASE WHEN g = 1 THEN CAST(s1 AS DOUBLE) END) AS a1,
      MAX(CASE WHEN g = 0 THEN CAST(s2 AS DOUBLE) END) AS b0,
      MAX(CASE WHEN g = 1 THEN CAST(s2 AS DOUBLE) END) AS b1
      FROM m),
    v AS (SELECT n0, n1, a0 / n0 AS m0, a1 / n1 AS m1,
                 (b0 - a0 * a0 / n0) / (n0 - 1) / n0 AS se0,
                 (b1 - a1 * a1 / n1) / (n1 - 1) / n1 AS se1
          FROM w)
    SELECT CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
           ROUND(m0 / 100, 4) AS mean0,
           ROUND(m1 / 100, 4) AS mean1,
           ROUND((m0 - m1) / sqrt(se0 + se1), 4) AS t_stat,
           ROUND(POWER(se0 + se1, 2)
                 / (se0 * se0 / (n0 - 1) + se1 * se1 / (n1 - 1)),
                 4) AS welch_df
    FROM v
    """,
)
def qs270(spark: SparkSession, sf: str) -> DataFrame:
    """WELCH two-sample t-test (unequal variances) on account
    balances of two nations: t = (m₀−m₁)/√(v₀/n₀+v₁/n₁) with the
    Welch–Satterthwaite degrees of freedom — the mean-shift test
    qs168's proportion z-test states for continuous measures.

    Determinism: per-group moments (n, Σx, Σx²) accumulate as exact
    integers over cents (Σx² ≤ ~1.5e18 at sf10 fits BIGINT; wider
    deployments lift to DECIMAL as qs272 does), the t/df formula then
    runs in double on both engines from identical integers, ROUND 4.
    Plan: one partial-aggregated scan collapses the table to 2
    moment rows; everything after is a broadcast-sized pivot."""
    c = load_table(spark, sf, "customer")
    cents = F.round(F.col("c_acctbal") * 100, 0).cast("long")
    s = c.filter(F.col("c_nationkey").isin(0, 1)).select(
        F.col("c_nationkey").alias("g"), cents.alias("cents")
    )
    m = s.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("s1"),
        F.sum(F.col("cents") * F.col("cents")).alias("s2"),
    )
    w = m.agg(
        F.max(F.when(F.col("g") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("g") == 1, F.col("n"))).alias("n1"),
        F.max(
            F.when(F.col("g") == 0, F.col("s1").cast("double"))
        ).alias("a0"),
        F.max(
            F.when(F.col("g") == 1, F.col("s1").cast("double"))
        ).alias("a1"),
        F.max(
            F.when(F.col("g") == 0, F.col("s2").cast("double"))
        ).alias("b0"),
        F.max(
            F.when(F.col("g") == 1, F.col("s2").cast("double"))
        ).alias("b1"),
    )
    m0 = F.col("a0") / F.col("n0")
    m1 = F.col("a1") / F.col("n1")
    se0 = (
        (F.col("b0") - F.col("a0") * F.col("a0") / F.col("n0"))
        / (F.col("n0") - 1)
        / F.col("n0")
    )
    se1 = (
        (F.col("b1") - F.col("a1") * F.col("a1") / F.col("n1"))
        / (F.col("n1") - 1)
        / F.col("n1")
    )
    v = w.select("n0", "n1", m0.alias("m0"), m1.alias("m1"),
                 se0.alias("se0"), se1.alias("se1"))
    return v.select(
        F.col("n0").cast("long").alias("n0"),
        F.col("n1").cast("long").alias("n1"),
        F.round(F.col("m0") / 100, 4).alias("mean0"),
        F.round(F.col("m1") / 100, 4).alias("mean1"),
        F.round(
            (F.col("m0") - F.col("m1"))
            / F.sqrt(F.col("se0") + F.col("se1")),
            4,
        ).alias("t_stat"),
        F.round(
            F.pow(F.col("se0") + F.col("se1"), 2)
            / (
                F.col("se0") * F.col("se0") / (F.col("n0") - 1)
                + F.col("se1") * F.col("se1") / (F.col("n1") - 1)
            ),
            4,
        ).alias("welch_df"),
    )


# --------------------------------------------------------------------------
# qs271 Kruskal–Wallis H (tie-corrected) across order priorities
# --------------------------------------------------------------------------


@query(
    "qs271_kruskal_wallis",
    oracle="""
    WITH s AS (
      SELECT o_orderpriority AS g,
             CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS v
      FROM orders),
    vc AS (SELECT v, COUNT(*) AS c FROM s GROUP BY v),
    mr AS (
      SELECT v, c,
             2 * SUM(c) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - c + 1 AS midrank2
      FROM vc),
    vg AS (SELECT g, v, COUNT(*) AS cg FROM s GROUP BY g, v),
    pg AS (
      SELECT g, SUM(cg) AS n_g,
             SUM(cg * mr.midrank2) AS r2_g
      FROM vg JOIN mr ON vg.v = mr.v GROUP BY g),
    t AS (
      SELECT SUM(n_g) AS n,
             SUM(CAST(r2_g AS DOUBLE) * r2_g / (4.0 * n_g)) AS rsq,
             (SELECT SUM(CAST(c AS DOUBLE) * c * c - c) FROM vc)
               AS ties
      FROM pg),
    h AS (
      SELECT n,
             12.0 / (n * (n + 1.0)) * rsq - 3.0 * (n + 1.0) AS hraw,
             1.0 - ties / (CAST(n AS DOUBLE) * n * n - n) AS cf
      FROM t)
    SELECT pg.g AS priority, CAST(pg.n_g AS BIGINT) AS n_g,
           ROUND(CAST(pg.r2_g AS DOUBLE) / (2.0 * pg.n_g), 4)
             AS mean_rank,
           ROUND(h.hraw, 4) AS h_raw,
           ROUND(h.hraw / h.cf, 4) AS h_stat
    FROM pg CROSS JOIN h ORDER BY priority
    """,
)
def qs271(spark: SparkSession, sf: str) -> DataFrame:
    """KRUSKAL–WALLIS H test: do order totals differ in distribution
    across priorities? Midranks with tie correction, H = 12/(N(N+1))
    ΣR²g/ng − 3(N+1), divided by 1 − Σ(t³−t)/(N³−N) — the k-group
    generalization of qs181's Mann–Whitney, computed at VALUE level
    (the qs243 Spearman midrank formulation: no per-row global sort;
    the window runs over distinct cents values).

    Determinism: doubled midranks (2·avg-rank = 2·cum−c+1) and
    per-group rank sums are exact integers; squares and the final H
    go to double (R²g ≤ 4N⁴ exceeds BIGINT at scale), ROUND 4. Plan:
    two value-level aggregates + a BUCKETED prefix sum over distinct
    values (operators/prefix.py — the serial global window put ~3M
    distinct cents in one task at sf10, 21.8 s; range buckets spread
    the sort, bit-identical) + a groups-sized epilogue; the
    per-group rows carry the global H (one broadcast scalar)."""
    o = load_table(spark, sf, "orders")
    s = o.select(
        F.col("o_orderpriority").alias("g"),
        F.round(F.col("o_totalprice") * 100, 0)
        .cast("long")
        .alias("v"),
    )
    # r15 (guide §2.4, same fix as qs288): vc feeds the midrank
    # machinery AND the ties aggregate — checkpoint the bounded
    # value-level table once. pin: bounded (cent-value domain) —
    # localCheckpoint IS the bounded policy (operators/pin.py).
    vc = (
        s.groupBy("v")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    mr = midrank2(vc, "v", "c", "midrank2")
    vg = s.groupBy("g", "v").agg(F.count(F.lit(1)).alias("cg"))
    pg = (
        vg.join(mr.select("v", "midrank2"), "v")
        .groupBy("g")
        .agg(
            F.sum("cg").alias("n_g"),
            F.sum(F.col("cg") * F.col("midrank2")).alias("r2_g"),
        )
    )
    ties = vc.agg(
        F.sum(
            F.col("c").cast("double") * F.col("c") * F.col("c")
            - F.col("c")
        ).alias("ties")
    )
    t = pg.agg(
        F.sum("n_g").alias("n"),
        F.sum(
            F.col("r2_g").cast("double")
            * F.col("r2_g")
            / (F.lit(4.0) * F.col("n_g"))
        ).alias("rsq"),
    ).crossJoin(ties)
    h = t.select(
        "n",
        (
            F.lit(12.0) / (F.col("n") * (F.col("n") + F.lit(1.0)))
            * F.col("rsq")
            - F.lit(3.0) * (F.col("n") + F.lit(1.0))
        ).alias("hraw"),
        (
            F.lit(1.0)
            - F.col("ties")
            / (
                F.col("n").cast("double")
                * F.col("n")
                * F.col("n")
                - F.col("n")
            )
        ).alias("cf"),
    )
    return (
        pg.crossJoin(h)
        .select(
            F.col("g").alias("priority"),
            F.col("n_g").cast("long").alias("n_g"),
            F.round(
                F.col("r2_g").cast("double")
                / (F.lit(2.0) * F.col("n_g")),
                4,
            ).alias("mean_rank"),
            F.round("hraw", 4).alias("h_raw"),
            F.round(F.col("hraw") / F.col("cf"), 4).alias("h_stat"),
        )
        .orderBy("priority")
    )


# --------------------------------------------------------------------------
# qs272 one-way ANOVA F across order statuses
# --------------------------------------------------------------------------


@query(
    "qs272_anova_oneway",
    oracle="""
    WITH s AS (
      SELECT o_orderstatus AS g,
             CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS v
      FROM orders),
    m AS (SELECT g, COUNT(*) AS n, SUM(v) AS s1,
                 SUM(CAST(v AS HUGEINT) * v) AS s2
          FROM s GROUP BY g),
    w AS (
      SELECT COUNT(*) AS k, SUM(n) AS nn, SUM(s1) AS ss,
             MAX(CASE WHEN g = 'F' THEN n END) AS n_f,
             MAX(CASE WHEN g = 'O' THEN n END) AS n_o,
             MAX(CASE WHEN g = 'P' THEN n END) AS n_p,
             MAX(CASE WHEN g = 'F' THEN s1 END) AS s1_f,
             MAX(CASE WHEN g = 'O' THEN s1 END) AS s1_o,
             MAX(CASE WHEN g = 'P' THEN s1 END) AS s1_p,
             MAX(CASE WHEN g = 'F' THEN s2 END) AS s2_f,
             MAX(CASE WHEN g = 'O' THEN s2 END) AS s2_o,
             MAX(CASE WHEN g = 'P' THEN s2 END) AS s2_p
      FROM m),
    cw AS (SELECT w.*, ss // nn AS c FROM w),
    d AS (
      SELECT k, nn,
        CAST(COALESCE(s1_f - n_f * c, 0) AS DOUBLE) AS d1_f,
        CAST(COALESCE(s1_o - n_o * c, 0) AS DOUBLE) AS d1_o,
        CAST(COALESCE(s1_p - n_p * c, 0) AS DOUBLE) AS d1_p,
        CAST(COALESCE(s2_f - 2 * CAST(c AS HUGEINT) * s1_f
             + CAST(n_f AS HUGEINT) * c * c, 0) AS DOUBLE) AS d2_f,
        CAST(COALESCE(s2_o - 2 * CAST(c AS HUGEINT) * s1_o
             + CAST(n_o AS HUGEINT) * c * c, 0) AS DOUBLE) AS d2_o,
        CAST(COALESCE(s2_p - 2 * CAST(c AS HUGEINT) * s1_p
             + CAST(n_p AS HUGEINT) * c * c, 0) AS DOUBLE) AS d2_p,
        CAST(COALESCE(n_f, 1) AS DOUBLE) AS nf,
        CAST(COALESCE(n_o, 1) AS DOUBLE) AS no,
        CAST(COALESCE(n_p, 1) AS DOUBLE) AS np
      FROM cw),
    f AS (
      SELECT k, nn AS n,
        (d1_f * d1_f / nf + d1_o * d1_o / no + d1_p * d1_p / np
         - (d1_f + d1_o + d1_p) * (d1_f + d1_o + d1_p) / nn) / 1e4
          AS ssb,
        (d2_f - d1_f * d1_f / nf + d2_o - d1_o * d1_o / no
         + d2_p - d1_p * d1_p / np) / 1e4 AS ssw
      FROM d)
    SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
           ROUND(ssb / (k - 1), 2) AS ms_between,
           ROUND(ssw / (n - k), 2) AS ms_within,
           ROUND((ssb / (k - 1)) / (ssw / (n - k)), 4) AS f_stat
    FROM f
    """,
)
def qs272(spark: SparkSession, sf: str) -> DataFrame:
    """One-way ANOVA F across order statuses: MS_between/MS_within
    from exact per-group moments — the parametric counterpart of
    qs271 (and the variance decomposition qs228's Simpson detector
    examines group-wise).

    Determinism: Σx accumulates in BIGINT cents and Σx² in
    DECIMAL(38)/HUGEINT (cents² ~2.5e15 per row overflows BIGINT at
    sf10 row counts — the qs214 widening). The naive Σ(S_h²/n_h) −
    S²/N epilogue is catastrophically cancellative (~7 digits lost;
    it flipped ROUND-2 output between sessions on summation order),
    so the moments are first re-centered EXACTLY on c = S DIV N via
    integer algebra (S_h−n_h·c, S2_h−2cS_h+n_h·c²), pivoted into ONE
    row over the fixed TPC-H status domain {F,O,P}, and only the
    final well-conditioned SSB/SSW formula runs in double — a fixed
    scalar expression tree, identical IEEE ops on both engines.
    Plan: one partial-aggregated scan → 3 moment rows → one-row
    epilogue, no shuffle beyond the k-row exchange."""
    o = load_table(spark, sf, "orders")
    s = o.select(
        F.col("o_orderstatus").alias("g"),
        F.round(F.col("o_totalprice") * 100, 0)
        .cast("long")
        .alias("v"),
    )
    m = s.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("s1"),
        F.sum(
            (F.col("v") * F.col("v")).cast("decimal(38,0)")
        ).alias("s2"),
    )
    aggs = [
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("nn"),
        F.sum("s1").alias("ss"),
    ]
    for g in ("f", "o", "p"):
        lit = g.upper()
        for c_ in ("n", "s1", "s2"):
            aggs.append(
                F.max(
                    F.when(F.col("g") == lit, F.col(c_))
                ).alias(f"{c_}_{g}")
            )
    w = m.agg(*aggs).withColumn(
        "c", F.expr("ss DIV nn")
    )
    dcols = [F.col("k"), F.col("nn")]
    for g in ("f", "o", "p"):
        dcols.append(
            F.coalesce(
                F.col(f"s1_{g}") - F.col(f"n_{g}") * F.col("c"),
                F.lit(0),
            )
            .cast("double")
            .alias(f"d1_{g}")
        )
        dcols.append(
            F.coalesce(
                F.col(f"s2_{g}")
                - (
                    F.lit(2).cast("decimal(38,0)")
                    * F.col("c")
                    * F.col(f"s1_{g}")
                ).cast("decimal(38,0)")
                + (
                    F.col(f"n_{g}").cast("decimal(38,0)")
                    * F.col("c")
                    * F.col("c")
                ).cast("decimal(38,0)"),
                F.lit(0),
            )
            .cast("double")
            .alias(f"d2_{g}")
        )
        dcols.append(
            F.coalesce(F.col(f"n_{g}"), F.lit(1))
            .cast("double")
            .alias(f"n{g}")
        )
    d = w.select(*dcols)
    bsq = (
        F.col("d1_f") * F.col("d1_f") / F.col("nf")
        + F.col("d1_o") * F.col("d1_o") / F.col("no")
        + F.col("d1_p") * F.col("d1_p") / F.col("np")
    )
    tot = F.col("d1_f") + F.col("d1_o") + F.col("d1_p")
    ssw = (
        F.col("d2_f")
        - F.col("d1_f") * F.col("d1_f") / F.col("nf")
        + F.col("d2_o")
        - F.col("d1_o") * F.col("d1_o") / F.col("no")
        + F.col("d2_p")
        - F.col("d1_p") * F.col("d1_p") / F.col("np")
    )
    f = d.select(
        "k",
        F.col("nn").alias("n"),
        ((bsq - tot * tot / F.col("nn")) / F.lit(1e4)).alias("ssb"),
        (ssw / F.lit(1e4)).alias("ssw"),
    )
    return f.select(
        F.col("k").cast("long").alias("k"),
        F.col("n").cast("long").alias("n"),
        F.round(F.col("ssb") / (F.col("k") - 1), 2).alias(
            "ms_between"
        ),
        F.round(F.col("ssw") / (F.col("n") - F.col("k")), 2).alias(
            "ms_within"
        ),
        F.round(
            (F.col("ssb") / (F.col("k") - 1))
            / (F.col("ssw") / (F.col("n") - F.col("k"))),
            4,
        ).alias("f_stat"),
    )


# --------------------------------------------------------------------------
# qs273 Cramér's V categorical-association audit
# --------------------------------------------------------------------------

_CRAMER_ORACLE_ONE = """
    SELECT '{name}' AS pair, a AS x, b AS y, COUNT(*) AS c
    FROM (SELECT {xa} AS a, {xb} AS b FROM {tbl}) GROUP BY a, b
"""


@query(
    "qs273_cramers_v",
    oracle="""
    WITH cells AS (
      SELECT 'orders_priority_status' AS pair,
             o_orderpriority AS x, o_orderstatus AS y,
             COUNT(*) AS c
      FROM orders GROUP BY 2, 3
      UNION ALL
      SELECT 'lineitem_flag_status', l_returnflag, l_linestatus,
             COUNT(*)
      FROM lineitem GROUP BY 2, 3),
    rt AS (SELECT pair, x, SUM(c) AS rx FROM cells GROUP BY pair, x),
    ct AS (SELECT pair, y, SUM(c) AS cy FROM cells GROUP BY pair, y),
    n AS (SELECT pair, SUM(c) AS n,
                 COUNT(DISTINCT x) AS r, COUNT(DISTINCT y) AS cc
          FROM cells GROUP BY pair),
    chi AS (
      SELECT cells.pair,
             GREATEST(SUM(CAST(cells.c AS DOUBLE) * cells.c * n.n
                 / (CAST(rt.rx AS DOUBLE) * ct.cy))
               - MAX(n.n), 0) AS chi2
      FROM cells
      JOIN rt ON rt.pair = cells.pair AND rt.x = cells.x
      JOIN ct ON ct.pair = cells.pair AND ct.y = cells.y
      JOIN n ON n.pair = cells.pair
      GROUP BY cells.pair)
    SELECT chi.pair, CAST(n.n AS BIGINT) AS n,
           CAST((n.r - 1) * (n.cc - 1) AS BIGINT) AS dof,
           ROUND(chi.chi2, 4) AS chi2,
           ROUND(sqrt(chi.chi2
                 / (n.n * (CASE WHEN n.r < n.cc THEN n.r
                                ELSE n.cc END - 1))), 4)
             AS cramers_v
    FROM chi JOIN n ON n.pair = chi.pair ORDER BY chi.pair
    """,
)
def qs273(spark: SparkSession, sf: str) -> DataFrame:
    """CRAMÉR'S V association audit over categorical column pairs —
    χ² on the contingency table, normalized to [0,1] by
    √(χ²/(N·(min(r,c)−1))): the profiling statistic that tells a
    pipeline whether two coded columns are redundant (V≈1) or
    independent (V≈0), extending qs241's single-pair χ² to a
    multi-pair audit (reference validation-report surface).

    Determinism: cell/margin counts are exact integers; expected
    frequencies and χ² in double, ROUND 4, clamped at 0 before the
    ROUND/sqrt (the Σoe−n identity can round an epsilon negative when
    true χ²≈0 — NaN V — and each engine's own sum order could land on
    opposite sides of zero; r15 ADVICE). χ² uses the empty-cell-free
    identity Σ_{O>0} O²·n/(r·c) − n (r14 sweep of the qs399 bug
    class: the naive Σ(O−E)²/E over observed cells undercounts by
    Σ_{O=0}E on sparse grids, invisibly to the differential because
    the oracle shared the form). Plan: one grouped count
    per audited table (map-side partial), then joins over
    cells-sized (≤ r·c rows) frames — the audit epilogue never
    touches the fact tables again."""
    o = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    cells = (
        o.groupBy(
            F.lit("orders_priority_status").alias("pair"),
            F.col("o_orderpriority").alias("x"),
            F.col("o_orderstatus").alias("y"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .unionAll(
            li.groupBy(
                F.lit("lineitem_flag_status").alias("pair"),
                F.col("l_returnflag").alias("x"),
                F.col("l_linestatus").alias("y"),
            ).agg(F.count(F.lit(1)).alias("c"))
        )
    )
    rt = cells.groupBy("pair", "x").agg(F.sum("c").alias("rx"))
    ct = cells.groupBy("pair", "y").agg(F.sum("c").alias("cy"))
    n = cells.groupBy("pair").agg(
        F.sum("c").alias("n"),
        F.countDistinct("x").alias("r"),
        F.countDistinct("y").alias("cc"),
    )
    term = (
        F.col("c").cast("double")
        * F.col("c")
        * F.col("n")
        / (F.col("rx").cast("double") * F.col("cy"))
    )
    chi = (
        cells.join(rt, ["pair", "x"])
        .join(ct, ["pair", "y"])
        # bcast: GRID per-column-pair totals, 3 rows
        .join(F.broadcast(n.select("pair", "n")), "pair")
        .groupBy("pair")
        .agg(
            # Clamped at 0: the Sigma oe - n identity can round an
            # epsilon negative when true chi2 ~ 0, which would NaN
            # the sqrt — and each engine's own sum order could land
            # on opposite sides of zero (r15 ADVICE).
            F.greatest(F.sum(term) - F.max("n"), F.lit(0.0)).alias(
                "chi2"
            )
        )
    )
    return (
        # bcast: GRID per-column-pair totals, 3 rows
        chi.join(F.broadcast(n), "pair")
        .select(
            "pair",
            F.col("n").cast("long").alias("n"),
            ((F.col("r") - 1) * (F.col("cc") - 1))
            .cast("long")
            .alias("dof"),
            F.round("chi2", 4).alias("chi2"),
            F.round(
                F.sqrt(
                    F.col("chi2")
                    / (
                        F.col("n")
                        * (F.least("r", "cc") - 1)
                    )
                ),
                4,
            ).alias("cramers_v"),
        )
        .orderBy("pair")
    )


# --------------------------------------------------------------------------
# qs274 Jensen–Shannon divergence between source token distributions
# --------------------------------------------------------------------------


@query(
    "qs274_js_divergence",
    oracle="""
    WITH toks AS (
      SELECT source, unnest(list_filter(
               string_split(lower(text), ' '), x -> x <> '')) AS term
      FROM documents),
    cnt AS (SELECT source, term, COUNT(*) AS c
            FROM toks GROUP BY source, term),
    tot AS (SELECT source, SUM(c) AS t FROM cnt GROUP BY source),
    plp AS (
      SELECT cnt.source,
             SUM((cnt.c * 1.0 / tot.t)
                 * ln(cnt.c * 1.0 / tot.t)) AS plp
      FROM cnt JOIN tot ON tot.source = cnt.source
      GROUP BY cnt.source),
    shared AS (
      SELECT a.source AS s1, b.source AS s2,
             SUM(((a.c * 1.0 / ta.t + b.c * 1.0 / tb.t) / 2)
                 * ln((a.c * 1.0 / ta.t + b.c * 1.0 / tb.t) / 2))
               AS smlm,
             SUM((a.c * 1.0 / ta.t) * ln(a.c * 1.0 / ta.t)) AS sp,
             SUM((b.c * 1.0 / tb.t) * ln(b.c * 1.0 / tb.t)) AS sq,
             SUM(a.c * 1.0 / ta.t) AS mp,
             SUM(b.c * 1.0 / tb.t) AS mq
      FROM cnt a JOIN cnt b
        ON a.term = b.term AND a.source < b.source
      JOIN tot ta ON ta.source = a.source
      JOIN tot tb ON tb.source = b.source
      GROUP BY 1, 2),
    jsd AS (
      SELECT s1, s2,
             -(smlm
               + 0.5 * (p1.plp - sp) - 0.5 * ln(2) * (1 - mp)
               + 0.5 * (p2.plp - sq) - 0.5 * ln(2) * (1 - mq))
               - (-(p1.plp) - p2.plp) / 2 AS jsd
      FROM shared
      JOIN plp p1 ON p1.source = shared.s1
      JOIN plp p2 ON p2.source = shared.s2)
    SELECT s1, s2, ROUND(jsd, 4) AS jsd_nats,
           ROUND(jsd / ln(2), 4) AS jsd_bits
    FROM jsd ORDER BY s1, s2
    """,
)
def qs274(spark: SparkSession, sf: str) -> DataFrame:
    """JENSEN–SHANNON divergence between per-source token
    distributions — H(m) − (H(p)+H(q))/2 with m the even mixture:
    the bounded, symmetric distribution distance corpus curation
    uses where qs159's PSI needs pre-binned features. Terms unique
    to one side are folded in CLOSED FORM (for q=0, m=p/2
    contributes ½·p·ln p − ½ln2·p), so only an inner term join is
    needed — no full-outer per pair.

    Determinism: counts and totals exact integers; each engine
    evaluates the identical p·ln p algebra in double and sums
    term-level contributions, ROUND 4 (the qs84/qs157 ln contract).
    Plan: one (source, term) count aggregate feeds everything (the
    qs268 frame); the term self-join fans out ≤ |sources| per term;
    entropy totals are sources-sized broadcasts."""
    d = load_table(spark, sf, "documents")
    toks = d.select(
        "source",
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias(
            "term"
        ),
    ).filter(F.col("term") != "")
    cnt = toks.groupBy("source", "term").agg(
        F.count(F.lit(1)).alias("c")
    )
    tot = cnt.groupBy("source").agg(F.sum("c").alias("t"))
    p = F.col("c") * F.lit(1.0) / F.col("t")
    plp = (
        # bcast: GRID per-source token totals, one row per source label
        cnt.join(F.broadcast(tot), "source")
        .groupBy("source")
        .agg(F.sum(p * F.log(p)).alias("plp"))
    )
    a = (
        # bcast: GRID per-source token totals, one row per source label
        cnt.join(F.broadcast(tot), "source")
        .select(
            F.col("source").alias("s1"),
            "term",
            (F.col("c") * F.lit(1.0) / F.col("t")).alias("p1"),
        )
    )
    b = (
        # bcast: GRID per-source token totals, one row per source label
        cnt.join(F.broadcast(tot), "source")
        .select(
            F.col("source").alias("s2"),
            "term",
            (F.col("c") * F.lit(1.0) / F.col("t")).alias("p2"),
        )
    )
    mcol = (F.col("p1") + F.col("p2")) / 2
    shared = (
        a.join(b, "term")
        .filter(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(
            F.sum(mcol * F.log(mcol)).alias("smlm"),
            F.sum(F.col("p1") * F.log("p1")).alias("sp"),
            F.sum(F.col("p2") * F.log("p2")).alias("sq"),
            F.sum("p1").alias("mp"),
            F.sum("p2").alias("mq"),
        )
    )
    ln2 = F.lit(0.6931471805599453)
    out = (
        shared.join(
            # bcast: GRID per-source plogp sums, one row per source label
            F.broadcast(
                plp.select(
                    F.col("source").alias("s1"),
                    F.col("plp").alias("plp1"),
                )
            ),
            "s1",
        )
        .join(
            # bcast: GRID per-source plogp sums, one row per source label
            F.broadcast(
                plp.select(
                    F.col("source").alias("s2"),
                    F.col("plp").alias("plp2"),
                )
            ),
            "s2",
        )
        .withColumn(
            "jsd",
            -(
                F.col("smlm")
                + F.lit(0.5) * (F.col("plp1") - F.col("sp"))
                - F.lit(0.5) * ln2 * (1 - F.col("mp"))
                + F.lit(0.5) * (F.col("plp2") - F.col("sq"))
                - F.lit(0.5) * ln2 * (1 - F.col("mq"))
            )
            - (-F.col("plp1") - F.col("plp2")) / 2,
        )
    )
    return out.select(
        "s1",
        "s2",
        F.round("jsd", 4).alias("jsd_nats"),
        F.round(F.col("jsd") / F.log(F.lit(2.0)), 4).alias(
            "jsd_bits"
        ),
    ).orderBy("s1", "s2")


# --------------------------------------------------------------------------
# qs288 Dunn post-hoc pairwise tests after Kruskal–Wallis (BH-adjusted)
# --------------------------------------------------------------------------

_DUNN_X = "(abs(zval) * 0.7071067811865476)"
_DUNN_T = "(1.0 / (1.0 + 0.3275911 * {x}))".format(x=_DUNN_X)
_DUNN_P = (
    "({t} * (0.254829592 + {t} * (-0.284496736 + {t} * (1.421413741 "
    "+ {t} * (-1.453152027 + {t} * 1.061405429)))))"
).format(t=_DUNN_T) + f" * exp(-({_DUNN_X} * {_DUNN_X}))"


@query(
    "qs288_dunn_posthoc",
    oracle="""
    WITH s AS (
      SELECT o_orderpriority AS g,
             CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS v
      FROM orders),
    vc AS (SELECT v, COUNT(*) AS c FROM s GROUP BY v),
    mr AS (
      SELECT v, c,
             2 * SUM(c) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - c + 1 AS midrank2
      FROM vc),
    vg AS (SELECT g, v, COUNT(*) AS cg FROM s GROUP BY g, v),
    pg AS (
      SELECT g, SUM(cg) AS n_g, SUM(cg * mr.midrank2) AS r2_g
      FROM vg JOIN mr ON vg.v = mr.v GROUP BY g),
    tot AS (
      SELECT SUM(n_g) AS n,
             (SELECT SUM(CAST(c AS DOUBLE) * c * c - c) FROM vc)
               AS ties
      FROM pg),
    pairs AS (
      SELECT a.g AS g1, b.g AS g2,
             CAST(a.r2_g AS DOUBLE) / (2.0 * a.n_g)
               - CAST(b.r2_g AS DOUBLE) / (2.0 * b.n_g) AS dmean,
             a.n_g AS n1, b.n_g AS n2
      FROM pg a JOIN pg b ON a.g < b.g),
    z AS (
      SELECT g1, g2,
             dmean / sqrt((CAST(n AS DOUBLE) * (n + 1.0) / 12.0
                           - ties / (12.0 * (n - 1.0)))
                          * (1.0 / n1 + 1.0 / n2)) AS zval
      FROM pairs CROSS JOIN tot),
    p AS (
      SELECT g1, g2, zval, {pform} AS ptwo FROM z),
    r AS (
      SELECT g1, g2, zval, ptwo,
             ROW_NUMBER() OVER (ORDER BY ptwo, g1, g2) AS i,
             COUNT(*) OVER () AS m
      FROM p),
    k AS (
      SELECT r.*,
             MAX(CASE WHEN ptwo <= 0.05 * i / m THEN i ELSE 0 END)
               OVER () AS kmax
      FROM r)
    SELECT g1, g2, ROUND(zval, 4) AS z, ROUND(ptwo, 6) AS p_two,
           CAST(i AS BIGINT) AS bh_rank,
           CAST(CASE WHEN i <= kmax THEN 1 ELSE 0 END AS INT)
             AS significant
    FROM k ORDER BY g1, g2
    """.replace("{pform}", _DUNN_P),
)
def qs288(spark: SparkSession, sf: str) -> DataFrame:
    """DUNN POST-HOC pairwise comparisons after qs271's omnibus
    Kruskal–Wallis: which priority pairs actually differ?
    z_ij = (R̄_i − R̄_j)/√((N(N+1)/12 − Στ/(12(N−1)))·(1/nᵢ+1/nⱼ))
    with tie correction, Benjamini–Hochberg-adjusted across the 10
    pairs (the qs276 step-up) — the standard follow-up that makes
    an omnibus rejection actionable.

    Determinism: the value-level midrank table and per-group rank
    sums are exact integers (qs271's machinery via
    operators/prefix.py); each pair's z is a fixed double tree over
    exact integers; p via the shared A&S erf polynomial; BH ranks
    over 10 epilogue rows with (g1, g2) tiebreak. Plan: one scan →
    value-level aggregates + bucketed prefix sum → a groups² (≤25
    row) epilogue."""
    o = load_table(spark, sf, "orders")
    s = o.select(
        F.col("o_orderpriority").alias("g"),
        F.round(F.col("o_totalprice") * 100, 0)
        .cast("long")
        .alias("v"),
    )
    # r15 (guide §2.4): vc feeds the midrank machinery AND the ties
    # aggregate; pg feeds tot and both pair sides — references that
    # re-ran the value-level aggregate + prefix sums each time. vc is
    # distinct-value-sized (bounded by the cent domain), pg is
    # ≤|groups| rows: both safe to pin at any scale. pin: bounded —
    # localCheckpoint IS the bounded policy (operators/pin.py).
    vc = (
        s.groupBy("v")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    mr = midrank2(vc, "v", "c", "midrank2")
    vg = s.groupBy("g", "v").agg(F.count(F.lit(1)).alias("cg"))
    pg = (
        vg.join(mr.select("v", "midrank2"), "v")
        .groupBy("g")
        .agg(
            F.sum("cg").alias("n_g"),
            F.sum(F.col("cg") * F.col("midrank2")).alias("r2_g"),
        )
        .localCheckpoint(eager=True)
    )
    ties = vc.agg(
        F.sum(
            F.col("c").cast("double") * F.col("c") * F.col("c")
            - F.col("c")
        ).alias("ties")
    )
    tot = pg.agg(F.sum("n_g").alias("n")).crossJoin(
        ties
    )
    a = pg.select(
        F.col("g").alias("g1"),
        F.col("n_g").alias("n1"),
        F.col("r2_g").alias("r1"),
    )
    b = pg.select(
        F.col("g").alias("g2"),
        F.col("n_g").alias("n2"),
        F.col("r2_g").alias("r2"),
    )
    pairs = (
        a.join(b, F.col("g1") < F.col("g2"))
        .crossJoin(tot)
        .select(
            "g1",
            "g2",
            (
                (
                    F.col("r1").cast("double")
                    / (F.lit(2.0) * F.col("n1"))
                    - F.col("r2").cast("double")
                    / (F.lit(2.0) * F.col("n2"))
                )
                / F.sqrt(
                    (
                        F.col("n").cast("double")
                        * (F.col("n") + F.lit(1.0))
                        / F.lit(12.0)
                        - F.col("ties")
                        / (F.lit(12.0) * (F.col("n") - F.lit(1.0)))
                    )
                    * (
                        F.lit(1.0) / F.col("n1")
                        + F.lit(1.0) / F.col("n2")
                    )
                )
            ).alias("zval"),
        )
    )
    p = pairs.withColumn("ptwo", F.expr(_DUNN_P))
    # window: GRID Dunn: k^2 group-pair grid
    wrank = Window.orderBy("ptwo", "g1", "g2")
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
            "g1",
            "g2",
            F.round("zval", 4).alias("z"),
            F.round("ptwo", 6).alias("p_two"),
            F.col("i").cast("long").alias("bh_rank"),
            F.when(F.col("i") <= F.col("kmax"), 1)
            .otherwise(0)
            .cast("int")
            .alias("significant"),
        )
        .orderBy("g1", "g2")
    )


# --------------------------------------------------------------------------
# qs289 Friedman test: priority revenue ranks within weekly blocks
# --------------------------------------------------------------------------


@query(
    "qs289_friedman_test",
    oracle="""
    WITH wk AS (
      SELECT date_trunc('week', o_orderdate) AS b,
             o_orderpriority AS t,
             SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS x
      FROM orders GROUP BY 1, 2),
    full_ AS (
      SELECT b FROM wk GROUP BY b HAVING COUNT(*) = 5),
    r AS (
      SELECT wk.b, wk.t,
             2 * RANK() OVER (PARTITION BY wk.b ORDER BY wk.x)
               + COUNT(*) OVER (PARTITION BY wk.b, wk.x) - 1 AS mr2
      FROM wk JOIN full_ ON full_.b = wk.b),
    tr AS (
      SELECT t, SUM(mr2) AS r2 FROM r GROUP BY t),
    nb AS (SELECT COUNT(*) AS b FROM full_),
    chi AS (
      SELECT nb.b,
             (12.0 * SUM(CAST(tr.r2 AS DOUBLE) * tr.r2 / 4.0)
              / (nb.b * 5 * 6.0) - 3.0 * nb.b * 6.0)
               AS fr_raw
      FROM tr CROSS JOIN nb GROUP BY nb.b)
    SELECT CAST(b AS BIGINT) AS n_blocks,
           CAST(4 AS BIGINT) AS dof,
           ROUND(fr_raw, 4) AS friedman_chi2
    FROM chi
    """,
)
def qs289(spark: SparkSession, sf: str) -> DataFrame:
    """FRIEDMAN rank test across repeated blocks: do the five order
    priorities differ in weekly revenue, controlling for the week?
    Each complete week ranks its five priority totals (midranks for
    ties), χ²_F = 12/(bk(k+1))·ΣR_j² − 3b(k+1) — the nonparametric
    repeated-measures counterpart of qs272's one-way ANOVA (which
    ignores the block structure qs190's seasonality shows matters).

    Determinism: weekly cent totals exact; within-block midranks are
    exact integers from a k=5-row KEYED window (parallel over
    blocks — never global); ΣR² goes to double in a fixed one-row
    epilogue, ROUND 4. Incomplete weeks (missing a priority) drop —
    Friedman requires complete blocks, and the HAVING COUNT(*)=5
    gate is stated identically on both engines. Plan: one grouped
    scan → block-keyed window over 5-row partitions → k-row
    epilogue."""
    o = load_table(spark, sf, "orders")
    wk = o.groupBy(
        F.date_trunc("week", "o_orderdate").alias("b"),
        F.col("o_orderpriority").alias("t"),
    ).agg(
        F.sum(
            F.round(F.col("o_totalprice") * 100, 0).cast("long")
        ).alias("x")
    )
    full_ = (
        wk.groupBy("b")
        .agg(F.count(F.lit(1)).alias("_k"))
        .filter(F.col("_k") == 5)
        .select("b")
    )
    # window: GRID Friedman: week x 5 cell grid
    wrank = Window.partitionBy("b").orderBy("x")
    wtie = Window.partitionBy("b", "x")
    r = wk.join(full_, "b").select(
        "b",
        "t",
        (
            2 * F.rank().over(wrank)
            + F.count(F.lit(1)).over(wtie)
            - 1
        ).alias("mr2"),
    )
    tr = r.groupBy("t").agg(F.sum("mr2").alias("r2"))
    nb = full_.agg(F.count(F.lit(1)).alias("b"))
    chi = tr.crossJoin(nb).agg(
        F.max("b").alias("b"),
        (
            F.lit(12.0)
            * F.sum(
                F.col("r2").cast("double") * F.col("r2") / F.lit(4.0)
            )
            / (F.max("b") * F.lit(5) * F.lit(6.0))
            - F.lit(3.0) * F.max("b") * F.lit(6.0)
        ).alias("fr_raw"),
    )
    return chi.select(
        F.col("b").cast("long").alias("n_blocks"),
        F.lit(4).cast("long").alias("dof"),
        F.round("fr_raw", 4).alias("friedman_chi2"),
    )


# --------------------------------------------------------------------------
# qs290 Cronbach's alpha over per-user event-type engagement items
# --------------------------------------------------------------------------

_CRONBACH_ITEMS = ("click", "error", "purchase", "signup", "view")


@query(
    "qs290_cronbach_alpha",
    oracle="""
    WITH u AS (
      SELECT user_id,
             {items}
      FROM events GROUP BY user_id),
    m AS (
      SELECT COUNT(*) AS n,
             {moments},
             SUM({tot}) AS st,
             SUM(CAST({tot} AS HUGEINT) * ({tot})) AS st2
      FROM u),
    v AS (
      SELECT n,
             {vars_} AS svi,
             (CAST(st2 AS DOUBLE) - CAST(st AS DOUBLE) * st / n) / n
               AS vt
      FROM m)
    SELECT CAST(n AS BIGINT) AS n_users,
           CAST(5 AS BIGINT) AS k_items,
           ROUND(svi, 4) AS sum_item_var,
           ROUND(vt, 4) AS total_var,
           ROUND(5.0 / 4.0 * (1.0 - svi / vt), 4) AS cronbach_alpha
    FROM v
    """.format(
        items=",\n             ".join(
            f"SUM(CASE WHEN event_type = '{it}' THEN "
            f"CAST(ROUND(value * 100, 0) AS BIGINT) ELSE 0 END) AS x{j}"
            for j, it in enumerate(_CRONBACH_ITEMS)
        ),
        moments=",\n             ".join(
            f"SUM(x{j}) AS s{j}, "
            f"SUM(CAST(x{j} AS HUGEINT) * x{j}) AS q{j}"
            for j in range(5)
        ),
        tot="(" + " + ".join(f"x{j}" for j in range(5)) + ")",
        vars_=" + ".join(
            f"(CAST(q{j} AS DOUBLE) - CAST(s{j} AS DOUBLE) * s{j} / n) / n"
            for j in range(5)
        ),
    ),
)
def qs290(spark: SparkSession, sf: str) -> DataFrame:
    """CRONBACH'S ALPHA internal-consistency reliability: treating a
    user's spend in each of the five event types as five "items" of
    an engagement scale, α = k/(k−1)·(1 − Σσ²ᵢ/σ²_total) — the
    instrument-reliability statistic that tells a metrics team
    whether the components of a composite score measure one
    construct (α→1) or unrelated things (α→0, even negative).

    Determinism: per-user item cents are exact; all (Σxᵢ, Σxᵢ²,
    Σtotal, Σtotal²) moments accumulate exactly (HUGEINT/long — per
    user ≤ ~1e5 cents, squares ≤ 1e10·users); variances and α are
    ONE fixed double tree on one row — the five item variances are
    summed as a literal five-term expression, not an aggregate, so
    no ordering exists to vary. Plan: one user-keyed pivot aggregate
    collapses the corpus, then a one-row epilogue."""
    ev = load_table(spark, sf, "events")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    u = ev.groupBy("user_id").agg(
        *[
            F.sum(
                F.when(F.col("event_type") == it, cents).otherwise(0)
            ).alias(f"x{j}")
            for j, it in enumerate(_CRONBACH_ITEMS)
        ]
    )
    tot = sum((F.col(f"x{j}") for j in range(1, 5)), F.col("x0"))
    aggs = [F.count(F.lit(1)).alias("n")]
    for j in range(5):
        aggs.append(F.sum(f"x{j}").alias(f"s{j}"))
        aggs.append(
            F.sum(
                F.col(f"x{j}").cast("decimal(38,0)") * F.col(f"x{j}")
            ).alias(f"q{j}")
        )
    aggs.append(F.sum(tot).alias("st"))
    aggs.append(
        F.sum(tot.cast("decimal(38,0)") * tot).alias("st2")
    )
    m = u.agg(*aggs)
    n = F.col("n")
    svi = None
    for j in range(5):
        term = (
            F.col(f"q{j}").cast("double")
            - F.col(f"s{j}").cast("double") * F.col(f"s{j}") / n
        ) / n
        svi = term if svi is None else svi + term
    vt = (
        F.col("st2").cast("double")
        - F.col("st").cast("double") * F.col("st") / n
    ) / n
    v = m.select("n", svi.alias("svi"), vt.alias("vt"))
    return v.select(
        F.col("n").cast("long").alias("n_users"),
        F.lit(5).cast("long").alias("k_items"),
        F.round("svi", 4).alias("sum_item_var"),
        F.round("vt", 4).alias("total_var"),
        F.round(
            F.lit(5.0)
            / F.lit(4.0)
            * (F.lit(1.0) - F.col("svi") / F.col("vt")),
            4,
        ).alias("cronbach_alpha"),
    )


# --------------------------------------------------------------------------
# qs291 Brown–Forsythe variance-homogeneity test (Levene on medians)
# --------------------------------------------------------------------------


@query(
    "qs291_brown_forsythe",
    oracle="""
    WITH s AS (
      SELECT o_orderpriority AS g,
             CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS v
      FROM orders),
    vc AS (SELECT g, v, COUNT(*) AS c FROM s GROUP BY g, v),
    cum AS (
      SELECT g, v, c,
             SUM(c) OVER (PARTITION BY g ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum,
             SUM(c) OVER (PARTITION BY g) AS n_g
      FROM vc),
    med AS (
      SELECT g, MIN(v) AS med
      FROM cum WHERE cum >= (n_g + 1) // 2 GROUP BY g),
    z AS (
      SELECT s.g, ABS(s.v - med.med) AS z
      FROM s JOIN med ON med.g = s.g),
    m AS (
      SELECT g, COUNT(*) AS n, SUM(z) AS s1,
             SUM(CAST(z AS HUGEINT) * z) AS s2
      FROM z GROUP BY g),
    t AS (
      SELECT COUNT(*) AS k, SUM(n) AS nn,
             SUM(CAST(s1 AS DOUBLE)) AS gs1,
             SUM(CAST(s1 AS DOUBLE) * s1 / n) AS bsq,
             SUM(CAST(s2 AS DOUBLE)
                 - CAST(s1 AS DOUBLE) * s1 / n) AS ssw
      FROM m),
    f AS (
      SELECT k, nn,
             bsq - gs1 * gs1 / nn AS ssb, ssw
      FROM t)
    SELECT CAST(k AS BIGINT) AS k, CAST(nn AS BIGINT) AS n,
           ROUND((ssb / (k - 1)) / (ssw / (nn - k)), 4) AS bf_stat
    FROM f
    """,
)
def qs291(spark: SparkSession, sf: str) -> DataFrame:
    """BROWN–FORSYTHE variance-homogeneity test (Levene on group
    MEDIANS): one-way ANOVA F over |x − median_g| across order
    priorities — the robust heteroscedasticity screen that decides
    whether qs272's equal-variance ANOVA or qs270's Welch framing
    applies. Medians are exact type-1 order statistics per group
    (rank probe over keyed cumulative counts — parallel over
    groups, never a global sort).

    Determinism: group medians and the |x−med| deviations are exact
    integers; per-group (n, Σz, Σz²) exact (Σz² in HUGEINT/
    DECIMAL(38)); the SSB epilogue loses ~3.7 digits to
    cancellation (measured: terms 2.33e18, SSB 5.04e14) but the
    k-row summation-order noise lands at ~1e-12 RELATIVE on the
    F ratio vs the 2e-5 tolerance of ROUND 4 — seven orders of
    margin, unlike qs272's raw-moment form which sat at the ROUND
    boundary and needed exact re-centering. ROUND 4. Plan: one scan →
    (g,v) counts → keyed median probes (broadcast) → one deviation
    scan → 5 moment rows → one-row epilogue."""
    o = load_table(spark, sf, "orders")
    s = o.select(
        F.col("o_orderpriority").alias("g"),
        F.round(F.col("o_totalprice") * 100, 0)
        .cast("long")
        .alias("v"),
    )
    vc = s.groupBy("g", "v").agg(F.count(F.lit(1)).alias("c"))
    wcum = (
        Window.partitionBy("g")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("g")
    cum = vc.withColumn("cum", F.sum("c").over(wcum)).withColumn(
        "n_g", F.sum("c").over(wall)
    )
    med = (
        cum.filter(F.col("cum") >= F.expr("(n_g + 1) DIV 2"))
        .groupBy("g")
        .agg(F.min("v").alias("med"))
    )
    # bcast: GRID per-group medians, 5 rows
    z = s.join(F.broadcast(med), "g").select(
        "g", F.abs(F.col("v") - F.col("med")).alias("z")
    )
    m = z.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("z").alias("s1"),
        F.sum(
            (F.col("z") * F.col("z")).cast("decimal(38,0)")
        ).alias("s2"),
    )
    t = m.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("nn"),
        F.sum(F.col("s1").cast("double")).alias("gs1"),
        F.sum(
            F.col("s1").cast("double") * F.col("s1") / F.col("n")
        ).alias("bsq"),
        F.sum(
            F.col("s2").cast("double")
            - F.col("s1").cast("double") * F.col("s1") / F.col("n")
        ).alias("ssw"),
    )
    f = t.select(
        "k",
        "nn",
        (F.col("bsq") - F.col("gs1") * F.col("gs1") / F.col("nn")).alias(
            "ssb"
        ),
        "ssw",
    )
    return f.select(
        F.col("k").cast("long").alias("k"),
        F.col("nn").cast("long").alias("n"),
        F.round(
            (F.col("ssb") / (F.col("k") - 1))
            / (F.col("ssw") / (F.col("nn") - F.col("k"))),
            4,
        ).alias("bf_stat"),
    )


# --------------------------------------------------------------------------
# qs298 Jonckheere–Terpstra ordered-alternative trend test
# --------------------------------------------------------------------------


@query(
    "qs298_jonckheere_trend",
    oracle="""
    WITH s AS (
      SELECT TRY_CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS g,
             CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS v
      FROM orders
      WHERE o_totalprice IS NOT NULL
        AND TRY_CAST(substr(o_orderpriority, 1, 1) AS BIGINT)
            IS NOT NULL),
    vc AS (
      SELECT v,
             SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS c1,
             SUM(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS c2,
             SUM(CASE WHEN g = 3 THEN 1 ELSE 0 END) AS c3,
             SUM(CASE WHEN g = 4 THEN 1 ELSE 0 END) AS c4,
             SUM(CASE WHEN g = 5 THEN 1 ELSE 0 END) AS c5
      FROM s GROUP BY v),
    cum AS (
      SELECT v, c1, c2, c3, c4, c5,
             SUM(c1) OVER w AS f1, SUM(c2) OVER w AS f2,
             SUM(c3) OVER w AS f3, SUM(c4) OVER w AS f4,
             SUM(c5) OVER w AS f5
      FROM vc
      WINDOW w AS (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    jt AS (
      SELECT
        SUM(c2 * (2 * (f1 - c1) + c1) + c3 * (2 * (f1 - c1) + c1)
          + c4 * (2 * (f1 - c1) + c1) + c5 * (2 * (f1 - c1) + c1)
          + c3 * (2 * (f2 - c2) + c2) + c4 * (2 * (f2 - c2) + c2)
          + c5 * (2 * (f2 - c2) + c2)
          + c4 * (2 * (f3 - c3) + c3) + c5 * (2 * (f3 - c3) + c3)
          + c5 * (2 * (f4 - c4) + c4)) AS jt2,
        SUM(c1 + c2 + c3 + c4 + c5) AS n,
        SUM(c1) AS n1, SUM(c2) AS n2, SUM(c3) AS n3,
        SUM(c4) AS n4, SUM(c5) AS n5
      FROM cum)
    SELECT CAST(jt2 AS BIGINT) AS jt2,
           CAST(n AS BIGINT) AS n,
           ROUND((CAST(n AS DOUBLE) * n
                  - (CAST(n1 AS DOUBLE) * n1 + CAST(n2 AS DOUBLE) * n2
                     + CAST(n3 AS DOUBLE) * n3 + CAST(n4 AS DOUBLE) * n4
                     + CAST(n5 AS DOUBLE) * n5)) / 2.0, 1) AS e_jt2,
           ROUND((jt2 - (CAST(n AS DOUBLE) * n
                  - (CAST(n1 AS DOUBLE) * n1 + CAST(n2 AS DOUBLE) * n2
                     + CAST(n3 AS DOUBLE) * n3 + CAST(n4 AS DOUBLE) * n4
                     + CAST(n5 AS DOUBLE) * n5)) / 2.0)
                 / ((CAST(n AS DOUBLE) * n
                  - (CAST(n1 AS DOUBLE) * n1 + CAST(n2 AS DOUBLE) * n2
                     + CAST(n3 AS DOUBLE) * n3 + CAST(n4 AS DOUBLE) * n4
                     + CAST(n5 AS DOUBLE) * n5)) / 2.0), 4)
             AS trend_index
    FROM jt
    """,
)
def qs298(spark: SparkSession, sf: str) -> DataFrame:
    """JONCKHEERE–TERPSTRA ordered-alternative trend test: is order
    value monotonically increasing across the ORDERED priority
    levels 1-URGENT → 5-LOW? JT = Σ_{i<j} U_ij (pairwise
    Mann–Whitney counts, ties at ½) — strictly more powerful than
    qs271's unordered Kruskal–Wallis when the alternative is a
    trend. Reported doubled (jt2 = 2·JT stays an exact integer
    through the tie halves) beside its null expectation and the
    normalized trend index (JT − E)/E ∈ [−1, 1].

    Determinism: value-level group counts pivot into five columns
    whose running totals share ONE multi-weight bucketed prefix-sum
    pass (operators/prefix.py — no single-task window over the
    distinct-cents grid); every U term is an exact integer; the
    two output ratios are fixed one-row double trees. Plan: one
    scan → value-grid pivot aggregate → bucketed prefix sums →
    one-row epilogue."""
    o = load_table(spark, sf, "orders")
    # Complete-case: an unparseable priority (group) or missing
    # price (value) is not an observation (r15 NULL-axis convention;
    # ANSI CAST throws on dirty strings).
    prio = F.substring("o_orderpriority", 1, 1).try_cast("long")
    s = o.filter(
        F.col("o_totalprice").isNotNull() & prio.isNotNull()
    ).select(
        prio.alias("g"),
        F.round(F.col("o_totalprice") * 100, 0)
        .cast("long")
        .alias("v"),
    )
    vc = s.groupBy("v").agg(
        *[
            F.sum(F.when(F.col("g") == i, 1).otherwise(0)).alias(
                f"c{i}"
            )
            for i in range(1, 6)
        ]
    # r15 (guide §2.4, the qs288/qs271 fix): bucketed_prefix_sum
    # references its input several times (bounds agg, bucket join,
    # in-bucket window, offset join-back) — each re-ran the
    # value-level aggregate over the scan. The table is bounded by
    # the cent-value domain, safe to pin. pin: bounded —
    # localCheckpoint IS the bounded policy (operators/pin.py).
    ).localCheckpoint(eager=True)
    cum = bucketed_prefix_sum(
        vc,
        "v",
        [f"c{i}" for i in range(1, 6)],
        [f"f{i}" for i in range(1, 6)],
    )
    jt_terms = None
    for i in range(1, 6):
        below_i = 2 * (F.col(f"f{i}") - F.col(f"c{i}")) + F.col(f"c{i}")
        for j in range(i + 1, 6):
            term = F.col(f"c{j}") * below_i
            jt_terms = term if jt_terms is None else jt_terms + term
    jt = cum.agg(
        F.sum(jt_terms).alias("jt2"),
        F.sum(
            sum((F.col(f"c{i}") for i in range(2, 6)), F.col("c1"))
        ).alias("n"),
        *[F.sum(f"c{i}").alias(f"n{i}") for i in range(1, 6)],
    )
    sumsq = None
    for i in range(1, 6):
        t = F.col(f"n{i}").cast("double") * F.col(f"n{i}")
        sumsq = t if sumsq is None else sumsq + t
    e2 = (F.col("n").cast("double") * F.col("n") - sumsq) / F.lit(2.0)
    return jt.select(
        F.col("jt2").cast("long").alias("jt2"),
        F.col("n").cast("long").alias("n"),
        F.round(e2, 1).alias("e_jt2"),
        F.round((F.col("jt2") - e2) / e2, 4).alias("trend_index"),
    )


# --------------------------------------------------------------------------
# qs299 Kendall tau-b ordinal association (priority × status)
# --------------------------------------------------------------------------


@query(
    "qs299_kendall_taub",
    oracle="""
    WITH cells AS (
      SELECT TRY_CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS x,
             CASE o_orderstatus WHEN 'F' THEN 1 WHEN 'P' THEN 2
                  ELSE 3 END AS y,
             COUNT(*) AS c
      FROM orders
      WHERE TRY_CAST(substr(o_orderpriority, 1, 1) AS BIGINT)
            IS NOT NULL
      GROUP BY 1, 2),
    pairs AS (
      SELECT a.c * b.c AS w,
             CASE WHEN (a.x < b.x AND a.y < b.y)
                    OR (a.x > b.x AND a.y > b.y) THEN 1
                  WHEN (a.x < b.x AND a.y > b.y)
                    OR (a.x > b.x AND a.y < b.y) THEN -1
                  ELSE 0 END AS sgn
      FROM cells a JOIN cells b
        ON a.x < b.x OR (a.x = b.x AND a.y < b.y)),
    cd AS (
      SELECT SUM(CASE WHEN sgn = 1 THEN w ELSE 0 END) AS conc,
             SUM(CASE WHEN sgn = -1 THEN w ELSE 0 END) AS disc
      FROM pairs),
    marg AS (
      SELECT SUM(c) AS n,
             (SELECT SUM(r * (r - 1)) FROM
               (SELECT SUM(c) AS r FROM cells GROUP BY x)) AS tx2,
             (SELECT SUM(r * (r - 1)) FROM
               (SELECT SUM(c) AS r FROM cells GROUP BY y)) AS ty2
      FROM cells)
    SELECT CAST(marg.n AS BIGINT) AS n,
           CAST(cd.conc AS BIGINT) AS concordant,
           CAST(cd.disc AS BIGINT) AS discordant,
           ROUND((CAST(cd.conc AS DOUBLE) - cd.disc)
                 / sqrt((CAST(marg.n AS DOUBLE) * (marg.n - 1) - tx2)
                        / 2.0
                        * (CAST(marg.n AS DOUBLE) * (marg.n - 1)
                           - ty2) / 2.0), 4) AS tau_b
    FROM cd CROSS JOIN marg
    """,
)
def qs299(spark: SparkSession, sf: str) -> DataFrame:
    """KENDALL τ-b between two ORDINAL columns (priority rank ×
    status progression O→P→F recoded F<P<O as completion order
    reversed — any fixed order works for association strength):
    (C−D)/√((n₀−n_x)(n₀−n_y)) with tie-corrected denominators —
    the ordinal association measure where qs273's Cramér's V is
    nominal and qs243's Spearman needs a continuous-ish scale.
    Concordant/discordant pair counts come from the CONTINGENCY
    TABLE (15 cells → 105 cell pairs), never from row pairs.

    Determinism: cell counts, C, D, and both tie terms are exact
    integers (C,D ≤ N²/2 — DECIMAL(38)/HUGEINT at scale); τ-b is
    one fixed double tree with an IEEE-exact sqrt, ROUND 4. Plan:
    one grouped scan → 15-row epilogue self-join."""
    o = load_table(spark, sf, "orders")
    cells = (
        o.groupBy(
            # try_cast + drop: unparseable priority is not an ordinal
            # observation (r15 NULL-axis convention; ANSI CAST throws
            # on dirty source strings).
            F.substring("o_orderpriority", 1, 1)
            .try_cast("long")
            .alias("x"),
            F.when(F.col("o_orderstatus") == "F", 1)
            .when(F.col("o_orderstatus") == "P", 2)
            .otherwise(3)
            .alias("y"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("x").isNotNull())
    )
    a = cells.select(
        F.col("x").alias("x1"), F.col("y").alias("y1"), F.col("c").alias("ca")
    )
    b = cells.select(
        F.col("x").alias("x2"), F.col("y").alias("y2"), F.col("c").alias("cb")
    )
    pairs = a.join(
        b,
        (F.col("x1") < F.col("x2"))
        | ((F.col("x1") == F.col("x2")) & (F.col("y1") < F.col("y2"))),
    )
    w = (F.col("ca").cast("decimal(38,0)") * F.col("cb"))
    sgn = (
        F.when(
            ((F.col("x1") < F.col("x2")) & (F.col("y1") < F.col("y2")))
            | ((F.col("x1") > F.col("x2")) & (F.col("y1") > F.col("y2"))),
            1,
        )
        .when(
            ((F.col("x1") < F.col("x2")) & (F.col("y1") > F.col("y2")))
            | ((F.col("x1") > F.col("x2")) & (F.col("y1") < F.col("y2"))),
            -1,
        )
        .otherwise(0)
    )
    cd = pairs.agg(
        F.sum(F.when(sgn == 1, w).otherwise(F.lit(0))).alias("conc"),
        F.sum(F.when(sgn == -1, w).otherwise(F.lit(0))).alias("disc"),
    )
    rx = cells.groupBy("x").agg(F.sum("c").alias("r"))
    ry = cells.groupBy("y").agg(F.sum("c").alias("r"))
    marg = (
        cells.agg(F.sum("c").alias("n"))
        .crossJoin(
            # bcast: ONE-ROW global .agg() scalar frame (one row by construction)
            F.broadcast(
                rx.agg(
                    F.sum(
                        F.col("r").cast("decimal(38,0)") * (F.col("r") - 1)
                    ).alias("tx2")
                )
            )
        )
        .crossJoin(
            ry.agg(
                F.sum(
                    F.col("r").cast("decimal(38,0)") * (F.col("r") - 1)
                ).alias("ty2")
            )
        )
    )
    nn = F.col("n").cast("double")
    # bcast: ONE-ROW global .agg() scalar frame (one row by construction)
    return cd.crossJoin(F.broadcast(marg)).select(
        F.col("n").cast("long").alias("n"),
        F.col("conc").cast("long").alias("concordant"),
        F.col("disc").cast("long").alias("discordant"),
        F.round(
            (F.col("conc").cast("double") - F.col("disc").cast("double"))
            / F.sqrt(
                (nn * (nn - 1) - F.col("tx2").cast("double"))
                / F.lit(2.0)
                * (nn * (nn - 1) - F.col("ty2").cast("double"))
                / F.lit(2.0)
            ),
            4,
        ).alias("tau_b"),
    )


# --------------------------------------------------------------------------
# qs301 Theil's uncertainty coefficient U(y|x)
# --------------------------------------------------------------------------


@query(
    "qs301_theils_u",
    oracle="""
    WITH cells AS (
      SELECT o_orderpriority AS x, o_orderstatus AS y, COUNT(*) AS c
      FROM orders GROUP BY 1, 2),
    n AS (SELECT SUM(c) AS n FROM cells),
    hy AS (
      SELECT -SUM((CAST(r AS DOUBLE) / n.n)
                  * ln(CAST(r AS DOUBLE) / n.n)) AS hy
      FROM (SELECT y, SUM(c) AS r FROM cells GROUP BY y)
      CROSS JOIN n),
    hyx AS (
      SELECT -SUM((CAST(cells.c AS DOUBLE) / n.n)
                  * ln(CAST(cells.c AS DOUBLE) / rx.r)) AS hyx
      FROM cells
      JOIN (SELECT x, SUM(c) AS r FROM cells GROUP BY x) rx
        ON rx.x = cells.x
      CROSS JOIN n)
    SELECT CAST(n.n AS BIGINT) AS n,
           ROUND(hy.hy, 4) AS h_y,
           ROUND(hyx.hyx, 4) AS h_y_given_x,
           ROUND((hy.hy - hyx.hyx) / hy.hy, 4) AS theils_u
    FROM n CROSS JOIN hy CROSS JOIN hyx
    """,
)
def qs301(spark: SparkSession, sf: str) -> DataFrame:
    """THEIL'S UNCERTAINTY COEFFICIENT U(status|priority) =
    (H(y) − H(y|x))/H(y): the ASYMMETRIC entropy-based association
    — "how much does knowing the priority reduce uncertainty about
    the status" — completing the association family (qs273 Cramér's
    V is symmetric-nominal, qs299 τ-b ordinal, qs166 mutual
    information unnormalized).

    Determinism: cell and marginal counts are exact integers; the
    entropy sums run over ≤15 cells of like-magnitude negative
    terms (noise ≪ ROUND 4; ln is the accepted 1-ulp libm
    contract). Plan: one grouped scan → cells-sized epilogue."""
    o = load_table(spark, sf, "orders")
    cells = o.groupBy(
        F.col("o_orderpriority").alias("x"),
        F.col("o_orderstatus").alias("y"),
    ).agg(F.count(F.lit(1)).alias("c"))
    n = cells.agg(F.sum("c").alias("n"))
    ry = cells.groupBy("y").agg(F.sum("c").alias("r"))
    hy = ry.crossJoin(n).agg(
        (
            -F.sum(
                (F.col("r").cast("double") / F.col("n"))
                * F.log(F.col("r").cast("double") / F.col("n"))
            )
        ).alias("hy")
    )
    rx = cells.groupBy("x").agg(F.sum("c").alias("r"))
    hyx = (
        cells.join(rx, "x")
        .crossJoin(n)
        .agg(
            (
                -F.sum(
                    (F.col("c").cast("double") / F.col("n"))
                    * F.log(
                        F.col("c").cast("double") / F.col("r")
                    )
                )
            ).alias("hyx")
        )
    )
    return (
        n.crossJoin(hy)
        .crossJoin(hyx)
        .select(
            F.col("n").cast("long").alias("n"),
            F.round("hy", 4).alias("h_y"),
            F.round("hyx", 4).alias("h_y_given_x"),
            F.round(
                (F.col("hy") - F.col("hyx")) / F.col("hy"), 4
            ).alias("theils_u"),
        )
    )


# --------------------------------------------------------------------------
# qs302 Wald–Wolfowitz runs test on the daily revenue series
# --------------------------------------------------------------------------


@query(
    "qs302_runs_test",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS x
      FROM events GROUP BY 1),
    med AS (
      SELECT MIN(x) AS m FROM (
        SELECT x, ROW_NUMBER() OVER (ORDER BY x, day) AS rn,
               COUNT(*) OVER () AS n
        FROM daily) q
      WHERE rn >= (n + 1) // 2),
    lab AS (
      SELECT day, CASE WHEN x > med.m THEN 1 ELSE 0 END AS hi
      FROM daily CROSS JOIN med),
    runs AS (
      SELECT hi,
             CASE WHEN LAG(hi) OVER (ORDER BY day) IS DISTINCT
                  FROM hi THEN 1 ELSE 0 END AS brk
      FROM lab),
    agg AS (
      SELECT SUM(brk) AS r, SUM(hi) AS n1,
             SUM(1 - hi) AS n0
      FROM runs)
    SELECT CAST(r AS BIGINT) AS n_runs,
           CAST(n1 AS BIGINT) AS n_above,
           CAST(n0 AS BIGINT) AS n_at_or_below,
           ROUND(1.0 + 2.0 * n1 * n0 / (n1 + n0), 4)
             AS expected_runs,
           ROUND((r - (1.0 + 2.0 * n1 * n0 / (n1 + n0)))
                 / sqrt(2.0 * n1 * n0 * (2.0 * n1 * n0 - n1 - n0)
                        / ((CAST(n1 + n0 AS DOUBLE))
                           * (n1 + n0) * (n1 + n0 - 1))), 4)
             AS z
    FROM agg
    """,
)
def qs302(spark: SparkSession, sf: str) -> DataFrame:
    """WALD–WOLFOWITZ RUNS TEST for randomness of the daily revenue
    series around its median: too few runs of above/below-median
    days means trending or clustering (autocorrelated regimes), too
    many means oscillation — the model-free randomness screen
    beside qs204's parametric autocorrelation and qs242's CUSUM.
    The median is the exact type-1 order statistic with a day
    tiebreak, so both engines label identical days.

    Determinism: daily cent totals, the median, run breaks and all
    counts are exact integers (runs = Σ boundary indicators — the
    first row's NULL lag counts as a break, giving the standard R =
    boundaries formulation); E[R] and z are fixed one-row double
    trees (√ IEEE-exact), ROUND 4. Plan: corpus → 30-day grid;
    every window runs over calendar-sized rows."""
    ev = load_table(spark, sf, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(
            F.round(F.col("value") * 100, 0).cast("long")
        ).alias("x")
    )
    # window: GRID runs test: 30-day grid
    wrn = Window.orderBy("x", "day")
    wall = Window.partitionBy()
    med = (
        daily.withColumn("rn", F.row_number().over(wrn))
        .withColumn("n", F.count(F.lit(1)).over(wall))
        .filter(F.col("rn") >= F.expr("(n + 1) DIV 2"))
        .agg(F.min("x").alias("m"))
    )
    lab = daily.crossJoin(med).select(
        "day",
        F.when(F.col("x") > F.col("m"), 1).otherwise(0).alias("hi"),
    )
    # window: GRID runs test: 30-day grid
    wday = Window.orderBy("day")
    runs = lab.select(
        "hi",
        F.when(
            ~F.lag("hi").over(wday).eqNullSafe(F.col("hi")), 1
        )
        .otherwise(0)
        .alias("brk"),
    )
    agg = runs.agg(
        F.sum("brk").alias("r"),
        F.sum("hi").alias("n1"),
        F.sum(F.lit(1) - F.col("hi")).alias("n0"),
    )
    n1 = F.col("n1").cast("double")
    n0 = F.col("n0").cast("double")
    er = F.lit(1.0) + F.lit(2.0) * n1 * n0 / (n1 + n0)
    vr = (
        F.lit(2.0)
        * n1
        * n0
        * (F.lit(2.0) * n1 * n0 - n1 - n0)
        / ((n1 + n0) * (n1 + n0) * (n1 + n0 - 1))
    )
    return agg.select(
        F.col("r").cast("long").alias("n_runs"),
        F.col("n1").cast("long").alias("n_above"),
        F.col("n0").cast("long").alias("n_at_or_below"),
        F.round(er, 4).alias("expected_runs"),
        F.round((F.col("r") - er) / F.sqrt(vr), 4).alias("z"),
    )


# --------------------------------------------------------------------------
# qs303 Durbin–Watson autocorrelation of monthly-trend residuals
# --------------------------------------------------------------------------


@query(
    "qs303_durbin_watson",
    oracle="""
    WITH m AS (
      SELECT (YEAR(o_orderdate) - 1992) * 12 + MONTH(o_orderdate) AS t,
             COUNT(*) AS y
      FROM orders GROUP BY 1),
    s AS (
      SELECT COUNT(*) AS n, SUM(t) AS sx, SUM(y) AS sy,
             SUM(t * t) AS sxx, SUM(CAST(t AS HUGEINT) * y) AS sxy
      FROM m),
    e AS (
      SELECT m.t,
             (s.n * s.sxx - s.sx * s.sx) * CAST(m.y AS HUGEINT)
             - (s.sy * s.sxx - s.sx * s.sxy)
             - (s.n * s.sxy - s.sx * s.sy) * m.t AS e
      FROM m CROSS JOIN s),
    d AS (
      SELECT SUM(e * e) AS see,
             SUM(CASE WHEN pe IS NULL THEN CAST(0 AS HUGEINT)
                      ELSE (e - pe) * (e - pe) END) AS sdd
      FROM (SELECT e, LAG(e) OVER (ORDER BY t) AS pe FROM e))
    SELECT CAST(s.n AS BIGINT) AS n_months,
           ROUND(CAST(d.sdd AS DOUBLE) / CAST(d.see AS DOUBLE), 4) AS dw,
           ROUND(1.0 - CAST(d.sdd AS DOUBLE) / CAST(d.see AS DOUBLE) / 2.0, 4)
             AS rho1
    FROM s CROSS JOIN d
    """,
)
def qs303(spark: SparkSession, sf: str) -> DataFrame:
    """DURBIN–WATSON statistic on the residuals of the monthly
    order-count trend: dw ≈ 2 means uncorrelated residuals, dw → 0
    positive autocorrelation (momentum/regimes the OLS trend misses),
    dw → 4 negative (oscillation) — the regression-residual
    companion to qs204's raw autocorrelation and qs302's runs test,
    with rho1 ≈ 1 − dw/2 reported alongside.

    Determinism (qs272 doctrine): the residuals are kept in the
    EXACT integer domain — e_t·D = D·y_t − (SyСxx − SxСxy) −
    (nСxy − SxСy)·t where D = nΣt²−(Σt)², all integer sums — so
    Σe² and Σ(Δe)² are exact DECIMAL(38)/HUGEINT integers (D² cancels
    in the ratio) and only ONE double division feeds each ROUND 4.
    Plan: one grouped scan → calendar-sized epilogue (the LAG window
    runs over ~84 month rows)."""
    o = load_table(spark, sf, "orders")
    m = o.groupBy(
        (
            (F.year("o_orderdate") - 1992) * 12 + F.month("o_orderdate")
        ).alias("t")
    ).agg(F.count(F.lit(1)).alias("y"))
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    s = m.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("t").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("t") * F.col("t")).alias("sxx"),
        F.sum(F.col("t").cast("decimal(38,0)") * F.col("y")).alias("sxy"),
    )
    e = m.crossJoin(s).select(
        "t",
        (
            (dec("n") * dec("sxx") - dec("sx") * dec("sx")) * dec("y")
            - (dec("sy") * dec("sxx") - dec("sx") * dec("sxy"))
            - (dec("n") * dec("sxy") - dec("sx") * dec("sy")) * dec("t")
        ).alias("e"),
    )
    # window: GRID Durbin-Watson: day-grid lag
    lagw = Window.orderBy("t")
    d = e.withColumn("pe", F.lag("e").over(lagw)).agg(
        F.sum(F.col("e") * F.col("e")).alias("see"),
        F.sum(
            F.when(F.col("pe").isNull(), F.lit(0).cast("decimal(38,0)"))
            .otherwise((F.col("e") - F.col("pe")) * (F.col("e") - F.col("pe")))
        ).alias("sdd"),
    )
    # bcast: ONE-ROW global .agg() scalar frame (one row by construction)
    return s.crossJoin(F.broadcast(d)).select(
        F.col("n").cast("long").alias("n_months"),
        F.round(
            F.col("sdd").cast("double") / F.col("see").cast("double"), 4
        ).alias("dw"),
        F.round(
            1.0 - F.col("sdd").cast("double") / F.col("see").cast("double") / 2.0,
            4,
        ).alias("rho1"),
    )


# --------------------------------------------------------------------------
# qs304 Mood's median test: quantity medians across return flags
# --------------------------------------------------------------------------


def _mood_chi2_sql(flags: tuple[str, ...]) -> str:
    """Σ (O − R·C/N)²/(R·C/N) over the 2×k above/at-or-below table,
    written as one fixed expression tree (identical on both engines)."""
    ca = " + ".join(f"a_{f}" for f in flags)
    cb = " + ".join(f"b_{f}" for f in flags)
    terms = []
    for f in flags:
        row = f"(a_{f} + b_{f})"
        for o, ctot in ((f"a_{f}", ca), (f"b_{f}", cb)):
            e = f"(CAST({row} AS DOUBLE) * ({ctot}) / n)"
            terms.append(f"(({o} - {e}) * ({o} - {e}) / {e})")
    return " + ".join(terms)


_MOOD_FLAGS = ("A", "N", "R")


@query(
    "qs304_moods_median",
    oracle=f"""
    WITH v AS (
      SELECT CAST(l_quantity AS BIGINT) AS q, COUNT(*) AS c
      FROM lineitem GROUP BY 1),
    med AS (
      SELECT MIN(q) AS m FROM (
        SELECT q, SUM(c) OVER (ORDER BY q) AS cum, SUM(c) OVER () AS nn
        FROM v) x
      WHERE cum >= (nn + 1) // 2),
    cells AS (
      SELECT {", ".join(
        f"SUM(CASE WHEN l_returnflag = '{f}' AND l_quantity > med.m THEN 1 ELSE 0 END) AS a_{f}, "
        f"SUM(CASE WHEN l_returnflag = '{f}' AND l_quantity <= med.m THEN 1 ELSE 0 END) AS b_{f}"
        for f in _MOOD_FLAGS)},
        COUNT(*) AS n, MIN(med.m) AS median_qty
      FROM lineitem CROSS JOIN med)
    SELECT CAST(n AS BIGINT) AS n,
           CAST(median_qty AS BIGINT) AS median_qty,
           ROUND({_mood_chi2_sql(_MOOD_FLAGS)}, 4) AS chi2
    FROM cells
    """,
)
def qs304(spark: SparkSession, sf: str) -> DataFrame:
    """MOOD'S MEDIAN TEST: do the three return-flag populations share
    a common quantity median? Nonparametric k-sample location test —
    the median-based screen beside qs271's rank-based Kruskal–Wallis
    (robust to heavy tails where KW is not). The grand median is the
    exact type-1 order statistic; the 2×3 above/at-or-below table
    feeds a χ² with 2 df.

    Determinism: the median comes from the 50-value distinct-count
    table (integer cumulative counts), all six cells are exact
    integer counts pivoted into ONE row, and the χ² is a fixed
    scalar double tree written identically on both engines, ROUND 4.
    Plan: two grouped scans (value grid, then the cells) — the
    cumulative window runs over 50 distinct quantities."""
    li = load_table(spark, sf, "lineitem")
    v = li.groupBy(F.col("l_quantity").cast("long").alias("q")).agg(
        F.count(F.lit(1)).alias("c")
    )
    # window: GRID Mood median: ~50-quantity value grid
    cumw = Window.orderBy("q").rowsBetween(Window.unboundedPreceding, 0)
    med = (
        v.withColumn("cum", F.sum("c").over(cumw))
        .withColumn("nn", F.sum("c").over(Window.partitionBy()))
        .filter(F.col("cum") >= (F.col("nn") + 1) / 2)
        .agg(F.min("q").alias("m"))
    )
    cells = li.crossJoin(med).agg(
        *[
            agg
            for f in _MOOD_FLAGS
            for agg in (
                F.sum(
                    F.when(
                        (F.col("l_returnflag") == f)
                        & (F.col("l_quantity") > F.col("m")),
                        1,
                    ).otherwise(0)
                ).alias(f"a_{f}"),
                F.sum(
                    F.when(
                        (F.col("l_returnflag") == f)
                        & (F.col("l_quantity") <= F.col("m")),
                        1,
                    ).otherwise(0)
                ).alias(f"b_{f}"),
            )
        ],
        F.count(F.lit(1)).alias("n"),
        F.min("m").alias("median_qty"),
    )
    return cells.select(
        F.col("n").cast("long").alias("n"),
        F.col("median_qty").cast("long").alias("median_qty"),
        F.round(F.expr(_mood_chi2_sql(_MOOD_FLAGS)), 4).alias("chi2"),
    )


# --------------------------------------------------------------------------
# qs305 Mann–Kendall trend test on monthly revenue
# --------------------------------------------------------------------------


@query(
    "qs305_mann_kendall",
    oracle="""
    WITH m AS (
      SELECT (YEAR(o_orderdate) - 1992) * 12 + MONTH(o_orderdate) AS t,
             SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS y
      FROM orders GROUP BY 1),
    s AS (
      SELECT SUM(CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1
                      ELSE 0 END) AS s
      FROM m a JOIN m b ON a.t < b.t),
    ties AS (
      SELECT COALESCE(SUM(CAST(c AS HUGEINT) * (c - 1) * (2 * c + 5)), 0) AS tt
      FROM (SELECT y, COUNT(*) AS c FROM m GROUP BY y HAVING COUNT(*) > 1)),
    n AS (SELECT COUNT(*) AS n FROM m)
    SELECT CAST(n.n AS BIGINT) AS n_months,
           CAST(s.s AS BIGINT) AS s,
           ROUND(
             CASE WHEN s.s > 0 THEN (s.s - 1)
                  WHEN s.s < 0 THEN (s.s + 1) ELSE 0 END
             / sqrt((CAST(n.n AS HUGEINT) * (n.n - 1) * (2 * n.n + 5)
                     - ties.tt) / CAST(18 AS DOUBLE)), 4) AS z
    FROM n CROSS JOIN s CROSS JOIN ties
    """,
)
def qs305(spark: SparkSession, sf: str) -> DataFrame:
    """MANN–KENDALL TREND TEST on monthly revenue: S = Σ_{i<j}
    sign(y_j − y_i) with the tie-corrected normal approximation —
    the nonparametric monotone-trend screen beside qs298's
    Jonckheere (ordered GROUPS) and qs205's Theil–Sen (slope
    estimate); this is the classical is-there-a-trend-at-all test
    run before fitting anything.

    Determinism: monthly cent totals, S, and the tie term are exact
    integers; z is one fixed double tree (continuity-corrected
    S∓1, zero at S = 0, √ IEEE-exact), ROUND 4. Plan: one grouped scan → the pair
    join runs over the ~84-row month grid (≈3.5k pairs), never the
    corpus."""
    o = load_table(spark, sf, "orders")
    m = o.groupBy(
        (
            (F.year("o_orderdate") - 1992) * 12 + F.month("o_orderdate")
        ).alias("t")
    ).agg(
        F.sum(
            F.round(F.col("o_totalprice") * 100, 0).cast("long")
        ).alias("y")
    )
    a, b = m.alias("a"), m.alias("b")
    s = (
        a.join(b, F.col("a.t") < F.col("b.t"))
        .agg(
            F.sum(
                F.when(F.col("b.y") > F.col("a.y"), 1)
                .when(F.col("b.y") < F.col("a.y"), -1)
                .otherwise(0)
            ).alias("s")
        )
    )
    ties = (
        m.groupBy("y")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .agg(
            F.coalesce(
                F.sum(
                    F.col("c").cast("decimal(38,0)")
                    * (F.col("c") - 1)
                    * (2 * F.col("c") + 5)
                ),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("tt")
        )
    )
    n = m.agg(F.count(F.lit(1)).alias("n"))
    return (
        n.crossJoin(s)
        .crossJoin(ties)
        .select(
            F.col("n").cast("long").alias("n_months"),
            F.col("s").cast("long").alias("s"),
            # z = 0 when S = 0 (textbook continuity correction;
            # the old ELSE branch gave (S+1)/sigma — the r10 intent
            # sweep's by-construction find, unreached on this data).
            F.round(
                F.when(F.col("s") > 0, F.col("s") - 1)
                .when(F.col("s") < 0, F.col("s") + 1)
                .otherwise(F.lit(0))
                / F.sqrt(
                    (
                        F.col("n").cast("decimal(38,0)")
                        * (F.col("n") - 1)
                        * (2 * F.col("n") + 5)
                        - F.col("tt")
                    ).cast("double")
                    / 18.0
                ),
                4,
            ).alias("z"),
        )
    )


# --------------------------------------------------------------------------
# qs306 Grubbs' outlier statistic on monthly revenue
# --------------------------------------------------------------------------


@query(
    "qs306_grubbs_outlier",
    oracle="""
    WITH m AS (
      SELECT (YEAR(o_orderdate) - 1992) * 12 + MONTH(o_orderdate) AS t,
             SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS y
      FROM orders GROUP BY 1),
    s AS (
      SELECT COUNT(*) AS n, SUM(CAST(y AS HUGEINT)) AS sy,
             SUM(CAST(y AS HUGEINT) * y) AS syy
      FROM m),
    d AS (
      SELECT MAX(ABS(s.n * CAST(m.y AS HUGEINT) - s.sy)) AS maxdev
      FROM m CROSS JOIN s)
    SELECT CAST(s.n AS BIGINT) AS n_months,
           CAST(d.maxdev AS BIGINT) AS max_abs_dev_n,
           ROUND(
             (CAST(d.maxdev AS DOUBLE) / s.n)
             / sqrt(CAST(s.n * s.syy - s.sy * s.sy AS DOUBLE)
                    / (CAST(s.n AS DOUBLE) * (s.n - 1))), 4) AS g
    FROM s CROSS JOIN d
    """,
)
def qs306(spark: SparkSession, sf: str) -> DataFrame:
    """GRUBBS' OUTLIER STATISTIC G = max|y − ȳ|/s on the monthly
    revenue series — the single-most-discordant-month screen the
    reporting pipeline runs before publishing a trend (one bad
    backfill month shows up here before it skews qs202's OLS).
    Companion to qs239's per-row Tukey fences: Grubbs is the
    series-level studentized extreme.

    Determinism: the deviation is kept integer-exact as
    |n·y − Σy| (max over months — no rational mean), moments are
    exact DECIMAL(38)/HUGEINT sums, and G is one fixed double tree
    over the one-row pivot, ROUND 4 (√ IEEE-exact). Plan: one
    grouped scan → month-grid epilogue."""
    o = load_table(spark, sf, "orders")
    m = o.groupBy(
        (
            (F.year("o_orderdate") - 1992) * 12 + F.month("o_orderdate")
        ).alias("t")
    ).agg(
        F.sum(
            F.round(F.col("o_totalprice") * 100, 0).cast("long")
        ).alias("y")
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    s = m.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
        F.sum(
            F.col("y").cast("decimal(38,0)") * F.col("y")
        ).alias("syy"),
    )
    d = m.crossJoin(s).agg(
        F.max(F.abs(dec("n") * dec("y") - F.col("sy"))).alias("maxdev")
    )
    return s.crossJoin(d).select(
        F.col("n").cast("long").alias("n_months"),
        F.col("maxdev").cast("long").alias("max_abs_dev_n"),
        F.round(
            (F.col("maxdev").cast("double") / F.col("n"))
            / F.sqrt(
                (dec("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
                    "double"
                )
                / (F.col("n").cast("double") * (F.col("n") - 1))
            ),
            4,
        ).alias("g"),
    )


# --------------------------------------------------------------------------
# qs309 Bartlett's test: quantity variance homogeneity across flags
# --------------------------------------------------------------------------


@query(
    "qs309_bartlett_test",
    oracle="""
    WITH m AS (
      SELECT l_returnflag AS g, COUNT(*) AS n,
             SUM(CAST(l_quantity AS BIGINT)) AS s1,
             SUM(CAST(l_quantity AS HUGEINT) * CAST(l_quantity AS BIGINT)) AS s2
      FROM lineitem GROUP BY 1),
    w AS (
      SELECT COUNT(*) AS k, SUM(n) AS nn,
        MAX(CASE WHEN g = 'A' THEN CAST(n * s2 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE)
                 / (CAST(n AS DOUBLE) * (n - 1)) END) AS v_a,
        MAX(CASE WHEN g = 'N' THEN CAST(n * s2 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE)
                 / (CAST(n AS DOUBLE) * (n - 1)) END) AS v_n,
        MAX(CASE WHEN g = 'R' THEN CAST(n * s2 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE)
                 / (CAST(n AS DOUBLE) * (n - 1)) END) AS v_r,
        MAX(CASE WHEN g = 'A' THEN n END) AS n_a,
        MAX(CASE WHEN g = 'N' THEN n END) AS n_n,
        MAX(CASE WHEN g = 'R' THEN n END) AS n_r
      FROM m),
    t AS (
      SELECT k, nn,
        ((CAST(n_a AS DOUBLE) - 1) * v_a + (n_n - 1) * v_n
         + (n_r - 1) * v_r) / (nn - k) AS vp
      FROM w)
    SELECT CAST(w.k AS BIGINT) AS k, CAST(w.nn AS BIGINT) AS n,
      ROUND(
        ((w.nn - w.k) * ln(t.vp)
         - ((w.n_a - 1) * ln(w.v_a) + (w.n_n - 1) * ln(w.v_n)
            + (w.n_r - 1) * ln(w.v_r)))
        / (1.0 + (1.0 / (w.n_a - 1) + 1.0 / (w.n_n - 1) + 1.0 / (w.n_r - 1)
                  - 1.0 / (w.nn - w.k)) / (3.0 * (w.k - 1))), 4)
        AS t_bartlett
    FROM w CROSS JOIN t
    """,
)
def qs309(spark: SparkSession, sf: str) -> DataFrame:
    """BARTLETT'S TEST of quantity variance homogeneity across the
    return flags — the parametric (normal-theory) variance test
    beside qs291's robust Brown–Forsythe: Bartlett is the more
    powerful screen when normality holds, and running both is the
    standard equal-variance audit before qs272-style ANOVA.

    Determinism: per-group n·ΣX² − (ΣX)² is computed EXACTLY in
    DECIMAL(38)/HUGEINT (≈1-digit cancellation happens in integer
    space, not floating point) and each variance is one double
    division; the statistic is a fixed one-row tree over the pivoted
    {A,N,R} domain (ln is the accepted 1-ulp libm contract; its
    error scaled by n stays ≪ ROUND 4). Plan: one partial-aggregated
    scan → 3 moment rows → one-row epilogue."""
    li = load_table(spark, sf, "lineitem")
    m = li.groupBy(F.col("l_returnflag").alias("g")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast("long")).alias("s1"),
        F.sum(
            F.col("l_quantity").cast("decimal(38,0)")
            * F.col("l_quantity").cast("long")
        ).alias("s2"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    var = (
        (dec("n") * F.col("s2") - dec("s1") * dec("s1")).cast("double")
        / (F.col("n").cast("double") * (F.col("n") - 1))
    )
    w = m.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("nn"),
        *[
            agg
            for f in ("A", "N", "R")
            for agg in (
                F.max(F.when(F.col("g") == f, var)).alias(f"v_{f.lower()}"),
                F.max(F.when(F.col("g") == f, F.col("n"))).alias(
                    f"n_{f.lower()}"
                ),
            )
        ],
    )
    vp = (
        (F.col("n_a").cast("double") - 1) * F.col("v_a")
        + (F.col("n_n") - 1) * F.col("v_n")
        + (F.col("n_r") - 1) * F.col("v_r")
    ) / (F.col("nn") - F.col("k"))
    num = (F.col("nn") - F.col("k")) * F.log(vp) - (
        (F.col("n_a") - 1) * F.log("v_a")
        + (F.col("n_n") - 1) * F.log("v_n")
        + (F.col("n_r") - 1) * F.log("v_r")
    )
    den = 1.0 + (
        1.0 / (F.col("n_a") - 1)
        + 1.0 / (F.col("n_n") - 1)
        + 1.0 / (F.col("n_r") - 1)
        - 1.0 / (F.col("nn") - F.col("k"))
    ) / (3.0 * (F.col("k") - 1))
    return w.select(
        F.col("k").cast("long").alias("k"),
        F.col("nn").cast("long").alias("n"),
        F.round(num / den, 4).alias("t_bartlett"),
    )


# --------------------------------------------------------------------------
# qs310 Cliff's delta: ordinal effect size between two return flags
# --------------------------------------------------------------------------


@query(
    "qs310_cliffs_delta",
    oracle="""
    WITH v AS (
      SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS q,
             COUNT(*) AS c
      FROM lineitem WHERE l_returnflag IN ('A', 'R') GROUP BY 1, 2),
    a AS (SELECT q, c FROM v WHERE g = 'A'),
    r AS (SELECT q, c FROM v WHERE g = 'R'),
    cross_cells AS (
      SELECT SUM(CASE WHEN a.q > r.q THEN CAST(a.c AS HUGEINT) * r.c
                      ELSE CAST(0 AS HUGEINT) END) AS gt,
             SUM(CASE WHEN a.q < r.q THEN CAST(a.c AS HUGEINT) * r.c
                      ELSE CAST(0 AS HUGEINT) END) AS lt
      FROM a CROSS JOIN r),
    n AS (
      SELECT SUM(CASE WHEN g = 'A' THEN c ELSE 0 END) AS n1,
             SUM(CASE WHEN g = 'R' THEN c ELSE 0 END) AS n2
      FROM v)
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           ROUND(CAST(gt - lt AS DOUBLE)
                 / (CAST(n1 AS DOUBLE) * n2), 4) AS cliffs_delta
    FROM cross_cells CROSS JOIN n
    """,
)
def qs310(spark: SparkSession, sf: str) -> DataFrame:
    """CLIFF'S DELTA between the A and R return-flag quantity
    distributions: δ = (#{x>y} − #{x<y})/(n₁n₂) — the ordinal,
    distribution-free effect size that accompanies the qs181
    Mann–Whitney/AUC family (δ = 2·AUC − 1): a significant rank
    test with a tiny δ is noise at corpus scale, so effect size is
    reported alongside.

    Determinism: the dominance counts come from the 50×50
    distinct-value contingency cross (exact DECIMAL(38)/HUGEINT
    products — never the n₁·n₂ row pairs), and δ is one double
    division, ROUND 4. Plan: one grouped scan → a 2500-cell grid
    cross — corpus row pairs are never materialized."""
    li = load_table(spark, sf, "lineitem")
    v = (
        li.filter(F.col("l_returnflag").isin("A", "R"))
        .groupBy(
            F.col("l_returnflag").alias("g"),
            F.col("l_quantity").cast("long").alias("q"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    a = v.filter(F.col("g") == "A").select(
        F.col("q").alias("qa"), F.col("c").alias("ca")
    )
    r = v.filter(F.col("g") == "R").select(
        F.col("q").alias("qr"), F.col("c").alias("cr")
    )
    dec38 = "decimal(38,0)"
    cells = a.crossJoin(r).agg(
        F.sum(
            F.when(
                F.col("qa") > F.col("qr"),
                F.col("ca").cast(dec38) * F.col("cr"),
            ).otherwise(F.lit(0).cast(dec38))
        ).alias("gt"),
        F.sum(
            F.when(
                F.col("qa") < F.col("qr"),
                F.col("ca").cast(dec38) * F.col("cr"),
            ).otherwise(F.lit(0).cast(dec38))
        ).alias("lt"),
    )
    n = v.agg(
        F.sum(F.when(F.col("g") == "A", F.col("c")).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("g") == "R", F.col("c")).otherwise(0)).alias("n2"),
    )
    return cells.crossJoin(n).select(
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        F.round(
            (F.col("gt") - F.col("lt")).cast("double")
            / (F.col("n1").cast("double") * F.col("n2")),
            4,
        ).alias("cliffs_delta"),
    )


# --------------------------------------------------------------------------
# qs311 Cohen's d / Hedges' g: standardized mean difference (A vs R)
# --------------------------------------------------------------------------


@query(
    "qs311_cohens_d",
    oracle="""
    WITH m AS (
      SELECT l_returnflag AS g, COUNT(*) AS n,
             SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS s1,
             SUM(CAST(ROUND(l_extendedprice * 100, 0) AS HUGEINT)
                 * CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS s2
      FROM lineitem WHERE l_returnflag IN ('A', 'R') GROUP BY 1),
    w AS (
      SELECT MAX(CASE WHEN g = 'A' THEN n END) AS n1,
             MAX(CASE WHEN g = 'R' THEN n END) AS n2,
             MAX(CASE WHEN g = 'A' THEN s1 END) AS s1_1,
             MAX(CASE WHEN g = 'R' THEN s1 END) AS s1_2,
             MAX(CASE WHEN g = 'A' THEN
               CAST(n * s2 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE) / n END) AS q1,
             MAX(CASE WHEN g = 'R' THEN
               CAST(n * s2 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE) / n END) AS q2
      FROM m),
    d AS (
      SELECT n1, n2,
        (CAST(s1_1 AS HUGEINT) * n2 - CAST(s1_2 AS HUGEINT) * n1) AS dnum,
        sqrt((q1 + q2) / (n1 + n2 - 2)) AS sp
      FROM w)
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
      ROUND(CAST(dnum AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2) / sp, 4)
        AS cohens_d,
      ROUND(CAST(dnum AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2) / sp
            * (1.0 - 3.0 / (4.0 * (n1 + n2) - 9.0)), 4) AS hedges_g
    FROM d
    """,
)
def qs311(spark: SparkSession, sf: str) -> DataFrame:
    """COHEN'S D AND HEDGES' G for the A-vs-R extended-price
    difference: the standardized mean difference (pooled-SD) and
    its small-sample-corrected form — the parametric effect sizes
    that pair with qs270's Welch t the way qs310's δ pairs with the
    rank tests. At 10⁷-row groups everything is "significant"; d/g
    say whether it matters.

    Determinism: per-group n·ΣX² − (ΣX)² and the mean-difference
    numerator S₁n₂ − S₂n₁ are exact DECIMAL(38)/HUGEINT integers
    (cents); d and g are one fixed double tree each over the
    one-row pivot (√ IEEE-exact), ROUND 4. Plan: one
    partial-aggregated scan → 2 moment rows → one-row epilogue."""
    li = load_table(spark, sf, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    m = (
        li.filter(F.col("l_returnflag").isin("A", "R"))
        .groupBy(F.col("l_returnflag").alias("g"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents).alias("s1"),
            F.sum(cents.cast("decimal(38,0)") * cents).alias("s2"),
        )
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    qexpr = (dec("n") * F.col("s2") - dec("s1") * dec("s1")).cast(
        "double"
    ) / F.col("n")
    w = m.agg(
        F.max(F.when(F.col("g") == "A", F.col("n"))).alias("n1"),
        F.max(F.when(F.col("g") == "R", F.col("n"))).alias("n2"),
        F.max(F.when(F.col("g") == "A", F.col("s1"))).alias("s1_1"),
        F.max(F.when(F.col("g") == "R", F.col("s1"))).alias("s1_2"),
        F.max(F.when(F.col("g") == "A", qexpr)).alias("q1"),
        F.max(F.when(F.col("g") == "R", qexpr)).alias("q2"),
    )
    dnum = dec("s1_1") * F.col("n2") - dec("s1_2") * F.col("n1")
    sp = F.sqrt((F.col("q1") + F.col("q2")) / (F.col("n1") + F.col("n2") - 2))
    d = dnum.cast("double") / (F.col("n1").cast("double") * F.col("n2")) / sp
    return w.select(
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        F.round(d, 4).alias("cohens_d"),
        F.round(
            d * (1.0 - 3.0 / (4.0 * (F.col("n1") + F.col("n2")) - 9.0)), 4
        ).alias("hedges_g"),
    )


# --------------------------------------------------------------------------
# qs312 ANOVA effect sizes (eta² / omega²) on event values by type
# --------------------------------------------------------------------------

_ETA_GROUPS = ("click", "error", "purchase", "signup", "view")


def _eta_pivot_sql() -> str:
    cols = []
    for g in _ETA_GROUPS:
        cols.append(f"MAX(CASE WHEN g = '{g}' THEN n END) AS n_{g}")
        cols.append(f"MAX(CASE WHEN g = '{g}' THEN s1 END) AS s1_{g}")
        cols.append(f"MAX(CASE WHEN g = '{g}' THEN s2 END) AS s2_{g}")
    return ", ".join(cols)


def _eta_center_sql() -> str:
    cols = []
    for g in _ETA_GROUPS:
        cols.append(f"CAST(s1_{g} - n_{g} * c AS DOUBLE) AS d1_{g}")
        cols.append(
            f"CAST(s2_{g} - 2 * CAST(c AS HUGEINT) * s1_{g}"
            f" + CAST(n_{g} AS HUGEINT) * c * c AS DOUBLE) AS d2_{g}"
        )
        cols.append(f"CAST(n_{g} AS DOUBLE) AS nf_{g}")
    return ", ".join(cols)


_ETA_SSB = (
    " + ".join(f"d1_{g} * d1_{g} / nf_{g}" for g in _ETA_GROUPS)
    + " - ("
    + " + ".join(f"d1_{g}" for g in _ETA_GROUPS)
    + ") * ("
    + " + ".join(f"d1_{g}" for g in _ETA_GROUPS)
    + ") / nn"
)
_ETA_SSW = " + ".join(
    f"(d2_{g} - d1_{g} * d1_{g} / nf_{g})" for g in _ETA_GROUPS
)


@query(
    "qs312_anova_effect_sizes",
    oracle=f"""
    WITH s AS (
      SELECT event_type AS g,
             CAST(ROUND(value * 100, 0) AS BIGINT) AS v
      FROM events),
    m AS (SELECT g, COUNT(*) AS n, SUM(v) AS s1,
                 SUM(CAST(v AS HUGEINT) * v) AS s2
          FROM s GROUP BY g),
    w AS (SELECT COUNT(*) AS k, SUM(n) AS nn, SUM(s1) AS ss,
                 {_eta_pivot_sql()}
          FROM m),
    cw AS (SELECT w.*, ss // nn AS c FROM w),
    d AS (SELECT k, nn, {_eta_center_sql()} FROM cw),
    f AS (SELECT k, nn,
                 ({_ETA_SSB}) / 1e4 AS ssb,
                 ({_ETA_SSW}) / 1e4 AS ssw
          FROM d)
    SELECT CAST(k AS BIGINT) AS k, CAST(nn AS BIGINT) AS n,
           ROUND(ssb / (ssb + ssw), 6) AS eta2,
           ROUND((ssb - (k - 1) * (ssw / (nn - k)))
                 / (ssb + ssw + ssw / (nn - k)), 6) AS omega2
    FROM f
    """,
)
def qs312(spark: SparkSession, sf: str) -> DataFrame:
    """ANOVA EFFECT SIZES for event value across the five event
    types: η² = SSB/SST (variance explained) and the
    less-biased ω² — the "does the difference MATTER" companions
    to qs272's F statistic (at 10⁶-row groups F is always
    "significant"; η²/ω² say by how much).

    Determinism: the qs272 recipe verbatim — exact integer cents
    moments re-centered EXACTLY on c = S DIV N (the naive
    Σ(S²/n) − S²/N epilogue loses ~7 digits), pivoted into ONE row
    over the fixed event-type domain, with only the final
    well-conditioned SSB/SSW algebra in double, ROUND 6. Plan: one
    partial-aggregated scan → 5 moment rows → one-row epilogue."""
    ev = load_table(spark, sf, "events")
    s = ev.select(
        F.col("event_type").alias("g"),
        F.round(F.col("value") * 100, 0).cast("long").alias("v"),
    )
    m = s.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("s1"),
        F.sum(F.col("v").cast("decimal(38,0)") * F.col("v")).alias("s2"),
    )
    w = m.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("nn"),
        F.sum("s1").alias("ss"),
        *[
            agg
            for g in _ETA_GROUPS
            for agg in (
                F.max(F.when(F.col("g") == g, F.col("n"))).alias(f"n_{g}"),
                F.max(F.when(F.col("g") == g, F.col("s1"))).alias(f"s1_{g}"),
                F.max(F.when(F.col("g") == g, F.col("s2"))).alias(f"s2_{g}"),
            )
        ],
    )
    cw = w.withColumn("c", F.expr("ss DIV nn"))
    d = cw.select(
        "k",
        "nn",
        *[
            col
            for g in _ETA_GROUPS
            for col in (
                (F.col(f"s1_{g}") - F.col(f"n_{g}") * F.col("c"))
                .cast("double")
                .alias(f"d1_{g}"),
                (
                    F.col(f"s2_{g}")
                    - 2 * F.col("c").cast("decimal(38,0)") * F.col(f"s1_{g}")
                    + F.col(f"n_{g}").cast("decimal(38,0)")
                    * F.col("c")
                    * F.col("c")
                )
                .cast("double")
                .alias(f"d2_{g}"),
                F.col(f"n_{g}").cast("double").alias(f"nf_{g}"),
            )
        ],
    )
    f = d.select(
        "k",
        "nn",
        (F.expr(_ETA_SSB) / 1e4).alias("ssb"),
        (F.expr(_ETA_SSW) / 1e4).alias("ssw"),
    )
    return f.select(
        F.col("k").cast("long").alias("k"),
        F.col("nn").cast("long").alias("n"),
        F.round(F.col("ssb") / (F.col("ssb") + F.col("ssw")), 6).alias("eta2"),
        F.round(
            (F.col("ssb") - (F.col("k") - 1) * (F.col("ssw") / (F.col("nn") - F.col("k"))))
            / (F.col("ssb") + F.col("ssw") + F.col("ssw") / (F.col("nn") - F.col("k"))),
            6,
        ).alias("omega2"),
    )


# --------------------------------------------------------------------------
# qs316 partial correlation (quantity, price | discount) + VIF
# --------------------------------------------------------------------------


@query(
    "qs316_partial_correlation",
    oracle="""
    WITH v AS (
      SELECT CAST(l_quantity AS BIGINT) AS x,
             CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS y,
             CAST(ROUND(l_discount * 100, 0) AS BIGINT) AS z
      FROM lineitem),
    m AS (
      SELECT COUNT(*) AS n,
             SUM(x) AS sx, SUM(y) AS sy, SUM(z) AS sz,
             SUM(CAST(x AS HUGEINT) * x) AS sxx,
             SUM(CAST(y AS HUGEINT) * y) AS syy,
             SUM(CAST(z AS HUGEINT) * z) AS szz,
             SUM(CAST(x AS HUGEINT) * y) AS sxy,
             SUM(CAST(x AS HUGEINT) * z) AS sxz,
             SUM(CAST(y AS HUGEINT) * z) AS syz
      FROM v),
    r AS (
      SELECT n,
        CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
          / sqrt(CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
               * CAST(n * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE)) AS rxy,
        CAST(n * sxz - CAST(sx AS HUGEINT) * sz AS DOUBLE)
          / sqrt(CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
               * CAST(n * szz - CAST(sz AS HUGEINT) * sz AS DOUBLE)) AS rxz,
        CAST(n * syz - CAST(sy AS HUGEINT) * sz AS DOUBLE)
          / sqrt(CAST(n * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE)
               * CAST(n * szz - CAST(sz AS HUGEINT) * sz AS DOUBLE)) AS ryz
      FROM m)
    SELECT CAST(n AS BIGINT) AS n,
           ROUND(rxy, 4) AS r_xy,
           ROUND((rxy - rxz * ryz)
                 / sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz)), 4)
             AS r_xy_given_z,
           ROUND(1.0 / (1.0 - rxz * rxz), 4) AS vif_x_on_z
    FROM r
    """,
)
def qs316(spark: SparkSession, sf: str) -> DataFrame:
    """PARTIAL CORRELATION of quantity and extended price CONTROLLING
    for discount — r_xy·z = (r_xy − r_xz r_yz)/√((1−r_xz²)(1−r_yz²))
    — plus the VIF of the control regressor: the confounder screen run
    before trusting qs86's raw correlation or qs279's Granger lag
    (a strong r_xy that vanishes given z was z's doing all along).

    Determinism: the full 3×3 moment matrix accumulates as exact
    DECIMAL(38)/HUGEINT integers in ONE scan; each pairwise r is one
    double expression from exact integers and the partial/VIF
    epilogue is a fixed one-row tree (√ IEEE-exact), ROUND 4. Plan:
    one partial-aggregated scan → one-row epilogue."""
    li = load_table(spark, sf, "lineitem")
    v = li.select(
        F.col("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("y"),
        F.round(F.col("l_discount") * 100, 0).cast("long").alias("z"),
    )
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    dc = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    m = v.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum("z").alias("sz"),
        F.sum(dc(F.col("x")) * F.col("x")).alias("sxx"),
        F.sum(dc(F.col("y")) * F.col("y")).alias("syy"),
        F.sum(dc(F.col("z")) * F.col("z")).alias("szz"),
        F.sum(dc(F.col("x")) * F.col("y")).alias("sxy"),
        F.sum(dc(F.col("x")) * F.col("z")).alias("sxz"),
        F.sum(dc(F.col("y")) * F.col("z")).alias("syz"),
    )

    def corr(sab, sa, sb, saa, sbb):
        return (d("n") * F.col(sab) - d(sa) * d(sb)).cast("double") / F.sqrt(
            (d("n") * F.col(saa) - d(sa) * d(sa)).cast("double")
            * (d("n") * F.col(sbb) - d(sb) * d(sb)).cast("double")
        )

    r = m.select(
        "n",
        corr("sxy", "sx", "sy", "sxx", "syy").alias("rxy"),
        corr("sxz", "sx", "sz", "sxx", "szz").alias("rxz"),
        corr("syz", "sy", "sz", "syy", "szz").alias("ryz"),
    )
    return r.select(
        F.col("n").cast("long").alias("n"),
        F.round(F.col("rxy"), 4).alias("r_xy"),
        F.round(
            (F.col("rxy") - F.col("rxz") * F.col("ryz"))
            / F.sqrt(
                (1.0 - F.col("rxz") * F.col("rxz"))
                * (1.0 - F.col("ryz") * F.col("ryz"))
            ),
            4,
        ).alias("r_xy_given_z"),
        F.round(1.0 / (1.0 - F.col("rxz") * F.col("rxz")), 4).alias(
            "vif_x_on_z"
        ),
    )


# --------------------------------------------------------------------------
# qs317 process capability (Cp / Cpk) for order fulfilment latency
# --------------------------------------------------------------------------


@query(
    "qs317_process_capability",
    oracle="""
    WITH v AS (
      SELECT CAST(date_diff('day', o_orderdate, l_shipdate) AS BIGINT) AS lag
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
    m AS (
      SELECT COUNT(*) AS n, SUM(lag) AS s,
             SUM(CAST(lag AS HUGEINT) * lag) AS q
      FROM v)
    SELECT CAST(n AS BIGINT) AS n,
      ROUND(CAST(s AS DOUBLE) / n, 4) AS mean_lag_days,
      ROUND((120.0 - 0.0)
            / (6.0 * sqrt(CAST(n * q - CAST(s AS HUGEINT) * s AS DOUBLE)
                          / (CAST(n AS DOUBLE) * (n - 1)))), 4) AS cp,
      ROUND(LEAST(120.0 - CAST(s AS DOUBLE) / n,
                  CAST(s AS DOUBLE) / n - 0.0)
            / (3.0 * sqrt(CAST(n * q - CAST(s AS HUGEINT) * s AS DOUBLE)
                          / (CAST(n AS DOUBLE) * (n - 1)))), 4) AS cpk
    FROM m
    """,
)
def qs317(spark: SparkSession, sf: str) -> DataFrame:
    """PROCESS CAPABILITY Cp/Cpk of the order-to-ship latency
    against a 0–120-day spec window: Cp = (USL−LSL)/6σ measures
    whether the process spread fits the spec at all, Cpk =
    min(USL−μ, μ−LSL)/3σ penalizes off-center processes — the SPC
    summary that pairs with qs232's XmR chart (the chart watches
    stability over time; Cp/Cpk judges the stable process against
    the contract) and qs194's SLA rate (rate says how often we
    miss; Cpk says how much margin the process has).

    Determinism: day lags are exact integer date differences,
    n·ΣX² − (ΣX)² exact in DECIMAL(38)/HUGEINT, and Cp/Cpk are
    fixed one-row double trees over spec constants (√ IEEE-exact,
    LEAST on two exact doubles), ROUND 4. Plan: the only row-grain
    work is the lineitem⋈orders key join (the qs300 scorecard's
    date-check shape), then one partial-aggregated scan → one-row
    epilogue."""
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderdate"
    )
    v = li.select("l_orderkey", "l_shipdate").join(o, "l_orderkey").select(
        F.datediff("l_shipdate", "o_orderdate").cast("long").alias("lag")
    )
    m = v.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("lag").alias("s"),
        F.sum(F.col("lag").cast("decimal(38,0)") * F.col("lag")).alias("q"),
    )
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    sd = F.sqrt(
        (d("n") * F.col("q") - d("s") * d("s")).cast("double")
        / (F.col("n").cast("double") * (F.col("n") - 1))
    )
    mean = F.col("s").cast("double") / F.col("n")
    usl, lsl = F.lit(120.0), F.lit(0.0)
    return m.select(
        F.col("n").cast("long").alias("n"),
        F.round(mean, 4).alias("mean_lag_days"),
        F.round((usl - lsl) / (6.0 * sd), 4).alias("cp"),
        F.round(F.least(usl - mean, mean - lsl) / (3.0 * sd), 4).alias(
            "cpk"
        ),
    )


# --------------------------------------------------------------------------
# qs318 Ljung–Box portmanteau test on the monthly order-count series
# --------------------------------------------------------------------------

_LB_LAGS = 12


@query(
    "qs318_ljung_box",
    oracle=f"""
    WITH m AS (
      SELECT (YEAR(o_orderdate) - 1992) * 12 + MONTH(o_orderdate) AS t,
             COUNT(*) AS y
      FROM orders GROUP BY 1),
    s AS (SELECT COUNT(*) AS n, SUM(y) AS sy FROM m),
    e AS (
      SELECT m.t, CAST(s.n AS HUGEINT) * m.y - s.sy AS e
      FROM m CROSS JOIN s),
    c0 AS (SELECT SUM(e * e) AS c0 FROM e),
    ck AS (
      SELECT b.t - a.t AS k, SUM(a.e * b.e) AS c
      FROM e a JOIN e b ON b.t - a.t BETWEEN 1 AND {_LB_LAGS}
      GROUP BY 1),
    piv AS (
      SELECT {", ".join(
          f"MAX(CASE WHEN k = {k} THEN CAST(c AS DOUBLE) END) AS c{k}"
          for k in range(1, _LB_LAGS + 1))}
      FROM ck)
    SELECT CAST(s.n AS BIGINT) AS n_months,
           CAST({_LB_LAGS} AS BIGINT) AS m_lags,
           ROUND(s.n * (s.n + 2.0) * (
             {" + ".join(
                 f"(c{k} / CAST(c0.c0 AS DOUBLE))"
                 f" * (c{k} / CAST(c0.c0 AS DOUBLE)) / (s.n - {k})"
                 for k in range(1, _LB_LAGS + 1))}
           ), 4) AS q_lb
    FROM s CROSS JOIN c0 CROSS JOIN piv
    """,
)
def qs318(spark: SparkSession, sf: str) -> DataFrame:
    """LJUNG–BOX PORTMANTEAU TEST at 12 lags on the monthly
    order-count series: Q = n(n+2)Σρ̂ₖ²/(n−k) — "is there ANY
    autocorrelation structure" in one statistic, the standard
    residual-whiteness screen after a seasonal fit (qs204 reports
    the individual ρₖ; qs303's Durbin–Watson only lag 1; this
    aggregates all twelve).

    Determinism: the series is centered EXACTLY as eₜ = n·yₜ − Σy
    (scale factors cancel in ρ̂ₖ = cₖ/c₀), so c₀ and every cₖ are
    exact DECIMAL(38)/HUGEINT integers off the ~84-row month grid;
    the twelve lag terms pivot into ONE row and Q is a fixed double
    tree, ROUND 4. Plan: one grouped corpus scan → the lag pairing
    is a month-grid self-join (≤ 12·84 pairs)."""
    o = load_table(spark, sf, "orders")
    m = o.groupBy(
        (
            (F.year("o_orderdate") - 1992) * 12 + F.month("o_orderdate")
        ).alias("t")
    ).agg(F.count(F.lit(1)).alias("y"))
    s = m.agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("sy"))
    e = m.crossJoin(s).select(
        "t",
        "n",
        (
            F.col("n").cast("decimal(38,0)") * F.col("y") - F.col("sy")
        ).alias("e"),
    )
    c0 = e.agg(F.sum(F.col("e") * F.col("e")).alias("c0"))
    a, b = e.alias("a"), e.alias("b")
    ck = (
        a.join(
            b,
            (F.col("b.t") - F.col("a.t") >= 1)
            & (F.col("b.t") - F.col("a.t") <= _LB_LAGS),
        )
        .groupBy((F.col("b.t") - F.col("a.t")).alias("k"))
        .agg(F.sum(F.col("a.e") * F.col("b.e")).alias("c"))
    )
    piv = ck.agg(
        *[
            F.max(
                F.when(F.col("k") == k, F.col("c").cast("double"))
            ).alias(f"c{k}")
            for k in range(1, _LB_LAGS + 1)
        ]
    )
    qsum = None
    for k in range(1, _LB_LAGS + 1):
        rho = F.col(f"c{k}") / F.col("c0").cast("double")
        term = rho * rho / (F.col("n") - k)
        qsum = term if qsum is None else qsum + term
    return (
        # bcast: ONE-ROW global .agg() scalar frame (one row by construction)
        s.crossJoin(F.broadcast(c0))
        # bcast: ONE-ROW global .agg() scalar frame (one row by construction)
        .crossJoin(F.broadcast(piv))
        .select(
            F.col("n").cast("long").alias("n_months"),
            F.lit(_LB_LAGS).cast("long").alias("m_lags"),
            F.round(F.col("n") * (F.col("n") + 2.0) * qsum, 4).alias("q_lb"),
        )
    )


# --------------------------------------------------------------------------
# qs319 Cochran's Q for three related binary conditions on orders
# --------------------------------------------------------------------------


@query(
    "qs319_cochran_q",
    oracle="""
    WITH f AS (
      SELECT CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END AS f1,
             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS f2,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS f3
      FROM orders),
    s AS (
      SELECT COUNT(*) AS n, SUM(f1) AS c1, SUM(f2) AS c2, SUM(f3) AS c3,
             SUM(f1 + f2 + f3) AS sr,
             SUM(CAST(f1 + f2 + f3 AS HUGEINT) * (f1 + f2 + f3)) AS sr2
      FROM f)
    SELECT CAST(n AS BIGINT) AS n,
           CAST(3 AS BIGINT) AS k,
           ROUND(2.0 * CAST(
               (3 * CAST(c1 AS HUGEINT) - sr) * (3 * CAST(c1 AS HUGEINT) - sr)
             + (3 * CAST(c2 AS HUGEINT) - sr) * (3 * CAST(c2 AS HUGEINT) - sr)
             + (3 * CAST(c3 AS HUGEINT) - sr) * (3 * CAST(c3 AS HUGEINT) - sr)
             AS DOUBLE)
             / (3.0 * CAST(3 * CAST(sr AS HUGEINT) - sr2 AS DOUBLE)), 4)
             AS q_cochran
    FROM s
    """,
)
def qs319(spark: SparkSession, sf: str) -> DataFrame:
    """COCHRAN'S Q for three related binary conditions evaluated on
    every order (high value / urgent priority / fulfilled): do the
    three flags fire at the same rate across the shared population?
    The k-treatment extension of qs254's McNemar (k = 2) and the
    binary counterpart of qs289's Friedman — the classic audit for
    "do our rule variants flag the same fraction" before swapping
    one rule for another.

    Determinism: with the identity Σⱼ(Cⱼ − ΣR/k)² = Σⱼ(k·Cⱼ − ΣR)²/k²
    the statistic is Q = (k−1)·Σⱼ(k·Cⱼ − ΣR)² / (k·(k·ΣR − ΣR²)) —
    every sum an exact DECIMAL(38)/HUGEINT integer from ONE scan,
    one double division, ROUND 4. Plan: one partial-aggregated scan
    → one-row epilogue."""
    o = load_table(spark, sf, "orders")
    f = o.select(
        F.when(F.col("o_totalprice") > 150000, 1).otherwise(0).alias("f1"),
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
        ).otherwise(0).alias("f2"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("f3"),
    )
    r = F.col("f1") + F.col("f2") + F.col("f3")
    s = f.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("f1").alias("c1"),
        F.sum("f2").alias("c2"),
        F.sum("f3").alias("c3"),
        F.sum(r).alias("sr"),
        F.sum(r.cast("decimal(38,0)") * r).alias("sr2"),
    )
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    dev = lambda c: 3 * d(c) - d("sr")  # noqa: E731
    num = (
        dev("c1") * dev("c1") + dev("c2") * dev("c2") + dev("c3") * dev("c3")
    ).cast("double")
    den = (3 * d("sr") - F.col("sr2")).cast("double")
    return s.select(
        F.col("n").cast("long").alias("n"),
        F.lit(3).cast("long").alias("k"),
        F.round(2.0 * num / (3.0 * den), 4).alias("q_cochran"),
    )


# --------------------------------------------------------------------------
# qs320 Pettitt change-point test on the monthly revenue series
# --------------------------------------------------------------------------


@query(
    "qs320_pettitt_changepoint",
    oracle="""
    WITH m AS (
      SELECT (YEAR(o_orderdate) - 1992) * 12 + MONTH(o_orderdate) AS t,
             SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS y
      FROM orders GROUP BY 1),
    v AS (
      SELECT a.t,
             SUM(CASE WHEN a.y > b.y THEN 1 WHEN a.y < b.y THEN -1
                      ELSE 0 END) AS vt
      FROM m a JOIN m b ON a.t <> b.t GROUP BY a.t),
    u AS (
      SELECT t, SUM(vt) OVER (ORDER BY t) AS ut FROM v),
    k AS (SELECT MAX(ABS(ut)) AS k FROM u),
    n AS (SELECT COUNT(*) AS n FROM m),
    cp AS (
      SELECT MIN(u.t) AS t_star FROM u CROSS JOIN k
      WHERE ABS(u.ut) = k.k)
    SELECT CAST(n.n AS BIGINT) AS n_months,
           CAST(k.k AS BIGINT) AS k_stat,
           CAST(cp.t_star AS BIGINT) AS change_month,
           ROUND(2.0 * exp(-6.0 * CAST(k.k AS DOUBLE) * k.k
                 / (CAST(n.n AS DOUBLE) * n.n * n.n
                    + CAST(n.n AS DOUBLE) * n.n)), 6) AS p_approx
    FROM n CROSS JOIN k CROSS JOIN cp
    """,
)
def qs320(spark: SparkSession, sf: str) -> DataFrame:
    """PETTITT CHANGE-POINT TEST on monthly revenue: Uₜ = Σᵢ≤ₜ Vᵢ
    with Vᵢ = Σⱼ sign(yᵢ − yⱼ), K = max|Uₜ| and the argmax month —
    the rank-based single-change-point locator beside qs169's
    mean-shift changepoint (qs169 is parametric in levels; Pettitt
    is distribution-free, the standard first pass on series with
    outliers). p ≈ 2·exp(−6K²/(n³+n²)).

    Determinism: Vᵢ, Uₜ, K and the argmax (MIN month tiebreak) are
    exact integers off the ~84-row month grid; p is one fixed
    double expression (exp = accepted 1-ulp libm contract),
    ROUND 6. Plan: one grouped corpus scan → month-grid pair join
    (≈84² pairs) → calendar-sized cumulative window."""
    o = load_table(spark, sf, "orders")
    m = o.groupBy(
        (
            (F.year("o_orderdate") - 1992) * 12 + F.month("o_orderdate")
        ).alias("t")
    ).agg(
        F.sum(
            F.round(F.col("o_totalprice") * 100, 0).cast("long")
        ).alias("y")
    )
    a, b = m.alias("a"), m.alias("b")
    v = (
        a.join(b, F.col("a.t") != F.col("b.t"))
        .groupBy(F.col("a.t").alias("t"))
        .agg(
            F.sum(
                F.when(F.col("a.y") > F.col("b.y"), 1)
                .when(F.col("a.y") < F.col("b.y"), -1)
                .otherwise(0)
            ).alias("vt")
        )
    )
    # window: GRID Pettitt: day-grid cumulative
    cumw = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    u = v.select("t", F.sum("vt").over(cumw).alias("ut"))
    k = u.agg(F.max(F.abs(F.col("ut"))).alias("k"))
    n = m.agg(F.count(F.lit(1)).alias("n"))
    cp = (
        u.crossJoin(k)
        .filter(F.abs(F.col("ut")) == F.col("k"))
        .agg(F.min("t").alias("t_star"))
    )
    nn = F.col("n").cast("double")
    kk = F.col("k").cast("double")
    return (
        n.crossJoin(k)
        .crossJoin(cp)
        .select(
            F.col("n").cast("long").alias("n_months"),
            F.col("k").cast("long").alias("k_stat"),
            F.col("t_star").cast("long").alias("change_month"),
            F.round(
                2.0 * F.exp(-6.0 * kk * kk / (nn * nn * nn + nn * nn)), 6
            ).alias("p_approx"),
        )
    )


# --------------------------------------------------------------------------
# qs321 Kendall's W — concordance of weekly priority rankings
# --------------------------------------------------------------------------

_W_PRIOS = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


@query(
    "qs321_kendalls_w",
    oracle=f"""
    WITH wk AS (
      SELECT date_trunc('week', o_orderdate) AS b,
             o_orderpriority AS t,
             SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS x
      FROM orders GROUP BY 1, 2),
    full_ AS (
      SELECT b FROM wk GROUP BY b HAVING COUNT(*) = 5),
    r AS (
      SELECT wk.b, wk.t,
             2 * RANK() OVER (PARTITION BY wk.b ORDER BY wk.x)
               + COUNT(*) OVER (PARTITION BY wk.b, wk.x) - 1 AS mr2
      FROM wk JOIN full_ ON full_.b = wk.b),
    ties AS (
      SELECT COALESCE(SUM(CAST(c AS HUGEINT) * c * c - c), 0) AS tt
      FROM (SELECT wk.b, wk.x, COUNT(*) AS c FROM wk
            JOIN full_ ON full_.b = wk.b GROUP BY wk.b, wk.x
            HAVING COUNT(*) > 1)),
    tr AS (
      SELECT {", ".join(
          f"MAX(CASE WHEN t = '{p}' THEN r2 END) AS r2_{i}"
          for i, p in enumerate(_W_PRIOS))}
      FROM (SELECT t, SUM(mr2) AS r2 FROM r GROUP BY t)),
    nb AS (SELECT COUNT(*) AS b FROM full_)
    SELECT CAST(nb.b AS BIGINT) AS n_blocks,
           ROUND(12.0 * CAST(
             {" + ".join(
                 f"(r2_{i} - nb.b * 6) * (r2_{i} - nb.b * 6)"
                 for i in range(5))}
             AS DOUBLE)
             / (4.0 * (CAST(nb.b AS DOUBLE) * nb.b * 5 * 24
                       - nb.b * CAST(ties.tt AS DOUBLE))), 4) AS kendalls_w
    FROM nb CROSS JOIN ties CROSS JOIN tr
    """,
)
def qs321(spark: SparkSession, sf: str) -> DataFrame:
    """KENDALL'S W (coefficient of concordance) over the weekly
    priority-revenue rankings: how consistently do the 5 priorities
    rank across weeks (0 = random week-to-week, 1 = identical
    ranking every week)? The EFFECT SIZE behind qs289's Friedman
    test — Friedman says the priorities differ; W says how stable
    the ordering is — with the standard tie correction
    W = 12·Σ(Rⱼ−R̄)² / (b²k(k²−1) − b·ΣT).

    Determinism: doubled midranks make 4·Σ(Rⱼ−R̄)² =
    Σ(R2ⱼ − b(k+1))² exact integers over the FIXED 5-priority pivot;
    the tie term Σ(t³−t) is exact; W is one double division,
    ROUND 4. Plan: one grouped scan → block-keyed 5-row windows →
    one-row epilogue (qs289's plan shape plus the tie aggregate)."""
    o = load_table(spark, sf, "orders")
    wk = o.groupBy(
        F.date_trunc("week", "o_orderdate").alias("b"),
        F.col("o_orderpriority").alias("t"),
    ).agg(
        F.sum(
            F.round(F.col("o_totalprice") * 100, 0).cast("long")
        ).alias("x")
    )
    full_ = wk.groupBy("b").agg(F.count(F.lit(1)).alias("_k")).filter(
        F.col("_k") == 5
    ).select("b")
    wkf = wk.join(full_, "b")
    # window: GRID Kendall W: week x 5 cell grid
    rw = Window.partitionBy("b").orderBy("x")
    tw = Window.partitionBy("b", "x")
    r = wkf.select(
        "t",
        (
            2 * F.rank().over(rw) + F.count(F.lit(1)).over(tw) - 1
        ).alias("mr2"),
    )
    ties = (
        wkf.groupBy("b", "x")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .agg(
            F.coalesce(
                F.sum(
                    F.col("c").cast("decimal(38,0)") * F.col("c") * F.col("c")
                    - F.col("c")
                ),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("tt")
        )
    )
    tr = (
        r.groupBy("t")
        .agg(F.sum("mr2").alias("r2"))
        .agg(
            *[
                F.max(
                    F.when(F.col("t") == p, F.col("r2"))
                ).alias(f"r2_{i}")
                for i, p in enumerate(_W_PRIOS)
            ]
        )
    )
    nb = full_.agg(F.count(F.lit(1)).alias("b"))
    dev2 = None
    for i in range(5):
        term = (F.col(f"r2_{i}") - F.col("b") * 6) * (
            F.col(f"r2_{i}") - F.col("b") * 6
        )
        dev2 = term if dev2 is None else dev2 + term
    return (
        # bcast: ONE-ROW global .agg() scalar frame (one row by construction)
        nb.crossJoin(F.broadcast(ties))
        # bcast: ONE-ROW global .agg() scalar frame (one row by construction)
        .crossJoin(F.broadcast(tr))
        .select(
            F.col("b").cast("long").alias("n_blocks"),
            F.round(
                12.0 * dev2.cast("double")
                / (
                    4.0
                    * (
                        F.col("b").cast("double") * F.col("b") * 5 * 24
                        - F.col("b") * F.col("tt").cast("double")
                    )
                ),
                4,
            ).alias("kendalls_w"),
        )
    )
