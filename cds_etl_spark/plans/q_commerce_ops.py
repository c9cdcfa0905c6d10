"""Commerce-operations family (qs281–qs284): inventory policy
(safety stock + XYZ), cross-supplier price dispersion,
inter-purchase interval quantiles, and Poisson goodness-of-fit on
basket sizes — the supply/behavior analytics beside the q_commerce
block (RFM qs210, ABC qs219, elasticity qs251).

Determinism doctrine (the qs272 lesson): exact integer aggregation
(cents / counts / day gaps), group moments as exact sums, one-row
or per-group epilogues with fixed scalar double trees. The interval
quantiles showcase operators/prefix.py: exact order statistics by
rank probe over a distinct-value prefix sum — no global sort.
Registration contract: cds_etl_spark/plans/registry.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cds_etl_spark.catalog import load_table
from cds_etl_spark.operators.prefix import (
    bucketed_prefix_sum,
    bucketed_row_number,
)
from cds_etl_spark.plans.registry import query

# --------------------------------------------------------------------------
# qs281 inventory policy: weekly-demand stats → safety stock + XYZ class
# --------------------------------------------------------------------------


@query(
    "qs281_inventory_policy",
    oracle="""
    WITH wk AS (
      SELECT l_partkey AS part, date_trunc('week', l_shipdate) AS w,
             CAST(SUM(l_quantity) AS BIGINT) AS d
      FROM lineitem GROUP BY 1, 2),
    m AS (
      SELECT part, COUNT(*) AS n, SUM(d) AS s1, SUM(d * d) AS s2
      FROM wk GROUP BY part),
    st AS (
      SELECT part, n,
             CAST(s1 AS DOUBLE) / n AS mu,
             sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)
                  / n) AS sigma
      FROM m WHERE n >= 8),
    pol AS (
      SELECT part, mu, sigma,
             CASE WHEN sigma / mu < 0.25 THEN 'X'
                  WHEN sigma / mu < 0.5 THEN 'Y' ELSE 'Z' END AS xyz,
             ceil(2.0 * mu + 1.645 * sigma * 1.4142135623730951)
               AS rop
      FROM st),
    j AS (
      SELECT p_brand AS brand, xyz, rop FROM pol
      JOIN part ON p_partkey = pol.part)
    SELECT brand, xyz,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           ROUND(AVG(rop), 2) AS avg_reorder_point
    FROM j GROUP BY brand, xyz ORDER BY brand, xyz
    """,
)
def qs281(spark: SparkSession, sf: str) -> DataFrame:
    """INVENTORY POLICY per brand: weekly demand per part → mean/σ
    over its ACTIVE weeks (≥8 so σ is meaningful), XYZ
    predictability class by coefficient of variation, and the
    2-week-lead-time reorder point μ·L + z·σ·√L at a 95% service
    level (z = 1.645) — the planner's table that qs219's ABC value
    classes pair with (ABC×XYZ is the canonical stocking matrix).

    Determinism: weekly demand sums are exact integers (quantities
    integral); per-part (n, Σd, Σd²) exact; μ/σ/ROP a fixed per-row
    double tree (√ IEEE-exact), CEIL before averaging so the final
    AVG sums small integral doubles (order noise ≪ ROUND 2). Plan:
    two keyed hash aggregates collapse the fact table; the part join
    is left to AQE (the dimension scales with sf — a forced
    broadcast of 2M parts cost 11 s at sf10, 18.4 → 7.1 s removed);
    epilogue is brand×3 rows."""
    from cds_etl_spark.operators.skew import spread_scan

    # r15 (guide §2.5): the single-file scan ran the weekly partial
    # aggregate in ONE task; a part-keyed spread satisfies BOTH keyed
    # aggregates and the dimension join's required distribution, so
    # the one exchange replaces two (and disappears at real scale
    # where the scan has ≥cores splits).
    li = spread_scan(
        load_table(spark, sf, "lineitem").select(
            "l_partkey", "l_shipdate", "l_quantity"
        ),
        "l_partkey",
    )
    p = load_table(spark, sf, "part")
    wk = li.groupBy(
        F.col("l_partkey").alias("part"),
        F.date_trunc("week", "l_shipdate").alias("w"),
    ).agg(F.sum("l_quantity").cast("long").alias("d"))
    m = wk.groupBy("part").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("d").alias("s1"),
        F.sum(F.col("d") * F.col("d")).alias("s2"),
    )
    mu = F.col("s1").cast("double") / F.col("n")
    sigma = F.sqrt(
        (
            F.col("s2").cast("double")
            - F.col("s1").cast("double") * F.col("s1") / F.col("n")
        )
        / F.col("n")
    )
    st = m.filter(F.col("n") >= 8).select(
        "part", mu.alias("mu"), sigma.alias("sigma")
    )
    pol = st.select(
        "part",
        F.when(F.col("sigma") / F.col("mu") < 0.25, "X")
        .when(F.col("sigma") / F.col("mu") < 0.5, "Y")
        .otherwise("Z")
        .alias("xyz"),
        F.ceil(
            F.lit(2.0) * F.col("mu")
            + F.lit(1.645)
            * F.col("sigma")
            * F.lit(1.4142135623730951)
        ).alias("rop"),
    )
    # No forced broadcast: the part dimension scales with sf (2M rows
    # at sf10 — a forced broadcast cost ~11 s there); AQE broadcasts
    # it at small sf and shuffle-joins at scale.
    j = pol.join(
        p.select(
            F.col("p_partkey").alias("part"),
            F.col("p_brand").alias("brand"),
        ),
        "part",
    )
    return (
        j.groupBy("brand", "xyz")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.round(F.avg("rop"), 2).alias("avg_reorder_point"),
        )
        .orderBy("brand", "xyz")
    )


# --------------------------------------------------------------------------
# qs282 cross-supplier price dispersion per part, rolled up by brand
# --------------------------------------------------------------------------


@query(
    "qs282_price_dispersion",
    oracle="""
    WITH unit AS (
      SELECT l_partkey AS part, l_suppkey AS supp,
             CAST(ROUND(l_extendedprice * 100 / l_quantity, 0)
                  AS BIGINT) AS uc
      FROM lineitem),
    sm AS (
      SELECT part, supp, SUM(uc) // COUNT(*) AS m
      FROM unit GROUP BY part, supp),
    pv AS (
      SELECT part, COUNT(*) AS k, SUM(m) AS s1, SUM(m * m) AS s2,
             MIN(m) AS mn, MAX(m) AS mx
      FROM sm GROUP BY part HAVING COUNT(*) >= 3),
    disp AS (
      SELECT part,
             sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / k)
                  / k) / (CAST(s1 AS DOUBLE) / k) AS cv,
             CAST(mx AS DOUBLE) / mn AS spread
      FROM pv),
    j AS (
      SELECT p_brand AS brand, cv, spread FROM disp
      JOIN part ON p_partkey = disp.part)
    SELECT brand, CAST(COUNT(*) AS BIGINT) AS n_parts,
           ROUND(AVG(cv), 4) AS avg_cv,
           ROUND(AVG(spread), 4) AS avg_spread,
           CAST(SUM(CASE WHEN cv > 0.05 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dispersed
    FROM j GROUP BY brand ORDER BY brand
    """,
)
def qs282(spark: SparkSession, sf: str) -> DataFrame:
    """CROSS-SUPPLIER PRICE DISPERSION: does the same part sell at
    different unit prices depending on the supplier? Per-part CV and
    max/min spread over INTEGER-CENT supplier mean prices (floor
    division — the exact-integer metric definition that keeps the
    cross-supplier variance free of the qs272 cancellation trap),
    rolled up per brand with a >5%-CV dispersion count — the
    procurement-audit sibling of qs251's elasticity.

    Determinism: unit cents exact; supplier means are exact floor-
    integers (SUM DIV COUNT both engines); per-part (k, Σm, Σm²,
    min, max) exact; CV/spread fixed per-row doubles; brand AVGs
    over bounded part sets (positive like-magnitude terms, noise ≪
    ROUND 4). Plan: two keyed aggregates collapse the facts; the
    part join is left to AQE (the dimension scales with sf);
    k ≥ 3 prunes single-source parts."""
    li = load_table(spark, sf, "lineitem")
    p = load_table(spark, sf, "part")
    unit = li.select(
        F.col("l_partkey").alias("part"),
        F.col("l_suppkey").alias("supp"),
        F.round(
            F.col("l_extendedprice") * 100 / F.col("l_quantity"), 0
        )
        .cast("long")
        .alias("uc"),
    )
    sm = unit.groupBy("part", "supp").agg(
        F.expr("SUM(uc) DIV COUNT(*)").alias("m")
    )
    pv = (
        sm.groupBy("part")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.sum("m").alias("s1"),
            F.sum(F.col("m") * F.col("m")).alias("s2"),
            F.min("m").alias("mn"),
            F.max("m").alias("mx"),
        )
        .filter(F.col("k") >= 3)
    )
    mean = F.col("s1").cast("double") / F.col("k")
    cv = (
        F.sqrt(
            (
                F.col("s2").cast("double")
                - F.col("s1").cast("double") * F.col("s1") / F.col("k")
            )
            / F.col("k")
        )
        / mean
    )
    disp = pv.select(
        "part",
        cv.alias("cv"),
        (F.col("mx").cast("double") / F.col("mn")).alias("spread"),
    )
    j = disp.join(
        p.select(
            F.col("p_partkey").alias("part"),
            F.col("p_brand").alias("brand"),
        ),
        "part",
    )
    return (
        j.groupBy("brand")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.round(F.avg("cv"), 4).alias("avg_cv"),
            F.round(F.avg("spread"), 4).alias("avg_spread"),
            F.sum(F.when(F.col("cv") > 0.05, 1).otherwise(0)).alias(
                "n_dispersed"
            ),
        )
        .orderBy("brand")
    )


# --------------------------------------------------------------------------
# qs283 inter-purchase interval quantiles (exact, sort-free)
# --------------------------------------------------------------------------


@query(
    "qs283_interpurchase_intervals",
    oracle="""
    WITH gaps AS (
      SELECT datediff('day',
               LAG(o_orderdate) OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderdate,
                                               o_orderkey),
               o_orderdate) AS g
      FROM orders),
    gg AS (SELECT g FROM gaps WHERE g IS NOT NULL),
    vc AS (SELECT g, COUNT(*) AS c FROM gg GROUP BY g),
    cum AS (
      SELECT g, SUM(c) OVER (ORDER BY g
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS cum
      FROM vc),
    n AS (SELECT SUM(c) AS n, SUM(g * c) AS s FROM vc)
    SELECT CAST(n.n AS BIGINT) AS n_gaps,
           ROUND(CAST(n.s AS DOUBLE) / n.n, 2) AS mean_days,
           CAST((SELECT MIN(g) FROM cum
                 WHERE cum >= (n.n + 3) // 4) AS BIGINT) AS q1_days,
           CAST((SELECT MIN(g) FROM cum
                 WHERE cum >= (n.n + 1) // 2) AS BIGINT)
             AS median_days,
           CAST((SELECT MIN(g) FROM cum
                 WHERE cum >= (3 * n.n + 3) // 4) AS BIGINT)
             AS q3_days,
           CAST((SELECT MIN(g) FROM cum
                 WHERE cum >= (9 * n.n + 9) // 10) AS BIGINT)
             AS p90_days
    FROM n
    """,
)
def qs283(spark: SparkSession, sf: str) -> DataFrame:
    """INTER-PURCHASE INTERVALS: exact quartiles + p90 of the days
    between a customer's consecutive orders — the repeat-behavior
    distribution behind qs192's LTV and qs188's time-to-convert.
    Quantile q is type-1 (smallest value whose running count reaches
    ⌈q·N⌉, the integer-exact definition both engines state
    identically).

    Determinism: gaps are exact day integers from a per-customer lag
    (keyed window — parallel); quantiles come from integer rank
    probes, the mean from exact Σg. Plan: the distinct-gap counts
    (≤ a few thousand values) take a BUCKETED prefix sum
    (operators/prefix.py — no global sort even at the value level),
    then four broadcast rank probes and a one-row epilogue."""
    o = load_table(spark, sf, "orders")
    wl = Window.partitionBy("o_custkey").orderBy(
        "o_orderdate", "o_orderkey"
    )
    gaps = o.select(
        F.datediff(
            F.col("o_orderdate"), F.lag("o_orderdate").over(wl)
        ).alias("g")
    ).filter(F.col("g").isNotNull())
    vc = gaps.groupBy("g").agg(F.count(F.lit(1)).alias("c"))
    cum = bucketed_prefix_sum(vc, "g", "c", "cum")
    n = vc.agg(
        F.sum("c").alias("n"),
        F.sum(F.col("g") * F.col("c")).alias("s"),
    )
    probes = cum.crossJoin(n)
    qcol = lambda rank, name: F.min(  # noqa: E731
        F.when(F.col("cum") >= rank, F.col("g"))
    ).alias(name)
    qs = probes.agg(
        qcol(F.expr("(n + 3) DIV 4"), "q1_days"),
        qcol(F.expr("(n + 1) DIV 2"), "median_days"),
        qcol(F.expr("(3 * n + 3) DIV 4"), "q3_days"),
        qcol(F.expr("(9 * n + 9) DIV 10"), "p90_days"),
    )
    return n.crossJoin(qs).select(
        F.col("n").cast("long").alias("n_gaps"),
        F.round(F.col("s").cast("double") / F.col("n"), 2).alias(
            "mean_days"
        ),
        F.col("q1_days").cast("long").alias("q1_days"),
        F.col("median_days").cast("long").alias("median_days"),
        F.col("q3_days").cast("long").alias("q3_days"),
        F.col("p90_days").cast("long").alias("p90_days"),
    )


# --------------------------------------------------------------------------
# qs284 Poisson goodness-of-fit on order line counts
# --------------------------------------------------------------------------


@query(
    "qs284_poisson_gof",
    oracle="""
    WITH k AS (
      SELECT l_orderkey, COUNT(*) AS k
      FROM lineitem GROUP BY l_orderkey),
    ob AS (SELECT k, COUNT(*) AS o FROM k GROUP BY k),
    t AS (
      SELECT SUM(o) AS n, SUM(k * o) AS s, SUM(k * k * o) AS s2
      FROM ob),
    lam AS (
      SELECT n, CAST(s AS DOUBLE) / n AS lambda,
             (CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * s / n)
               / n / (CAST(s AS DOUBLE) / n) AS dispersion
      FROM t),
    chi AS (
      SELECT SUM(POWER(ob.o - n * exp(-lambda)
                       * POWER(lambda, ob.k) / gamma(ob.k + 1.0), 2)
                 / (n * exp(-lambda) * POWER(lambda, ob.k)
                    / gamma(ob.k + 1.0))) AS chi2,
             COUNT(*) AS bins
      FROM ob CROSS JOIN lam)
    SELECT CAST(lam.n AS BIGINT) AS n_orders,
           ROUND(lam.lambda, 4) AS lambda,
           ROUND(lam.dispersion, 4) AS dispersion_index,
           CAST(chi.bins AS BIGINT) AS bins,
           ROUND(chi.chi2, 4) AS chi2
    FROM lam CROSS JOIN chi
    """,
)
def qs284(spark: SparkSession, sf: str) -> DataFrame:
    """POISSON GOODNESS-OF-FIT on basket sizes (lines per order):
    MLE λ = mean, the variance/mean dispersion index (≈1 under
    Poisson — the over/under-dispersion screen), and the χ² between
    observed bin counts and N·e^(−λ)λ^k/k! — the count-data
    distribution fit beside qs179's power law and qs174's Benford.

    CONVENTION (r14 audit of the qs399 empty-cell class): the χ² runs
    over OBSERVED k bins only — a truncated-support fit, not the
    textbook full-support GOF (which would pool the infinite Poisson
    tail and include zero-count bins' E). On the generator's k ∈ 1..7
    every bin is populated and the truncation mass e^{-λ}Σ_{k∉obs} is
    the tail the statistic deliberately ignores; this is stated here
    because the differential gate cannot distinguish conventions the
    oracle shares.

    Determinism: bin counts and (n, Σk, Σk²) are exact integers; λ
    and the dispersion index are one-row fixed double trees; the χ²
    sums ~7 positive like-magnitude terms (noise ≪ ROUND 4). k! is
    exact in double for k ≤ 20 on both engines (Spark factorial,
    DuckDB Γ(k+1)). Plan: one keyed count collapses lineitem, a
    ~7-row bin table crosses a broadcast scalar — nothing after the
    first aggregate touches the fact table."""
    li = load_table(spark, sf, "lineitem")
    k = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("k"))
    ob = k.groupBy("k").agg(F.count(F.lit(1)).alias("o"))
    t = ob.agg(
        F.sum("o").alias("n"),
        F.sum(F.col("k") * F.col("o")).alias("s"),
        F.sum(F.col("k") * F.col("k") * F.col("o")).alias("s2"),
    )
    lam_ = F.col("s").cast("double") / F.col("n")
    lam = t.select(
        "n",
        lam_.alias("lambda"),
        (
            (
                F.col("s2").cast("double")
                - F.col("s").cast("double") * F.col("s") / F.col("n")
            )
            / F.col("n")
            / lam_
        ).alias("dispersion"),
    )
    withl = ob.crossJoin(lam)
    expected = (
        F.col("n")
        * F.exp(-F.col("lambda"))
        * F.pow(F.col("lambda"), F.col("k"))
        / F.factorial(F.col("k").cast("int")).cast("double")
    )
    chi = withl.agg(
        F.sum(
            F.pow(F.col("o") - expected, 2) / expected
        ).alias("chi2"),
        F.count(F.lit(1)).alias("bins"),
    )
    return lam.crossJoin(chi).select(
        F.col("n").cast("long").alias("n_orders"),
        F.round("lambda", 4).alias("lambda"),
        F.round("dispersion", 4).alias("dispersion_index"),
        F.col("bins").cast("long").alias("bins"),
        F.round("chi2", 4).alias("chi2"),
    )


# --------------------------------------------------------------------------
# qs286 weekly OHLC revenue bars (first/last by packed argmin/argmax)
# --------------------------------------------------------------------------


@query(
    "qs286_weekly_ohlc",
    oracle="""
    WITH o AS (
      SELECT date_trunc('week', o_orderdate) AS wk,
             CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents,
             datediff('day', DATE '1990-01-01', o_orderdate)
               * 1000000000000 + o_orderkey AS seq
      FROM orders)
    SELECT CAST(wk AS DATE) AS week,
           CAST(arg_min(cents, seq) AS BIGINT) AS open_cents,
           CAST(MAX(cents) AS BIGINT) AS high_cents,
           CAST(MIN(cents) AS BIGINT) AS low_cents,
           CAST(arg_max(cents, seq) AS BIGINT) AS close_cents,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(cents) AS BIGINT) AS volume_cents
    FROM o GROUP BY wk ORDER BY week
    """,
)
def qs286(spark: SparkSession, sf: str) -> DataFrame:
    """WEEKLY OHLC bars over order values: open/close are the first/
    last order of the week (by date then order key — the composite
    packed into ONE BIGINT, the repo's arg_max vehicle: DuckDB's
    arg_max takes no struct ordinal; the 1e12 day stride keeps the
    packing collision-free up to 10¹² order keys), high/low/volume
    the extremes
    and total — the finance-style rollup that qs237's seasonal index
    and qs242's CUSUM read downstream.

    Determinism: cents exact, the packed sequence key is an exact
    integer and unique per order, min_by/max_by are therefore
    unambiguous. Plan: ONE partial-aggregated scan — min_by/max_by/
    min/max/sum all combine map-side; output is calendar-sized."""
    o = load_table(spark, sf, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    seq = (
        F.datediff(F.col("o_orderdate"), F.lit("1990-01-01").cast("date"))
        .cast("long")
        * F.lit(1000000000000).cast("long")
        + F.col("o_orderkey")
    )
    b = o.select(
        F.date_trunc("week", "o_orderdate").cast("date").alias("week"),
        cents.alias("cents"),
        seq.alias("seq"),
    )
    return (
        b.groupBy("week")
        .agg(
            F.min_by("cents", "seq").cast("long").alias("open_cents"),
            F.max("cents").cast("long").alias("high_cents"),
            F.min("cents").cast("long").alias("low_cents"),
            F.max_by("cents", "seq").cast("long").alias("close_cents"),
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("volume_cents"),
        )
        .orderBy("week")
    )


# --------------------------------------------------------------------------
# qs287 Fisher ideal price index (geometric mean of Laspeyres/Paasche)
# --------------------------------------------------------------------------


@query(
    "qs287_fisher_index",
    oracle="""
    WITH g AS (
      SELECT l_partkey % 100 AS grp,
             (year(l_shipdate) - 1995) * 12 + month(l_shipdate) AS t,
             SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS c,
             SUM(CAST(l_quantity AS BIGINT)) AS q
      FROM lineitem GROUP BY 1, 2),
    p AS (
      SELECT grp, t, (c * 100) // q AS p_e2, q FROM g WHERE q > 0),
    base AS (
      SELECT grp,
             (SUM(c) * 100) // SUM(q) AS p0_e2, SUM(q) AS q0
      FROM g WHERE t BETWEEN 13 AND 24 AND q > 0
      GROUP BY grp),
    ix AS (
      SELECT p.t,
             SUM(p.p_e2 * base.q0) AS ln_,
             SUM(base.p0_e2 * base.q0) AS ld,
             SUM(p.p_e2 * p.q) AS pn,
             SUM(base.p0_e2 * p.q) AS pd
      FROM p JOIN base ON p.grp = base.grp
      GROUP BY p.t)
    SELECT t,
           ROUND(CAST(ln_ AS DOUBLE) / ld, 6) AS laspeyres,
           ROUND(CAST(pn AS DOUBLE) / pd, 6) AS paasche,
           ROUND(sqrt((CAST(ln_ AS DOUBLE) / ld)
                      * (CAST(pn AS DOUBLE) / pd)), 6) AS fisher
    FROM ix WHERE ld > 0 AND pd > 0 ORDER BY t
    """,
)
def qs287(spark: SparkSession, sf: str) -> DataFrame:
    """FISHER IDEAL price index: the geometric mean of the
    Laspeyres (base-basket, qs217) and Paasche (current-basket)
    indices — the superlative index that cancels the substitution
    biases of both. Same fixed-basket conventions as qs217: e2
    floor-division unit prices per (part-group, month), 1996 base
    year.

    Determinism: all four weighted sums are exact integers from
    exact e2 prices and quantity sums; L and P are single
    double divisions per month, Fisher one IEEE-exact sqrt,
    ROUND 6. Plan: one (grp, month) aggregate; the base table is
    group-sized and broadcast; the month epilogue is grid-sized."""
    li = load_table(spark, sf, "lineitem")
    g = li.groupBy(
        (F.col("l_partkey") % 100).alias("grp"),
        (
            (F.year("l_shipdate") - 1995) * 12
            + F.month("l_shipdate")
        ).alias("t"),
    ).agg(
        F.sum(
            F.round(F.col("l_extendedprice") * 100, 0).cast("long")
        ).alias("c"),
        F.sum(F.col("l_quantity").cast("long")).alias("q"),
    )
    p = g.filter(F.col("q") > 0).select(
        "grp", "t", F.expr("(c * 100) DIV q").alias("p_e2"), "q"
    )
    base = (
        g.filter(
            (F.col("t") >= 13) & (F.col("t") <= 24) & (F.col("q") > 0)
        )
        .groupBy("grp")
        .agg(
            F.expr("(SUM(c) * 100) DIV SUM(q)").alias("p0_e2"),
            F.sum("q").alias("q0"),
        )
    )
    ix = (
        # bcast: GRID partkey%100 base-period index, 100 rows
        p.join(F.broadcast(base), "grp")
        .groupBy("t")
        .agg(
            F.sum(F.col("p_e2") * F.col("q0")).alias("ln_"),
            F.sum(F.col("p0_e2") * F.col("q0")).alias("ld"),
            F.sum(F.col("p_e2") * F.col("q")).alias("pn"),
            F.sum(F.col("p0_e2") * F.col("q")).alias("pd"),
        )
    )
    lasp = F.col("ln_").cast("double") / F.col("ld")
    paas = F.col("pn").cast("double") / F.col("pd")
    return (
        ix.filter((F.col("ld") > 0) & (F.col("pd") > 0))
        .select(
            "t",
            F.round(lasp, 6).alias("laspeyres"),
            F.round(paas, 6).alias("paasche"),
            F.round(F.sqrt(lasp * paas), 6).alias("fisher"),
        )
        .orderBy("t")
    )


# --------------------------------------------------------------------------
# qs307 per-nation Gini concentration of positive customer balances
# --------------------------------------------------------------------------


@query(
    "qs307_gini_balances",
    oracle="""
    WITH c AS (
      SELECT c_nationkey,
             CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS cents,
             c_custkey
      FROM customer WHERE c_acctbal > 0),
    r AS (
      SELECT c_nationkey, cents,
             ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                ORDER BY cents, c_custkey) AS rn
      FROM c),
    g AS (
      SELECT c_nationkey, COUNT(*) AS n,
             SUM(CAST(cents AS HUGEINT)) AS s,
             SUM(CAST(rn AS HUGEINT) * cents) AS w
      FROM r GROUP BY 1)
    SELECT n_name AS nation,
           CAST(g.n AS BIGINT) AS n_customers,
           ROUND(CAST(2 * g.w - (g.n + 1) * g.s AS DOUBLE)
                 / CAST(g.n * g.s AS DOUBLE), 4) AS gini
    FROM g JOIN nation ON n_nationkey = g.c_nationkey
    ORDER BY nation
    """,
)
def qs307(spark: SparkSession, sf: str) -> DataFrame:
    """PER-NATION GINI COEFFICIENT of positive customer balances:
    G = (2Σᵢ i·yᵢ − (n+1)Σy)/(nΣy) over the balance-sorted sequence —
    the single-number concentration summary behind qs189's Lorenz
    deciles (deciles show the curve's shape; Gini ranks nations by
    inequality in one sortable column).

    Determinism: ranks come from a TOTAL order (cents, custkey — no
    ties), so Σ i·yᵢ is an exact DECIMAL(38)/HUGEINT integer and G is
    one double division per nation, ROUND 4. Plan: the rank is
    :func:`operators.prefix.bucketed_row_number` partitioned by
    nation — range buckets on the cents key spread each nation's
    sort across tasks instead of the oracle's one-task-per-nation
    window, bit-identical by construction (the total order has no
    ties for buckets to split)."""
    c = (
        load_table(spark, sf, "customer")
        .filter(F.col("c_acctbal") > 0)
        .select(
            "c_nationkey",
            F.round(F.col("c_acctbal") * 100, 0)
            .cast("long")
            .alias("cents"),
            "c_custkey",
        )
    )
    r = bucketed_row_number(
        c, "cents", ["cents", "c_custkey"], "rn",
        part_cols=("c_nationkey",),
    )
    dec38 = "decimal(38,0)"
    g = r.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("cents").cast(dec38)).alias("s"),
        F.sum(F.col("rn").cast(dec38) * F.col("cents")).alias("w"),
    )
    nat = load_table(spark, sf, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"),
        F.col("n_name").alias("nation"),
    )
    return (
        g.join(nat, "c_nationkey")
        .select(
            "nation",
            F.col("n").cast("long").alias("n_customers"),
            F.round(
                (
                    2 * F.col("w") - (F.col("n") + 1) * F.col("s")
                ).cast("double")
                / (F.col("n").cast(dec38) * F.col("s")).cast("double"),
                4,
            ).alias("gini"),
        )
        .orderBy("nation")
    )
