"""Round-12 diagnostics family (qs383+): ordinal association with tie
corrections, two-rater agreement, two-sample scale/runs tests,
retrieval MRR, KPSS stationarity, exact 1-D Wasserstein, and Lorenz
asymmetry — each the textbook statistic stated over the TPC-H-ish
tables, exact-integer moments feeding one fixed double epilogue.

House conventions (registry module docstring): identical aliases both
sides, ROUND on double outputs, integer cents for money, no
corpus-proportional broadcast hints (r12 audit rule), windows only
over grid-sized frames (day/month/value grids — each tagged
``# window: GRID`` at its site, gated by tests/test_site_tags.py).

Reference parity: none of these exist in cds-etl (its analytics stop
at per-table validation counts, cds_validation_functions.py); they
extend SURVEY.md §2.3's statistics tier the way qs351–qs382 did in
r11.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cds_etl_spark.catalog import load_table
from cds_etl_spark.plans.registry import query

# ---------------------------------------------------------------------------
# shared: (priority rank, status rank) contingency cells over orders
# ---------------------------------------------------------------------------

_CELLS_SQL = """
    cells AS (
      SELECT TRY_CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS x,
             CASE o_orderstatus WHEN 'F' THEN 1 WHEN 'O' THEN 2
                  ELSE 3 END AS y,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM orders
      WHERE TRY_CAST(substr(o_orderpriority, 1, 1) AS BIGINT)
            IS NOT NULL
      GROUP BY 1, 2),
    pair AS (
      SELECT
        CAST(SUM(CASE WHEN b.x > a.x AND b.y > a.y
                      THEN a.c * b.c ELSE 0 END) AS HUGEINT) AS conc,
        CAST(SUM(CASE WHEN b.x > a.x AND b.y < a.y
                      THEN a.c * b.c ELSE 0 END) AS HUGEINT) AS disc
      FROM cells a, cells b),
    marg AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n,
             CAST(SUM(CAST(c AS HUGEINT) * c) AS HUGEINT) AS s2
      FROM cells),
    mx AS (
      SELECT CAST(SUM(CAST(r AS HUGEINT) * r) AS HUGEINT) AS tx2
      FROM (SELECT SUM(c) AS r FROM cells GROUP BY x)),
    my AS (
      SELECT CAST(SUM(CAST(r AS HUGEINT) * r) AS HUGEINT) AS ty2
      FROM (SELECT SUM(c) AS r FROM cells GROUP BY y))
"""


def _prio_status_cells(spark: SparkSession, sf: str) -> DataFrame:
    """(x = priority rank 1..5, y = status rank 1..3, c) grid — the
    ≤15-cell contingency both ordinal-association queries pair up.
    Mirrors the qs299 cells construction; kept module-local so the
    two new statistics share one definition."""
    o = load_table(spark, sf, "orders")
    return (
        o.groupBy(
            # try_cast: a NULL / empty / unparseable priority is not
            # an ordinal observation (r15 NULL-axis convention —
            # ANSI CAST would throw on dirty source strings).
            F.substring("o_orderpriority", 1, 1)
            .try_cast("long")
            .alias("x"),
            F.when(F.col("o_orderstatus") == "F", 1)
            .when(F.col("o_orderstatus") == "O", 2)
            .otherwise(3)
            .alias("y"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .filter(F.col("x").isNotNull())
    )


def _conc_disc(cells: DataFrame) -> DataFrame:
    """One row: n, conc, disc, tx2 (Σ row-marginal²), ty2 — the exact
    integer moments every pairwise ordinal statistic needs. The cell
    self-join is a ≤15×15 grid epilogue."""
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    a, b = cells.alias("a"), cells.alias("b")
    # bcast: GRID <=15-cell priority x status contingency grid self-join
    pair = a.crossJoin(F.broadcast(b)).agg(
        F.sum(
            F.when(
                (F.col("b.x") > F.col("a.x"))
                & (F.col("b.y") > F.col("a.y")),
                F.col("a.c").cast("decimal(38,0)") * F.col("b.c"),
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        ).alias("conc"),
        F.sum(
            F.when(
                (F.col("b.x") > F.col("a.x"))
                & (F.col("b.y") < F.col("a.y")),
                F.col("a.c").cast("decimal(38,0)") * F.col("b.c"),
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        ).alias("disc"),
    )
    marg = cells.agg(
        F.sum("c").cast("long").alias("n"),
    )
    mx = (
        cells.groupBy("x")
        .agg(F.sum("c").alias("r"))
        .agg(F.sum(dec("r") * F.col("r")).alias("tx2"))
    )
    my = (
        cells.groupBy("y")
        .agg(F.sum("c").alias("r"))
        .agg(F.sum(dec("r") * F.col("r")).alias("ty2"))
    )
    return (
        pair.crossJoin(marg)
        .crossJoin(mx)
        .crossJoin(my)
    )


@query(
    "qs383_somers_d",
    oracle=f"""
    WITH {_CELLS_SQL}
    SELECT marg.n AS n,
           CAST(pair.conc AS BIGINT) AS concordant,
           CAST(pair.disc AS BIGINT) AS discordant,
           ROUND(CAST(2 * (pair.conc - pair.disc) AS DOUBLE)
                 / CAST(CAST(marg.n AS HUGEINT) * marg.n - mx.tx2
                        AS DOUBLE), 6) AS d_yx,
           ROUND(CAST(2 * (pair.conc - pair.disc) AS DOUBLE)
                 / CAST(CAST(marg.n AS HUGEINT) * marg.n - my.ty2
                        AS DOUBLE), 6) AS d_xy
    FROM pair, marg, mx, my
    """,
)
def qs383(spark: SparkSession, sf: str) -> DataFrame:
    """Somers' D — the asymmetric ordinal association between order
    priority (X, rank 1..5) and order status (Y, rank F<O<P):
    D(Y|X) = (C − D) / (pairs not tied on X), the tie-corrected
    directional cousin of qs327's gamma (which drops ALL ties) and
    qs299's tau-b (which corrects symmetrically). Reported both
    directions — D_yx is "status predicts from priority".

    Determinism: C, D and both tie terms are exact integers from the
    ≤15-cell grid (DECIMAL(38)/HUGEINT — n² passes int64 at sf≥10);
    each output is ONE division, ROUND 6. Plan: one grouped scan →
    cell grid, grid self-join epilogue, one-row output."""
    j = _conc_disc(_prio_status_cells(spark, sf))
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    cd2 = 2 * (F.col("conc") - F.col("disc"))
    return j.select(
        F.col("n").alias("n"),
        F.col("conc").cast("long").alias("concordant"),
        F.col("disc").cast("long").alias("discordant"),
        F.round(
            cd2.cast("double")
            / (dec("n") * F.col("n") - F.col("tx2")).cast("double"),
            6,
        ).alias("d_yx"),
        F.round(
            cd2.cast("double")
            / (dec("n") * F.col("n") - F.col("ty2")).cast("double"),
            6,
        ).alias("d_xy"),
    )


@query(
    "qs384_stuart_tau_c",
    oracle=f"""
    WITH {_CELLS_SQL}
    SELECT marg.n AS n,
           ROUND(CAST(2 * 3 * (pair.conc - pair.disc) AS DOUBLE)
                 / (CAST(CAST(marg.n AS HUGEINT) * marg.n AS DOUBLE)
                    * (3 - 1)), 6) AS tau_c
    FROM pair, marg
    """,
)
def qs384(spark: SparkSession, sf: str) -> DataFrame:
    """Stuart's tau-c on the same priority×status grid — the
    rectangular-table correction tau_c = 2m(C−D)/(n²(m−1)) with
    m = min(rows, cols) = 3: unlike tau-b it reaches ±1 on non-square
    tables, the recommended report alongside qs383's Somers' D.

    Determinism: same exact grid moments; one double division,
    ROUND 6."""
    j = _conc_disc(_prio_status_cells(spark, sf))
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    return j.select(
        F.col("n").alias("n"),
        F.round(
            (6 * (F.col("conc") - F.col("disc"))).cast("double")
            / ((dec("n") * F.col("n")).cast("double") * 2.0),
            6,
        ).alias("tau_c"),
    )


# ---------------------------------------------------------------------------
# qs385 Scott's pi on two-line orders (rater pair = line 1 vs line 2)
# ---------------------------------------------------------------------------


@query(
    "qs385_scott_pi",
    oracle="""
    WITH k AS (
      SELECT l_orderkey, l_returnflag,
             l_linenumber * 4 + CASE l_returnflag WHEN 'A' THEN 0
                  WHEN 'N' THEN 1 ELSE 2 END AS ok
      FROM lineitem),
    two AS (
      SELECT l_orderkey,
             arg_min(l_returnflag, ok) AS r1,
             arg_max(l_returnflag, ok) AS r2
      FROM k GROUP BY l_orderkey HAVING COUNT(*) = 2),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN r1 = r2 THEN 1 ELSE 0 END) AS BIGINT)
               AS agree,
             CAST(SUM(CASE WHEN r1 = 'R' THEN 1 ELSE 0 END)
                  + SUM(CASE WHEN r2 = 'R' THEN 1 ELSE 0 END)
                  AS BIGINT) AS tr,
             CAST(SUM(CASE WHEN r1 = 'N' THEN 1 ELSE 0 END)
                  + SUM(CASE WHEN r2 = 'N' THEN 1 ELSE 0 END)
                  AS BIGINT) AS tn,
             CAST(SUM(CASE WHEN r1 = 'A' THEN 1 ELSE 0 END)
                  + SUM(CASE WHEN r2 = 'A' THEN 1 ELSE 0 END)
                  AS BIGINT) AS ta
      FROM two)
    SELECT n AS n_subjects,
           ROUND(CAST(agree AS DOUBLE) / n, 6) AS po,
           ROUND((CAST(agree AS DOUBLE) / n
                  - (CAST(tr AS DOUBLE) * tr + CAST(tn AS DOUBLE) * tn
                     + CAST(ta AS DOUBLE) * ta) / (4.0 * n * n))
                 / (1.0
                    - (CAST(tr AS DOUBLE) * tr + CAST(tn AS DOUBLE) * tn
                       + CAST(ta AS DOUBLE) * ta) / (4.0 * n * n)), 6)
             AS scott_pi
    FROM m
    """,
)
def qs385(spark: SparkSession, sf: str) -> DataFrame:
    """Scott's pi — two-rater chance-corrected agreement with POOLED
    marginals: orders with exactly two line items are the subjects,
    the lower- and higher-numbered line the two raters (min_by/max_by
    on the composite key linenumber·4 + flag-rank: the generator's
    line numbers are arbitrary, not 1-based, and ~14% of two-line
    orders DUPLICATE the linenumber — the flag-rank term makes the
    tie deterministic, and an exact tie means both raters agree
    anyway), the return flag the category.
    pe = Σ ((n1_j + n2_j) / 2n)² — the pooled-marginal convention that
    distinguishes pi from Cohen's kappa (per-rater marginals) and
    makes it the 2-rater limit of qs352's Fleiss kappa.

    Determinism: all category totals exact integers; pe is a fixed
    3-term double tree over them, ROUND 6. Plan: one grouped scan
    (per-order conditional MINs), one-row epilogue."""
    li = load_table(spark, sf, "lineitem")
    ok = (
        F.col("l_linenumber") * 4
        + F.when(F.col("l_returnflag") == "A", 0)
        .when(F.col("l_returnflag") == "N", 1)
        .otherwise(2)
    )
    two = (
        li.select("l_orderkey", "l_returnflag", ok.alias("ok"))
        .groupBy("l_orderkey")
        .agg(
            F.min_by("l_returnflag", F.col("ok")).alias("r1"),
            F.max_by("l_returnflag", F.col("ok")).alias("r2"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .filter(F.col("cnt") == 2)
    )
    cat = {
        f: (
            F.sum(F.when(F.col("r1") == f, 1).otherwise(0))
            + F.sum(F.when(F.col("r2") == f, 1).otherwise(0))
        ).cast("long")
        for f in ("R", "N", "A")
    }
    m = two.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("r1") == F.col("r2"), 1).otherwise(0))
        .cast("long")
        .alias("agree"),
        cat["R"].alias("tr"),
        cat["N"].alias("tn"),
        cat["A"].alias("ta"),
    )
    po = F.col("agree").cast("double") / F.col("n")
    pe = (
        F.col("tr").cast("double") * F.col("tr")
        + F.col("tn").cast("double") * F.col("tn")
        + F.col("ta").cast("double") * F.col("ta")
    ) / (4.0 * F.col("n").cast("double") * F.col("n"))
    return m.select(
        F.col("n").alias("n_subjects"),
        F.round(po, 6).alias("po"),
        F.round((po - pe) / (1.0 - pe), 6).alias("scott_pi"),
    )


# ---------------------------------------------------------------------------
# qs386 Yule's Q / odds ratio on a 2×2 order table
# ---------------------------------------------------------------------------


@query(
    "qs386_yule_q",
    oracle="""
    WITH t AS (
      SELECT CASE WHEN o_totalprice >= 150000 THEN 1 ELSE 0 END AS a,
             CASE WHEN TRY_CAST(substr(o_orderpriority, 1, 1)
                                AS BIGINT) <= 2
                  THEN 1 ELSE 0 END AS b
      FROM orders
      WHERE o_totalprice IS NOT NULL
        AND TRY_CAST(substr(o_orderpriority, 1, 1) AS BIGINT)
            IS NOT NULL),
    m AS (
      SELECT CAST(SUM(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n11,
             CAST(SUM(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n10,
             CAST(SUM(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n01,
             CAST(SUM(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n00
      FROM t)
    SELECT n11, n10, n01, n00,
           ROUND((CAST(n11 AS DOUBLE) * n00 - CAST(n10 AS DOUBLE) * n01)
                 / (CAST(n11 AS DOUBLE) * n00
                    + CAST(n10 AS DOUBLE) * n01), 6) AS yule_q,
           ROUND((CAST(n11 AS DOUBLE) * n00)
                 / (CAST(n10 AS DOUBLE) * n01), 6) AS odds_ratio
    FROM m
    """,
)
def qs386(spark: SparkSession, sf: str) -> DataFrame:
    """Yule's Q and the odds ratio on the 2×2 table (high-value order
    ≥ 150k) × (urgent priority ≤ 2): Q = (ad − bc)/(ad + bc), the
    classic [−1, 1] association for dichotomies — Q = (OR−1)/(OR+1),
    so the pair is mutually checking. Complements the chi-square
    family (qs241/qs273) with the effect-size view.

    Determinism: four exact integer cells; two fixed double trees,
    ROUND 6. Plan: one conditional-sum scan, one-row epilogue."""
    o = load_table(spark, sf, "orders")
    a = F.when(F.col("o_totalprice") >= 150000, 1).otherwise(0)
    prio = F.substring("o_orderpriority", 1, 1).try_cast("long")
    b = F.when(prio <= 2, 1).otherwise(0)
    # Complete-case 2x2: rows with a missing price or an unparseable
    # priority are not observations of either dichotomy (r15
    # NULL-axis convention; ANSI CAST would throw on dirty strings).
    m = o.filter(
        F.col("o_totalprice").isNotNull() & prio.isNotNull()
    ).select(a.alias("a"), b.alias("b")).agg(
        *[
            F.sum(
                F.when((F.col("a") == ai) & (F.col("b") == bi), 1).otherwise(
                    0
                )
            )
            .cast("long")
            .alias(f"n{ai}{bi}")
            for ai, bi in ((1, 1), (1, 0), (0, 1), (0, 0))
        ]
    )
    ad = F.col("n11").cast("double") * F.col("n00")
    bc = F.col("n10").cast("double") * F.col("n01")
    return m.select(
        "n11",
        "n10",
        "n01",
        "n00",
        F.round((ad - bc) / (ad + bc), 6).alias("yule_q"),
        F.round(ad / bc, 6).alias("odds_ratio"),
    )


# ---------------------------------------------------------------------------
# shared: daily revenue-cents series per market segment (qs377 shape)
# ---------------------------------------------------------------------------

_DAILY2_SQL = """
    daily AS (
      SELECT c_mktsegment AS seg, CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS y
      FROM orders JOIN customer ON c_custkey = o_custkey
      WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
        AND o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
      GROUP BY 1, 2)
"""


def _daily_two_segments(spark: SparkSession, sf: str) -> DataFrame:
    """(seg, d, y): daily revenue cents for the BUILDING and
    MACHINERY segments — the two-sample fixture qs377 established
    (key-shuffle join, both sides corpus-proportional, no broadcast
    hint; the day grid is the bounded output)."""
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    return (
        # NULL-date / NULL-price orders excluded on both sides: the
        # family's unique (y, seg, d) rank tiebreak needs non-null
        # keys — engine default null ordering diverges (r15
        # NULL-axis convention).
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
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
            .cast("long")
            .alias("y")
        )
    )


@query(
    "qs387_ansari_bradley",
    oracle=f"""
    WITH {_DAILY2_SQL},
    r AS (
      SELECT seg,
             ROW_NUMBER() OVER (ORDER BY y, seg, d) AS rk,
             COUNT(*) OVER () AS nn
      FROM daily),
    sc AS (
      SELECT seg, LEAST(rk, nn + 1 - rk) AS a, nn FROM r),
    m AS (
      SELECT CAST(SUM(CASE WHEN seg = 'BUILDING' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN seg = 'MACHINERY' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n2,
             CAST(SUM(CASE WHEN seg = 'BUILDING' THEN a ELSE 0 END)
                  AS BIGINT) AS ab,
             CAST(MAX(nn) AS BIGINT) AS nn
      FROM sc)
    SELECT n1, n2, ab AS ab_stat,
           ROUND((ab - CASE WHEN nn % 2 = 0
                    THEN CAST(n1 AS DOUBLE) * (nn + 2) / 4.0
                    ELSE CAST(n1 AS DOUBLE) * (nn + 1) * (nn + 1)
                         / (4.0 * nn) END)
                 / sqrt(CASE WHEN nn % 2 = 0
                    THEN CAST(n1 AS DOUBLE) * n2 * (nn + 2) * (nn - 2)
                         / (48.0 * (nn - 1))
                    ELSE CAST(n1 AS DOUBLE) * n2 * (nn + 1)
                         * (3 + nn * nn) / (48.0 * nn * nn) END), 4)
             AS z
    FROM m
    """,
)
def qs387(spark: SparkSession, sf: str) -> DataFrame:
    """Ansari–Bradley two-sample SCALE test on the two segments'
    daily revenue: rank the pooled sample from BOTH ends
    (a_i = min(r_i, N+1−r_i) — small scores at the extremes), sum the
    scores of sample 1; a dispersion difference shifts AB away from
    its null mean. The scale-family companion to qs324's
    Siegel–Tukey (which zig-zags ranks instead) and qs377's CvM
    (location-sensitive EMD).

    Rank convention: unique permutation ranks via the (y, seg, d)
    tiebreak — the qs377 contract, identical on both engines.
    Determinism: ranks, scores and AB are exact integers on the
    ~4,800-row day grid; the null mean/variance use the even/odd-N
    closed forms in one fixed double tree, ROUND 4. Plan: one
    key-shuffle join + grouped scan → day grid, one GRID rank
    window, one-row epilogue."""
    daily = _daily_two_segments(spark, sf)
    # window: GRID pooled rank over the two-segment day grid (~4800 rows at any SF - calendar x 2)
    w = Window.orderBy("y", "seg", "d")
    r = daily.select(
        "seg",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("nn"),
    )
    sc = r.select(
        "seg",
        F.least(F.col("rk"), F.col("nn") + 1 - F.col("rk")).alias("a"),
        "nn",
    )
    m = sc.agg(
        F.sum(F.when(F.col("seg") == "BUILDING", 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("seg") == "MACHINERY", 1).otherwise(0))
        .cast("long")
        .alias("n2"),
        F.sum(F.when(F.col("seg") == "BUILDING", F.col("a")).otherwise(0))
        .cast("long")
        .alias("ab"),
        F.max("nn").cast("long").alias("nn"),
    )
    nn = F.col("nn").cast("double")
    n1 = F.col("n1").cast("double")
    n2 = F.col("n2").cast("double")
    even = F.col("nn") % 2 == 0
    mean = F.when(even, n1 * (nn + 2) / 4.0).otherwise(
        n1 * (nn + 1) * (nn + 1) / (4.0 * nn)
    )
    var = F.when(
        even, n1 * n2 * (nn + 2) * (nn - 2) / (48.0 * (nn - 1))
    ).otherwise(n1 * n2 * (nn + 1) * (3 + nn * nn) / (48.0 * nn * nn))
    return m.select(
        "n1",
        "n2",
        F.col("ab").alias("ab_stat"),
        F.round((F.col("ab") - mean) / F.sqrt(var), 4).alias("z"),
    )


@query(
    "qs388_ww_runs",
    oracle=f"""
    WITH {_DAILY2_SQL},
    s AS (
      SELECT seg,
             LAG(seg) OVER (ORDER BY y, seg, d) AS pseg
      FROM daily),
    m AS (
      SELECT CAST(SUM(CASE WHEN seg = 'BUILDING' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN seg = 'MACHINERY' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n2,
             CAST(SUM(CASE WHEN pseg IS NULL OR pseg <> seg
                           THEN 1 ELSE 0 END) AS BIGINT) AS runs
      FROM s)
    SELECT n1, n2, runs,
           ROUND((runs - (2.0 * n1 * n2 / (n1 + n2) + 1))
                 / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                        / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2)
                           * (n1 + n2 - 1))), 4) AS z
    FROM m
    """,
)
def qs388(spark: SparkSession, sf: str) -> DataFrame:
    """Wald–Wolfowitz two-sample runs test on the pooled daily
    revenue: sort both segments' days together and count maximal
    runs of same-segment values — too FEW runs means the two
    distributions separate (any difference: location, scale or
    shape), the classic omnibus companion to the targeted tests
    (qs270 location, qs387 scale).

    Determinism: the run count is an exact integer under the unique
    (y, seg, d) sort; mean 2n1n2/N + 1 and the closed-form variance
    are one double tree, ROUND 4. Plan: day grid → one GRID lag
    window → one-row epilogue."""
    daily = _daily_two_segments(spark, sf)
    # window: GRID pooled run-lag over the same two-segment day grid
    w = Window.orderBy("y", "seg", "d")
    s = daily.select("seg", F.lag("seg").over(w).alias("pseg"))
    m = s.agg(
        F.sum(F.when(F.col("seg") == "BUILDING", 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("seg") == "MACHINERY", 1).otherwise(0))
        .cast("long")
        .alias("n2"),
        F.sum(
            F.when(
                F.col("pseg").isNull() | (F.col("pseg") != F.col("seg")), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("runs"),
    )
    n1 = F.col("n1").cast("double")
    n2 = F.col("n2").cast("double")
    nn = n1 + n2
    mean = 2.0 * n1 * n2 / nn + 1
    var = 2.0 * n1 * n2 * (2.0 * n1 * n2 - nn) / (nn * nn * (nn - 1))
    return m.select(
        "n1",
        "n2",
        "runs",
        F.round((F.col("runs") - mean) / F.sqrt(var), 4).alias("z"),
    )


# ---------------------------------------------------------------------------
# qs389 Mean reciprocal rank over the qs215 retrieval harness
# ---------------------------------------------------------------------------


@query(
    "qs389_mrr_eval",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(list_distinct(
               string_split(lower(text), ' '))) AS term
      FROM documents),
    q AS (SELECT doc_id AS qid, source AS qsrc FROM documents
          WHERE doc_id % 50 = 0),
    d AS (SELECT doc_id AS cid, source AS csrc FROM documents),
    ov AS (
      SELECT q.qid, q.qsrc, t2.doc_id AS cid, d.csrc,
             COUNT(*) AS overlap
      FROM q
      JOIN toks t1 ON t1.doc_id = q.qid AND t1.term <> ''
      JOIN toks t2 ON t2.term = t1.term AND t2.doc_id <> q.qid
      JOIN d ON d.cid = t2.doc_id
      GROUP BY 1, 2, 3, 4),
    ranked AS (
      SELECT qid, qsrc, csrc,
             ROW_NUMBER() OVER (PARTITION BY qid
                 ORDER BY overlap DESC, cid) AS rk
      FROM ov),
    firstrel AS (
      SELECT qid, MIN(CASE WHEN csrc = qsrc THEN rk END) AS fr
      FROM ranked GROUP BY qid),
    per AS (
      SELECT q.qid, f.fr
      FROM q LEFT JOIN firstrel f ON f.qid = q.qid)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(SUM(CASE WHEN fr = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS hits_at_1,
           CAST(SUM(CASE WHEN fr <= 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS hits_at_3,
           CAST(SUM(CASE WHEN fr <= 10 THEN 1 ELSE 0 END) AS BIGINT)
             AS hits_at_10,
           CAST(SUM(COALESCE(1000000 // fr, 0)) // COUNT(*) AS BIGINT)
             AS mrr_e6
    FROM per
    """,
)
def qs389(spark: SparkSession, sf: str) -> DataFrame:
    """Mean reciprocal rank (+ hits@k) over the qs215 retrieval
    harness — every 50th document queries the corpus by
    distinct-token overlap, same-source is relevant: MRR is THE
    navigational-search summary (where does the first right answer
    sit?), complementing qs215's graded NDCG and qs330's AP; a query
    with no relevant document retrieved contributes zero.

    Determinism: ranks are integer-ordered with id tiebreaks (the
    qs215 contract); each reciprocal is the exact integer
    floor(1e6 / rank), MRR their integer-mean floor — a ranking
    metric with zero floating point. Plan: one term-keyed sparse
    retrieval join, per-query ranking windows, conditional-MIN
    first-relevant, one-row epilogue. SCALE: slice-scale EVAL
    HARNESS by construction (the qs213/qs215/qs233 class, BASELINE
    r12 cells) — the unpruned hot-term postings join is quadratic;
    the prefix-filter join (qs163) and the ANN family are the scale
    paths for this shape."""
    from cds_etl_spark.operators.skew import spread_scan

    docs = load_table(spark, sf, "documents")
    # r15: spread the single-file scan + explode_outer (the inner
    # explode's `size > 0` pushdown re-evaluated the tokenize per row;
    # NULL terms drop in the existing filter) — the qs215 fix.
    toks = spread_scan(docs.select("doc_id", "text"), "doc_id").select(
        "doc_id",
        F.explode_outer(
            F.array_distinct(F.split(F.lower(F.col("text")), " "))
        ).alias("term"),
    ).filter(F.col("term") != "")
    q = docs.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("qid"), F.col("source").alias("qsrc")
    )
    d = docs.select(
        F.col("doc_id").alias("cid"), F.col("source").alias("csrc")
    )
    qt = toks.join(q, toks["doc_id"] == q["qid"]).select(
        "qid", "qsrc", "term"
    )
    ov = (
        qt.join(toks.select(F.col("doc_id").alias("cid"), "term"), "term")
        .filter(F.col("cid") != F.col("qid"))
        .groupBy("qid", "qsrc", "cid")
        .agg(F.count(F.lit(1)).alias("overlap"))
        .join(d, "cid")
    )
    ranked = ov.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("qid").orderBy(
                F.col("overlap").desc(), "cid"
            )
        ),
    )
    firstrel = ranked.groupBy("qid").agg(
        F.min(
            F.when(F.col("csrc") == F.col("qsrc"), F.col("rk"))
        ).alias("fr")
    )
    per = q.join(firstrel, "qid", "left")
    return per.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.sum(F.when(F.col("fr") == 1, 1).otherwise(0))
        .cast("long")
        .alias("hits_at_1"),
        F.sum(F.when(F.col("fr") <= 3, 1).otherwise(0))
        .cast("long")
        .alias("hits_at_3"),
        F.sum(F.when(F.col("fr") <= 10, 1).otherwise(0))
        .cast("long")
        .alias("hits_at_10"),
        F.expr(
            "CAST(SUM(COALESCE(1000000 div fr, 0)) div COUNT(*) AS LONG)"
        ).alias("mrr_e6"),
    )


# ---------------------------------------------------------------------------
# qs390 KPSS level-stationarity statistic on monthly revenue
# ---------------------------------------------------------------------------


@query(
    "qs390_kpss",
    oracle="""
    WITH m AS (
      SELECT ((YEAR(o_orderdate) - 1992) * 12 + MONTH(o_orderdate))
               AS t,
             CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS y
      FROM orders GROUP BY 1),
    s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(y) AS HUGEINT) AS sy FROM m),
    z AS (
      SELECT t, CAST(s.n AS HUGEINT) * y - s.sy AS z
      FROM m, s),
    cs AS (
      SELECT t, z,
             SUM(z) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sz,
             LAG(z, 1) OVER (ORDER BY t) AS z1,
             LAG(z, 2) OVER (ORDER BY t) AS z2,
             LAG(z, 3) OVER (ORDER BY t) AS z3,
             LAG(z, 4) OVER (ORDER BY t) AS z4
      FROM z),
    agg AS (
      SELECT CAST(SUM(sz * sz) AS HUGEINT) AS ss2,
             CAST(SUM(z * z) AS HUGEINT) AS g0,
             CAST(SUM(COALESCE(z * z1, 0)) AS HUGEINT) AS g1,
             CAST(SUM(COALESCE(z * z2, 0)) AS HUGEINT) AS g2,
             CAST(SUM(COALESCE(z * z3, 0)) AS HUGEINT) AS g3,
             CAST(SUM(COALESCE(z * z4, 0)) AS HUGEINT) AS g4
      FROM cs)
    SELECT s.n AS n_months,
           ROUND(CAST(5 * agg.ss2 AS DOUBLE)
                 / (s.n * CAST(5 * agg.g0 + 2 * (4 * agg.g1 + 3 * agg.g2
                               + 2 * agg.g3 + 1 * agg.g4) AS DOUBLE)), 6)
             AS kpss_stat
    FROM s, agg
    """,
)
def qs390(spark: SparkSession, sf: str) -> DataFrame:
    """KPSS level-stationarity statistic (Bartlett window l = 4) on
    the monthly revenue series: partial sums of the demeaned series
    against the long-run variance — the stationarity NULL
    complement to the unit-root style drift checks (qs305
    Mann–Kendall trend, qs320 Pettitt changepoint): a large KPSS
    says the level wanders more than short-run dependence explains.

    Determinism: works on z_t = N·y_t − Σy (the ×N-scaled demeaned
    series — exact integers, the qs278 re-centering trick), so
    partial sums, autocovariances and the Bartlett combination
    5γ0 + 2Σ(5−j)γj are ALL exact DECIMAL(38)/HUGEINT integers (the
    N³ scale factors cancel: KPSS = 5·ΣS² / (N·(5γ0 + 2Σ(5−j)γj)));
    ONE double division at the end, ROUND 6. z² sums stay inside
    DECIMAL(38) through ~sf300. Plan: grouped scan → month grid,
    one GRID cumsum/lag window pass, one-row epilogue."""
    o = load_table(spark, sf, "orders")
    m = o.groupBy(
        (
            (F.year("o_orderdate") - 1992) * 12 + F.month("o_orderdate")
        ).alias("t")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
        .cast("long")
        .alias("y")
    )
    s = m.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
    )
    z = m.crossJoin(s).select(
        "t",
        "n",
        (F.col("n").cast("decimal(38,0)") * F.col("y") - F.col("sy")).alias(
            "z"
        ),
    )
    # window: GRID 84-row month grid cumsum/lags
    w = Window.orderBy("t")
    cs = z.select(
        "n",
        "z",
        F.sum("z").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "sz"
        ),
        *[F.lag("z", k).over(w).alias(f"z{k}") for k in (1, 2, 3, 4)],
    )
    zero = F.lit(0).cast("decimal(38,0)")
    agg = cs.agg(
        F.max("n").alias("n"),
        F.sum(F.col("sz") * F.col("sz")).alias("ss2"),
        F.sum(F.col("z") * F.col("z")).alias("g0"),
        *[
            F.sum(F.coalesce(F.col("z") * F.col(f"z{k}"), zero)).alias(
                f"g{k}"
            )
            for k in (1, 2, 3, 4)
        ],
    )
    denom = (
        5 * F.col("g0")
        + 2 * (4 * F.col("g1") + 3 * F.col("g2") + 2 * F.col("g3") + F.col("g4"))
    )
    return agg.select(
        F.col("n").alias("n_months"),
        F.round(
            (5 * F.col("ss2")).cast("double")
            / (F.col("n") * denom.cast("double")),
            6,
        ).alias("kpss_stat"),
    )


# ---------------------------------------------------------------------------
# qs391 exact 1-D Wasserstein-1 distance between the two segments
# ---------------------------------------------------------------------------


@query(
    "qs391_wasserstein",
    oracle=f"""
    WITH {_DAILY2_SQL},
    v AS (
      SELECT y,
             CAST(SUM(CASE WHEN seg = 'BUILDING' THEN 1 ELSE 0 END)
                  AS BIGINT) AS c1,
             CAST(SUM(CASE WHEN seg = 'MACHINERY' THEN 1 ELSE 0 END)
                  AS BIGINT) AS c2
      FROM daily GROUP BY y),
    n AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1,
                 CAST(SUM(c2) AS BIGINT) AS n2 FROM v),
    cum AS (
      SELECT y,
             SUM(c1) OVER (ORDER BY y
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f1,
             SUM(c2) OVER (ORDER BY y
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f2,
             LEAD(y) OVER (ORDER BY y) AS ny
      FROM v),
    num AS (
      SELECT CAST(SUM(CASE WHEN ny IS NULL THEN 0
                      ELSE abs(CAST(f1 AS HUGEINT) * n.n2
                               - CAST(f2 AS HUGEINT) * n.n1)
                           * (ny - y) END) AS HUGEINT) AS w
      FROM cum, n)
    SELECT n.n1, n.n2,
           ROUND(CAST(num.w AS DOUBLE)
                 / (CAST(n.n1 AS DOUBLE) * n.n2) / 100.0, 4)
             AS w1_dollars
    FROM n, num
    """,
)
def qs391(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT 1-D Wasserstein-1 (earth mover's) distance between the
    BUILDING and MACHINERY daily-revenue distributions:
    W1 = ∫|F1 − F2| dx, evaluated on the merged distinct-value grid
    as Σ |F1(v) − F2(v)|·Δv — the transport-cost view of the same
    two-sample question qs227's KS answers with the sup-norm and
    qs377's CvM with the L2-norm, but in interpretable dollars of
    "work" per day. Continuous-sample companion of qs357's 5-rank
    EMD.

    Determinism: with CDFs as integer counts c/n, each step is the
    exact integer |f1·n2 − f2·n1|·Δv (DECIMAL(38)/HUGEINT); ONE
    division + /100 at the end, ROUND 4. Plan: day grid → distinct
    daily values → one GRID cumsum/lead window, one-row epilogue."""
    daily = _daily_two_segments(spark, sf)
    v = daily.groupBy("y").agg(
        F.sum(F.when(F.col("seg") == "BUILDING", 1).otherwise(0))
        .cast("long")
        .alias("c1"),
        F.sum(F.when(F.col("seg") == "MACHINERY", 1).otherwise(0))
        .cast("long")
        .alias("c2"),
    )
    n = v.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
    )
    # window: GRID distinct daily-value grid (<= day-grid rows) CDF cumsum
    w = Window.orderBy("y")
    cum = v.select(
        "y",
        F.sum("c1").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "f1"
        ),
        F.sum("c2").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "f2"
        ),
        F.lead("y").over(w).alias("ny"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    num = cum.crossJoin(n).agg(
        F.sum(
            F.when(F.col("ny").isNull(), F.lit(0).cast("decimal(38,0)"))
            .otherwise(
                F.abs(dec("f1") * F.col("n2") - dec("f2") * F.col("n1"))
                * (F.col("ny") - F.col("y"))
            )
        ).alias("w"),
        F.max("n1").alias("n1"),
        F.max("n2").alias("n2"),
    )
    return num.select(
        "n1",
        "n2",
        F.round(
            F.col("w").cast("double")
            / (F.col("n1").cast("double") * F.col("n2"))
            / 100.0,
            4,
        ).alias("w1_dollars"),
    )


# ---------------------------------------------------------------------------
# qs392 Lorenz asymmetry coefficient on positive customer balances
# ---------------------------------------------------------------------------


@query(
    "qs392_lorenz_asymmetry",
    oracle="""
    WITH x AS (
      SELECT CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS v
      FROM customer WHERE c_acctbal > 0),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(v) AS BIGINT) AS sv FROM x),
    parts AS (
      SELECT CAST(SUM(CASE WHEN CAST(v AS HUGEINT) * tot.n < tot.sv
                           THEN 1 ELSE 0 END) AS BIGINT) AS m,
             CAST(SUM(CASE WHEN CAST(v AS HUGEINT) * tot.n < tot.sv
                           THEN v ELSE 0 END) AS BIGINT) AS lm,
             CAST(MAX(CASE WHEN CAST(v AS HUGEINT) * tot.n < tot.sv
                           THEN v END) AS BIGINT) AS xm,
             CAST(MIN(CASE WHEN CAST(v AS HUGEINT) * tot.n >= tot.sv
                           THEN v END) AS BIGINT) AS xm1
      FROM x, tot)
    SELECT tot.n, parts.m AS n_below_mean,
           ROUND((parts.m + (CAST(tot.sv AS DOUBLE) - CAST(parts.xm
                    AS DOUBLE) * tot.n)
                   / (CAST(tot.n AS DOUBLE) * (parts.xm1 - parts.xm)))
                 / tot.n
                 + (parts.lm + (CAST(tot.sv AS DOUBLE)
                      - CAST(parts.xm AS DOUBLE) * tot.n)
                     / (CAST(tot.n AS DOUBLE) * (parts.xm1 - parts.xm))
                     * parts.xm1)
                   / CAST(tot.sv AS DOUBLE), 6) AS lorenz_asymmetry
    FROM tot, parts
    """,
)
def qs392(spark: SparkSession, sf: str) -> DataFrame:
    """Lorenz asymmetry coefficient S = F(μ) + L(μ) on positive
    customer balances — WHERE the inequality lives: S < 1 means it
    is driven by many small balances, S > 1 by a few giants; the
    shape diagnostic a scalar Gini (qs307) cannot see, with the
    standard interpolation δ = (μ − x_m)/(x_{m+1} − x_m) at the
    mean-crossing.

    Determinism: the below-mean test v·n < Σv is exact-integer; m,
    L_m and the two crossing order statistics (conditional MAX/MIN)
    are exact; δ and the two shares form one fixed double tree,
    ROUND 6. Plan: one scan → one-row totals, broadcast back, one
    conditional-aggregate pass, one-row epilogue."""
    c = load_table(spark, sf, "customer")
    x = c.filter(F.col("c_acctbal") > 0).select(
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("v")
    )
    tot = x.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").cast("long").alias("sv"),
    )
    below = (
        F.col("v").cast("decimal(38,0)") * F.col("n") < F.col("sv")
    )
    parts = x.crossJoin(tot).agg(
        F.max("n").alias("n"),
        F.max("sv").alias("sv"),
        F.sum(F.when(below, 1).otherwise(0)).cast("long").alias("m"),
        F.sum(F.when(below, F.col("v")).otherwise(0))
        .cast("long")
        .alias("lm"),
        F.max(F.when(below, F.col("v"))).cast("long").alias("xm"),
        F.min(F.when(~below, F.col("v"))).cast("long").alias("xm1"),
    )
    delta = (
        F.col("sv").cast("double") - F.col("xm").cast("double") * F.col("n")
    ) / (F.col("n").cast("double") * (F.col("xm1") - F.col("xm")))
    return parts.select(
        F.col("n"),
        F.col("m").alias("n_below_mean"),
        F.round(
            (F.col("m") + delta) / F.col("n")
            + (F.col("lm") + delta * F.col("xm1"))
            / F.col("sv").cast("double"),
            6,
        ).alias("lorenz_asymmetry"),
    )
