"""Commerce analytics: balances, baskets, cohorts, funnels, SCD2,
proration, date spine, OLS/Theil-Sen trends, spatial grid (qs180-qs206) — one family of the declared oracle-checkable
query set. Registration contract, aliasing and cross-engine
rules: cds_etl_spark/plans/registry.py. Split from the former
single queries module with zero query changes; registration
order is preserved by the import order in plans/__init__.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cds_etl_spark.catalog import load_table
from cds_etl_spark.plans.registry import query
from cds_etl_spark.operators.pin import cut_lineage
from cds_etl_spark.operators.sessions import sessionize  # noqa: E402

@query(
    "qs180_clamped_balance",
    oracle="""
    WITH RECURSIVE tx AS (
      SELECT user_id, event_id,
             CASE WHEN event_type = 'purchase'
                  THEN CAST(ROUND(value * 100) AS BIGINT)
                  ELSE -CAST(ROUND(value * 100) AS BIGINT) END AS d,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events WHERE event_type IN ('purchase', 'error')),
    bal AS (
      SELECT user_id, event_id, rn, GREATEST(0, d) AS b
      FROM tx WHERE rn = 1
      UNION ALL
      SELECT t.user_id, t.event_id, t.rn, GREATEST(0, bal.b + t.d)
      FROM bal JOIN tx t
        ON t.user_id = bal.user_id AND t.rn = bal.rn + 1)
    SELECT user_id, event_id, CAST(b AS BIGINT) AS balance_cents
    FROM bal
    """,
)
def qs180(spark: SparkSession, sf: str) -> DataFrame:
    """Floor-clamped running balance — credits (purchases) add,
    debits (errors) subtract, and the balance never goes below zero:
    the wallet/inventory/rate-limiter recursion
    b_t = max(0, b_{t-1} + d_t) that naive SQL cannot state without
    row-by-row recursion. The ORACLE states exactly that recursive
    definition (WITH RECURSIVE stepping rn by rn). The Spark side
    uses the CLOSED FORM instead:
    b_t = prefix_t − min(0, min_{s≤t} prefix_s) — two running
    aggregates in ONE window pass, O(n) with one shuffle — so the
    differential proves the identity on real data. At 100 TB the
    recursion is depth×corpus joins; the closed form is one window.

    Determinism: deltas are exact integer cents, both running
    aggregates are exact integer sums/mins, no floats anywhere."""
    ev = load_table(spark, sf, "events")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    tx = ev.filter(
        F.col("event_type").isin("purchase", "error")
    ).select(
        "user_id",
        "event_id",
        "ts",
        F.when(F.col("event_type") == "purchase", cents)
        .otherwise(-cents)
        .alias("d"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = (
        tx.withColumn("p", F.sum("d").over(w))
        .withColumn("mp", F.min("p").over(w))
        .select(
            "user_id",
            "event_id",
            (
                F.col("p")
                - F.least(F.lit(0).cast("long"), F.col("mp"))
            ).alias("balance_cents"),
        )
    )
    return out


@query(
    "qs181_mannwhitney_auc",
    oracle="""
    WITH obs AS (
      SELECT user_id % 2 AS cohort,
             CAST(ROUND(value * 100) AS BIGINT) AS c
      FROM events),
    ranked AS (
      SELECT cohort,
             2 * RANK() OVER (ORDER BY c)
               + COUNT(*) OVER (PARTITION BY c) - 1 AS r2
      FROM obs),
    agg AS (
      SELECT
        CAST(SUM(CASE WHEN cohort = 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n1,
        CAST(SUM(CASE WHEN cohort = 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS n2,
        CAST(SUM(CASE WHEN cohort = 0 THEN r2 ELSE 0 END) AS BIGINT)
          AS r1x2
      FROM ranked)
    SELECT n1, n2,
           r1x2 - n1 * (n1 + 1) AS u1_x2,
           CAST(ROUND((r1x2 - n1 * (n1 + 1)) * 1000000.0
                      / (2.0 * n1 * n2)) AS BIGINT) AS auc_e6
    FROM agg
    """,
)
def qs181(spark: SparkSession, sf: str) -> DataFrame:
    """Mann–Whitney U / AUC — the nonparametric two-sample test the
    parametric qs168 z-test cannot replace when values are skewed:
    U measures how often a cohort-0 value outranks a cohort-1 value,
    and U/(n1·n2) IS the AUC (P(X₀ > X₁) + ½P(=)). The
    experimentation readout robust to outliers.

    Determinism: tie-averaged ranks stay EXACT by carrying 2×rank —
    2·avg_rank = 2·min_rank + (ties−1) is an integer — so the rank
    sum, U (×2), and everything up to the single e6-scaled division
    are exact integer arithmetic. Plan: one global sort (Spark's
    range-partitioned distributed sort), two windows ON that order,
    a one-row aggregate; the corpus never joins itself the way the
    textbook all-pairs definition of U would."""
    ev = load_table(spark, sf, "events")
    obs = ev.select(
        (F.col("user_id") % 2).alias("cohort"),
        F.round(F.col("value") * 100, 0).cast("long").alias("c"),
    )
    ranked = obs.select(
        "cohort",
        (
            F.lit(2) * F.rank().over(Window.partitionBy().orderBy("c"))
            + F.count(F.lit(1)).over(Window.partitionBy("c"))
            - F.lit(1)
        )
        .cast("long")
        .alias("r2"),
    )
    agg = ranked.agg(
        F.sum(F.when(F.col("cohort") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("cohort") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n2"),
        F.sum(F.when(F.col("cohort") == 0, F.col("r2")).otherwise(0))
        .cast("long")
        .alias("r1x2"),
    )
    n1, n2, r1x2 = F.col("n1"), F.col("n2"), F.col("r1x2")
    u1x2 = r1x2 - n1 * (n1 + F.lit(1))
    return agg.select(
        "n1",
        "n2",
        u1x2.alias("u1_x2"),
        F.round(
            u1x2 * F.lit(1000000.0) / (F.lit(2.0) * n1 * n2)
        )
        .cast("long")
        .alias("auc_e6"),
    )


@query(
    "qs182_kaplan_meier",
    oracle="""
    WITH deaths AS (
      SELECT CAST(MAX(CAST(ts AS DATE)) AS DATE) AS day
      FROM events GROUP BY user_id),
    d AS (SELECT day, COUNT(*) AS deaths FROM deaths GROUP BY day),
    t AS (SELECT CAST(SUM(deaths) AS BIGINT) AS total FROM d),
    risk AS (
      SELECT day, deaths,
             (SELECT total FROM t)
               - COALESCE(SUM(deaths) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) AS at_risk
      FROM d),
    km AS (
      SELECT day, deaths, at_risk,
             SUM(ln(CASE WHEN deaths = at_risk THEN 1.0
                         ELSE 1.0 - deaths * 1.0 / at_risk END))
               OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS lsum
      FROM risk)
    SELECT day, CAST(deaths AS BIGINT) AS deaths,
           CAST(at_risk AS BIGINT) AS at_risk,
           ROUND(CASE WHEN at_risk = deaths THEN 0.0
                      ELSE exp(lsum) END, 4) AS survival
    FROM km
    """,
)
def qs182(spark: SparkSession, sf: str) -> DataFrame:
    """Kaplan–Meier survival curve for user churn — "death" is a
    user's LAST active day, and S(t) = Π (1 − dᵢ/nᵢ) over death days
    ≤ t with nᵢ the users still alive entering day i: the retention
    statistic qs116's cohort triangle summarizes, stated as the
    estimator survival analysis actually uses.

    Determinism: deaths and at-risk counts are exact integers from
    ONE per-user aggregate (the corpus collapses to users, then to
    days — the curve computes over ≤ #days rows); the product is
    exp(Σ ln(·)) of exact-integer ratios, ROUNDed at 4 dp (the qs84
    ln cross-engine contract), with the final all-dead day pinned to
    exactly 0 on both sides rather than exp(ln 0). Plan: two narrow
    groupBys + windows over the days-sized aggregate."""
    ev = load_table(spark, sf, "events")
    deaths = (
        ev.groupBy("user_id")
        .agg(F.max(F.col("ts").cast("date")).alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("deaths"))
    )
    wall = Window.partitionBy()
    wprev = Window.partitionBy().orderBy("day").rowsBetween(
        Window.unboundedPreceding, -1
    )
    wcum = Window.partitionBy().orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    km = deaths.withColumn(
        "at_risk",
        F.sum("deaths").over(wall)
        - F.coalesce(F.sum("deaths").over(wprev), F.lit(0)),
    ).withColumn(
        # Terminal day (everyone left dies): the factor is 0, whose
        # log both engines reject/NULL — contribute ln(1)=0 instead;
        # the outer CASE pins that day's survival to exactly 0.
        "lsum",
        F.sum(
            F.log(
                F.when(
                    F.col("deaths") == F.col("at_risk"), F.lit(1.0)
                ).otherwise(
                    F.lit(1.0)
                    - F.col("deaths") * F.lit(1.0) / F.col("at_risk")
                )
            )
        ).over(wcum),
    )
    return km.select(
        "day",
        F.col("deaths").cast("long").alias("deaths"),
        F.col("at_risk").cast("long").alias("at_risk"),
        F.round(
            F.when(
                F.col("at_risk") == F.col("deaths"), F.lit(0.0)
            ).otherwise(F.exp("lsum")),
            4,
        ).alias("survival"),
    )


@query(
    "qs183_weighted_median",
    oracle="""
    WITH b AS (
      SELECT l_returnflag AS flag,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS c,
             CAST(l_quantity AS BIGINT) AS q
      FROM lineitem),
    g AS (SELECT flag, c, SUM(q) AS q FROM b GROUP BY flag, c),
    w AS (
      SELECT flag, c,
             SUM(q) OVER (PARTITION BY flag ORDER BY c
                          ROWS UNBOUNDED PRECEDING) AS cq,
             SUM(q) OVER (PARTITION BY flag) AS tq
      FROM g)
    SELECT flag AS l_returnflag,
           CAST(MIN(CASE WHEN 2 * cq >= tq THEN c END) AS BIGINT)
             AS wmedian_cents,
           CAST(MAX(tq) AS BIGINT) AS total_qty
    FROM w GROUP BY flag
    """,
)
def qs183(spark: SparkSession, sf: str) -> DataFrame:
    """Exact QUANTITY-WEIGHTED median price per return flag — the
    lower weighted median (first price where cumulative weight
    reaches half the total): what "typical price" means when a line
    of 50 units should count 50×. Complements qs44 (unweighted
    interpolated percentiles) and qs154 (mergeable histogram
    quantiles) as the third percentile physics.

    Determinism: pure integer arithmetic — prices as cents,
    cumulative and total weights as exact sums, the half-total test
    cross-multiplied (2·cum ≥ total, no division), MIN as the
    tie-break. Plan: one narrow (flag, price) pre-aggregate
    collapses the corpus, windows run over that, and the final
    groupBy is flags-sized."""
    li = load_table(spark, sf, "lineitem")
    b = li.select(
        F.col("l_returnflag").alias("flag"),
        F.round(F.col("l_extendedprice") * 100, 0)
        .cast("long")
        .alias("c"),
        F.col("l_quantity").cast("long").alias("q"),
    )
    # r15 (guide §2.5, the qs230 shape): the plain per-flag window put
    # the ~594k-row near-unique price grid in 3 tasks forever —
    # bucketed_prefix_sum spreads the cumulative sum over 1024 range
    # buckets per flag (bit-identical exact integers); per-flag totals
    # aggregate from the raw scan and broadcast (3 rows); the grid is
    # checkpointed because the prefix machinery references it ~4x.
    from cds_etl_spark.operators.prefix import bucketed_prefix_sum

    g = cut_lineage(  # pin: corpus-scale (row per distinct price cent)
        b.groupBy("flag", "c").agg(F.sum("q").alias("q"))
    )
    gp = bucketed_prefix_sum(g, "c", "q", "cq", part_cols=("flag",))
    tn = b.groupBy("flag").agg(F.sum("q").alias("tq"))
    # bcast: GRID per-flag quantity totals, 3 rows
    w = gp.join(F.broadcast(tn), "flag")
    return w.groupBy(F.col("flag").alias("l_returnflag")).agg(
        F.min(
            F.when(F.lit(2) * F.col("cq") >= F.col("tq"), F.col("c"))
        )
        .cast("long")
        .alias("wmedian_cents"),
        F.max("tq").cast("long").alias("total_qty"),
    )


@query(
    "qs184_powerlaw_fit",
    oracle="""
    WITH freq AS (
      SELECT o_custkey, COUNT(*) AS f FROM orders GROUP BY o_custkey),
    fit AS (SELECT f FROM freq WHERE f >= 5)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_fit,
           CAST(5 AS BIGINT) AS fmin,
           ROUND(1.0 + COUNT(*) / SUM(ln(f / 4.5)), 4) AS alpha
    FROM fit
    """,
)
def qs184(spark: SparkSession, sf: str) -> DataFrame:
    """Power-law exponent of the key-frequency distribution — the
    Clauset/Shalizi/Newman continuous-MLE estimate
    α = 1 + n / Σ ln(fᵢ/(fmin−½)) over keys at or above fmin: the
    "is this Zipfian, and how hard" companion to qs175's skew
    diagnosis (Gini says HOW concentrated; α says what LAW the tail
    follows — the number that predicts how much worse skew gets at
    100× the data).

    Determinism: frequencies are exact integers; each ln sees an
    exact small-integer ratio and the ~customer-count-term float sum
    is ROUNDed at 4 dp (the qs84/qs182 ln contract). Plan: one
    narrow groupBy collapses the corpus to keys, then a keys-sized
    aggregate."""
    o = load_table(spark, sf, "orders")
    freq = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("f"))
    fit = freq.filter(F.col("f") >= 5)
    return fit.agg(
        F.count(F.lit(1)).cast("long").alias("n_fit"),
        F.lit(5).cast("long").alias("fmin"),
        F.round(
            F.lit(1.0)
            + F.count(F.lit(1)) / F.sum(F.log(F.col("f") / F.lit(4.5))),
            4,
        ).alias("alpha"),
    )


@query(
    "qs185_rolling_actives",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    days AS (SELECT DISTINCT day FROM ud),
    wau AS (
      SELECT d.day,
             COUNT(DISTINCT u.user_id) AS wau
      FROM days d JOIN ud u
        ON u.day BETWEEN d.day - 6 AND d.day
      GROUP BY d.day),
    dau AS (SELECT day, COUNT(*) AS dau FROM ud GROUP BY day)
    SELECT dau.day, CAST(dau AS BIGINT) AS dau,
           CAST(wau AS BIGINT) AS wau
    FROM dau JOIN wau ON dau.day = wau.day
    """,
)
def qs185(spark: SparkSession, sf: str) -> DataFrame:
    """Rolling active users — DAU and trailing-7-day WAU per day,
    the engagement curve every product dashboard opens with. The
    ORACLE states the naive definition (each day range-joins every
    user-day within its window — O(days × activity)). The Spark
    side inverts it: each (user, day) activity CONTRIBUTES itself
    to the 7 days it keeps active (a ×7 row-local explode), so WAU
    is a plain distinct count per day — the corpus is touched once
    and the explode factor is the window length, not the day count.
    The contribution-explode is the formulation that survives a
    3-year × 100M-user table.

    Determinism: pure exact counts. Only days with activity are
    emitted (both sides agree by construction)."""
    ev = load_table(spark, sf, "events")
    ud = ev.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    contrib = ud.select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("day"), F.date_add(F.col("day"), 6)
            )
        ).alias("day"),
    )
    wau = contrib.groupBy("day").agg(
        F.count_distinct("user_id").alias("wau")
    )
    return (
        dau.join(wau, "day")
        .select(
            "day",
            F.col("dau").cast("long").alias("dau"),
            F.col("wau").cast("long").alias("wau"),
        )
    )


@query(
    "qs186_session_stats",
    oracle="""
    WITH o AS (
      SELECT user_id, event_id, ts,
             CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) > 1800
                    OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS ns
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (
      SELECT user_id, event_id, ts,
             SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS sid
      FROM o),
    per AS (
      SELECT user_id, sid, COUNT(*) AS n_events,
             CAST(FLOOR(epoch(MAX(ts))) AS BIGINT)
               - CAST(FLOOR(epoch(MIN(ts))) AS BIGINT) AS dur_s
      FROM s GROUP BY user_id, sid)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(n_events) AS BIGINT) AS n_events,
           quantile_cont(dur_s, 0.50) AS p50_dur_s,
           quantile_cont(dur_s, 0.95) AS p95_dur_s,
           CAST(MAX(n_events) AS BIGINT) AS max_events
    FROM per
    """,
)
def qs186(spark: SparkSession, sf: str) -> DataFrame:
    """Session-duration statistics — the dashboard row behind every
    engagement report: sessionize (operators/sessions, the qs43
    30-minute-gap semantics), then per-session event counts and
    wall durations, then exact interpolated p50/p95 over the
    sessions. Composes the sessionize operator with the qs44
    exact-percentile physics — operators proving they stack.

    Determinism: session boundaries are the engine-portable
    epoch-double comparison qs43 established; durations are exact
    integer seconds (floored epochs); percentiles interpolate exact
    integers (qs44 contract). Plan: one shuffle on user_id for the
    windows, one sessions-sized aggregate, one tiny final row."""
    ev = load_table(spark, sf, "events")
    out = sessionize(
        ev, "user_id", "ts", gap_seconds=1800, tiebreak="event_id"
    )
    ep = F.floor(F.col("ts").cast("timestamp").cast("double")).cast(
        "long"
    )
    per = out.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.max(ep) - F.min(ep)).alias("dur_s"),
    )
    return per.agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum("n_events").cast("long").alias("n_events"),
        F.percentile(F.col("dur_s"), F.lit(0.50)).alias("p50_dur_s"),
        F.percentile(F.col("dur_s"), F.lit(0.95)).alias("p95_dur_s"),
        F.max("n_events").cast("long").alias("max_events"),
    )


@query(
    "qs187_basket_lift",
    oracle="""
    WITH basket AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey % 50 AS item
      FROM lineitem),
    n AS (SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS n_orders
          FROM basket),
    sup AS (SELECT item, COUNT(*) AS s FROM basket GROUP BY item),
    pairs AS (
      SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS s_ab
      FROM basket a JOIN basket b
        ON a.o = b.o AND a.item < b.item
      GROUP BY 1, 2 HAVING COUNT(*) >= 5),
    lift AS (
      SELECT item_a, item_b, s_ab,
             ROUND(s_ab * 1.0 * (SELECT n_orders FROM n)
                   / (sa.s * 1.0 * sb.s), 4) AS lift
      FROM pairs
      JOIN sup sa ON sa.item = item_a
      JOIN sup sb ON sb.item = item_b)
    SELECT item_a, item_b, CAST(s_ab AS BIGINT) AS support, lift
    FROM lift
    ORDER BY lift DESC, item_a, item_b LIMIT 20
    """,
)
def qs187(spark: SparkSession, sf: str) -> DataFrame:
    """Market-basket lift — the retail association statistic
    lift(a,b) = P(ab)/(P(a)P(b)) over order baskets (parts bucketed
    to 50 item classes so baskets overlap), support-thresholded and
    top-20 by lift: qs155's a-priori co-occurrence with the
    normalization that separates "popular together" from "popular
    separately".

    Determinism: supports are exact integers; each lift is one
    float expression ROUNDed at 4 dp BEFORE the ordered LIMIT
    (round-before-rank, item-pair tie-break). Scale shape: the
    ORACLE states the textbook order-keyed self-join; the Spark
    side instead collects each basket in the query's ONE corpus
    shuffle (collect_set dedups, so the textbook's opening DISTINCT
    is free) and expands pairs ROW-LOCALLY (sorted-set combinations
    via a nested transform); the only pair-shuffle carries the
    ≤ C(50,2) aggregated counts. Measured at sf10: self-join 49 s →
    row-local 17.8 s, and the remaining cost is the irreducible
    corpus shuffle, not the pair algebra."""
    li = load_table(spark, sf, "lineitem")
    # ONE corpus shuffle: collect_set dedups, so the (o, item)
    # DISTINCT the textbook formulation starts with is free here —
    # supports, the order count, and the pair expansion all derive
    # from the basket table row-locally.
    from cds_etl_spark.operators.skew import spread_scan

    # r15 (guide §2.4/§2.5): spread the single-file scan (the partial
    # collect_set ran in one task), checkpoint the basket table (n,
    # sup and the pair expansion re-ran the corpus shuffle 3x), and
    # explode_outer so the implicit size>0 pushdown does not
    # re-evaluate the interpreted nested pair transform per basket
    # (NULL rows = empty/1-item baskets, dropped below).
    baskets = (
        spread_scan(
            li.select(
                F.col("l_orderkey").alias("o"),
                (F.col("l_partkey") % 50).alias("item"),
            ),
            "o",
        )
        .groupBy("o")
        .agg(F.sort_array(F.collect_set("item")).alias("items"))
    )
    baskets = cut_lineage(baskets)  # pin: corpus-scale basket table
    # In-plan scalar (1-row crossJoin), not a driver-side count():
    # the query stays one lazy plan, no extra job.
    n = baskets.agg(F.count(F.lit(1)).alias("n_orders"))
    sup = baskets.select(F.explode("items").alias("item")).groupBy(
        "item"
    ).agg(F.count(F.lit(1)).alias("s"))
    pairs = (
        baskets.select(
            F.explode_outer(
                F.expr(
                    "flatten(transform(items, (x, i) -> "
                    "transform(slice(items, i + 2, size(items)), "
                    "y -> struct(x AS item_a, y AS item_b))))"
                )
            ).alias("p")
        )
        .filter(F.col("p").isNotNull())
        .groupBy(F.col("p.item_a").alias("item_a"),
                 F.col("p.item_b").alias("item_b"))
        .agg(F.count(F.lit(1)).alias("s_ab"))
        .filter(F.col("s_ab") >= 5)
    )
    sa = sup.select(F.col("item").alias("item_a"), F.col("s").alias("sa"))
    sb = sup.select(F.col("item").alias("item_b"), F.col("s").alias("sb"))
    lift = (
        pairs.join(sa, "item_a")
        .join(sb, "item_b")
        .crossJoin(n)
        .select(
            "item_a",
            "item_b",
            F.col("s_ab").cast("long").alias("support"),
            F.round(
                F.col("s_ab") * F.lit(1.0) * F.col("n_orders")
                / (F.col("sa") * F.lit(1.0) * F.col("sb")),
                4,
            ).alias("lift"),
        )
    )
    return lift.orderBy(
        F.col("lift").desc(), "item_a", "item_b"
    ).limit(20)


@query(
    "qs188_time_to_convert",
    oracle="""
    WITH f AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'signup'
                 THEN CAST(FLOOR(epoch(ts)) AS BIGINT) END) AS t0,
             MIN(CASE WHEN event_type = 'purchase'
                 THEN CAST(FLOOR(epoch(ts)) AS BIGINT) END) AS t1
      FROM events GROUP BY user_id),
    conv AS (
      SELECT user_id, t1 - t0 AS lat_s FROM f
      WHERE t0 IS NOT NULL AND t1 IS NOT NULL AND t1 >= t0)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
           quantile_cont(lat_s, 0.50) AS p50_s,
           quantile_cont(lat_s, 0.90) AS p90_s,
           CAST(MIN(lat_s) AS BIGINT) AS min_s,
           CAST(MAX(lat_s) AS BIGINT) AS max_s
    FROM conv
    """,
)
def qs188(spark: SparkSession, sf: str) -> DataFrame:
    """Time-to-convert distribution — latency from a user's FIRST
    signup to their FIRST subsequent purchase, summarized as exact
    interpolated percentiles: the activation-latency row under
    qs99's funnel counts (the funnel says how many convert; this
    says how long conversion takes, which is what pacing and
    payback models consume).

    Determinism: first-event times are conditional MINs in ONE
    per-user aggregate (no ordering, no window), latencies exact
    integer seconds, percentiles the qs44 contract. Users who
    purchased before ever signing up are excluded on both sides
    (t1 ≥ t0). Plan: one shuffle on user_id, then a one-row
    aggregate."""
    ev = load_table(spark, sf, "events")
    ep = F.floor(F.col("ts").cast("timestamp").cast("double")).cast(
        "long"
    )
    f = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", ep)).alias("t0"),
        F.min(F.when(F.col("event_type") == "purchase", ep)).alias(
            "t1"
        ),
    )
    conv = f.filter(
        F.col("t0").isNotNull()
        & F.col("t1").isNotNull()
        & (F.col("t1") >= F.col("t0"))
    ).select((F.col("t1") - F.col("t0")).alias("lat_s"))
    return conv.agg(
        F.count(F.lit(1)).cast("long").alias("n_converted"),
        F.percentile(F.col("lat_s"), F.lit(0.50)).alias("p50_s"),
        F.percentile(F.col("lat_s"), F.lit(0.90)).alias("p90_s"),
        F.min("lat_s").cast("long").alias("min_s"),
        F.max("lat_s").cast("long").alias("max_s"),
    )


@query(
    "qs189_lorenz_deciles",
    oracle="""
    WITH rev AS (
      SELECT o_custkey,
             SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS r
      FROM orders GROUP BY o_custkey),
    deciled AS (
      SELECT r, NTILE(10) OVER (ORDER BY r, o_custkey) AS d
      FROM rev),
    agg AS (
      SELECT d, CAST(COUNT(*) AS BIGINT) AS n_cust,
             CAST(SUM(r) AS BIGINT) AS rev
      FROM deciled GROUP BY d),
    w AS (
      SELECT d, n_cust, rev,
             SUM(rev) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
               AS cum,
             SUM(rev) OVER () AS tot
      FROM agg)
    SELECT d AS decile, n_cust, rev AS rev_cents,
           CAST(ROUND(cum * 1000000.0 / tot) AS BIGINT)
             AS cum_share_e6
    FROM w
    """,
)
def qs189(spark: SparkSession, sf: str) -> DataFrame:
    """Lorenz curve by customer revenue deciles — each decile's
    exact revenue and the cumulative share: the concentration curve
    whose single-number summary is qs175's Gini, kept as 10 rows so
    the answer shows WHERE the concentration lives ("the top decile
    is 38% of revenue" is actionable; 0.41 Gini is not).

    Determinism: revenue in exact integer cents; NTILE over the
    TOTAL order (revenue, custkey) assigns deciles identically on
    both engines; cumulative shares e6-scale one exact ratio per
    decile. Plan: one narrow groupBy to customers, one global sort
    for NTILE (Spark's distributed range sort), windows over the
    10-row aggregate."""
    o = load_table(spark, sf, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    rev = o.groupBy("o_custkey").agg(F.sum(cents).alias("r"))
    deciled = rev.select(
        "r",
        F.ntile(10)
        .over(Window.partitionBy().orderBy("r", "o_custkey"))
        .alias("d"),
    )
    agg = deciled.groupBy("d").agg(
        F.count(F.lit(1)).cast("long").alias("n_cust"),
        F.sum("r").cast("long").alias("rev"),
    )
    w = agg.withColumn(
        "cum",
        F.sum("rev").over(
            Window.partitionBy()
            .orderBy("d")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    ).withColumn("tot", F.sum("rev").over(Window.partitionBy()))
    return w.select(
        F.col("d").alias("decile"),
        "n_cust",
        F.col("rev").alias("rev_cents"),
        F.round(F.col("cum") * F.lit(1000000.0) / F.col("tot"))
        .cast("long")
        .alias("cum_share_e6"),
    )


@query(
    "qs190_dow_seasonality",
    oracle="""
    WITH d AS (
      SELECT dayofweek(o_orderdate) + 1 AS dow,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c
      FROM orders),
    g AS (SELECT dow, CAST(COUNT(*) AS BIGINT) AS n_orders,
                 CAST(SUM(c) AS BIGINT) AS rev
          FROM d GROUP BY dow),
    w AS (SELECT dow, n_orders, rev,
                 SUM(rev) OVER () AS tot_rev,
                 SUM(n_orders) OVER () AS tot_n
          FROM g)
    SELECT dow, n_orders, rev AS rev_cents,
           ROUND((rev * 1.0 / n_orders)
                 / (tot_rev * 1.0 / tot_n), 4) AS index_vs_mean
    FROM w
    """,
)
def qs190(spark: SparkSession, sf: str) -> DataFrame:
    """Day-of-week seasonality index — each weekday's average order
    value relative to the overall average (index 1.0 = typical):
    the first decomposition any forecaster runs before trusting a
    trend. Exercises the documented cross-engine calendar trap:
    DuckDB's dayofweek is Sunday=0 where Spark's is Sunday=1 — the
    oracle adds 1 (the module-header rule, stated as a query).

    Determinism: counts and revenue are exact integers; the index
    divides two exact ratios once, ROUNDed at 4 dp. Plan: scan-fused
    dow projection, a 7-row groupBy, windows over 7 rows."""
    o = load_table(spark, sf, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    g = o.groupBy(F.dayofweek("o_orderdate").alias("dow")).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(cents).cast("long").alias("rev"),
    )
    w = g.withColumn(
        "tot_rev", F.sum("rev").over(Window.partitionBy())
    ).withColumn("tot_n", F.sum("n_orders").over(Window.partitionBy()))
    return w.select(
        "dow",
        "n_orders",
        F.col("rev").alias("rev_cents"),
        F.round(
            (F.col("rev") * F.lit(1.0) / F.col("n_orders"))
            / (F.col("tot_rev") * F.lit(1.0) / F.col("tot_n")),
            4,
        ).alias("index_vs_mean"),
    )


@query(
    "qs191_new_vs_returning",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    first AS (SELECT user_id, MIN(day) AS d0 FROM ud GROUP BY user_id)
    SELECT ud.day,
           CAST(SUM(CASE WHEN ud.day = f.d0 THEN 1 ELSE 0 END)
             AS BIGINT) AS new_users,
           CAST(SUM(CASE WHEN ud.day > f.d0 THEN 1 ELSE 0 END)
             AS BIGINT) AS returning_users
    FROM ud JOIN first f ON ud.user_id = f.user_id
    GROUP BY ud.day
    """,
)
def qs191(spark: SparkSession, sf: str) -> DataFrame:
    """New-vs-returning actives per day — growth accounting's first
    split: of today's active users, who is new (first day ever) and
    who came back. With qs185 (rolling actives) and qs116 (cohort
    retention) this completes the engagement-accounting family.

    Determinism: pure exact counts; a user's first day is a MIN.
    Plan: the user-day table computes once, first-days are one
    narrow aggregate joined back ON THE USER KEY (same shuffle key
    both sides — co-located under bucketed layouts), then a per-day
    count."""
    ev = load_table(spark, sf, "events")
    ud = ev.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    first = ud.groupBy("user_id").agg(F.min("day").alias("d0"))
    return (
        ud.join(first, "user_id")
        .groupBy("day")
        .agg(
            F.sum(
                F.when(F.col("day") == F.col("d0"), 1).otherwise(0)
            )
            .cast("long")
            .alias("new_users"),
            F.sum(
                F.when(F.col("day") > F.col("d0"), 1).otherwise(0)
            )
            .cast("long")
            .alias("returning_users"),
        )
    )


@query(
    "qs192_cohort_ltv",
    oracle="""
    WITH o AS (
      SELECT o_custkey, date_trunc('month', o_orderdate) AS m,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c
      FROM orders),
    cohort AS (SELECT o_custkey, MIN(m) AS m0 FROM o
               GROUP BY o_custkey),
    rev AS (
      SELECT c2.m0 AS cohort_month,
             CAST((year(o.m) - year(c2.m0)) * 12
                  + (month(o.m) - month(c2.m0)) AS INTEGER)
               AS month_offset,
             SUM(o.c) AS rev
      FROM o JOIN cohort c2 ON o.o_custkey = c2.o_custkey
      GROUP BY 1, 2),
    cum AS (
      SELECT cohort_month, month_offset,
             CAST(SUM(rev) OVER (PARTITION BY cohort_month
                 ORDER BY month_offset ROWS UNBOUNDED PRECEDING)
               AS BIGINT) AS cum_rev_cents
      FROM rev)
    SELECT CAST(cohort_month AS DATE) AS cohort_month, month_offset,
           cum_rev_cents
    FROM cum WHERE month_offset <= 6
    """,
)
def qs192(spark: SparkSession, sf: str) -> DataFrame:
    """Cohort LTV curve — cumulative revenue by acquisition cohort
    (first-order month) and months-since-acquisition, the money
    twin of qs116's retention triangle: retention says who comes
    back, LTV says what coming back is worth, and the curve's
    flattening point is the payback horizon.

    Determinism: revenue exact integer cents; month offsets exact
    integer year/month arithmetic (no DATEDIFF unit ambiguity);
    running sums over the (cohorts × offsets)-sized aggregate.
    Plan: one groupBy to customer cohorts joined back on the
    customer key, a narrow (cohort, offset) aggregate, one window."""
    o = load_table(spark, sf, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    base = o.select(
        "o_custkey",
        F.date_trunc("month", F.col("o_orderdate")).alias("m"),
        cents.alias("c"),
    )
    cohort = base.groupBy("o_custkey").agg(F.min("m").alias("m0"))
    rev = (
        base.join(cohort, "o_custkey")
        .groupBy(
            F.col("m0").alias("cohort_month"),
            (
                (F.year("m") - F.year("m0")) * 12
                + (F.month("m") - F.month("m0"))
            )
            .cast("int")
            .alias("month_offset"),
        )
        .agg(F.sum("c").alias("rev"))
    )
    cum = rev.withColumn(
        "cum_rev_cents",
        F.sum("rev")
        .over(
            Window.partitionBy("cohort_month")
            .orderBy("month_offset")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        .cast("long"),
    )
    return cum.filter(F.col("month_offset") <= 6).select(
        F.col("cohort_month").cast("date").alias("cohort_month"),
        "month_offset",
        "cum_rev_cents",
    )


@query(
    "qs193_duplicate_payments",
    oracle="""
    WITH o AS (
      SELECT o_orderkey, o_custkey,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) // 100000
               AS bucket,
             CAST(o_orderdate AS DATE) AS d
      FROM orders)
    SELECT a.o_orderkey AS order_a, b.o_orderkey AS order_b,
           a.o_custkey, a.bucket AS amount_bucket,
           CAST(b.d - a.d AS BIGINT) AS gap_days
    FROM o a JOIN o b
      ON a.o_custkey = b.o_custkey AND a.bucket = b.bucket
     AND a.o_orderkey < b.o_orderkey
     AND b.d >= a.d AND b.d - a.d <= 365
    """,
)
def qs193(spark: SparkSession, sf: str) -> DataFrame:
    """Duplicate-payment screening — pairs of orders by the same
    customer with amounts in the same $1000 bucket within a year:
    the accounts-payable audit shape (double-billed invoices,
    re-submitted charges) every finance team runs. The join key is
    the discipline: blocking on (customer, amount bucket) makes the
    candidate set tiny WITHOUT fuzzy matching, and the date band is
    a residual filter, not a join dimension (qs114's blocking rule
    on a financial shape). Production tightens the bucket to exact
    cents; the synthetic corpus's continuous prices need the coarser
    bucket to exhibit the shape at test scale.

    Determinism: buckets and day gaps are exact integer arithmetic,
    pair order pinned by orderkey. Scale: one shuffle on the
    (custkey, bucket) composite; per-key fan-out is per-customer
    quadratic at worst, near-1 in practice — skew-free by
    construction."""
    o = load_table(spark, sf, "orders")
    base = o.select(
        "o_orderkey",
        "o_custkey",
        F.expr(
            "CAST(ROUND(o_totalprice * 100) AS BIGINT) div 100000"
        ).alias("bucket"),
        F.col("o_orderdate").cast("date").alias("d"),
    )
    a, b = base.alias("a"), base.alias("b")
    return (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.o_orderkey") < F.col("b.o_orderkey"))
            & (F.col("b.d") >= F.col("a.d"))
            & (F.datediff(F.col("b.d"), F.col("a.d")) <= 365),
        )
        .select(
            F.col("a.o_orderkey").alias("order_a"),
            F.col("b.o_orderkey").alias("order_b"),
            F.col("a.o_custkey").alias("o_custkey"),
            F.col("a.bucket").alias("amount_bucket"),
            F.datediff(F.col("b.d"), F.col("a.d"))
            .cast("long")
            .alias("gap_days"),
        )
    )


@query(
    "qs194_ship_sla",
    oracle="""
    WITH lat AS (
      SELECT date_trunc('month', o.o_orderdate) AS m,
             CAST(CAST(l.l_shipdate AS DATE)
                  - CAST(o.o_orderdate AS DATE) AS BIGINT) AS days
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
    SELECT CAST(m AS DATE) AS month,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(ROUND(SUM(CASE WHEN days <= 30 THEN 1 ELSE 0 END)
                      * 1000000.0 / COUNT(*)) AS BIGINT)
             AS within_30d_e6,
           quantile_cont(days, 0.90) AS p90_days
    FROM lat GROUP BY m ORDER BY m
    """,
)
def qs194(spark: SparkSession, sf: str) -> DataFrame:
    """Ship-latency SLA by order month — per month: line count,
    the e6-scaled share shipped within 30 days of ordering, and the
    exact p90 latency. The operations dashboard that turns qs126's
    (TPC-H Q12) late-line counts into a tracked service level with
    a tail percentile.

    Determinism: latencies are exact integer day differences; the
    share is one e6-scaled exact ratio; p90 interpolates exact
    integers (qs44 contract). Plan: the one big join rides the
    o/l_orderkey co-location the bench layouts bucket for; months
    aggregate narrow."""
    # r15 measured and REVERTED (guide §1.5): spreading the
    # single-file lineitem scan made this query WORSE both ways at
    # sf0.1 — a keyed spread added a full exchange the broadcast join
    # never needed (warm 1.8 -> 3.2 s), and a round-robin spread pays
    # the local sort-before-repartition on the whole fact side for a
    # cheap probe+partial-agg map (warm 1.8 -> 2.4-2.8 s). The
    # original one-task scan stands; at real scale the scan has
    # ≥cores splits and parallelizes by itself.
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders")
    lat = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        F.date_trunc("month", F.col("o_orderdate")).alias("m"),
        F.datediff(
            F.col("l_shipdate").cast("date"),
            F.col("o_orderdate").cast("date"),
        )
        .cast("long")
        .alias("days"),
    )
    return (
        lat.groupBy("m")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.round(
                F.sum(F.when(F.col("days") <= 30, 1).otherwise(0))
                * F.lit(1000000.0)
                / F.count(F.lit(1))
            )
            .cast("long")
            .alias("within_30d_e6"),
            F.percentile(F.col("days"), F.lit(0.90)).alias("p90_days"),
        )
        .select(
            F.col("m").cast("date").alias("month"),
            "n_lines",
            "within_30d_e6",
            "p90_days",
        )
        .orderBy("month")
    )


@query(
    "qs195_supplier_activity_islands",
    oracle="""
    WITH months AS (
      SELECT DISTINCT l_suppkey,
             year(l_shipdate) * 12 + month(l_shipdate) AS mi
      FROM lineitem),
    grp AS (
      SELECT l_suppkey, mi,
             mi - ROW_NUMBER() OVER (PARTITION BY l_suppkey
                                     ORDER BY mi) AS island
      FROM months),
    islands AS (
      SELECT l_suppkey, island,
             CAST(COUNT(*) AS BIGINT) AS len
      FROM grp GROUP BY l_suppkey, island)
    SELECT l_suppkey,
           CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(MAX(len) AS BIGINT) AS longest_months,
           CAST(SUM(len) AS BIGINT) AS active_months
    FROM islands GROUP BY l_suppkey
    """,
)
def qs195(spark: SparkSession, sf: str) -> DataFrame:
    """Supplier activity islands — gaps-and-islands over CALENDAR
    months: consecutive active months group into islands (mi −
    row_number is constant within a run), and each supplier reports
    island count, longest streak, and total active months. The
    supply-reliability screen ("how often does this supplier go
    dark"), and the time-axis twin of qs142's token-position span
    merge — the same physics on a different axis.

    Determinism: month indices are exact integers (year·12+month),
    islands are integer arithmetic end to end. Plan: the corpus
    collapses to distinct (supplier, month) — ≤ suppliers × months
    rows — before any window; one shuffle on the supplier key."""
    li = load_table(spark, sf, "lineitem")
    months = li.select(
        "l_suppkey",
        (
            F.year("l_shipdate") * 12 + F.month("l_shipdate")
        ).alias("mi"),
    ).distinct()
    grp = months.withColumn(
        "island",
        F.col("mi")
        - F.row_number().over(
            Window.partitionBy("l_suppkey").orderBy("mi")
        ),
    )
    islands = grp.groupBy("l_suppkey", "island").agg(
        F.count(F.lit(1)).cast("long").alias("len")
    )
    return islands.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_islands"),
        F.max("len").cast("long").alias("longest_months"),
        F.sum("len").cast("long").alias("active_months"),
    )


@query(
    "qs196_embedding_drift",
    oracle="""
    WITH e AS (
      SELECT vec_id % 2 AS half, label,
             generate_subscripts(embedding, 1) AS dim,
             CAST(ROUND(unnest(embedding) * 1000000) AS BIGINT)
               AS v_e6
      FROM embeddings),
    m AS (
      SELECT label, half, dim,
             SUM(v_e6) AS s, COUNT(*) AS n
      FROM e GROUP BY label, half, dim),
    d AS (
      SELECT a.label, a.dim,
             (a.s * 1.0 / a.n) - (b.s * 1.0 / b.n) AS diff,
             a.n AS n0, b.n AS n1
      FROM m a JOIN m b
        ON a.label = b.label AND a.dim = b.dim
       AND a.half = 0 AND b.half = 1)
    SELECT label,
           CAST(MAX(n0) AS BIGINT) AS n0,
           CAST(MAX(n1) AS BIGINT) AS n1,
           ROUND(sqrt(SUM(diff * diff)) / 1000000.0, 4)
             AS centroid_dist
    FROM d GROUP BY label
    """,
)
def qs196(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding centroid drift — per label, the Euclidean distance
    between the mean vectors of two cohorts (vec_id parity standing
    in for "reference vs current batch"): the VECTOR-space drift
    monitor beside qs159's scalar PSI — retrained encoders and
    shifted corpora move centroids long before scalar stats notice.

    Determinism: float32 components scale to EXACT e6 integers, so
    per-(label, half, dim) sums are order-independent bigints and
    each centroid coordinate is ONE exact-integer division; the
    64-term diff² sum is the only float accumulation, with ~1e-17
    relative wobble against a 4 dp ROUND. Plan: one posexplode
    (×dim, map-side) into a (labels × 2 × dims)-row aggregate —
    the corpus never shuffles raw vectors."""
    emb = load_table(spark, sf, "embeddings")
    e = emb.select(
        (F.col("vec_id") % 2).alias("half"),
        "label",
        F.posexplode(F.col("embedding")).alias("dim", "val"),
    ).select(
        "half",
        "label",
        (F.col("dim") + 1).alias("dim"),
        F.round(F.col("val").cast("double") * 1000000, 0)
        .cast("long")
        .alias("v_e6"),
    )
    m = e.groupBy("label", "half", "dim").agg(
        F.sum("v_e6").alias("s"), F.count(F.lit(1)).alias("n")
    )
    a = m.filter(F.col("half") == 0).select(
        "label", "dim", F.col("s").alias("s0"), F.col("n").alias("n0")
    )
    b = m.filter(F.col("half") == 1).select(
        "label", "dim", F.col("s").alias("s1"), F.col("n").alias("n1")
    )
    d = a.join(b, ["label", "dim"]).select(
        "label",
        "n0",
        "n1",
        (
            F.col("s0") * F.lit(1.0) / F.col("n0")
            - F.col("s1") * F.lit(1.0) / F.col("n1")
        ).alias("diff"),
    )
    return d.groupBy("label").agg(
        F.max("n0").cast("long").alias("n0"),
        F.max("n1").cast("long").alias("n1"),
        F.round(
            F.sqrt(F.sum(F.col("diff") * F.col("diff")))
            / F.lit(1000000.0),
            4,
        ).alias("centroid_dist"),
    )


@query(
    "qs197_percent_of_parent",
    oracle="""
    WITH rev AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS c
      FROM orders o
      JOIN customer cu ON o.o_custkey = cu.c_custkey
      JOIN nation n ON cu.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY 1, 2),
    w AS (
      SELECT region, nation, c,
             SUM(c) OVER (PARTITION BY region) AS rc,
             SUM(c) OVER () AS tc
      FROM rev)
    SELECT region, nation, CAST(c AS BIGINT) AS rev_cents,
           CAST(ROUND(c * 1000000.0 / rc) AS BIGINT)
             AS share_of_region_e6,
           CAST(ROUND(rc * 1000000.0 / tc) AS BIGINT)
             AS region_share_e6
    FROM w
    """,
)
def qs197(spark: SparkSession, sf: str) -> DataFrame:
    """Percent-of-parent contribution rollup — each nation's share
    of its region's revenue AND the region's share of the world:
    the two-level drill-down every contribution dashboard renders
    (where qs12's ROLLUP gives the subtotal ROWS, this gives the
    RATIOS between hierarchy levels, which is what the reader
    actually wants).

    Determinism: exact integer cents; both shares are e6-scaled
    exact ratios over window sums of the (region, nation)-sized
    aggregate. Plan: the snowflake joins broadcast their dims
    (nation 25, region 5), one narrow groupBy, two windows over
    ≤ 25 rows."""
    o = load_table(spark, sf, "orders")
    cu = load_table(spark, sf, "customer")
    n = load_table(spark, sf, "nation")
    r = load_table(spark, sf, "region")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    rev = (
        o.join(cu, o["o_custkey"] == cu["c_custkey"])
        .join(n, cu["c_nationkey"] == n["n_nationkey"])
        .join(r, n["n_regionkey"] == r["r_regionkey"])
        .groupBy(
            F.col("r_name").alias("region"),
            F.col("n_name").alias("nation"),
        )
        .agg(F.sum(cents).alias("c"))
    )
    w = rev.withColumn(
        "rc", F.sum("c").over(Window.partitionBy("region"))
    ).withColumn("tc", F.sum("c").over(Window.partitionBy()))
    return w.select(
        "region",
        "nation",
        F.col("c").cast("long").alias("rev_cents"),
        F.round(F.col("c") * F.lit(1000000.0) / F.col("rc"))
        .cast("long")
        .alias("share_of_region_e6"),
        F.round(F.col("rc") * F.lit(1000000.0) / F.col("tc"))
        .cast("long")
        .alias("region_share_e6"),
    )


@query(
    "qs198_rank_movers",
    oracle="""
    WITH rev AS (
      SELECT l_partkey % 200 AS pgrp,
             year(l_shipdate) AS y,
             SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS c
      FROM lineitem WHERE year(l_shipdate) IN (1996, 1997)
      GROUP BY 1, 2),
    ranked AS (
      SELECT pgrp, y,
             CAST(ROW_NUMBER() OVER (PARTITION BY y
                 ORDER BY c DESC, pgrp) AS BIGINT) AS rk
      FROM rev),
    j AS (
      SELECT a.pgrp, a.rk AS rank_1996, b.rk AS rank_1997,
             a.rk - b.rk AS climb
      FROM ranked a JOIN ranked b
        ON a.pgrp = b.pgrp AND a.y = 1996 AND b.y = 1997)
    SELECT pgrp, rank_1996, rank_1997, climb
    FROM j ORDER BY climb DESC, pgrp LIMIT 15
    """,
)
def qs198(spark: SparkSession, sf: str) -> DataFrame:
    """Period-over-period rank movers — the product groups that
    climbed furthest in the revenue ranking between two years: the
    "top movers" board every category manager reads, where absolute
    revenue deltas mislead (a small category doubling jumps 40
    ranks; a giant's 2% wiggle moves none).

    Determinism: revenue exact cents; ranks are ROW_NUMBER over the
    total (revenue DESC, group) order; climb is integer rank
    arithmetic with a total ORDER BY before the LIMIT. Plan: one
    narrow (group, year) aggregate, per-year window, a groups-sized
    self-join on the group key."""
    li = load_table(spark, sf, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    rev = (
        li.filter(F.year("l_shipdate").isin(1996, 1997))
        .groupBy(
            (F.col("l_partkey") % 200).alias("pgrp"),
            F.year("l_shipdate").alias("y"),
        )
        .agg(F.sum(cents).alias("c"))
    )
    ranked = rev.select(
        "pgrp",
        "y",
        F.row_number()
        .over(
            # window: GRID rank movers: 200-group aggregate per year
            Window.partitionBy("y").orderBy(
                F.col("c").desc(), "pgrp"
            )
        )
        .cast("long")
        .alias("rk"),
    )
    a = ranked.filter(F.col("y") == 1996).select(
        "pgrp", F.col("rk").alias("rank_1996")
    )
    b = ranked.filter(F.col("y") == 1997).select(
        "pgrp", F.col("rk").alias("rank_1997")
    )
    return (
        a.join(b, "pgrp")
        .select(
            "pgrp",
            "rank_1996",
            "rank_1997",
            (F.col("rank_1996") - F.col("rank_1997")).alias("climb"),
        )
        .orderBy(F.col("climb").desc(), "pgrp")
        .limit(15)
    )


@query(
    "qs199_scd2_dimension",
    oracle="""
    WITH e AS (
      SELECT user_id, ts, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) AS prev
      FROM events),
    ch AS (
      SELECT user_id, ts, event_type FROM e
      WHERE prev IS NULL OR prev <> event_type)
    SELECT user_id, event_type AS status,
           CAST(ROW_NUMBER() OVER (PARTITION BY user_id
               ORDER BY ts) AS BIGINT) AS version,
           ts AS eff_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS eff_to
    FROM ch
    """,
)
def qs199(spark: SparkSession, sf: str) -> DataFrame:
    """SCD Type-2 dimension build — collapse each user's event
    stream into status validity intervals: one row per status CHANGE
    with [eff_from, eff_to) and a per-user version number, eff_to
    NULL on the current row. The warehouse-dimension companion to
    qs107's MERGE upsert (which keeps only the latest state; this
    keeps the full history the way a dimension table must —
    reference's historical accumulate, congos-5-transformation
    s3_file_transfer.py-era history sheets, does the same job with
    whole-file snapshots).

    Determinism: change detection and versioning both order by
    (ts, event_id) within the user; ts collisions are broken by the
    unique event_id. Plan: one shuffle on user_id serves both
    windows and the change filter — partition-local thereafter, no
    data-sized collect, scales with users at 100 TB."""
    e = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ch = (
        e.withColumn("prev", F.lag("event_type").over(w))
        .filter(
            F.col("prev").isNull()
            | (F.col("prev") != F.col("event_type"))
        )
        .select("user_id", "ts", "event_type")
    )
    w2 = Window.partitionBy("user_id").orderBy("ts")
    return ch.select(
        "user_id",
        F.col("event_type").alias("status"),
        F.row_number().over(w2).cast("long").alias("version"),
        F.col("ts").alias("eff_from"),
        F.lead("ts").over(w2).alias("eff_to"),
    )


@query(
    "qs200_proration_cents",
    oracle="""
    WITH li AS (
      SELECT l_orderkey, l_linenumber,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS w
      FROM lineitem WHERE l_orderkey % 97 = 0),
    o AS (
      SELECT o_orderkey,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS t
      FROM orders WHERE o_orderkey % 97 = 0),
    base AS (
      SELECT li.l_orderkey, li.l_linenumber, o.t, li.w,
             SUM(li.w) OVER (PARTITION BY li.l_orderkey) AS tw
      FROM li JOIN o ON li.l_orderkey = o.o_orderkey),
    fl AS (
      SELECT l_orderkey, l_linenumber,
             (t * w) // tw AS fl_cents,
             t * w - ((t * w) // tw) * tw AS rem
      FROM base),
    rk AS (
      SELECT l_orderkey, l_linenumber, fl_cents,
             ROW_NUMBER() OVER (PARTITION BY l_orderkey
                 ORDER BY rem DESC, l_linenumber) AS rk,
             (SELECT t FROM o WHERE o.o_orderkey = fl.l_orderkey)
               - SUM(fl_cents) OVER (PARTITION BY l_orderkey) AS k
      FROM fl)
    SELECT l_orderkey, l_linenumber,
           CAST(fl_cents + CASE WHEN rk <= k THEN 1 ELSE 0 END
                AS BIGINT) AS alloc_cents
    FROM rk
    """,
)
def qs200(spark: SparkSession, sf: str) -> DataFrame:
    """Largest-remainder proration — allocate each order's header
    total across its line items proportionally to extended price, in
    EXACT integer cents that sum back to the header total: floor the
    proportional shares, then hand the leftover k cents to the k
    largest remainders (ties to the lowest line number). The
    finance-ETL allocation kernel (revenue splits, tax spreading,
    discount pro-ration) that naive double multiplication gets wrong
    by a cent per order.

    Determinism: all-integer arithmetic — `(t*w) div tw` floors
    exactly (t·w ≤ ~5·10¹⁴, inside BIGINT), remainders are exact
    integers, the +1 ranking is total-ordered. Plan: one shuffle on
    l_orderkey serves the weight-sum window, the remainder ranking
    and the header join (orders side aggregated to (key, t) first);
    the modulo filter is partition-prunable; per-order group sizes
    are bounded (≤ 7 lines), so no skew at 100 TB.

    Note: (l_orderkey, l_linenumber) is NOT unique in the synthetic
    lineitem; rows tying on (rem, l_linenumber) are INDISTINGUISHABLE
    in the output columns, so whichever dup row ranks first, the
    output multiset — and hence the order-insensitive driver hash —
    is identical."""
    li = load_table(spark, sf, "lineitem").filter(
        F.col("l_orderkey") % 97 == 0
    )
    o = load_table(spark, sf, "orders").filter(
        F.col("o_orderkey") % 97 == 0
    )
    li = li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice") * 100, 0)
        .cast("long")
        .alias("w"),
    )
    o = o.select(
        F.col("o_orderkey").alias("l_orderkey"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("t"),
    )
    j = li.join(o, "l_orderkey").withColumn(
        "tw", F.sum("w").over(Window.partitionBy("l_orderkey"))
    )
    fl = j.select(
        "l_orderkey",
        "l_linenumber",
        "t",
        F.expr("(t * w) div tw").alias("fl_cents"),
        F.expr("t * w - ((t * w) div tw) * tw").alias("rem"),
    )
    wk = Window.partitionBy("l_orderkey")
    rk = fl.select(
        "l_orderkey",
        "l_linenumber",
        "fl_cents",
        F.row_number()
        .over(wk.orderBy(F.col("rem").desc(), "l_linenumber"))
        .alias("rk"),
        (F.col("t") - F.sum("fl_cents").over(wk)).alias("k"),
    )
    return rk.select(
        "l_orderkey",
        "l_linenumber",
        (
            F.col("fl_cents")
            + F.when(F.col("rk") <= F.col("k"), 1).otherwise(0)
        )
        .cast("long")
        .alias("alloc_cents"),
    )


@query(
    "qs201_date_spine_fill",
    oracle="""
    WITH spine AS (
      SELECT CAST(unnest(generate_series(DATE '1996-01-01',
                 DATE '1996-06-30', INTERVAL 1 DAY)) AS DATE) AS d),
    grps AS (SELECT unnest(range(0, 20)) AS grp),
    daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d, o_custkey % 20 AS grp,
             SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS c
      FROM orders
      WHERE o_orderdate >= DATE '1996-01-01'
        AND o_orderdate < DATE '1996-07-01'
      GROUP BY 1, 2)
    SELECT s.d, g.grp,
           CAST(COALESCE(daily.c, 0) AS BIGINT) AS day_cents,
           CAST(SUM(COALESCE(daily.c, 0)) OVER (PARTITION BY g.grp
               ORDER BY s.d) AS BIGINT) AS cum_cents
    FROM spine s CROSS JOIN grps g
    LEFT JOIN daily ON daily.d = s.d AND daily.grp = g.grp
    """,
)
def qs201(spark: SparkSession, sf: str) -> DataFrame:
    """Date-spine densification — materialize EVERY (day, group)
    cell of H1-1996 for 20 customer groups, zero-filling days with
    no orders, then a running total over the dense series. The
    gap-filling pass every time-series chart and every
    window-over-time calculation needs first (a rolling average over
    a SPARSE series silently shortens its window; qs48's range
    frame sidesteps it with time-range frames — this materializes
    the dense grid those charts actually consume).

    Determinism: exact integer cents, zero-fill is exact, the
    cumulative window orders by the unique (grp, day) grid.
    Plan: the spine is generated (sequence+explode crossed with a
    20-row broadcast — no scan), the fact side aggregates BEFORE
    the left join so the join carries one row per (day, grp), and
    the cumulative window shuffles the 3 640-row grid once. At
    100 TB the spine stays metadata-sized: it grows with the
    calendar, not the data."""
    o = load_table(spark, sf, "orders")
    spine = spark.sql(
        "SELECT explode(sequence(DATE '1996-01-01',"
        " DATE '1996-06-30', interval 1 day)) AS d"
    )
    grps = spark.range(0, 20).select(F.col("id").alias("grp"))
    daily = (
        o.filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
            & (F.col("o_orderdate") < F.lit("1996-07-01").cast("date"))
        )
        .groupBy(
            F.col("o_orderdate").cast("date").alias("d"),
            (F.col("o_custkey") % 20).alias("grp"),
        )
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100, 0).cast("long")
            ).alias("c")
        )
    )
    # bcast: GRID custkey%20 group list, 20 rows
    grid = spine.crossJoin(F.broadcast(grps)).join(
        daily, ["d", "grp"], "left"
    )
    return grid.select(
        "d",
        "grp",
        F.coalesce("c", F.lit(0)).cast("long").alias("day_cents"),
        F.sum(F.coalesce("c", F.lit(0)))
        # window: GRID date-spine fill: day grid per group
        .over(Window.partitionBy("grp").orderBy("d"))
        .cast("long")
        .alias("cum_cents"),
    )


@query(
    "qs202_group_ols_trend",
    oracle="""
    WITH m AS (
      SELECT l_partkey % 100 AS grp,
             (year(l_shipdate) - 1995) * 12 + month(l_shipdate) AS t,
             SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS y
      FROM lineitem GROUP BY 1, 2),
    s AS (
      SELECT grp, COUNT(*) AS n, SUM(t) AS st, SUM(y) AS sy,
             SUM(t * t) AS stt, SUM(t * y) AS sty
      FROM m GROUP BY 1)
    SELECT grp, CAST(n AS BIGINT) AS n_months,
           ROUND(CAST(n * sty - st * sy AS DOUBLE)
               / CAST(n * stt - st * st AS DOUBLE), 4) AS slope,
           ROUND(CAST(sy * stt - st * sty AS DOUBLE)
               / CAST(n * stt - st * st AS DOUBLE), 4) AS intercept
    FROM s
    """,
)
def qs202(spark: SparkSession, sf: str) -> DataFrame:
    """Per-group OLS revenue trend — closed-form least-squares
    slope and intercept of monthly revenue against a month index,
    one regression per part group, entirely from five distributive
    sums (n, Σt, Σy, Σt², Σty). The "is this product line growing
    and how fast" fit — qs184's power-law MLE characterizes a
    DISTRIBUTION's tail; this fits a TREND per series, the other
    regression every dashboard ships.

    Determinism: the sums are exact BIGINTs (Σty ≤ ~10¹⁴), both
    closed-form numerators/denominators are exact-integer-valued,
    and the single double division of exactly-representable
    integers is the same IEEE operation in both engines; ROUND(,4)
    guards the printout. Plan: two narrow partial+final hash
    aggregates (month grid then group), no window, no join — the
    canonical map-side-combine shape that holds at any scale."""
    li = load_table(spark, sf, "lineitem")
    m = li.groupBy(
        (F.col("l_partkey") % 100).alias("grp"),
        (
            (F.year("l_shipdate") - 1995) * 12
            + F.month("l_shipdate")
        ).alias("t"),
    ).agg(
        F.sum(
            F.round(F.col("l_extendedprice") * 100, 0).cast("long")
        ).alias("y")
    )
    s = m.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("t").alias("st"),
        F.sum("y").alias("sy"),
        F.sum(F.col("t") * F.col("t")).alias("stt"),
        F.sum(F.col("t") * F.col("y")).alias("sty"),
    )
    den = (F.col("n") * F.col("stt") - F.col("st") * F.col("st")).cast(
        "double"
    )
    return s.select(
        "grp",
        F.col("n").cast("long").alias("n_months"),
        F.round(
            (F.col("n") * F.col("sty") - F.col("st") * F.col("sy")).cast(
                "double"
            )
            / den,
            4,
        ).alias("slope"),
        F.round(
            (
                F.col("sy") * F.col("stt") - F.col("st") * F.col("sty")
            ).cast("double")
            / den,
            4,
        ).alias("intercept"),
    )


@query(
    "qs203_funnel_conversion",
    oracle="""
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY 1),
    s2 AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
    s3 AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1),
    c AS (
      SELECT (SELECT COUNT(*) FROM s1) AS c1,
             (SELECT COUNT(*) FROM s2) AS c2,
             (SELECT COUNT(*) FROM s3) AS c3)
    SELECT * FROM (
      SELECT 1 AS step, 'view' AS funnel, CAST(c1 AS BIGINT) AS users,
             CAST(1000000 AS BIGINT) AS conv_from_prev_e6 FROM c
      UNION ALL
      SELECT 2, 'view>click', CAST(c2 AS BIGINT),
             CAST(ROUND(c2 * 1000000.0 / NULLIF(c1, 0)) AS BIGINT)
      FROM c
      UNION ALL
      SELECT 3, 'view>click>purchase', CAST(c3 AS BIGINT),
             CAST(ROUND(c3 * 1000000.0 / NULLIF(c2, 0)) AS BIGINT)
      FROM c)
    """,
)
def qs203(spark: SparkSession, sf: str) -> DataFrame:
    """Strict-order funnel conversion — users who viewed, THEN
    clicked after their first view, THEN purchased after that first
    qualifying click, with step-over-step conversion rates. The
    product-analytics staple qs123/qs164 circle around (transitions
    and frequent sequences count ADJACENT pairs anywhere; a funnel
    anchors each step after the previous step's FIRST qualifying
    time — the semantics Amplitude/GA call "strict order").

    Determinism: step times are MINs of distinct timestamps;
    conversion ratios are e6-scaled rounds of exact counts. Plan:
    three successive per-user conditional aggregates, each a narrow
    (user, min-ts) shuffle joined user-to-user — no window over the
    raw stream, no collect; the three single-row counts cross-join
    driver-sized. User-partitioned end to end, so it scales with
    the user dimension at 100 TB."""
    e = load_table(spark, sf, "events")
    s1 = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        e.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        e.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    c = (
        s1.agg(F.count(F.lit(1)).alias("c1"))
        .crossJoin(s2.agg(F.count(F.lit(1)).alias("c2")))
        .crossJoin(s3.agg(F.count(F.lit(1)).alias("c3")))
    )
    return c.selectExpr(
        """stack(3,
             1L, 'view', CAST(c1 AS LONG), 1000000L,
             2L, 'view>click', CAST(c2 AS LONG),
               CAST(ROUND(c2 * 1000000.0 / NULLIF(c1, 0)) AS LONG),
             3L, 'view>click>purchase', CAST(c3 AS LONG),
               CAST(ROUND(c3 * 1000000.0 / NULLIF(c2, 0)) AS LONG)
           ) AS (step, funnel, users, conv_from_prev_e6)"""
    )


@query(
    "qs204_autocorrelation",
    oracle="""
    WITH m AS (
      SELECT l_suppkey % 10 AS grp,
             (year(l_shipdate) - 1995) * 12 + month(l_shipdate) AS t,
             SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
               // 10000 AS y
      FROM lineitem GROUP BY 1, 2),
    lagged AS (
      SELECT grp, t, y,
             lag(y, 1) OVER (PARTITION BY grp ORDER BY t) AS y1,
             lag(y, 2) OVER (PARTITION BY grp ORDER BY t) AS y2
      FROM m),
    s AS (
      SELECT grp, COUNT(*) AS n, SUM(y) AS sy, SUM(y * y) AS syy,
             COUNT(y1) AS n1, SUM(y * y1) AS p1,
             SUM(CASE WHEN y1 IS NOT NULL THEN y END) AS a1,
             SUM(y1) AS b1,
             COUNT(y2) AS n2, SUM(y * y2) AS p2,
             SUM(CASE WHEN y2 IS NOT NULL THEN y END) AS a2,
             SUM(y2) AS b2
      FROM lagged GROUP BY grp)
    SELECT grp, CAST(n AS BIGINT) AS n_months,
           ROUND(CAST(n * n * p1 - n * sy * (a1 + b1) + n1 * sy * sy
                      AS DOUBLE)
               / CAST(n * n * syy - 2 * n * sy * sy + n * sy * sy
                      AS DOUBLE), 4) AS acf1,
           ROUND(CAST(n * n * p2 - n * sy * (a2 + b2) + n2 * sy * sy
                      AS DOUBLE)
               / CAST(n * n * syy - 2 * n * sy * sy + n * sy * sy
                      AS DOUBLE), 4) AS acf2
    FROM s
    """,
)
def qs204(spark: SparkSession, sf: str) -> DataFrame:
    """Lag-1/lag-2 autocorrelation of each supplier group's monthly
    revenue series — the "is this series momentum-driven or mean-
    reverting" diagnostic that decides whether qs173's EWMA or
    qs190's seasonal profile is the right model. ACF here is the
    observation-lag variant (lag over OBSERVED months ordered by
    month index; the full-series mean centers both factors), stated
    with every term exact-integer: multiplying the centered sum by
    n² gives n²Σyᵗyᵗ⁻ᵏ − n·Sy·(Σ'yᵗ + Σ'yᵗ⁻ᵏ) + nₖ·Sy², and the
    denominator n²Σy² − n·Sy² (the k=0 case), so the single double
    division is over exactly-representable integers (y is scaled to
    10⁴-cent units to keep every product inside BIGINT).

    Plan: one (grp, month) hash aggregate, one window on the tiny
    month grid, one final hash aggregate — the raw scan never
    shuffles twice, and the window input is calendar-sized, not
    data-sized."""
    li = load_table(spark, sf, "lineitem")
    m = li.groupBy(
        (F.col("l_suppkey") % 10).alias("grp"),
        (
            (F.year("l_shipdate") - 1995) * 12
            + F.month("l_shipdate")
        ).alias("t"),
    ).agg(
        F.expr(
            "sum(CAST(ROUND(l_extendedprice * 100, 0) AS LONG))"
            " div 10000"
        ).alias("y")
    )
    # window: GRID autocorrelation: 10x36 month grid
    w = Window.partitionBy("grp").orderBy("t")
    lagged = m.select(
        "grp",
        "y",
        F.lag("y", 1).over(w).alias("y1"),
        F.lag("y", 2).over(w).alias("y2"),
    )
    s = lagged.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("sy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.count("y1").alias("n1"),
        F.sum(F.col("y") * F.col("y1")).alias("p1"),
        F.sum(F.when(F.col("y1").isNotNull(), F.col("y"))).alias("a1"),
        F.sum("y1").alias("b1"),
        F.count("y2").alias("n2"),
        F.sum(F.col("y") * F.col("y2")).alias("p2"),
        F.sum(F.when(F.col("y2").isNotNull(), F.col("y"))).alias("a2"),
        F.sum("y2").alias("b2"),
    )
    den = (
        F.col("n") * F.col("n") * F.col("syy")
        - F.col("n") * F.col("sy") * F.col("sy")
    ).cast("double")

    def acf(nk, pk, ak, bk):
        num = (
            F.col("n") * F.col("n") * F.col(pk)
            - F.col("n") * F.col("sy") * (F.col(ak) + F.col(bk))
            + F.col(nk) * F.col("sy") * F.col("sy")
        ).cast("double")
        return F.round(num / den, 4)

    return s.select(
        "grp",
        F.col("n").cast("long").alias("n_months"),
        acf("n1", "p1", "a1", "b1").alias("acf1"),
        acf("n2", "p2", "a2", "b2").alias("acf2"),
    )


@query(
    "qs205_theilsen_slope",
    oracle="""
    WITH m AS (
      SELECT l_partkey % 50 AS grp,
             (year(l_shipdate) - 1995) * 12 + month(l_shipdate) AS t,
             SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
               // 10000 AS y
      FROM lineitem GROUP BY 1, 2),
    pairs AS (
      SELECT a.grp,
             ((b.y - a.y) * 1000000) // (b.t - a.t) AS slope_e6
      FROM m a JOIN m b ON a.grp = b.grp AND b.t > a.t),
    g AS (
      SELECT grp, slope_e6, COUNT(*) AS c FROM pairs GROUP BY 1, 2),
    w AS (
      SELECT grp, slope_e6,
             SUM(c) OVER (PARTITION BY grp ORDER BY slope_e6
                          ROWS UNBOUNDED PRECEDING) AS cc,
             SUM(c) OVER (PARTITION BY grp) AS tc
      FROM g)
    SELECT grp,
           CAST(MIN(CASE WHEN 2 * cc >= tc THEN slope_e6 END)
                AS BIGINT) AS theil_sen_e6,
           CAST(MAX(tc) AS BIGINT) AS n_pairs
    FROM w GROUP BY grp
    """,
)
def qs205(spark: SparkSession, sf: str) -> DataFrame:
    """Theil–Sen robust trend — the lower median of all pairwise
    slopes of each part group's monthly revenue series: the
    regression that shrugs off the outlier months that drag qs202's
    OLS line around (breakdown point 29% vs OLS's 0%). Slopes are
    e6-scaled floor divisions, so the rational ordering is exact
    integer ordering, and the median is the qs183 lower-median
    (first slope where cumulative pair count reaches half) — no
    doubles anywhere.

    Plan: the pairwise self-join is keyed by grp and the per-group
    series is CALENDAR-sized (≤ ~80 months → ≤ 3 160 pairs per
    group regardless of data volume), so the quadratic blowup is
    bounded by time, not rows — the same bounded-block argument as
    qs162's interval bins. One narrow aggregate feeds the join;
    the median windows run over (grp, slope)-distinct rows."""
    from cds_etl_spark.operators.skew import spread_scan

    # r15 (guide §2.4/§2.5): spread the single-file scan (the partial
    # aggregate ran in one task) and pin the monthly series — the
    # a/b pair sides each re-ran the full scan + aggregate. m is
    # ≤ 50 groups × calendar months, constant-bounded.
    li = spread_scan(
        load_table(spark, sf, "lineitem").select(
            "l_partkey", "l_shipdate", "l_extendedprice"
        )
    )
    m = li.groupBy(
        (F.col("l_partkey") % 50).alias("grp"),
        (
            (F.year("l_shipdate") - 1995) * 12
            + F.month("l_shipdate")
        ).alias("t"),
    ).agg(
        F.expr(
            "sum(CAST(ROUND(l_extendedprice * 100, 0) AS LONG))"
            " div 10000"
        ).alias("y")
    )
    # pin: bounded (≤ |grp|·84 monthly rows) — localCheckpoint IS the
    # bounded policy (operators/pin.py).
    m = m.localCheckpoint(eager=True)
    a = m.select("grp", F.col("t").alias("ta"), F.col("y").alias("ya"))
    b = m.select("grp", F.col("t").alias("tb"), F.col("y").alias("yb"))
    pairs = a.join(b, "grp").filter(F.col("tb") > F.col("ta")).select(
        "grp",
        F.expr("((yb - ya) * 1000000) div (tb - ta)").alias(
            "slope_e6"
        ),
    )
    g = pairs.groupBy("grp", "slope_e6").agg(
        F.count(F.lit(1)).alias("c")
    )
    wc = (
        Window.partitionBy("grp")
        .orderBy("slope_e6")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w = g.select(
        "grp",
        "slope_e6",
        F.sum("c").over(wc).alias("cc"),
        F.sum("c").over(Window.partitionBy("grp")).alias("tc"),
    )
    return w.groupBy("grp").agg(
        F.min(
            F.when(2 * F.col("cc") >= F.col("tc"), F.col("slope_e6"))
        )
        .cast("long")
        .alias("theil_sen_e6"),
        F.max("tc").cast("long").alias("n_pairs"),
    )


@query(
    "qs206_grid_spatial_pairs",
    oracle="""
    WITH pts AS (
      SELECT c_custkey AS id,
             (c_custkey * 48271) % 1800000 - 900000 AS lat,
             (c_custkey * 69621) % 3600000 - 1800000 AS lon
      FROM customer),
    cells AS (
      SELECT id, lat, lon,
             (lat + 900000) // 50000 AS cx,
             (lon + 1800000) // 50000 AS cy
      FROM pts),
    cand AS (
      SELECT a.id AS id_a, b.id AS id_b,
             (a.lat - b.lat) * (a.lat - b.lat)
               + (a.lon - b.lon) * (a.lon - b.lon) AS d2
      FROM cells a
      JOIN cells b
        ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
       AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
       AND a.id < b.id)
    SELECT id_a, id_b, CAST(d2 AS BIGINT) AS d2
    FROM cand WHERE d2 <= 2500000000
    """,
)
def qs206(spark: SparkSession, sf: str) -> DataFrame:
    """Grid-blocked spatial self-join — all point pairs within a
    5-degree planar radius, found via uniform-grid blocking: bucket
    points into 5°×5° cells, join each point against its 3×3 cell
    neighborhood (the only cells that can hold a match), refine
    with the exact distance predicate. The geospatial join kernel
    (DBSCAN neighborhoods, store-coverage overlap, proximity
    dedup), same candidate-then-refine physics as qs55's LSH bands
    and qs163's prefix filter — blocking bounds the quadratic to
    cell-local pairs. Coordinates are synthesized deterministically
    from the key (LCG-style multipliers, e4-scaled integer degrees)
    so the operator is testable on the shipped schema.

    Determinism: all-integer coords, cells, and squared distances;
    radius² = (5·10⁴·10)² in e4 units. Plan: Spark explodes the 9
    neighbor offsets on the build side so the join is a pure EQUI
    join on (cx, cy) — hash-partitionable, no range-condition
    nested loop; the refine predicate drops non-matches before the
    pair ever shuffles again. Cell occupancy is ~uniform by LCG
    mixing, so no hot cell at 100 TB."""
    cu = load_table(spark, sf, "customer")
    pts = cu.select(
        F.col("c_custkey").alias("id"),
        ((F.col("c_custkey") * 48271) % 1800000 - 900000).alias("lat"),
        ((F.col("c_custkey") * 69621) % 3600000 - 1800000).alias(
            "lon"
        ),
    )
    cells = pts.select(
        "id",
        "lat",
        "lon",
        F.expr("(lat + 900000) div 50000").alias("cx"),
        F.expr("(lon + 1800000) div 50000").alias("cy"),
    )
    # Build side replicated into its 9 neighbor cells -> equi join.
    off = F.expr(
        "explode(arrays_zip(array(-1,-1,-1,0,0,0,1,1,1),"
        " array(-1,0,1,-1,0,1,-1,0,1)))"
    )
    b = (
        cells.select(
            F.col("id").alias("id_b"),
            F.col("lat").alias("lat_b"),
            F.col("lon").alias("lon_b"),
            "cx",
            "cy",
            off.alias("o"),
        )
        .select(
            "id_b",
            "lat_b",
            "lon_b",
            (F.col("cx") + F.col("o.0")).alias("cx"),
            (F.col("cy") + F.col("o.1")).alias("cy"),
        )
    )
    # The candidate join multiplies the probe side ~(9 x cell
    # occupancy); a single-file scan would otherwise feed the whole
    # expansion through ONE task (the broadcast join keeps the probe
    # side's scan partitioning). Redistribute on the join key BEFORE
    # the expansion — with an EXPLICIT partition count: AQE coalesces
    # a bare repartition(keys) back to one partition here (the probe
    # is only a few MB pre-expansion; the optimizer cannot see the
    # 500x blowup inside the join), and explicit-count repartitions
    # are exempt from coalescing.
    a = cells.select(
        F.col("id").alias("id_a"),
        F.col("lat").alias("lat_a"),
        F.col("lon").alias("lon_a"),
        "cx",
        "cy",
    ).repartition(
        spark.sparkContext.defaultParallelism, "cx", "cy"
    )
    d2 = (F.col("lat_a") - F.col("lat_b")) * (
        F.col("lat_a") - F.col("lat_b")
    ) + (F.col("lon_a") - F.col("lon_b")) * (
        F.col("lon_a") - F.col("lon_b")
    )
    return (
        a.join(b, ["cx", "cy"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", d2.cast("long").alias("d2"))
        .filter(F.col("d2") <= 2500000000)
    )




# ---------------------------------------------------------------------------
# qs296 restricted mean survival time (area under the KM curve)
# ---------------------------------------------------------------------------


@query(
    "qs296_rmst",
    oracle="""
    WITH entry AS (
      SELECT MIN(CAST(ts AS DATE)) AS e FROM events),
    deaths AS (
      SELECT datediff('day', MAX(entry.e), MAX(CAST(ts AS DATE)))
        AS t
      FROM events CROSS JOIN entry GROUP BY user_id),
    d AS (SELECT t, COUNT(*) AS deaths FROM deaths GROUP BY t),
    tot AS (SELECT CAST(SUM(deaths) AS BIGINT) AS total FROM d),
    risk AS (
      SELECT t, deaths,
             (SELECT total FROM tot)
               - COALESCE(SUM(deaths) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) AS at_risk
      FROM d),
    km AS (
      SELECT t, deaths, at_risk,
             CASE WHEN at_risk = deaths THEN 0.0 ELSE
               exp(SUM(ln(CASE WHEN deaths = at_risk THEN 1.0
                          ELSE 1.0 - deaths * 1.0 / at_risk END))
                   OVER (ORDER BY t ROWS UNBOUNDED PRECEDING))
             END AS s,
             LEAD(t, 1, 21) OVER (ORDER BY t) AS tn
      FROM risk),
    seg AS (
      SELECT SUM(s * GREATEST(0,
               LEAST(tn, 21) - LEAST(t, 21))) AS area_after,
             MIN(LEAST(t, 21)) AS first_seg
      FROM km)
    SELECT CAST(21 AS BIGINT) AS tau_days,
           (SELECT total FROM tot) AS n_users,
           ROUND(first_seg + area_after, 4) AS rmst_days,
           ROUND(COALESCE((SELECT MAX(s) FROM km
             WHERE t = (SELECT MAX(t) FROM km WHERE t <= 21)), 1.0),
             4) AS surv_at_tau
    FROM seg
    """,
)
def qs296(spark: SparkSession, sf: str) -> DataFrame:
    """RESTRICTED MEAN SURVIVAL TIME at τ = 21 days: the area under
    qs182's Kaplan–Meier churn curve from study entry (the corpus's
    first event day) to τ — "average days retained in the first
    three weeks", the clinically-standard effect scale that stays
    defined when medians don't and hazards cross (the number
    qs269's log-rank p-value cannot give you).

    Determinism: death times are exact day integers from two narrow
    aggregates; S(t) is the qs182 exp(Σln) contract over exact
    ratios with the all-dead step pinned to 0; segment widths are
    exact integer clamps, the area one days-grid-sized sum, ROUND 4.
    Plan: corpus → users → day grid; every window runs over ≤ #days
    rows."""
    ev = load_table(spark, sf, "events")
    tau = 21
    entry = ev.agg(F.min(F.col("ts").cast("date")).alias("e"))
    deaths = (
        ev.crossJoin(entry)
        .groupBy("user_id")
        .agg(
            F.datediff(
                F.max(F.col("ts").cast("date")), F.first("e")
            ).alias("t")
        )
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("deaths"))
    )
    wall = Window.partitionBy()
    wprev = wall.orderBy("t").rowsBetween(
        Window.unboundedPreceding, -1
    )
    wcum = wall.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    risk = deaths.withColumn(
        "at_risk",
        F.sum("deaths").over(wall)
        - F.coalesce(F.sum("deaths").over(wprev), F.lit(0)),
    )
    km = risk.withColumn(
        "s",
        F.when(F.col("at_risk") == F.col("deaths"), F.lit(0.0)).otherwise(
            F.exp(
                F.sum(
                    F.log(
                        F.when(
                            F.col("deaths") == F.col("at_risk"),
                            F.lit(1.0),
                        ).otherwise(
                            F.lit(1.0)
                            - F.col("deaths")
                            * F.lit(1.0)
                            / F.col("at_risk")
                        )
                    )
                ).over(wcum)
            )
        ),
    ).withColumn(
        "tn", F.lead("t", 1, tau).over(wall.orderBy("t"))
    )
    seg = km.agg(
        F.sum(
            F.col("s")
            * F.greatest(
                F.lit(0),
                F.least(F.col("tn"), F.lit(tau))
                - F.least(F.col("t"), F.lit(tau)),
            )
        ).alias("area_after"),
        F.min(F.least(F.col("t"), F.lit(tau))).alias("first_seg"),
    )
    tot = deaths.agg(F.sum("deaths").cast("long").alias("n_users"))
    # Aggregate, not limit: an empty filter (no death time ≤ τ yet)
    # must still yield ONE row (NULL → coalesce 1.0), matching the
    # oracle's scalar subquery.
    stau = (
        km.filter(F.col("t") <= tau)
        .agg(F.max_by("s", "t").alias("s_tau"))
    )
    return (
        seg.crossJoin(tot)
        .crossJoin(stau)
        .select(
            F.lit(tau).cast("long").alias("tau_days"),
            "n_users",
            F.round(F.col("first_seg") + F.col("area_after"), 4).alias(
                "rmst_days"
            ),
            F.round(F.coalesce(F.col("s_tau"), F.lit(1.0)), 4).alias(
                "surv_at_tau"
            ),
        )
    )


# ---------------------------------------------------------------------------
# qs297 negative-binomial method-of-moments fit on per-user activity
# ---------------------------------------------------------------------------


@query(
    "qs297_negbinomial_fit",
    oracle="""
    WITH u AS (
      SELECT user_id, COUNT(*) AS k FROM events GROUP BY user_id),
    m AS (
      SELECT COUNT(*) AS n, SUM(k) AS s,
             SUM(CAST(k AS HUGEINT) * k) AS s2
      FROM u),
    v AS (
      SELECT n, CAST(s AS DOUBLE) / n AS mu,
             (CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * s / n)
               / (n - 1) AS var
      FROM m)
    SELECT CAST(n AS BIGINT) AS n_users,
           ROUND(mu, 4) AS mean_events,
           ROUND(var, 4) AS var_events,
           ROUND(var / mu, 4) AS dispersion_index,
           ROUND(CASE WHEN var > mu THEN mu * mu / (var - mu)
                      ELSE 0.0 END, 4) AS nb_r,
           ROUND(CASE WHEN var > mu THEN mu / var
                      ELSE 1.0 END, 4) AS nb_p
    FROM v
    """,
)
def qs297(spark: SparkSession, sf: str) -> DataFrame:
    """NEGATIVE-BINOMIAL method-of-moments fit on per-user event
    counts: r = μ²/(σ²−μ), p = μ/σ² — the overdispersed count model
    behind user-activity heterogeneity (a Poisson user base has
    dispersion ≈ 1; real ones don't), completing qs284's Poisson
    GOF with the model you reach for when its dispersion index
    rejects. Equidispersed corpora degenerate to (r=0, p=1)
    sentinels by the shared CASE.

    Determinism: per-user counts and (n, Σk, Σk²) are exact
    integers; μ/σ²/r/p are one fixed one-row double tree, ROUND 4.
    Plan: one user-keyed count collapses the corpus; the epilogue
    is one row."""
    ev = load_table(spark, sf, "events")
    u = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("k"))
    m = u.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").alias("s"),
        F.sum(
            F.col("k").cast("decimal(38,0)") * F.col("k")
        ).alias("s2"),
    )
    mu = F.col("s").cast("double") / F.col("n")
    var = (
        F.col("s2").cast("double")
        - F.col("s").cast("double") * F.col("s") / F.col("n")
    ) / (F.col("n") - 1)
    v = m.select("n", mu.alias("mu"), var.alias("var"))
    return v.select(
        F.col("n").cast("long").alias("n_users"),
        F.round("mu", 4).alias("mean_events"),
        F.round("var", 4).alias("var_events"),
        F.round(F.col("var") / F.col("mu"), 4).alias(
            "dispersion_index"
        ),
        F.round(
            F.when(
                F.col("var") > F.col("mu"),
                F.col("mu") * F.col("mu") / (F.col("var") - F.col("mu")),
            ).otherwise(F.lit(0.0)),
            4,
        ).alias("nb_r"),
        F.round(
            F.when(
                F.col("var") > F.col("mu"),
                F.col("mu") / F.col("var"),
            ).otherwise(F.lit(1.0)),
            4,
        ).alias("nb_p"),
    )
