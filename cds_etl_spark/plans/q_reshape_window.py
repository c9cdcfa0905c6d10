"""As-of join, pivot/unpivot, set ops, scalar families, sessionize,
percentiles, correlated subqueries, outer joins, time frames (qs09-qs49) — one family of the declared oracle-checkable
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

# --------------------------------------------------------------------------
# As-of join + pivot (reference O16; §2.3 as-of family)
# --------------------------------------------------------------------------

from cds_etl_spark.operators.asof import asof_join  # noqa: E402
from cds_etl_spark.operators.reshape import pivot_key_value  # noqa: E402


@query(
    "qs09_asof_join",
    oracle="""
    SELECT e.event_id,
           (SELECT o.o_orderkey FROM orders o
            WHERE o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
            ORDER BY o.o_orderdate DESC, o.o_orderkey DESC LIMIT 1) AS o_orderkey
    FROM events e ORDER BY e.event_id
    """,
)
def qs09(spark: SparkSession, sf: str) -> DataFrame:
    """As-of join (operators/asof.asof_join): each event gains the
    latest order at-or-before its timestamp for the same user. The
    union+window formulation — one shuffle on the key, O(n+m) rows —
    vs the oracle's correlated subquery (same semantics, quadratic)."""
    e = load_table(spark, sf, "events").select("event_id", "user_id", "ts")
    o = load_table(spark, sf, "orders").select("o_custkey", "o_orderdate", "o_orderkey")
    out = asof_join(
        e, o, on="user_id", right_on="o_custkey", left_ts="ts",
        right_ts="o_orderdate", payload=["o_orderkey"], tiebreak="o_orderkey",
    )
    return out.select("event_id", "o_orderkey")


@query(
    "qs16_pivot",
    oracle="""
    SELECT
      COUNT(CASE WHEN o_orderstatus='F' THEN 1 END) AS "F",
      COUNT(CASE WHEN o_orderstatus='O' THEN 1 END) AS "O",
      COUNT(CASE WHEN o_orderstatus='P' THEN 1 END) AS "P"
    FROM orders
    """,
)
def qs16(spark: SparkSession, sf: str) -> DataFrame:
    """Pivot (reference O16, cds-transformation.py:114-120 transposes a
    key-value sheet): groupBy().pivot() with pinned values — no
    distinct-keys discovery job."""
    o = load_table(spark, sf, "orders")
    return (
        o.groupBy()
        .pivot("o_orderstatus", values=["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .select(*[F.col(f"`{c}`").alias(c) for c in ("F", "O", "P")])
    )


# --------------------------------------------------------------------------
# Approximate sketches + skew-safe shapes. Sketch queries carry exact
# oracles where the query's OUTPUT is exact (counts compared to
# tolerance can't hash-match, so approx results are rows-only per the
# driver contract); the salted shapes must equal their unsalted
# equivalents exactly, so they ARE oracle-checked.
# --------------------------------------------------------------------------

from cds_etl_spark.operators.skew import salted_agg  # noqa: E402


@query(
    "qs62_approx_count_distinct",
    oracle="""
    SELECT COUNT(DISTINCT o_custkey) AS exact_custkeys, TRUE AS approx_ok
    FROM orders
    """,
)
def qs62(spark: SparkSession, sf: str) -> DataFrame:
    """HyperLogLog++ distinct-count sketch bounds-checked against the
    exact count (DuckDB's approx algorithm differs, so the raw sketch
    value can't hash-match — instead the query emits the exact count
    plus a boolean asserting the sketch landed within 3×rsd, which the
    oracle CAN match). Exercises both the HLL++ path and exact
    count-distinct."""
    o = load_table(spark, sf, "orders")
    return o.agg(
        F.countDistinct("o_custkey").alias("exact_custkeys"),
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("_approx"),
    ).select(
        "exact_custkeys",
        (
            F.abs(F.col("_approx") - F.col("exact_custkeys"))
            / F.col("exact_custkeys")
            <= 0.06
        ).alias("approx_ok"),
    )


@query(
    "qs63_approx_quantiles",
    oracle=" UNION ALL ".join(
        f"SELECT o_orderstatus, {i} AS q_idx, "
        f"quantile_disc(o_totalprice, {p}) AS q_value "
        "FROM orders GROUP BY o_orderstatus"
        for i, p in enumerate([0.25, 0.5, 0.75, 0.95])
    ),
)
def qs63(spark: SparkSession, sf: str) -> DataFrame:
    """Greenwald-Khanna quantile sketch over o_totalprice per status
    (mergeable across partitions — the distributed percentile path).
    Output posexploded to scalar (status, q_idx, q_value) rows. At
    accuracy 1e6 the GK sketch is exact on test-scale groups and
    equals DuckDB's quantile_disc (verified sf0.001 + sf0.01); at
    cluster scale the same plan degrades gracefully to epsilon-bounded
    answers."""
    o = load_table(spark, sf, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.percentile_approx(
                "o_totalprice", [0.25, 0.5, 0.75, 0.95], 1_000_000
            ).alias("_q")
        )
        .select("o_orderstatus", F.posexplode("_q").alias("q_idx", "q_value"))
    )


@query(
    "qs64_salted_agg",
    oracle="""
    SELECT o_custkey, COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total
    FROM orders GROUP BY o_custkey
    """,
)
def qs64(spark: SparkSession, sf: str) -> DataFrame:
    """Skew-safe two-level aggregation (operators/skew.salted_agg):
    partial agg on (key, salt) then merge on key. Output must be
    IDENTICAL to the direct groupBy — the oracle proves it. Sum is
    done in integer cents so the two-level accumulation order cannot
    produce float drift vs the oracle."""
    o = load_table(spark, sf, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    out = salted_agg(
        o.withColumn("_cents", cents),
        keys=["o_custkey"],
        aggs={
            "n": (F.count(F.lit(1)), F.sum("n")),
            "_c": (F.sum("_cents"), F.sum("_c")),
        },
        buckets=16,
        det_col="o_orderkey",
    )
    return out.select(
        "o_custkey", "n", (F.col("_c").cast("double") / 100.0).alias("total")
    )


# --------------------------------------------------------------------------
# Coverage widening: grouping sets, window navigation family, ALL set
# ops, higher-order array functions, edit distance, date arithmetic,
# conditional aggregation (SURVEY.md §2.3 categories).
# --------------------------------------------------------------------------


@query(
    "qs17_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS c FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def qs17(spark: SparkSession, sf: str) -> DataFrame:
    """Explicit GROUPING SETS (beyond ROLLUP/CUBE, qs12/qs13)."""
    load_table(spark, sf, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS c FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@query(
    "qs24_window_navigation",
    oracle="""
    SELECT o_orderkey,
           ROUND(PERCENT_RANK() OVER w, 6) AS pr,
           ROUND(CUME_DIST() OVER w, 6) AS cd,
           FIRST_VALUE(o_orderkey) OVER w AS fv,
           LAST_VALUE(o_orderkey) OVER
             (PARTITION BY o_orderstatus
              ORDER BY o_totalprice NULLS FIRST, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS lv
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus
                 ORDER BY o_totalprice NULLS FIRST, o_orderkey)
    ORDER BY o_orderkey LIMIT 1000
    """,
)
def qs24(spark: SparkSession, sf: str) -> DataFrame:
    """percent_rank / cume_dist / first_value / last_value with an
    explicit unbounded frame (last_value under the default frame is the
    current row — the classic trap; the frame makes it the true max).

    Plan (r9 rewire, 15.3 → measured-below s sf10): o_orderstatus has
    3 values, so the plain window was a 3-task stage over all orders.
    The (price, orderkey) order is unique per status, so each window
    collapses to exact per-status rank algebra: rn from
    operators/prefix.bucketed_row_number (integer-cents bucket key,
    part_cols=status), pr = (rn−1)/(n−1), cd = rn/n; first/last value
    over the unbounded frame are the orderkeys at rn = 1 and rn = n,
    carried on the broadcast 3-row per-status stats table."""
    from cds_etl_spark.operators.prefix import bucketed_row_number

    o = load_table(spark, sf, "orders")
    s = o.select(
        "o_orderkey",
        "o_orderstatus",
        # NULL price ranks FIRST (pinned NULLS FIRST in the oracle
        # too; engine defaults diverge — r15 NULL axis): real cents
        # are >= 0, so sentinel -1 sorts every NULL before them, tie
        # broken by o_orderkey exactly like the oracle's suffix.
        F.coalesce(
            F.round(F.col("o_totalprice") * 100, 0).cast("long"),
            F.lit(-1),
        ).alias("_cents"),
    )
    rn = bucketed_row_number(
        s,
        "_cents",
        ["_cents", "o_orderkey"],
        "_rn",
        part_cols=("o_orderstatus",),
    )
    # Per-status n plus the frame endpoints: first = min(cents,key)
    # struct, last = max — exact because the composite is unique.
    stats = s.groupBy(
        F.col("o_orderstatus").alias("_st")
    ).agg(
        F.count(F.lit(1)).alias("_n"),
        F.min(F.struct("_cents", "o_orderkey")).alias("_lo"),
        F.max(F.struct("_cents", "o_orderkey")).alias("_hi"),
    )
    return (
        # Null-safe: a NULL status is a partition too — a plain
        # equi-join dropped its rows (r15 NULL axis).
        rn.join(
            # bcast: GRID per-orderstatus frame endpoints, 3 rows (+ the NULL-status partition)
            F.broadcast(stats),
            F.col("o_orderstatus").eqNullSafe(F.col("_st")),
        )
        .select(
            "o_orderkey",
            # n = 1 partitions return pr = 0.0 like F.percent_rank(),
            # not the algebra's NULL from 0/0 (r9 ADVICE).
            F.round(
                F.when(
                    F.col("_n") > 1,
                    (F.col("_rn") - 1).cast("double")
                    / (F.col("_n") - 1),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("pr"),
            F.round(
                F.col("_rn").cast("double") / F.col("_n"), 6
            ).alias("cd"),
            F.col("_lo.o_orderkey").alias("fv"),
            F.col("_hi.o_orderkey").alias("lv"),
        )
        .orderBy("o_orderkey")
        .limit(1000)
    )


@query(
    "qs29_setops_all",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus='F'
    INTERSECT ALL SELECT o_custkey FROM orders WHERE o_orderstatus='O'
    """,
)
def qs29(spark: SparkSession, sf: str) -> DataFrame:
    """INTERSECT ALL — multiset semantics (min of multiplicities)."""
    o = load_table(spark, sf, "orders")
    f = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    op = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return f.intersectAll(op)


@query(
    "qs36_higher_order_arrays",
    oracle="""
    SELECT doc_id,
      array_to_string(list_transform(string_split(text, ' ')[1:5],
                                     w -> upper(w)), ' ') AS up5,
      CAST(len(list_filter(string_split(text, ' '), w -> length(w) > 4))
           AS INTEGER) AS nlong,
      CAST(list_max(list_transform(string_split(text, ' '), w -> length(w)))
           AS INTEGER) AS maxlen
    FROM documents ORDER BY doc_id
    """,
)
def qs36(spark: SparkSession, sf: str) -> DataFrame:
    """Higher-order array functions (transform / filter / array_max) —
    the expression family every text operator here is built from."""
    d = load_table(spark, sf, "documents")
    toks = F.split(F.col("text"), " ")
    return (
        d.select(
            "doc_id",
            F.array_join(
                F.transform(F.slice(toks, 1, 5), lambda w: F.upper(w)), " "
            ).alias("up5"),
            F.size(F.filter(toks, lambda w: F.length(w) > 4)).alias("nlong"),
            F.array_max(F.transform(toks, lambda w: F.length(w))).alias("maxlen"),
        )
        .orderBy("doc_id")
    )


@query(
    "qs37_levenshtein",
    oracle="""
    SELECT n_name, CAST(levenshtein(n_name, 'UNITED STATES') AS INTEGER) AS d
    FROM nation ORDER BY d NULLS LAST, n_name LIMIT 10
    """,
)
def qs37(spark: SparkSession, sf: str) -> DataFrame:
    """Edit distance — the in-data form of the reference's fuzzy column
    matcher (O5, SequenceMatcher at cds-transformation_v1.3.py:16-33)."""
    n = load_table(spark, sf, "nation")
    return (
        n.select(
            "n_name",
            F.levenshtein(F.col("n_name"), F.lit("UNITED STATES")).alias("d"),
        )
        # NULLS LAST pinned on both sides: a missing name has no
        # distance and must not crowd the top-k (engine ASC defaults
        # diverge — r15 NULL axis).
        .orderBy(F.col("d").asc_nulls_last(), "n_name")
        .limit(10)
    )


@query(
    "qs38_date_arithmetic",
    oracle="""
    SELECT o_orderkey,
           CAST(date_diff('day', DATE '1995-01-01', o_orderdate) AS INTEGER)
             AS days_since,
           CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS due,
           CAST(last_day(o_orderdate) AS DATE) AS eom,
           CAST(date_trunc('quarter', o_orderdate) AS DATE) AS q
    FROM orders ORDER BY o_orderkey LIMIT 1000
    """,
)
def qs38(spark: SparkSession, sf: str) -> DataFrame:
    """Date arithmetic family (O33 neighborhood): diff, interval add,
    month boundary, quarter truncation."""
    o = load_table(spark, sf, "orders")
    return (
        o.select(
            "o_orderkey",
            F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date"))
            .alias("days_since"),
            F.date_add(F.col("o_orderdate"), 30).alias("due"),
            F.last_day(F.col("o_orderdate")).alias("eom"),
            F.date_trunc("quarter", F.col("o_orderdate")).cast("date").alias("q"),
        )
        .orderBy("o_orderkey")
        .limit(1000)
    )


@query(
    "qs39_conditional_agg",
    oracle="""
    SELECT o_custkey,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
           COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
           ROUND(SUM(o_totalprice) FILTER (WHERE o_orderpriority LIKE '1%'), 2)
             AS urgent_total
    FROM orders GROUP BY o_custkey ORDER BY o_custkey
    """,
)
def qs39(spark: SparkSession, sf: str) -> DataFrame:
    """Conditional aggregation (FILTER clause ≙ count/sum over CASE) —
    one pass computing several filtered measures, the idiom that
    replaces N separate filtered scans."""
    o = load_table(spark, sf, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("n_f"),
            F.count(F.when(F.col("o_orderstatus") == "O", 1)).alias("n_o"),
            F.round(
                F.sum(
                    F.when(
                        F.col("o_orderpriority").like("1%"), F.col("o_totalprice")
                    )
                ),
                2,
            ).alias("urgent_total"),
        )
        .orderBy("o_custkey")
    )


# --------------------------------------------------------------------------
# Sessionization, exact percentiles, correlated subqueries, full outer
# join, map aggregation, time-range frames, IN subqueries — plus the
# deterministic hash-sampling family (operators/sampling).
# --------------------------------------------------------------------------

from cds_etl_spark.operators.sampling import (  # noqa: E402
    BUCKETS,
    hash_sample,
    hash_split,
    interleave_sources,
    stratified_hash_sample,
)
from cds_etl_spark.operators.sessions import sessionize  # noqa: E402


@query(
    "qs43_sessionize",
    oracle="""
    WITH s AS (
      SELECT event_id, user_id, ts,
        CASE WHEN lag(ts) OVER w IS NULL
               OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS ns
      FROM events
      WINDOW w AS (PARTITION BY user_id
                   ORDER BY ts NULLS FIRST, event_id))
    SELECT event_id,
      user_id || '-' || CAST(SUM(ns) OVER (
        PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR)
        AS session_id
    FROM s ORDER BY event_id
    """,
)
def qs43(spark: SparkSession, sf: str) -> DataFrame:
    """Gap-based sessionization (operators/sessions.sessionize,
    30-minute gap): lag flags session starts, running sum numbers
    them — one shuffle on user_id. Batch twin of the streaming
    session_window path; oracle replays the identical two-window
    formulation."""
    e = load_table(spark, sf, "events")
    out = sessionize(e, "user_id", "ts", gap_seconds=1800, tiebreak="event_id")
    return out.select("event_id", "session_id").orderBy("event_id")


@query(
    "qs44_percentile_exact",
    oracle="""
    SELECT o_orderstatus,
           quantile_cont(CAST(ROUND(o_totalprice*100, 0) AS BIGINT), 0.25) AS p25,
           quantile_cont(CAST(ROUND(o_totalprice*100, 0) AS BIGINT), 0.50) AS p50,
           quantile_cont(CAST(ROUND(o_totalprice*100, 0) AS BIGINT), 0.75) AS p75
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def qs44(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT interpolated percentiles per group (vs qs63's mergeable
    GK sketch — the two distributed-percentile strategies). Computed
    over integer cents so interpolation endpoints are exact doubles
    and ``lower + frac*(upper-lower)`` is bit-identical cross-engine."""
    o = load_table(spark, sf, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    # r15 (guide §1.3, the qs239 lesson): ONE percentile aggregate
    # carrying all three quantiles — three separate F.percentile calls
    # each buffered the full per-group multiset (3x the memory and
    # merge work for identical interpolation arithmetic).
    pcts = F.percentile(
        cents, F.array(F.lit(0.25), F.lit(0.50), F.lit(0.75))
    )
    return (
        o.groupBy("o_orderstatus")
        .agg(pcts.alias("_p"))
        .select(
            "o_orderstatus",
            F.col("_p")[0].alias("p25"),
            F.col("_p")[1].alias("p50"),
            F.col("_p")[2].alias("p75"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "qs45_correlated_scalar_subquery",
    oracle="""
    SELECT o_orderkey FROM orders o
    WHERE CAST(ROUND(o_totalprice*100, 0) AS BIGINT) >
      (SELECT AVG(CAST(ROUND(i.o_totalprice*100, 0) AS BIGINT)) FROM orders i
       WHERE i.o_custkey = o.o_custkey)
    ORDER BY o_orderkey
    """,
)
def qs45(spark: SparkSession, sf: str) -> DataFrame:
    """Correlated scalar subquery — Catalyst decorrelates it into an
    aggregate + join (RewriteCorrelatedScalarSubquery), the same plan a
    hand-written window formulation gives. Compared in integer cents:
    per-group sums of cents stay exactly representable, so the AVG and
    the comparison are accumulation-order-independent."""
    load_table(spark, sf, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderkey FROM orders o
        WHERE CAST(ROUND(o_totalprice*100, 0) AS BIGINT) >
          (SELECT AVG(CAST(ROUND(i.o_totalprice*100, 0) AS BIGINT)) FROM orders i
           WHERE i.o_custkey = o.o_custkey)
        ORDER BY o_orderkey
        """
    )


@query(
    "qs46_full_outer_join",
    oracle="""
    WITH cn AS (SELECT c_nationkey AS nk, COUNT(*) AS n_cust
                FROM customer GROUP BY c_nationkey),
         sn AS (SELECT s_nationkey AS nk, COUNT(*) AS n_rich_supp
                FROM supplier WHERE s_acctbal > 9000 GROUP BY s_nationkey)
    SELECT COALESCE(cn.nk, sn.nk) AS nk, cn.n_cust, sn.n_rich_supp
    FROM cn FULL OUTER JOIN sn ON cn.nk = sn.nk
    ORDER BY nk
    """,
)
def qs46(spark: SparkSession, sf: str) -> DataFrame:
    """Full outer join of two pre-aggregated sides (null-extending
    both ways; the filtered supplier side leaves genuinely unmatched
    nations)."""
    c = load_table(spark, sf, "customer")
    s = load_table(spark, sf, "supplier")
    cn = c.groupBy(F.col("c_nationkey").alias("nk")).agg(
        F.count(F.lit(1)).alias("n_cust")
    )
    sn = (
        s.filter(F.col("s_acctbal") > 9000)
        .groupBy(F.col("s_nationkey").alias("snk"))
        .agg(F.count(F.lit(1)).alias("n_rich_supp"))
    )
    return (
        cn.join(sn, cn.nk == sn.snk, "full_outer")
        .select(
            F.coalesce(cn.nk, sn.snk).alias("nk"), "n_cust", "n_rich_supp"
        )
        .orderBy("nk")
    )


@query(
    "qs47_map_aggregation",
    oracle="""
    WITH pc AS (SELECT o_custkey, o_orderstatus AS st, COUNT(*) AS c
                FROM orders WHERE o_orderstatus IS NOT NULL
                GROUP BY o_custkey, o_orderstatus),
         m AS (SELECT o_custkey,
                      map_from_entries(list({'k': st, 'v': c})) AS mp
               FROM pc GROUP BY o_custkey)
    SELECT o_custkey, mp['F'][1] AS n_f, mp['O'][1] AS n_o, mp['P'][1] AS n_p
    FROM m ORDER BY o_custkey
    """,
)
def qs47(spark: SparkSession, sf: str) -> DataFrame:
    """MapType end-to-end: per-customer status→count map built with
    map_from_entries(collect_list(struct)), probed with element_at
    (missing key → NULL in both engines). The map shape is the
    engine-side analogue of the reference's clean-dict lookups (O19)."""
    o = load_table(spark, sf, "orders")
    # A NULL status cannot be a map key (Spark raises NULL_MAP_KEY);
    # dropped on both sides — the probed keys are 'F'/'O'/'P' anyway
    # (r15 NULL axis).
    pc = (
        o.filter(F.col("o_orderstatus").isNotNull())
        .groupBy("o_custkey", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    m = pc.groupBy("o_custkey").agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("o_orderstatus"), F.col("c")))
        ).alias("mp")
    )
    return m.select(
        "o_custkey",
        F.element_at("mp", "F").alias("n_f"),
        F.element_at("mp", "O").alias("n_o"),
        F.element_at("mp", "P").alias("n_p"),
    ).orderBy("o_custkey")


@query(
    "qs48_time_range_frame",
    oracle="""
    SELECT event_id,
           COUNT(*) OVER w AS n_1h,
           CAST(SUM(CAST(ROUND(value*100, 0) AS BIGINT)) OVER w
                AS BIGINT) AS cents_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch(ts)
                 RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    ORDER BY event_id
    """,
)
def qs48(spark: SparkSession, sf: str) -> DataFrame:
    """Sliding one-hour RANGE frame per user (trailing-window rollup —
    the batch form of a sliding streaming window). Ordered by epoch
    seconds (micros/1e6 — identical arithmetic in both engines); the
    summed measure is integer cents so in-frame accumulation order
    can't drift."""
    e = load_table(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("timestamp").cast("double"))
        .rangeBetween(-3600, Window.currentRow)
    )
    return (
        e.select(
            "event_id",
            F.count(F.lit(1)).over(w).alias("n_1h"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).over(w)
            .alias("cents_1h"),
        )
        .orderBy("event_id")
    )


@query(
    "qs49_in_subquery",
    oracle="""
    SELECT o_orderkey FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer
                        WHERE c_mktsegment = 'BUILDING')
      AND o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
    ORDER BY o_orderkey
    """,
)
def qs49(spark: SparkSession, sf: str) -> DataFrame:
    """IN-subquery (rewritten to a left-semi join by Catalyst) plus a
    literal NOT IN — complements qs05/qs06's EXISTS forms."""
    load_table(spark, sf, "orders").createOrReplaceTempView("orders")
    load_table(spark, sf, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        """
        SELECT o_orderkey FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM customer
                            WHERE c_mktsegment = 'BUILDING')
          AND o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        ORDER BY o_orderkey
        """
    )


# -- deterministic sampling family (operators/sampling) --------------------

