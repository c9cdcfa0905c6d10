"""Scan/filter/project, joins, aggregation, windows, normalize/clean,
exact-dedup and validation shapes (qs01-qs42) — one family of the declared oracle-checkable
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
from cds_etl_spark.functions.vector import cosine_similarity, dot_product

# --------------------------------------------------------------------------
# Scan / filter / project
# --------------------------------------------------------------------------


@query(
    "qs01_scan_filter_project",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem
    WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
      AND l_discount > 0.05
    """,
)
def qs01(spark: SparkSession, sf: str) -> DataFrame:
    """Scan+filter+project; predicate pushdown target.

    Reference ops O1/O6 (cds-transformation_v1.3.py:129-132,69-81).
    The filter and 4-column projection must reach the parquet scan
    (PushedFilters / ReadSchema in .explain).
    """
    li = load_table(spark, sf, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("date"))
            & (F.col("l_discount") > 0.05)
        )
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    )


@query(
    "qs02_project_expr_like",
    oracle="""
    SELECT o_orderkey, upper(o_orderstatus) AS s, o_totalprice * 1.1 AS adj
    FROM orders
    WHERE o_orderpriority LIKE '1%' OR o_orderpriority LIKE '2%'
    """,
)
def qs02(spark: SparkSession, sf: str) -> DataFrame:
    """Projection with expressions + disjunctive LIKE filter (O6, O19)."""
    o = load_table(spark, sf, "orders")
    return (
        o.filter(F.col("o_orderpriority").like("1%") | F.col("o_orderpriority").like("2%"))
        .select(
            "o_orderkey",
            F.upper("o_orderstatus").alias("s"),
            (F.col("o_totalprice") * F.lit(1.1)).alias("adj"),
        )
    )


# --------------------------------------------------------------------------
# Joins
# --------------------------------------------------------------------------


@query(
    "qs03_broadcast_join",
    oracle="""
    SELECT n_name, r_name FROM nation JOIN region ON n_regionkey = r_regionkey
    """,
)
def qs03(spark: SparkSession, sf: str) -> DataFrame:
    """Small equi-join; both sides broadcast-sized (O14,
    cds-transformation.py:23). Explicit broadcast hint — dimension
    tables must never shuffle."""
    n = load_table(spark, sf, "nation")
    r = load_table(spark, sf, "region")
    return n.join(
        r, n.n_regionkey == r.r_regionkey, "inner"
    ).select("n_name", "r_name")


@query(
    "qs04_left_outer_join",
    oracle="""
    SELECT c_custkey, c_name, o_orderkey FROM customer
    LEFT JOIN orders ON c_custkey = o_custkey
    """,
)
def qs04(spark: SparkSession, sf: str) -> DataFrame:
    """Left outer join — FK attach pattern (O12,
    cds-transformation_v1.3.py:83-95)."""
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left").select(
        "c_custkey", "c_name", "o_orderkey"
    )


@query(
    "qs05_semi_join",
    oracle="""
    SELECT c_custkey FROM customer WHERE EXISTS
     (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000)
    """,
)
def qs05(spark: SparkSession, sf: str) -> DataFrame:
    """EXISTS → left-semi join (validation keep-pattern, O22)."""
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey")


@query(
    "qs06_anti_join",
    oracle="""
    SELECT c_custkey FROM customer WHERE NOT EXISTS
     (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 200000)
    """,
)
def qs06(spark: SparkSession, sf: str) -> DataFrame:
    """NOT EXISTS → left-anti join — the orphan/cascade-delete pattern
    (O23/O24, cds_transformation_functions.py:178-195)."""
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders").filter(F.col("o_totalprice") > 200000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey")


@query(
    "qs07_self_theta_join",
    oracle="""
    SELECT a.n_nationkey AS n1, b.n_nationkey AS n2 FROM nation a
    JOIN nation b ON a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey
    """,
)
def qs07(spark: SparkSession, sf: str) -> DataFrame:
    """Self theta-join: equi part hashes, inequality filters post-join."""
    a = load_table(spark, sf, "nation").alias("a")
    b = load_table(spark, sf, "nation").alias("b")
    return (
        a.join(
            b,
            (F.col("a.n_regionkey") == F.col("b.n_regionkey"))
            & (F.col("a.n_nationkey") < F.col("b.n_nationkey")),
        )
        .select(F.col("a.n_nationkey").alias("n1"), F.col("b.n_nationkey").alias("n2"))
    )


@query(
    "qs08_range_join",
    oracle="""
    SELECT e.event_id, o.o_orderkey FROM events e
    JOIN orders o ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
      AND e.value BETWEEN 10 AND 20
    ORDER BY e.event_id, o.o_orderkey LIMIT 100
    """,
)
def qs08(spark: SparkSession, sf: str) -> DataFrame:
    """Range/interval join (as-of family): equi key + time band.

    The selective band predicate is applied before the join so the
    shuffle moves only matching events.
    """
    e = load_table(spark, sf, "events").filter(F.col("value").between(10, 20))
    o = load_table(spark, sf, "orders")
    return (
        e.join(o, (e.user_id == o.o_custkey) & (o.o_orderdate <= e.ts))
        .select("event_id", "o_orderkey")
        .orderBy("event_id", "o_orderkey")
        .limit(100)
    )


# --------------------------------------------------------------------------
# Aggregation
# --------------------------------------------------------------------------


@query(
    "qs10_groupby_agg_tpch_q1",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(ROUND(l_quantity*100,0) AS BIGINT)) AS DOUBLE)/100 AS sq,
           CAST(SUM(CAST(ROUND(l_extendedprice*100,0) AS BIGINT)) AS DOUBLE)/100 AS sp,
           ROUND(SUM(l_extendedprice*(1-l_discount)),2) AS disc,
           CAST((2*ABS(SUM(CAST(ROUND(l_quantity*100,0) AS BIGINT)))*100 + COUNT(*))
                // (2*COUNT(*)) AS DOUBLE)/10000 AS aq,
           COUNT(*) AS c
    FROM lineitem GROUP BY l_returnflag, l_linestatus
    """,
)
def qs10(spark: SparkSession, sf: str) -> DataFrame:
    """Hash aggregation, multi-agg (TPC-H Q1 shape; O18/O22 family).

    Partial (map-side) aggregation + final after a 2-key shuffle —
    the scalable formulation of the reference's per-id nested loop
    (cds_transformation_functions.py:134-155).

    SUM/AVG of the 2-decimal money/quantity columns go through exact
    integer cents so the result is independent of accumulation order
    (double sums differ in the last ulp between engines and can
    straddle a ROUND boundary), and the AVG is rounded to 4 dp with
    exact half-away-from-zero *integer* division — Spark's ROUND
    (decimal-string HALF_UP) and DuckDB's (FP multiply by 10^p) give
    different answers on exact midpoints, so no FP ROUND is trusted
    near them. The product sum (disc) stays in double — per-row
    products are bit-identical and the post-ROUND collision
    probability is negligible.

    Cents extraction is ``CAST(x*100 + 0.5 AS BIGINT)`` rather than
    ``ROUND``: for positive exact-2dp doubles the two are identical
    (fp error of x*100 is far below 0.5), but Spark's ROUND on double
    routes through BigDecimal per row while the cast stays integer
    arithmetic inside whole-stage codegen (measured ~30% off the whole
    aggregation at sf0.1)."""
    li = load_table(spark, sf, "lineitem")
    from cds_etl_spark.sources.derived import has_derived

    if has_derived(
        li, "lineitem", "l_quantity_cents", "l_extendedprice_cents", "l_discprice"
    ):
        # Pre-projected kernel layout (sources/derived.py): the cents
        # casts and the discounted-price product were materialized at
        # ingest with these exact expressions — the scan reads narrow
        # ints/doubles and the per-row arithmetic disappears.
        qty_c = F.col("l_quantity_cents")
        prc_c = F.col("l_extendedprice_cents")
        disc_p = F.col("l_discprice")
        aq4 = F.expr(
            "CAST((2*ABS(SUM(l_quantity_cents))*100 + COUNT(*))"
            " DIV (2*COUNT(*)) AS DOUBLE)/10000"
        )
    else:
        qty_c = (F.col("l_quantity") * 100 + F.lit(0.5)).cast("long")
        prc_c = (F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
        disc_p = F.col("l_extendedprice") * (1 - F.col("l_discount"))
        # round-half-away(sum_qty_cents*100 / cnt) as an exact int, /1e4.
        aq4 = F.expr(
            "CAST((2*ABS(SUM(CAST(l_quantity*100 + 0.5 AS BIGINT)))*100 + COUNT(*))"
            " DIV (2*COUNT(*)) AS DOUBLE)/10000"
        )
    cnt = F.count(F.lit(1))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            (F.sum(qty_c).cast("double") / 100).alias("sq"),
            (F.sum(prc_c).cast("double") / 100).alias("sp"),
            F.round(F.sum(disc_p), 2).alias("disc"),
            aq4.alias("aq"),
            cnt.alias("c"),
        )
    )


@query(
    "qs11_count_distinct",
    oracle="SELECT COUNT(DISTINCT o_custkey) AS n FROM orders",
)
def qs11(spark: SparkSession, sf: str) -> DataFrame:
    """Exact distinct aggregate (O22). Expands to a two-stage
    partial-distinct plan under AQE."""
    o = load_table(spark, sf, "orders")
    return o.agg(F.countDistinct("o_custkey").alias("n"))


@query(
    "qs12_rollup",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS c FROM orders
    GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
    """,
)
def qs12(spark: SparkSession, sf: str) -> DataFrame:
    """ROLLUP grouping sets."""
    o = load_table(spark, sf, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(F.count(F.lit(1)).alias("c"))


@query(
    "qs13_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS c FROM orders
    GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
)
def qs13(spark: SparkSession, sf: str) -> DataFrame:
    """CUBE grouping sets."""
    o = load_table(spark, sf, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(F.count(F.lit(1)).alias("c"))


@query(
    "qs14_combine_rows_string_agg",
    oracle="""
    SELECT o_custkey,
           string_agg(DISTINCT o_orderstatus, ', ' ORDER BY o_orderstatus) AS combined
    FROM orders GROUP BY o_custkey
    """,
)
def qs14(spark: SparkSession, sf: str) -> DataFrame:
    """combine_rows semantics (O18,
    cds_transformation_functions.py:125-160): per group, sorted
    distinct values joined with ', ' — a single hash aggregation in
    Spark vs the reference's O(ids×rows) masking loop."""
    o = load_table(spark, sf, "orders")
    return o.groupBy("o_custkey").agg(
        F.array_join(F.array_sort(F.collect_set("o_orderstatus")), ", ").alias("combined")
    )


@query(
    "qs15_min_max_stddev",
    oracle="""
    SELECT c_mktsegment, ROUND(MIN(c_acctbal),2) AS mn, ROUND(MAX(c_acctbal),2) AS mx,
           ROUND(STDDEV_SAMP(c_acctbal),4) AS sd
    FROM customer GROUP BY c_mktsegment
    """,
)
def qs15(spark: SparkSession, sf: str) -> DataFrame:
    """min/max/stddev aggregates."""
    c = load_table(spark, sf, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.round(F.min("c_acctbal"), 2).alias("mn"),
        F.round(F.max("c_acctbal"), 2).alias("mx"),
        F.round(F.stddev_samp("c_acctbal"), 4).alias("sd"),
    )


# --------------------------------------------------------------------------
# Window functions
# --------------------------------------------------------------------------


@query(
    "qs20_topk_per_group",
    oracle="""
    SELECT o_custkey, o_orderkey, rn FROM (
      SELECT o_custkey, o_orderkey,
             CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
      FROM orders) t WHERE rn <= 3
    """,
)
def qs20(spark: SparkSession, sf: str) -> DataFrame:
    """Windowed top-k per group (row_number ≤ k). The rank filter is
    pushed into the window operator by Catalyst (WindowGroupLimit) so
    each partition keeps only k rows pre-shuffle."""
    o = load_table(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    return (
        o.select("o_custkey", "o_orderkey", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 3)
    )


@query(
    "qs21_ranking_family",
    oracle="""
    SELECT o_orderkey,
           CAST(RANK() OVER (ORDER BY o_totalprice DESC NULLS LAST,
                             o_orderkey) AS INTEGER) AS r,
           CAST(DENSE_RANK() OVER (ORDER BY o_orderpriority NULLS FIRST)
                AS INTEGER) AS dr,
           CAST(NTILE(4) OVER (ORDER BY o_orderkey) AS INTEGER) AS nt
    FROM orders ORDER BY o_orderkey LIMIT 1000
    """,
)
def qs21(spark: SparkSession, sf: str) -> DataFrame:
    """rank/dense_rank/ntile over global orderings.

    Plan (r9 rewire, 33.5 → measured-below s sf10): the three
    unpartitioned windows each put ALL orders in one task. Exact
    rank algebra replaces them: (a) the (price DESC, orderkey)
    order is unique, so RANK == ROW_NUMBER == bucketed_row_number
    on negated integer cents; (b) DENSE_RANK over o_orderpriority
    has 5 distinct values — a broadcast dictionary built from the
    5-row distinct table; (c) NTILE(4) over unique o_orderkey is
    ntile_from_rank(rn, n, 4) with rn a second bucketed_row_number
    keyed on o_orderkey itself."""
    from cds_etl_spark.operators.prefix import (
        bucketed_row_number,
        ntile_from_rank,
    )

    o = load_table(spark, sf, "orders")
    s = o.select(
        "o_orderkey",
        "o_orderpriority",
        # NULL price ranks LAST (pinned NULLS LAST in the oracle too;
        # engine defaults diverge — r15 NULL axis): _negc <= 0 for
        # every real price, so sentinel 1 sorts all NULLs after, tie
        # broken by o_orderkey exactly like the oracle's suffix.
        F.coalesce(
            -F.round(F.col("o_totalprice") * 100, 0).cast("long"),
            F.lit(1),
        ).alias("_negc"),
    )
    ranked = bucketed_row_number(
        s, "_negc", ["_negc", "o_orderkey"], "_r"
    # r15 (guide §2.4): the second bucketed_row_number references its
    # input 2-3x internally (bounds agg, bucket join, running-count
    # join-back) — each reference re-ran the FIRST call's whole rank
    # machinery. One materialization replaces those re-runs (r16:
    # order-dimension scale — corpus class, cut_lineage).
    )
    ranked = cut_lineage(ranked)
    ranked = bucketed_row_number(
        ranked, "o_orderkey", ["o_orderkey"], "_rn_key"
    )
    prio = (
        s.select(F.col("o_orderpriority").alias("_p"))
        .distinct()
        .withColumn(
            "_dr",
            # ASC NULLS FIRST pinned on both sides (Spark's default,
            # explicit since the r15 NULL axis).
            F.row_number().over(
                # window: EPILOGUE ranking family: 5-row priority dictionary (r9 rewire; NULLS FIRST pinned r15)
                Window.orderBy(F.col("_p").asc_nulls_first())
            ),
        )
    )
    n = s.agg(F.count(F.lit(1)).alias("_n"))
    return (
        # Null-safe dictionary join: a NULL priority is a dictionary
        # entry too, and a plain equi-join would drop those rows.
        ranked.join(
            # bcast: GRID distinct order priorities, 5 rows (+ the NULL-priority partition)
            F.broadcast(prio),
            F.col("o_orderpriority").eqNullSafe(F.col("_p")),
        )
        .crossJoin(n)
        .select(
            "o_orderkey",
            F.col("_r").cast("int").alias("r"),
            F.col("_dr").cast("int").alias("dr"),
            ntile_from_rank("_rn_key", "_n", 4).cast("int").alias("nt"),
        )
        .orderBy("o_orderkey")
        .limit(1000)
    )


@query(
    "qs22_lag_lead_rows_frame",
    oracle="""
    SELECT event_id, user_id, value, LAG(value) OVER w AS lg, LEAD(value) OVER w AS ld,
           ROUND(CAST(SUM(CAST(ROUND(value*100,0) AS BIGINT))
                      OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)/100, 4) AS mv
    FROM events
    WINDOW w AS (PARTITION BY user_id
                 ORDER BY ts NULLS FIRST, event_id)
    ORDER BY event_id LIMIT 1000
    """,
)
def qs22(spark: SparkSession, sf: str) -> DataFrame:
    """Analytic lag/lead + ROWS frame moving sum.

    The moving sum runs on exact integer cents: window frame sums may
    be evaluated tree-wise (order-dependent in double) by either
    engine."""
    e = load_table(spark, sf, "events")
    # ASC NULLS FIRST pinned on both sides: an event with a missing
    # timestamp sequences before the epoch, deterministically by
    # event_id (engine defaults diverge — r15 NULL axis).
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc_nulls_first(), "event_id"
    )
    cents = F.round(F.col("value") * 100, 0).cast("long")
    return (
        e.select(
            "event_id",
            "user_id",
            "value",
            F.lag("value").over(w).alias("lg"),
            F.lead("value").over(w).alias("ld"),
            F.round(F.sum(cents).over(w.rowsBetween(-2, 0)).cast("double") / 100, 4).alias("mv"),
        )
        .orderBy("event_id")
        .limit(1000)
    )


@query(
    "qs23_window_aggregate",
    oracle="""
    WITH t AS (
      SELECT o_orderkey,
             CAST(ROUND(o_totalprice*100,0) AS BIGINT)
               * COUNT(*) OVER (PARTITION BY o_custkey)
               - SUM(CAST(ROUND(o_totalprice*100,0) AS BIGINT))
                 OVER (PARTITION BY o_custkey) AS d,
             COUNT(*) OVER (PARTITION BY o_custkey) AS cnt
      FROM orders)
    SELECT o_orderkey,
           CAST(CASE WHEN d < 0 THEN -((2*ABS(d)*100 + cnt) // (2*cnt))
                     ELSE (2*ABS(d)*100 + cnt) // (2*cnt) END AS DOUBLE)/10000 AS dev
    FROM t ORDER BY o_orderkey LIMIT 1000
    """,
)
def qs23(spark: SparkSession, sf: str) -> DataFrame:
    """Windowed aggregate (deviation from per-customer mean) with an
    unbounded partition frame.

    Computed entirely in exact integer cents (value*cnt - sum), then
    rounded to 4 dp by exact half-away-from-zero integer division.
    Rationale: with a double AVG the engines' accumulation orders
    differ in the last ulp; and even on bit-identical doubles Spark's
    ROUND (decimal-string HALF_UP) and DuckDB's (x*10^p FP multiply,
    which lands on exact .5 midpoints unpredictably) disagree — both
    failure modes observed at sf0.001/sf0.01. Integer arithmetic is
    engine-independent."""
    o = load_table(spark, sf, "orders")
    w = Window.partitionBy("o_custkey")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    cnt = F.count(F.lit(1)).over(w)
    d = cents * cnt - F.sum(cents).over(w)
    dev4 = F.expr(
        "CAST(CASE WHEN _d < 0 THEN -((2*ABS(_d)*100 + _cnt) DIV (2*_cnt))"
        " ELSE (2*ABS(_d)*100 + _cnt) DIV (2*_cnt) END AS DOUBLE)/10000"
    )
    return (
        o.select("o_orderkey", d.alias("_d"), cnt.alias("_cnt"))
        .select("o_orderkey", dev4.alias("dev"))
        .orderBy("o_orderkey")
        .limit(1000)
    )


# --------------------------------------------------------------------------
# Sort / limit / set ops
# --------------------------------------------------------------------------


@query(
    "qs25_global_topk",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
    """,
)
def qs25(spark: SparkSession, sf: str) -> DataFrame:
    """Global sort + limit → TakeOrderedAndProject (no full sort)."""
    o = load_table(spark, sf, "orders")
    return (
        o.select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(20)
    )


@query(
    "qs26_intersect",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus='F'
    INTERSECT SELECT o_custkey FROM orders WHERE o_orderstatus='O'
    """,
)
def qs26(spark: SparkSession, sf: str) -> DataFrame:
    o = load_table(spark, sf, "orders")
    f = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    op = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return f.intersect(op)


@query(
    "qs27_except",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus='P'
    EXCEPT SELECT o_custkey FROM orders WHERE o_orderstatus='F'
    """,
)
def qs27(spark: SparkSession, sf: str) -> DataFrame:
    o = load_table(spark, sf, "orders")
    p = o.filter(F.col("o_orderstatus") == "P").select("o_custkey")
    f = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return p.subtract(f)


@query(
    "qs28_union_all",
    oracle="""
    SELECT n_name AS name FROM nation UNION ALL SELECT r_name AS name FROM region
    """,
)
def qs28(spark: SparkSession, sf: str) -> DataFrame:
    n = load_table(spark, sf, "nation").select(F.col("n_name").alias("name"))
    r = load_table(spark, sf, "region").select(F.col("r_name").alias("name"))
    return n.unionByName(r)


# --------------------------------------------------------------------------
# Scalar functions
# --------------------------------------------------------------------------


@query(
    "qs30_string_functions",
    oracle="""
    SELECT doc_id, CAST(length(text) AS INTEGER) AS ln, upper(lang) AS lg,
           substr(text,1,10) AS s10, replace(source,'src','S') AS rs
    FROM documents
    """,
)
def qs30(spark: SparkSession, sf: str) -> DataFrame:
    """String scalar functions (O4/O10/O19 cell-level surface)."""
    d = load_table(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.length("text").alias("ln"),
        F.upper("lang").alias("lg"),
        F.substring("text", 1, 10).alias("s10"),
        F.replace(F.col("source"), F.lit("src"), F.lit("S")).alias("rs"),
    )


@query(
    "qs31_regex_filter",
    oracle="""
    SELECT doc_id FROM documents
    WHERE regexp_matches(text, 'join.*hash|hash.*join')
    """,
)
def qs31(spark: SparkSession, sf: str) -> DataFrame:
    """Regex scan — the SSN/PII detector pattern (O26,
    cds_transformation_functions.py:284-299).

    Plan note: the oracle regex ``join.*hash|hash.*join`` is exactly
    ``contains('join') AND contains('hash')`` for newline-free text
    ("join"/"hash" cannot overlap, so whichever occurs first the other
    follows it; ``.`` excludes ``\\n`` identically in Java and RE2).
    The documents corpus is single-line (guarded by
    tests/test_plans.py::test_qs31_rewrite_precondition_no_newlines),
    so the Spark side uses the substring conjunction — two SIMD-friendly ``contains`` kernels inside
    WholeStageCodegen instead of a backtracking java.util.regex
    alternation per row, which was the one >2×-vs-DuckDB query at sf1
    (BENCH_r04)."""
    d = load_table(spark, sf, "documents")
    return d.filter(
        F.col("text").contains("join") & F.col("text").contains("hash")
    ).select("doc_id")


@query(
    "qs32_datetime_functions",
    oracle="""
    SELECT event_id, CAST(ts AS DATE) AS dt, CAST(year(ts) AS INTEGER) AS y,
           CAST(month(ts) AS INTEGER) AS m, CAST(dayofweek(ts)+1 AS INTEGER) AS dw,
           date_trunc('hour', ts) AS th
    FROM events ORDER BY event_id LIMIT 1000
    """,
)
def qs32(spark: SparkSession, sf: str) -> DataFrame:
    """Date/time functions (O33 family). DuckDB dayofweek is Sunday=0;
    Spark is Sunday=1 — oracle compensates."""
    e = load_table(spark, sf, "events")
    return (
        e.select(
            "event_id",
            F.col("ts").cast("date").alias("dt"),
            F.year("ts").alias("y"),
            F.month("ts").alias("m"),
            F.dayofweek("ts").alias("dw"),
            F.date_trunc("hour", "ts").alias("th"),
        )
        .orderBy("event_id")
        .limit(1000)
    )


@query(
    "qs33_math_functions",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ROUND(l_extendedprice*(1-l_discount)*(1+l_tax),2) AS net,
           CAST(CEIL(l_quantity) AS BIGINT) AS cq, CAST(FLOOR(l_quantity) AS BIGINT) AS fq,
           ABS(l_discount-0.05) AS ad
    FROM lineitem
    ORDER BY l_orderkey, l_linenumber,
             net NULLS FIRST, cq NULLS FIRST, fq NULLS FIRST,
             ad NULLS FIRST
    LIMIT 1000
    """,
)
def qs33(spark: SparkSession, sf: str) -> DataFrame:
    """Math scalar functions. Spark CEIL/FLOOR(double) return LONG;
    oracle casts to match.

    Determinism (r14 layout-axis finding): the synthetic lineitem has
    NO unique key — (l_orderkey, l_linenumber) are both independent
    random draws — so the original two-column ORDER BY left the LIMIT
    cutoff tie-dependent; the contract file layout happened to resolve
    ties identically in both engines, the permuted-row fixture
    (tools/gen_permute.py) did not. Ordering by ALL six output columns
    makes any remaining ties output-identical rows, so the kept
    multiset is layout-independent."""
    li = load_table(spark, sf, "lineitem")
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax")), 2
            ).alias("net"),
            F.ceil("l_quantity").alias("cq"),
            F.floor("l_quantity").alias("fq"),
            F.abs(F.col("l_discount") - 0.05).alias("ad"),
        )
        .orderBy(
            "l_orderkey",
            "l_linenumber",
            # Explicit ASC NULLS FIRST on the nullable keys: Spark's
            # ASC default, pinned in the oracle too — engine defaults
            # diverge (DuckDB NULLS LAST), which moved the LIMIT
            # cutoff on the NULL-injection fixture (r15).
            F.col("net").asc_nulls_first(),
            F.col("cq").asc_nulls_first(),
            F.col("fq").asc_nulls_first(),
            F.col("ad").asc_nulls_first(),
        )
        .limit(1000)
    )


@query(
    "qs34_json_extraction",
    oracle="""
    SELECT event_id,
           CAST(json_extract(CASE WHEN json_valid(props) THEN props END,
                             '$.k') AS INTEGER) AS k
    FROM events ORDER BY event_id LIMIT 1000
    """,
)
def qs34(spark: SparkSession, sf: str) -> DataFrame:
    """JSON extraction from a string column. Dirty props (empty /
    whitespace / malformed) yield NULL: Spark's get_json_object does
    that natively; the oracle needs the json_valid guard because
    DuckDB's json_extract RAISES on malformed input (r15 NULL
    axis)."""
    e = load_table(spark, sf, "events")
    return (
        e.select("event_id", F.get_json_object("props", "$.k").cast("int").alias("k"))
        .orderBy("event_id")
        .limit(1000)
    )


@query(
    "qs35_array_functions",
    oracle="""
    SELECT doc_id, CAST(len(string_split(text,' ')) AS INTEGER) AS nwords,
           string_split(text,' ')[1] AS w1
    FROM documents
    """,
)
def qs35(spark: SparkSession, sf: str) -> DataFrame:
    """Array functions: split + size + 1-based element access
    (element_at — both engines are 1-based there)."""
    d = load_table(spark, sf, "documents")
    words = F.split(F.col("text"), " ")
    return d.select(
        "doc_id",
        F.size(words).alias("nwords"),
        F.element_at(words, 1).alias("w1"),
    )


@query(
    "qs40_case_coalesce",
    oracle="""
    SELECT event_id,
           CASE event_type WHEN 'click' THEN 'Click' WHEN 'purchase' THEN 'Purchase'
                ELSE 'Not specified in data' END AS mapped,
           COALESCE(NULLIF(event_type,''),'Not specified in data') AS cl
    FROM events ORDER BY event_id LIMIT 1000
    """,
)
def qs40(spark: SparkSession, sf: str) -> DataFrame:
    """CASE mapping + COALESCE/NULLIF — clean_data semantics (O19,
    cds_transformation_functions.py:10-74)."""
    e = load_table(spark, sf, "events")
    return (
        e.select(
            "event_id",
            F.when(F.col("event_type") == "click", "Click")
            .when(F.col("event_type") == "purchase", "Purchase")
            .otherwise("Not specified in data")
            .alias("mapped"),
            F.coalesce(F.nullif(F.col("event_type"), F.lit("")), F.lit("Not specified in data")).alias(
                "cl"
            ),
        )
        .orderBy("event_id")
        .limit(1000)
    )


@query(
    "qs41_distinct",
    oracle="SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders",
)
def qs41(spark: SparkSession, sf: str) -> DataFrame:
    """DISTINCT projection (O17, cds-transformation_v1.3.py:148-152)."""
    o = load_table(spark, sf, "orders")
    return o.select("o_orderstatus", "o_orderpriority").distinct()


@query(
    "qs42_having",
    oracle="""
    SELECT o_custkey FROM orders GROUP BY o_custkey HAVING COUNT(*) > 15
    """,
)
def qs42(spark: SparkSession, sf: str) -> DataFrame:
    """HAVING — post-aggregation filter."""
    o = load_table(spark, sf, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .filter(F.col("_cnt") > 15)
        .select("o_custkey")
    )


# --------------------------------------------------------------------------
# LLM-pipeline extensions (text / dedup / vectors)
# --------------------------------------------------------------------------


@query(
    "qs50_word_count",
    oracle="""
    SELECT w AS word, COUNT(*) AS c FROM (
      SELECT unnest(string_split(lower(text),' ')) AS w FROM documents) t
    GROUP BY w ORDER BY c DESC, w LIMIT 20
    """,
)
def qs50(spark: SparkSession, sf: str) -> DataFrame:
    """Tokenize + explode + word count (text-analysis extension)."""
    d = load_table(spark, sf, "documents")
    return (
        d.select(F.explode(F.split(F.lower(F.col("text")), " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "word")
        .limit(20)
    )


@query(
    "qs51_dedup_blocking",
    oracle="""
    SELECT a.doc_id AS d1, b.doc_id AS d2 FROM documents a
    JOIN documents b ON a.lang=b.lang AND a.doc_id<b.doc_id AND a.n_chars=b.n_chars
    ORDER BY d1, d2 LIMIT 100
    """,
)
def qs51(spark: SparkSession, sf: str) -> DataFrame:
    """Candidate-pair generation with equality blocking keys — the
    shuffle-friendly prelude to near-dup detection (pairs only form
    inside (lang, n_chars) blocks)."""
    d = load_table(spark, sf, "documents")
    a = d.alias("a")
    b = d.alias("b")
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.n_chars") == F.col("b.n_chars"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .orderBy("d1", "d2")
        .limit(100)
    )


@query(
    "qs52_cosine_topk",
    oracle="""
    SELECT vec_id, ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
            (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id=0)),4) AS sim
    FROM embeddings WHERE vec_id<>0 ORDER BY sim DESC, vec_id LIMIT 10
    """,
)
def qs52(spark: SparkSession, sf: str) -> DataFrame:
    """Brute-force cosine top-k against one query vector
    (operators/similarity.cosine_topk) — the exact baseline for
    similarity search. The single-row query side is broadcast; the
    scan stays embarrassingly parallel and the global top-k is
    TakeOrderedAndProject (per-partition k, then merge)."""
    from cds_etl_spark.operators.similarity import cosine_topk

    emb = load_table(spark, sf, "embeddings")
    q = (
        emb.filter(F.col("vec_id") == 0)
        .select(F.col("embedding").cast("array<double>").alias("qvec"))
    )
    scored = cosine_topk(emb.filter(F.col("vec_id") != 0), q, k=10)
    return scored.select("vec_id", F.round(F.col("sim"), 4).alias("sim"))


@query(
    "qs53_vector_group_agg",
    oracle="""
    SELECT label, COUNT(*) AS c,
           ROUND(AVG(list_dot_product(CAST(embedding AS DOUBLE[]),
                                      CAST(embedding AS DOUBLE[]))),4) AS avg_sqnorm
    FROM embeddings GROUP BY label
    """,
)
def qs53(spark: SparkSession, sf: str) -> DataFrame:
    """Per-label vector aggregate (squared-norm mean) via higher-order
    functions — no Python in the loop."""
    emb = load_table(spark, sf, "embeddings")
    e = F.col("embedding").cast("array<double>")
    return emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("c"),
        F.round(F.avg(dot_product(e, e)), 4).alias("avg_sqnorm"),
    )




# ---------------------------------------------------------------------------
# qs300 cross-table validation scorecard (the reference's report surface)
# ---------------------------------------------------------------------------


@query(
    "qs300_validation_scorecard",
    oracle="""
    WITH o AS (SELECT COUNT(*) AS n_orders,
                      SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0
                          END) AS null_cust
               FROM orders),
    l AS (SELECT COUNT(*) AS n_lineitems FROM lineitem),
    orph AS (
      SELECT COUNT(*) AS orphan_lineitems
      FROM lineitem WHERE NOT EXISTS (
        SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)),
    dup AS (
      SELECT COUNT(*) AS dup_order_keys FROM (
        SELECT o_orderkey FROM orders GROUP BY o_orderkey
        HAVING COUNT(*) > 1)),
    dates AS (
      SELECT SUM(CASE WHEN l_shipdate < o.o_orderdate THEN 1 ELSE 0
                 END) AS ship_before_order
      FROM lineitem JOIN orders o ON o_orderkey = l_orderkey),
    ssn AS (
      SELECT SUM(CASE WHEN regexp_matches(text,
                 '[0-9]{3}-[0-9]{2}-[0-9]{4}') THEN 1 ELSE 0 END)
        AS ssn_like_docs
      FROM documents),
    neg AS (
      SELECT SUM(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END)
        AS negative_balances,
        COUNT(*) AS n_customers
      FROM customer)
    SELECT CAST(o.n_orders AS BIGINT) AS n_orders,
           CAST(l.n_lineitems AS BIGINT) AS n_lineitems,
           CAST(neg.n_customers AS BIGINT) AS n_customers,
           CAST(orph.orphan_lineitems AS BIGINT) AS orphan_lineitems,
           CAST(dup.dup_order_keys AS BIGINT) AS dup_order_keys,
           CAST(o.null_cust AS BIGINT) AS null_custkeys,
           CAST(dates.ship_before_order AS BIGINT)
             AS ship_before_order,
           CAST(ssn.ssn_like_docs AS BIGINT) AS ssn_like_docs,
           CAST(neg.negative_balances AS BIGINT)
             AS negative_balances
    FROM o, l, orph, dup, dates, ssn, neg
    """,
)
def qs300(spark: SparkSession, sf: str) -> DataFrame:
    """VALIDATION SCORECARD — the reference's report surface
    (/root/reference/cds_transformation_functions.py:247-299:
    duplicate-ID detection, orphan detection, SSN regex scan) as
    ONE cross-table audit row: referential orphans (anti-join),
    duplicate keys, null foreign keys, temporal contract violations
    (ship before order), PII-pattern hits, and negative balances.
    The single row a pipeline gate reads before publishing a batch
    (reference EP1's validation step, O22/O23/O26 in SURVEY §2.1).

    Determinism: every metric is an exact integer count. Plan: each
    audit is one scan-fused aggregate or keyed anti-join/join;
    the seven one-row frames broadcast-cross into the scorecard —
    nothing joins at row grain except the two keyed checks."""
    o = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    c = load_table(spark, sf, "customer")
    d = load_table(spark, sf, "documents")
    om = o.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(
            F.when(F.col("o_custkey").isNull(), 1).otherwise(0)
        ).alias("null_custkeys"),
    )
    lm = li.agg(F.count(F.lit(1)).alias("n_lineitems"))
    orph = (
        li.join(
            o.select("o_orderkey"),
            li.l_orderkey == o.o_orderkey,
            "left_anti",
        ).agg(F.count(F.lit(1)).alias("orphan_lineitems"))
    )
    dup = (
        o.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") > 1)
        .agg(F.count(F.lit(1)).alias("dup_order_keys"))
    )
    dates = (
        li.join(o.select("o_orderkey", "o_orderdate"),
                li.l_orderkey == o.o_orderkey)
        .agg(
            F.sum(
                F.when(
                    F.col("l_shipdate") < F.col("o_orderdate"), 1
                ).otherwise(0)
            ).alias("ship_before_order")
        )
    )
    ssn = d.agg(
        F.sum(
            F.when(
                F.col("text").rlike(r"[0-9]{3}-[0-9]{2}-[0-9]{4}"), 1
            ).otherwise(0)
        ).alias("ssn_like_docs")
    )
    neg = c.agg(
        F.sum(F.when(F.col("c_acctbal") < 0, 1).otherwise(0)).alias(
            "negative_balances"
        ),
        F.count(F.lit(1)).alias("n_customers"),
    )
    row = (
        om.crossJoin(lm)
        .crossJoin(orph)
        .crossJoin(dup)
        .crossJoin(dates)
        .crossJoin(ssn)
        .crossJoin(neg)
    )
    return row.select(
        F.col("n_orders").cast("long").alias("n_orders"),
        F.col("n_lineitems").cast("long").alias("n_lineitems"),
        F.col("n_customers").cast("long").alias("n_customers"),
        F.col("orphan_lineitems").cast("long").alias("orphan_lineitems"),
        F.col("dup_order_keys").cast("long").alias("dup_order_keys"),
        F.col("null_custkeys").cast("long").alias("null_custkeys"),
        F.col("ship_before_order").cast("long").alias("ship_before_order"),
        F.col("ssn_like_docs").cast("long").alias("ssn_like_docs"),
        F.col("negative_balances").cast("long").alias("negative_balances"),
    )
