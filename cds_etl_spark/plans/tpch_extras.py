"""TPC-H shapes that need the ``partsupp`` table (Q2, Q9, Q16, Q20).

The driver's testdata ships 10 tables WITHOUT partsupp, so these four
queries cannot be registry entries — a ``queries()`` row would `err` on
the driver's parquet. They complete the TPC-H story as locally
oracle-checked extras instead: ``tools/gen_sf.py`` generates a
partsupp (4 suppliers per part, dbgen-style stride assignment, its own
rng stream so the 10 shipped tables stay byte-stable), and
``tests/test_tpch_partsupp.py`` runs each Spark plan against its
DuckDB oracle on that data. Deliberately NOT imported by
``plans/__init__`` — nothing here may leak into QUERIES/ORACLE_SQL
(the test asserts that too).

Column adaptations to the generated schema (no p_mfgr / s_address /
s_phone / s_comment / l_commitdate / l_receiptdate): each query keeps
its defining shape — Q2's correlated min-cost subquery, Q9's
multi-join profit rollup, Q16's excluded-supplier distinct count,
Q20's half-of-shipped-quantity threshold — over the columns that
exist, with money math in exact integer cents per the qs10 policy
(order-independent sums, no cross-engine ROUND-boundary risk).

Scale notes (the same discipline as the registry queries): every join
here is either broadcast-sized (part/supplier/nation/region dims) or
keyed on the fact table's natural key; Q20's per-(part,supp) shipped
quantity aggregates lineitem BEFORE joining partsupp, so the big
table's shuffle carries two longs per row, and Q2's min-cost is a
per-partkey window over partsupp, not a self-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cds_etl_spark.catalog import load_table


def q2_min_cost_supplier(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q2 shape: for size-15 LARGE parts, the supplier(s) in
    REGION_1 offering the minimum supply cost per part."""
    p = load_table(spark, sf, "part")
    s = load_table(spark, sf, "supplier")
    ps = load_table(spark, sf, "partsupp")
    n = load_table(spark, sf, "nation")
    r = load_table(spark, sf, "region")

    region_supp = (
        # bcast: DIM nation, 25 rows
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        # bcast: DIM region slice, <= 5 rows
        .join(F.broadcast(r.filter(F.col("r_name") == "REGION_1")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    cand = ps.join(
        region_supp, ps.ps_suppkey == region_supp.s_suppkey
    )
    w = Window.partitionBy("ps_partkey")
    best = cand.withColumn("_min_cost", F.min("ps_supplycost").over(w)).filter(
        F.col("ps_supplycost") == F.col("_min_cost")
    )
    target_parts = p.filter(
        (F.col("p_size") == 15) & (F.col("p_type") == "LARGE")
    ).select("p_partkey", "p_name")
    return (
        best.join(target_parts,
                  best.ps_partkey == target_parts.p_partkey)
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey",
            F.col("ps_supplycost").alias("min_cost"),
        )
    )


Q2_ORACLE = """
WITH region_supp AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'REGION_1'
),
cand AS (
  SELECT ps.*, rs.s_name, rs.s_acctbal, rs.n_name,
         MIN(ps_supplycost) OVER (PARTITION BY ps_partkey) AS min_cost
  FROM partsupp ps JOIN region_supp rs ON ps_suppkey = rs.s_suppkey
)
SELECT s_acctbal, s_name, n_name, p_partkey, ps_supplycost AS min_cost
FROM cand JOIN part ON ps_partkey = p_partkey
WHERE ps_supplycost = cand.min_cost AND p_size = 15 AND p_type = 'LARGE'
"""


def q9_product_type_profit(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q9 shape: profit by (nation, order year) over parts whose
    name contains 'green'. Profit in exact 1e-4-dollar integers
    (price_cents*(100-disc_cents) - cost_cents*100*qty), summed as
    BIGINT — order-independent, hash-safe."""
    p = load_table(spark, sf, "part").filter(F.col("p_name").contains("green"))
    s = load_table(spark, sf, "supplier")
    ps = load_table(spark, sf, "partsupp")
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders")
    n = load_table(spark, sf, "nation")

    amount_e4 = (
        (F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
        * (F.lit(100) - (F.col("l_discount") * 100 + F.lit(0.5)).cast("long"))
        - (F.col("ps_supplycost") * 100 + F.lit(0.5)).cast("long")
        * 100
        * F.col("l_quantity").cast("long")
    )
    return (
        li.join(p.select("p_partkey"), li.l_partkey == F.col("p_partkey"))
        .join(ps, (li.l_partkey == ps.ps_partkey) & (li.l_suppkey == ps.ps_suppkey))
        .join(s.select("s_suppkey", "s_nationkey"),
              li.l_suppkey == F.col("s_suppkey"))
        # bcast: DIM nation, 25 rows
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .join(o.select("o_orderkey", "o_orderdate"),
              li.l_orderkey == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.sum(amount_e4).alias("profit_e4"))
    )


Q9_ORACLE = """
SELECT n_name AS nation,
       CAST(year(o_orderdate) AS BIGINT) AS o_year,
       SUM(CAST(ROUND(l_extendedprice*100,0) AS BIGINT)
           * (100 - CAST(ROUND(l_discount*100,0) AS BIGINT))
           - CAST(ROUND(ps_supplycost*100,0) AS BIGINT) * 100
             * CAST(l_quantity AS BIGINT)) AS profit_e4
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN partsupp ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
WHERE p_name LIKE '%green%'
GROUP BY n_name, year(o_orderdate)
"""


def q16_supplier_part_count(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q16 shape: distinct suppliers per (brand, type, size) for
    non-excluded parts, excluding flagged suppliers (stand-in
    predicate: negative account balance, since the generated supplier
    has no comment column)."""
    p = load_table(spark, sf, "part")
    ps = load_table(spark, sf, "partsupp")
    s = load_table(spark, sf, "supplier")

    excluded = s.filter(F.col("s_acctbal") < 0).select(
        F.col("s_suppkey").alias("_ex")
    )
    parts = p.filter(
        (F.col("p_brand") != "Brand#5")
        & (~F.col("p_type").startswith("PROMO"))
        & (F.col("p_size").isin(1, 9, 15, 23, 31, 42, 49))
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    return (
        ps.join(parts, ps.ps_partkey == parts.p_partkey)
        .join(excluded, ps.ps_suppkey == F.col("_ex"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("ps_suppkey").alias("supplier_cnt"))
    )


Q16_ORACLE = """
SELECT p_brand, p_type, p_size,
       COUNT(DISTINCT ps_suppkey) AS supplier_cnt
FROM partsupp
JOIN part ON ps_partkey = p_partkey
WHERE p_brand <> 'Brand#5'
  AND p_type NOT LIKE 'PROMO%'
  AND p_size IN (1, 9, 15, 23, 31, 42, 49)
  AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
"""


def q20_potential_promotion(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers in NATION_3 holding availqty for a
    'green *' part exceeding half that (part, supplier)'s 1995 shipped
    quantity. The lineitem aggregation runs FIRST so the fact shuffle
    carries (partkey, suppkey, qty_sum) only; the 0.5x compare is
    integer-exact (2*availqty > sum_qty since l_quantity is
    integer-valued)."""
    p = load_table(spark, sf, "part")
    ps = load_table(spark, sf, "partsupp")
    s = load_table(spark, sf, "supplier")
    n = load_table(spark, sf, "nation")
    li = load_table(spark, sf, "lineitem")

    shipped = (
        li.filter(
            (F.col("l_shipdate") >= "1995-01-01")
            & (F.col("l_shipdate") < "1996-01-01")
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("qty_sum"))
    )
    green = p.filter(F.col("p_name").startswith("green")).select("p_partkey")
    qualifying = (
        ps.join(green, ps.ps_partkey == F.col("p_partkey"))
        .join(
            shipped,
            (ps.ps_partkey == shipped.l_partkey)
            & (ps.ps_suppkey == shipped.l_suppkey),
        )
        .filter(2 * F.col("ps_availqty").cast("long") > F.col("qty_sum"))
        .select("ps_suppkey")
        .distinct()
    )
    return (
        # bcast: DIM nation slice, 1 row
        s.join(F.broadcast(n.filter(F.col("n_name") == "NATION_3")),
               s.s_nationkey == F.col("n_nationkey"))
        .join(qualifying, s.s_suppkey == F.col("ps_suppkey"), "left_semi")
        .select("s_name")
    )


Q20_ORACLE = """
SELECT s_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_3'
  AND s_suppkey IN (
    SELECT ps_suppkey FROM partsupp
    WHERE ps_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'green%')
      AND 2 * CAST(ps_availqty AS BIGINT) > (
        SELECT SUM(CAST(l_quantity AS BIGINT)) FROM lineitem
        WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
          AND l_shipdate >= '1995-01-01' AND l_shipdate < '1996-01-01'
      )
  )
"""


PARTSUPP_QUERIES = {
    "tpch_q2_min_cost_supplier": (q2_min_cost_supplier, Q2_ORACLE),
    "tpch_q9_product_type_profit": (q9_product_type_profit, Q9_ORACLE),
    "tpch_q16_supplier_part_count": (q16_supplier_part_count, Q16_ORACLE),
    "tpch_q20_potential_promotion": (q20_potential_promotion, Q20_ORACLE),
}
