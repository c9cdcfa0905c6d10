"""Eval harnesses and advanced statistics: feature hashing, seasonal
decomposition, kNN/NDCG/blocking-recall, DiD, VaR, Benford, Simpson,
modularity, control charts (qs207-qs240) — one family of the declared oracle-checkable
query set. Registration contract, aliasing and cross-engine
rules: cds_etl_spark/plans/registry.py. Split from the former
single queries module with zero query changes; registration
order is preserved by the import order in plans/__init__.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cds_etl_spark.catalog import load_table
from cds_etl_spark.operators.prefix import (
    bucketed_prefix_sum,
    capped_row_number,
    scalable_ntile_multi,
)
from cds_etl_spark.plans.registry import query
from cds_etl_spark.operators.pin import cut_lineage
from cds_etl_spark.functions.vector import dot_product

@query(
    "qs207_feature_hashing",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
      FROM documents WHERE doc_id % 20 = 0)
    SELECT doc_id,
           ('0x' || substr(md5(term), 1, 8))::BIGINT % 1024
             AS bucket,
           COUNT(*) AS cnt
    FROM toks WHERE term <> ''
    GROUP BY 1, 2
    """,
)
def qs207(spark: SparkSession, sf: str) -> DataFrame:
    """Feature hashing (the hashing trick) — project each document's
    token counts into a FIXED 1024-dimension space via a portable
    hash, emitted in long/COO form (doc, bucket, count): the
    vectorizer that needs no vocabulary pass, no dictionary
    broadcast, and no vocabulary-size coordination across 1000
    executors — the reason Vowpal-Wabbit-style pipelines scale
    embarrassingly. Long form keeps the result hash-checkable (array
    columns break order-insensitive hashing, qs104's lesson) and IS
    the natural shuffle layout for the downstream sparse matmul
    (qs178 consumes exactly this shape).

    Determinism: the bucket is the first 8 hex chars of md5 — the
    engine-portable hash family qs122/qs143 standardized — mod a
    power of two; counts are exact. Plan: explode → one (doc,
    bucket) hash aggregate with map-side combine; the modulo filter
    prunes 95% of documents before the explode."""
    d = load_table(spark, sf, "documents").filter(
        F.col("doc_id") % 20 == 0
    )
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("term"),
    ).filter(F.col("term") != "")
    return toks.groupBy(
        "doc_id",
        (
            F.conv(F.substring(F.md5("term"), 1, 8), 16, 10).cast(
                "long"
            )
            % 1024
        ).alias("bucket"),
    ).agg(F.count(F.lit(1)).alias("cnt"))


@query(
    "qs208_quantile_normalization",
    oracle="""
    WITH m AS (
      SELECT l_suppkey % 10 AS grp,
             (year(l_shipdate) - 1995) * 12 + month(l_shipdate) AS t,
             SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS y
      FROM lineitem GROUP BY 1, 2),
    r AS (
      SELECT grp, t, y,
             ROW_NUMBER() OVER (PARTITION BY grp ORDER BY y, t)
               AS rk,
             COUNT(*) OVER (PARTITION BY grp) AS n
      FROM m),
    g AS (
      SELECT y AS gy,
             ROW_NUMBER() OVER (ORDER BY y, grp, t) AS gi
      FROM m),
    nn AS (SELECT COUNT(*) AS big_n FROM m)
    SELECT r.grp, r.t, CAST(r.y AS BIGINT) AS y,
           CAST(g.gy AS BIGINT) AS qnorm
    FROM r, nn
    JOIN g ON g.gi = ((r.rk - 1) * (nn.big_n - 1))
                // (r.n - 1) + 1
    """,
)
def qs208(spark: SparkSession, sf: str) -> DataFrame:
    """Quantile normalization — replace each group's monthly revenue
    by the POOLED distribution's value at the same quantile, so all
    series share one marginal distribution (the cross-sample
    calibration step microarray pipelines made standard and feature
    pipelines reuse before comparing heterogeneous sources; qs159's
    PSI measures the distribution drift this transform removes).

    Determinism: within-group rank and the pooled index are
    ROW_NUMBERs over total orders ((y, t) and (y, grp, t)); the
    quantile index ((rk−1)(N−1)) div (n−1) + 1 is floor arithmetic;
    the looked-up value depends only on the sorted multiset. Plan:
    two narrow aggregates feed two windows (group-partitioned and
    pooled over a calendar-bounded ~800-row table) and one equi
    join on the pooled index — every input is month-grid-sized, so
    the pooled single-partition window is metadata-scale, not
    data-scale."""
    li = load_table(spark, sf, "lineitem")
    m = li.groupBy(
        (F.col("l_suppkey") % 10).alias("grp"),
        (
            (F.year("l_shipdate") - 1995) * 12
            + F.month("l_shipdate")
        ).alias("t"),
    ).agg(
        F.sum(
            F.round(F.col("l_extendedprice") * 100, 0).cast("long")
        ).alias("y")
    )
    r = m.select(
        "grp",
        "t",
        "y",
        F.row_number()
        # window: GRID quantile normalization: per-group rank grid over grouped aggregate
        .over(Window.partitionBy("grp").orderBy("y", "t"))
        .alias("rk"),
        F.count(F.lit(1))
        .over(Window.partitionBy("grp"))
        .alias("n"),
    )
    g = m.select(
        F.col("y").alias("gy"),
        F.row_number()
        .over(Window.partitionBy().orderBy("y", "grp", "t"))
        .alias("gi"),
    )
    big_n = m.agg(F.count(F.lit(1)).alias("big_n"))
    return (
        r.crossJoin(big_n)
        .withColumn(
            "gi",
            F.expr("((rk - 1) * (big_n - 1)) div (n - 1) + 1"),
        )
        # bcast: CALENDAR pooled month-grid distribution (~800 rows, 10 grp x months)
        .join(F.broadcast(g), "gi")
        .select(
            "grp",
            "t",
            F.col("y").cast("long").alias("y"),
            F.col("gy").cast("long").alias("qnorm"),
        )
    )


@query(
    "qs209_seasonal_decompose",
    oracle="""
    WITH m AS (
      SELECT l_suppkey % 5 AS grp,
             (year(l_shipdate) - 1995) * 12 + month(l_shipdate) AS t,
             SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
               // 10000 AS y
      FROM lineitem GROUP BY 1, 2),
    w AS (
      SELECT grp, t, y,
             2 * SUM(y) OVER (PARTITION BY grp ORDER BY t
                 ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING)
               - lag(y, 6) OVER (PARTITION BY grp ORDER BY t)
               - lead(y, 6) OVER (PARTITION BY grp ORDER BY t)
               AS trend_x24,
             COUNT(*) OVER (PARTITION BY grp ORDER BY t
                 ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING) AS wn
      FROM m),
    d AS (
      SELECT grp, t, y, trend_x24, 24 * y - trend_x24 AS det_x24,
             (t - 1) % 12 AS moy
      FROM w WHERE wn = 13),
    s AS (
      SELECT grp, moy, SUM(det_x24) AS sn, COUNT(*) AS sc
      FROM d GROUP BY 1, 2)
    SELECT d.grp, d.t, CAST(d.y AS BIGINT) AS y,
           CAST(d.trend_x24 AS BIGINT) AS trend_x24,
           ROUND(CAST(s.sn AS DOUBLE) / s.sc / 24.0, 4) AS seasonal,
           ROUND((d.det_x24 - CAST(s.sn AS DOUBLE) / s.sc) / 24.0, 4)
             AS resid
    FROM d JOIN s ON d.grp = s.grp AND d.moy = s.moy
    """,
)
def qs209(spark: SparkSession, sf: str) -> DataFrame:
    """Additive seasonal decomposition (STL-lite) of each supplier
    group's monthly revenue: trend = the classical 2×12 centered
    moving average, seasonal = the month-of-year mean of the
    detrended series, residual = what's left — the decomposition
    behind every "is this a trend or just December" question (qs190
    profiles day-of-week seasonality; this separates all three
    components on the monthly grid).

    Determinism: y in 10⁴-cent units; trend×24 is the all-integer
    identity 2·Σ₋₆..₆ − y₋₆ − y₊₆ (half-weight endpoints of the
    even-period MA); the detrended series stays integer; only the
    seasonal mean divides, as one double division of exact
    integers, ROUND(,4) on output. Edge rows without the full
    13-observation window are excluded (wn = 13), observation-
    indexed like qs204.

    Plan: one (grp, month) aggregate, ONE user-partitioned window
    pass computing MA+lag+lead+count together, a month-of-year
    re-aggregate over the calendar-sized grid, and a grid-sized
    join — the raw scan shuffles once."""
    li = load_table(spark, sf, "lineitem")
    m = li.groupBy(
        (F.col("l_suppkey") % 5).alias("grp"),
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
    # window: GRID seasonal decompose: per-group month grid (+-6 frame)
    wo = Window.partitionBy("grp").orderBy("t")
    wr = wo.rowsBetween(-6, 6)
    w = m.select(
        "grp",
        "t",
        "y",
        (
            2 * F.sum("y").over(wr)
            - F.lag("y", 6).over(wo)
            - F.lead("y", 6).over(wo)
        ).alias("trend_x24"),
        F.count(F.lit(1)).over(wr).alias("wn"),
    )
    d = w.filter(F.col("wn") == 13).select(
        "grp",
        "t",
        "y",
        "trend_x24",
        (24 * F.col("y") - F.col("trend_x24")).alias("det_x24"),
        ((F.col("t") - 1) % 12).alias("moy"),
    )
    s = d.groupBy("grp", "moy").agg(
        F.sum("det_x24").alias("sn"), F.count(F.lit(1)).alias("sc")
    )
    return d.join(s, ["grp", "moy"]).select(
        "grp",
        "t",
        F.col("y").cast("long").alias("y"),
        F.col("trend_x24").cast("long").alias("trend_x24"),
        F.round(
            F.col("sn").cast("double") / F.col("sc") / F.lit(24.0), 4
        ).alias("seasonal"),
        F.round(
            (
                F.col("det_x24")
                - F.col("sn").cast("double") / F.col("sc")
            )
            / F.lit(24.0),
            4,
        ).alias("resid"),
    )


@query(
    "qs210_rfm_segments",
    oracle="""
    WITH base AS (
      SELECT o_custkey AS cust,
             date_diff('day', MAX(o_orderdate),
                       TIMESTAMP '2001-09-01') AS recency_days,
             COUNT(*) AS freq,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1),
    scored AS (
      SELECT cust, recency_days, freq, cents,
             CAST(ntile(5) OVER (ORDER BY recency_days DESC, cust)
                  AS BIGINT) AS r_score,
             CAST(ntile(5) OVER (ORDER BY freq, cust) AS BIGINT)
               AS f_score,
             CAST(ntile(5) OVER (ORDER BY cents, cust) AS BIGINT)
               AS m_score
      FROM base)
    SELECT cust, CAST(recency_days AS BIGINT) AS recency_days,
           CAST(freq AS BIGINT) AS freq, cents,
           r_score, f_score, m_score,
           CASE WHEN r_score >= 4 AND f_score >= 4 THEN 'champion'
                WHEN r_score >= 4 THEN 'recent'
                WHEN f_score >= 4 THEN 'loyal'
                WHEN r_score <= 2 AND f_score <= 2 THEN 'at_risk'
                ELSE 'regular' END AS segment
    FROM scored
    """,
)
def qs210(spark: SparkSession, sf: str) -> DataFrame:
    """RFM segmentation — quintile-score every customer on Recency
    / Frequency / Monetary and bucket into the marketing segments
    (champion / recent / loyal / at-risk / regular): the canonical
    customer-base cut that qs192's cohort-LTV and qs191's
    new-vs-returning views feed into. Anchor date is the fixed day
    after the data's last order so recency is reproducible.

    Determinism: ntile over TOTAL orders (metric, cust) — equal
    metrics split by key, so tile boundaries are exact; day diffs
    and cents are integers; the segment CASE is pure integer logic.
    Plan: one narrow per-customer aggregate, then ONE
    boundary-broadcast multi-ntile (operators/prefix.py
    scalable_ntile_multi): only the 4 quintile boundary pairs per
    metric are computed (via long-format distinct-value prefix
    sums), broadcast, and compared per row — bit-identical to the
    former global ntile windows, which put the whole customer
    dimension in ONE task each. No global sort survives anywhere in
    the plan; local[32] pays ~23% over the serial sort (8.5 vs
    6.9 s sf10 — three scans vs one) for unbounded cluster
    parallelism."""
    o = load_table(spark, sf, "orders")
    base = o.groupBy(F.col("o_custkey").alias("cust")).agg(
        F.datediff(
            F.lit("2001-09-01").cast("date"), F.max("o_orderdate")
        ).alias("recency_days"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(
            F.round(F.col("o_totalprice") * 100, 0).cast("long")
        ).alias("cents"),
    ).select(
        "cust",
        F.col("recency_days").cast("long").alias("recency_days"),
        F.col("freq").cast("long").alias("freq"),
        "cents",
    # r15 (guide §2.4): the ntile machinery scans its input ~3x (long-
    # format counts, per-value ties, final attach) — each scan re-ran
    # the orders aggregate. Materialize the customer-dimension-sized
    # frame once (r16: dimension tables grow with the input — corpus
    # class, cut_lineage).
    )
    base = cut_lineage(base)
    # ONE multi-metric ntile call: all three boundary sets come from
    # a single long-format pass over the customer frame (chaining
    # one-metric calls would re-evaluate the input per call).
    ranked = scalable_ntile_multi(
        base.withColumn("_negrec", -F.col("recency_days")),
        [("_negrec", "r_score"), ("freq", "f_score"), ("cents", "m_score")],
        "cust",
        5,
    )
    scored = ranked.select(
        "cust",
        "recency_days",
        "freq",
        "cents",
        F.col("r_score").cast("long").alias("r_score"),
        F.col("f_score").cast("long").alias("f_score"),
        F.col("m_score").cast("long").alias("m_score"),
    )
    return scored.withColumn(
        "segment",
        F.when(
            (F.col("r_score") >= 4) & (F.col("f_score") >= 4),
            "champion",
        )
        .when(F.col("r_score") >= 4, "recent")
        .when(F.col("f_score") >= 4, "loyal")
        .when(
            (F.col("r_score") <= 2) & (F.col("f_score") <= 2),
            "at_risk",
        )
        .otherwise("regular"),
    )


@query(
    "qs211_herfindahl_index",
    oracle="""
    WITH rev AS (
      SELECT s.s_nationkey AS nationkey, l.l_suppkey AS supp,
             SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS c
      FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY 1, 2),
    sh AS (
      SELECT nationkey, supp, c,
             (c * 10000) // SUM(c) OVER (PARTITION BY nationkey)
               AS share_e4
      FROM rev)
    SELECT n.n_name AS nation,
           CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           CAST(SUM(share_e4 * share_e4) AS BIGINT) AS hhi_e8,
           CAST(MAX(share_e4) AS BIGINT) AS top_share_e4
    FROM sh JOIN nation n ON sh.nationkey = n.n_nationkey
    GROUP BY 1
    """,
)
def qs211(spark: SparkSession, sf: str) -> DataFrame:
    """Herfindahl–Hirschman concentration index per supplier
    nation — Σ(share²) over each supplier's e4-scaled revenue share
    of its nation: the antitrust-grade concentration number that
    complements qs175 (which diagnoses processing skew) and qs189
    (Lorenz/Gini inequality) — HHI is the one regulators and
    category strategists quote (10 000 = monopoly, < 1 500 =
    competitive).

    Determinism: shares are floor divisions of exact cent sums
    (Σshare_e4 ≤ 10⁴ by construction), HHI is an exact integer sum
    of squares ≤ 10⁸. Plan: one (nation, supplier) hash aggregate
    collapses the fact table, the share window runs over the
    supplier-dimension-sized result (supplier scales with SF, so its
    join is unhinted — AQE chooses), the 25-row nation name join
    broadcasts — fact data shuffles exactly once."""
    li = load_table(spark, sf, "lineitem")
    su = load_table(spark, sf, "supplier")
    na = load_table(spark, sf, "nation")
    rev = (
        li.join(
            su, li["l_suppkey"] == su["s_suppkey"]
        )
        .groupBy(
            F.col("s_nationkey").alias("nationkey"),
            F.col("l_suppkey").alias("supp"),
        )
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100, 0).cast(
                    "long"
                )
            ).alias("c")
        )
    )
    sh = rev.withColumn(
        "share_e4",
        F.expr(
            "(c * 10000) div sum(c) OVER"
            " (PARTITION BY nationkey)"
        ),
    )
    return (
        sh.join(
            na,
            sh["nationkey"] == na["n_nationkey"],
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_suppliers"),
            F.sum(F.col("share_e4") * F.col("share_e4"))
            .cast("long")
            .alias("hhi_e8"),
            F.max("share_e4").cast("long").alias("top_share_e4"),
        )
    )


@query(
    "qs212_readability",
    oracle="""
    WITH c AS (
      SELECT doc_id,
             length(regexp_replace(lower(text), '[^ ]', '', 'g'))
               + 1 AS words,
             greatest(length(text)
               - length(replace(text, '.', '')), 1) AS sentences,
             greatest(length(regexp_replace(lower(text),
                 '[aeiouy]+', 'a', 'g'))
               - length(replace(regexp_replace(lower(text),
                 '[aeiouy]+', 'a', 'g'), 'a', '')), 1) AS vgroups
      FROM documents WHERE doc_id % 10 = 0 AND text <> ''),
    r AS (
      SELECT doc_id, words, sentences, vgroups,
             (words * 10000) // sentences AS wps_e4,
             (vgroups * 10000) // words AS spw_e4
      FROM c)
    SELECT doc_id, CAST(words AS BIGINT) AS words,
           CAST(sentences AS BIGINT) AS sentences,
           CAST(vgroups AS BIGINT) AS vgroups,
           CAST(wps_e4 AS BIGINT) AS wps_e4,
           CAST(spw_e4 AS BIGINT) AS spw_e4,
           CAST(206835 - (1015 * wps_e4) // 10000
                       - (84600 * spw_e4) // 10000 AS BIGINT)
             AS flesch_e3
    FROM r
    """,
)
def qs212(spark: SparkSession, sf: str) -> DataFrame:
    """Flesch-style readability scoring — words per sentence and
    vowel-group-per-word (the portable syllable proxy) folded into
    an e3-scaled Flesch reading-ease score per document: the
    text-quality signal the Gopher rules (qs147) and quality filter
    (qs124) don't capture (they gate on composition; this measures
    sentence complexity, a standard pretraining-corpus feature).

    Determinism: word count = space count + 1, sentences = period
    count (≥1), vowel groups via regexp_count of [aeiouy]+ — a
    marker replacement (every vowel group collapses to a lone 'a';
    all original vowels are consumed, so counting 'a' markers counts
    groups — DuckDB has no regexp_count) — a character-class-plus-
    quantifier pattern RE2 (DuckDB) and Java regex (Spark) treat
    identically; ratios and the Flesch fold are
    e4/e3 floor arithmetic, no doubles anywhere. Plan: pure
    row-local map over a 10%-pruned scan, one narrow projection —
    embarrassingly parallel at any scale."""
    d = load_table(spark, sf, "documents").filter(
        (F.col("doc_id") % 10 == 0) & (F.col("text") != "")
    )
    c = d.select(
        "doc_id",
        (
            F.length(
                F.regexp_replace(F.lower(F.col("text")), "[^ ]", "")
            )
            + 1
        ).alias("words"),
        F.greatest(
            F.length("text")
            - F.length(F.regexp_replace(F.col("text"), "\\.", "")),
            F.lit(1),
        ).alias("sentences"),
        F.greatest(
            F.length(
                F.regexp_replace(
                    F.lower(F.col("text")), "[aeiouy]+", "a"
                )
            )
            - F.length(
                F.regexp_replace(
                    F.regexp_replace(
                        F.lower(F.col("text")), "[aeiouy]+", "a"
                    ),
                    "a",
                    "",
                )
            ),
            F.lit(1),
        ).alias("vgroups"),
    )
    r = c.select(
        "doc_id",
        "words",
        "sentences",
        "vgroups",
        F.expr("(words * 10000) div sentences").alias("wps_e4"),
        F.expr("(vgroups * 10000) div words").alias("spw_e4"),
    )
    return r.select(
        F.col("doc_id"),
        F.col("words").cast("long").alias("words"),
        F.col("sentences").cast("long").alias("sentences"),
        F.col("vgroups").cast("long").alias("vgroups"),
        F.col("wps_e4").cast("long").alias("wps_e4"),
        F.col("spw_e4").cast("long").alias("spw_e4"),
        F.expr(
            "CAST(206835 - (1015 * wps_e4) div 10000"
            " - (84600 * spw_e4) div 10000 AS LONG)"
        ).alias("flesch_e3"),
    )


@query(
    "qs213_knn_accuracy",
    oracle="""
    WITH q AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
      FROM embeddings WHERE vec_id % 5 = 0),
    c AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
      FROM embeddings),
    scored AS (
      SELECT q.vec_id AS qid, q.label AS qlabel,
             c.vec_id AS cid, c.label AS clabel,
             ROUND(list_cosine_similarity(q.v, c.v), 6) AS sim
      FROM q JOIN c ON q.vec_id <> c.vec_id),
    top3 AS (
      SELECT qid, qlabel, clabel,
             ROW_NUMBER() OVER (PARTITION BY qid
                 ORDER BY sim DESC, cid) AS rk
      FROM scored),
    votes AS (
      SELECT qid, qlabel, clabel, COUNT(*) AS n
      FROM top3 WHERE rk <= 3 GROUP BY 1, 2, 3),
    pred AS (
      SELECT qid, qlabel, clabel AS plabel,
             ROW_NUMBER() OVER (PARTITION BY qid
                 ORDER BY n DESC, clabel) AS pr
      FROM votes)
    SELECT qlabel AS label,
           CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(SUM(CASE WHEN plabel = qlabel THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           CAST((SUM(CASE WHEN plabel = qlabel THEN 1 ELSE 0 END)
                 * 10000) // COUNT(*) AS BIGINT) AS accuracy_e4
    FROM pred WHERE pr = 1 GROUP BY 1
    """,
)
def qs213(spark: SparkSession, sf: str) -> DataFrame:
    """Leave-one-out 3-NN classifier evaluation over the embedding
    table — per-label accuracy of majority-vote nearest neighbors:
    the label-quality / embedding-quality eval every curation
    pipeline runs before trusting labels at scale (noisy-label
    detection is exactly "my neighbors disagree with me"). Uses the
    same exact-cosine kernel as qs52 and the ANN family; an IVF
    shortlist swaps in for the exact scan at corpus scale.

    Determinism: similarities are ROUND(,6) before ranking (both
    engines reduce the dot product left-to-right in doubles;
    rounding kills last-ulp rank flips, qs52's contract tightened),
    ties break by candidate id; majority vote breaks ties toward
    the smaller label; accuracy is e4 floor arithmetic. Plan: the
    query side (20%) joins the candidate scan, per-query top-3 via
    window rank, two narrow aggregates — candidate generation is
    the one quadratic stage and is the part ANN replaces."""
    from cds_etl_spark.functions.vector import l2_norm

    emb = load_table(spark, sf, "embeddings")
    # r15 (guide §4.3/§8, the qs58/qs146 fix): compute each vector's
    # L2 norm ONCE per row before the quadratic join — the per-pair
    # cosine ran THREE interpreted HOF passes (dot + both self-dots);
    # now each pair pays one HOF dot and a multiply/divide.
    # dot/(nq*nc) associates exactly like cosine_similarity's
    # dot/(|a|*|b|), so the doubles are bit-identical.
    q = emb.filter(F.col("vec_id") % 5 == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").cast("array<double>").alias("qv"),
        F.col("label").alias("qlabel"),
    ).withColumn("qn", l2_norm(F.col("qv")))
    # The scored join multiplies each candidate partition by the
    # whole broadcast query side; a single-file scan would run the
    # entire quadratic kernel in one task (qs206's lesson). Spread
    # candidates first. (Exact all-pairs is the EVAL harness — the
    # ANN family qs59/qs61/qs151 is the production path at scale.)
    c = emb.select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").cast("array<double>").alias("cv"),
        F.col("label").alias("clabel"),
    ).repartition(
        spark.sparkContext.defaultParallelism, "cid"
    ).withColumn("cn", l2_norm(F.col("cv")))
    scored = (
        # bcast: BOUNDED eval-harness 1/50 query sample; non-equi NLJ regardless of hint; production path is the ANN family
        F.broadcast(q)
        .join(c, F.col("qid") != F.col("cid"))
        .select(
            "qid",
            "qlabel",
            "cid",
            "clabel",
            F.round(
                dot_product(F.col("qv"), F.col("cv"))
                / (F.col("qn") * F.col("cn")),
                6,
            ).alias("sim"),
        )
    )
    top3 = scored.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("qid").orderBy(
                F.col("sim").desc(), "cid"
            )
        ),
    ).filter(F.col("rk") <= 3)
    votes = top3.groupBy("qid", "qlabel", "clabel").agg(
        F.count(F.lit(1)).alias("n")
    )
    pred = votes.withColumn(
        "pr",
        F.row_number().over(
            Window.partitionBy("qid").orderBy(
                F.col("n").desc(), "clabel"
            )
        ),
    ).filter(F.col("pr") == 1)
    correct = F.sum(
        F.when(F.col("clabel") == F.col("qlabel"), 1).otherwise(0)
    )
    return pred.groupBy(F.col("qlabel").alias("label")).agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        correct.cast("long").alias("n_correct"),
        F.expr(
            "CAST((SUM(CASE WHEN clabel = qlabel THEN 1 ELSE 0 END)"
            " * 10000) div COUNT(*) AS LONG)"
        ).alias("accuracy_e4"),
    )


@query(
    "qs214_degree_assortativity",
    oracle="""
    WITH pairs AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2
      FROM documents a JOIN documents b
        ON a.lang = b.lang AND a.n_chars = b.n_chars
       AND a.doc_id < b.doc_id),
    edges AS (
      SELECT d1 AS a, d2 AS b FROM pairs
      UNION ALL SELECT d2, d1 FROM pairs),
    deg AS (SELECT a AS node, COUNT(*) AS deg FROM edges GROUP BY 1),
    ed AS (
      SELECT da.deg AS x, db.deg AS y
      FROM edges e
      JOIN deg da ON e.a = da.node
      JOIN deg db ON e.b = db.node),
    s AS (
      SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * x) AS sxx, SUM(y * y) AS syy,
             SUM(x * y) AS sxy
      FROM ed)
    SELECT CAST(n AS BIGINT) AS n_edge_ends,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
               / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(n * syy - sy * sy AS DOUBLE)), 4)
             AS assortativity
    FROM s
    """,
)
def qs214(spark: SparkSession, sf: str) -> DataFrame:
    """Degree assortativity of the similarity graph — the Pearson
    correlation of endpoint degrees over all directed edge ends
    (Newman's r): do well-connected documents cluster with each
    other (r>0, hub cores — boilerplate families) or with leaves
    (r<0, star shapes — template + variants)? The one-number
    topology summary on the same (lang, n_chars) blocking graph
    qs94/qs108/qs120 analyze — it predicts whether component sizes
    explode under transitive dedup closure.

    Determinism: degrees and all five moment sums are exact
    integers; one double division over sqrt of exact-integer
    products, ROUND(,4). Plan: the (lang, n_chars) blocking graph
    is a DISJOINT UNION OF CLIQUES — every node in a size-k block
    has degree exactly k−1 and every edge stays inside its block —
    so each of the oracle's edge-end moments collapses to a
    block-size aggregate: n = Σ k(k−1), Σx = Σy = Σ k(k−1)², and
    Σx² = Σy² = Σxy = Σ k(k−1)³. The moments are the IDENTICAL
    exact integers the textbook edge enumeration produces
    (cross-checked against it in DuckDB), so the double epilogue is
    bit-equal — but the plan is ONE grouped scan over the block-size
    table instead of materializing the O(Σk²) edge expansion four
    times (36.4 s → sub-second at sf10; the oracle still states the
    edge-enumeration formulation)."""
    d = load_table(spark, sf, "documents").select("lang", "n_chars")
    blocks = d.groupBy("lang", "n_chars").agg(
        F.count(F.lit(1)).alias("k")
    ).filter(F.col("k") > 1)
    # Moment sums in DECIMAL(38): k(k−1)³ passes 64-bit at sf10
    # block sizes (the r7 scale-audit catch — ANSI long overflow);
    # DuckDB's integer SUM is already HUGEINT, so widening Spark's
    # accumulator keeps value identity exact.
    kk = F.col("k").cast("decimal(38,0)")
    ends = kk * (kk - 1)                     # directed edge ends per block
    s = blocks.agg(
        F.sum(ends).cast("long").alias("n"),
        F.sum(ends * (kk - 1)).alias("sx"),
        F.sum(ends * (kk - 1)).alias("sy"),
        F.sum(ends * (kk - 1) * (kk - 1)).alias("sxx"),
        F.sum(ends * (kk - 1) * (kk - 1)).alias("syy"),
        F.sum(ends * (kk - 1) * (kk - 1)).alias("sxy"),
    )
    n = F.col("n").cast("decimal(38,0)")
    return s.select(
        F.col("n").cast("long").alias("n_edge_ends"),
        F.round(
            (n * F.col("sxy") - F.col("sx") * F.col("sy"))
            .cast("double")
            / F.sqrt(
                (
                    n * F.col("sxx")
                    - F.col("sx") * F.col("sx")
                ).cast("double")
                * (
                    n * F.col("syy")
                    - F.col("sy") * F.col("sy")
                ).cast("double")
            ),
            4,
        ).alias("assortativity"),
    )


# e6-scaled 1/log2(i+1) NDCG position weights for ranks 1..10,
# precomputed as integer constants so the DCG fold is exact integer
# arithmetic in both engines (no per-row log/double accumulation).
_NDCG_W = [
    1000000, 630930, 500000, 430677, 386853,
    356207, 333333, 315465, 301030, 289065,
]
_NDCG_CASE = "CASE rk " + " ".join(
    f"WHEN {i + 1} THEN {w}" for i, w in enumerate(_NDCG_W)
) + " ELSE 0 END"
_NDCG_IDEAL = "CASE WHEN n_rel >= 10 THEN " + str(sum(_NDCG_W)) + " " + " ".join(
    f"WHEN n_rel = {k} THEN {sum(_NDCG_W[:k])}"
    for k in range(1, 10)
) + " ELSE 0 END"


@query(
    "qs215_ndcg_retrieval_eval",
    oracle=f"""
    WITH toks AS (
      SELECT DISTINCT doc_id,
             unnest(string_split(lower(text), ' ')) AS term
      FROM documents),
    q AS (SELECT doc_id, source FROM documents WHERE doc_id % 50 = 0),
    d AS (SELECT doc_id, source FROM documents),
    ov AS (
      SELECT q.doc_id AS qid, q.source AS qsrc,
             t2.doc_id AS cid, d.source AS csrc,
             COUNT(*) AS overlap
      FROM q
      JOIN toks t1 ON t1.doc_id = q.doc_id AND t1.term <> ''
      JOIN toks t2 ON t2.term = t1.term AND t2.doc_id <> q.doc_id
      JOIN d ON d.doc_id = t2.doc_id
      GROUP BY 1, 2, 3, 4),
    ranked AS (
      SELECT qid, qsrc, cid, csrc,
             ROW_NUMBER() OVER (PARTITION BY qid
                 ORDER BY overlap DESC, cid) AS rk
      FROM ov),
    rel AS (
      SELECT qid,
             SUM(CASE WHEN rk <= 10 AND csrc = qsrc
                 THEN {_NDCG_CASE} ELSE 0 END) AS dcg_e6
      FROM ranked GROUP BY qid),
    nrel AS (
      SELECT q.doc_id AS qid,
             (SELECT COUNT(*) FROM d
              WHERE d.source = q.source
                AND d.doc_id <> q.doc_id) AS n_rel
      FROM q)
    SELECT r.qid, CAST(r.dcg_e6 AS BIGINT) AS dcg_e6,
           CAST(({_NDCG_IDEAL}) AS BIGINT) AS idcg_e6,
           CAST((r.dcg_e6 * 1000000)
                // NULLIF(({_NDCG_IDEAL}), 0) AS BIGINT)
             AS ndcg_e6
    FROM rel r JOIN nrel ON r.qid = nrel.qid
    """,
)
def qs215(spark: SparkSession, sf: str) -> DataFrame:
    """NDCG@10 retrieval evaluation — rank every corpus document
    against each query document by DISTINCT-token overlap (the
    inverted-index join qs104 builds and qs84's BM25 refines),
    score same-source as relevant, and fold position-discounted
    gains into NDCG. The ranking-quality metric that closes the
    retrieval loop: qs84 ranks, qs152 filters, this measures
    whether the ranking is any good.

    Determinism: relevance (binary) and overlap counts are exact
    integers, so the ranking is integer-ordered with id tiebreaks;
    the log2 position discounts are PRE-SCALED e6 integer constants
    (module-level, emitted into both engines' SQL), so DCG/IDCG are
    exact integer folds and NDCG is one floor division — a ranking
    metric with zero floating point. Plan: the token self-join is
    the sparse retrieval join (term-keyed shuffle, distinct-token
    postings), per-query ranking windows are query-partitioned, and
    the ideal-DCG lookup is a CASE over the relevant-count — no
    second pass over the corpus."""
    from cds_etl_spark.operators.skew import spread_scan

    docs = load_table(spark, sf, "documents")
    # r15: spread the single-file scan (the tokenize explode ran in ONE
    # task, guide §2.5) and explode_outer — the inner explode's implicit
    # `size(...) > 0` pushdown re-evaluated the array_distinct/split
    # tokenize per row in an interpreted Filter (guide §1.3); NULL terms
    # from empty arrays are dropped by the existing `term != ''` filter.
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
    qt = toks.join(
        q, toks["doc_id"] == q["qid"]
    ).select("qid", "qsrc", "term")
    ov = (
        qt.join(
            toks.select(
                F.col("doc_id").alias("cid"), "term"
            ),
            "term",
        )
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
    rel = ranked.groupBy("qid").agg(
        F.sum(
            F.when(
                (F.col("rk") <= 10)
                & (F.col("csrc") == F.col("qsrc")),
                F.expr(_NDCG_CASE),
            ).otherwise(0)
        ).alias("dcg_e6")
    )
    nrel = (
        q.join(d, q["qsrc"] == d["csrc"])
        .filter(F.col("cid") != F.col("qid"))
        .groupBy("qid")
        .agg(F.count(F.lit(1)).alias("n_rel"))
    )
    out = rel.join(nrel, "qid").withColumn(
        "idcg_e6", F.expr(_NDCG_IDEAL)
    )
    return out.select(
        "qid",
        F.col("dcg_e6").cast("long").alias("dcg_e6"),
        F.col("idcg_e6").cast("long").alias("idcg_e6"),
        F.expr(
            "CAST((dcg_e6 * 1000000) div NULLIF(idcg_e6, 0)"
            " AS LONG)"
        ).alias("ndcg_e6"),
    )


@query(
    "qs216_did_estimator",
    oracle="""
    WITH cells AS (
      SELECT o_custkey % 2 AS treated,
             CASE WHEN o_orderdate >= TIMESTAMP '1998-01-01'
                  THEN 1 ELSE 0 END AS post,
             COUNT(*) AS n,
             SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS c
      FROM orders GROUP BY 1, 2),
    m AS (
      SELECT treated, post,
             CAST(c AS DOUBLE) / n AS mean_cents, n
      FROM cells)
    SELECT
      CAST((SELECT n FROM m WHERE treated = 1 AND post = 1)
           AS BIGINT) AS n_treated_post,
      ROUND((SELECT mean_cents FROM m WHERE treated=1 AND post=1)
          - (SELECT mean_cents FROM m WHERE treated=1 AND post=0)
          - ((SELECT mean_cents FROM m WHERE treated=0 AND post=1)
           - (SELECT mean_cents FROM m WHERE treated=0 AND post=0)),
          4) AS did_cents
    """,
)
def qs216(spark: SparkSession, sf: str) -> DataFrame:
    """Difference-in-differences estimator — the 2×2 causal
    workhorse: (treated post − treated pre) − (control post −
    control pre) on mean order value around the 1998 boundary, with
    odd customer keys as the treated arm. The experiment-analysis
    companion to qs168's z-test (which tests ONE difference; DiD
    nets out the common time trend first — the standard when
    treatment wasn't randomized at a point in time).

    Determinism: the four cell sums/counts are exact integers; each
    mean is one double division of exactly-representable values and
    the three subtractions are IEEE-identical cross-engine;
    ROUND(,4) on output. Plan: ONE narrow scan → 4-row aggregate →
    driver-sized pivot arithmetic; nothing shuffles twice."""
    o = load_table(spark, sf, "orders")
    cells = o.groupBy(
        (F.col("o_custkey") % 2).alias("treated"),
        F.when(
            F.col("o_orderdate") >= F.lit("1998-01-01").cast("date"),
            1,
        )
        .otherwise(0)
        .alias("post"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.round(F.col("o_totalprice") * 100, 0).cast("long")
        ).alias("c"),
    )
    m = cells.select(
        "treated",
        "post",
        (F.col("c").cast("double") / F.col("n")).alias("mean_cents"),
        "n",
    )
    # Conditional aggregation over the 4-row cell frame extracts the
    # 2x2 cells in one deterministic, driver-sized pass.
    agg = m.agg(
        F.max(
            F.when(
                (F.col("treated") == 1) & (F.col("post") == 1),
                F.col("mean_cents"),
            )
        ).alias("t1"),
        F.max(
            F.when(
                (F.col("treated") == 1) & (F.col("post") == 0),
                F.col("mean_cents"),
            )
        ).alias("t0"),
        F.max(
            F.when(
                (F.col("treated") == 0) & (F.col("post") == 1),
                F.col("mean_cents"),
            )
        ).alias("c1"),
        F.max(
            F.when(
                (F.col("treated") == 0) & (F.col("post") == 0),
                F.col("mean_cents"),
            )
        ).alias("c0"),
        F.max(
            F.when(
                (F.col("treated") == 1) & (F.col("post") == 1),
                F.col("n"),
            )
        ).alias("n_tp"),
    )
    return agg.select(
        F.col("n_tp").cast("long").alias("n_treated_post"),
        F.round(
            F.col("t1") - F.col("t0") - (F.col("c1") - F.col("c0")),
            4,
        ).alias("did_cents"),
    )


@query(
    "qs217_laspeyres_index",
    oracle="""
    WITH g AS (
      SELECT l_partkey % 100 AS grp,
             (year(l_shipdate) - 1995) * 12 + month(l_shipdate) AS t,
             SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS c,
             SUM(CAST(l_quantity AS BIGINT)) AS q
      FROM lineitem GROUP BY 1, 2),
    p AS (
      SELECT grp, t, (c * 100) // q AS p_e2 FROM g WHERE q > 0),
    base AS (
      SELECT grp,
             (SUM(c) * 100) // SUM(q) AS p0_e2, SUM(q) AS q0
      FROM g WHERE t BETWEEN 13 AND 24 AND q > 0
      GROUP BY grp),
    ix AS (
      SELECT p.t,
             SUM(p.p_e2 * base.q0) AS num,
             SUM(base.p0_e2 * base.q0) AS den
      FROM p JOIN base ON p.grp = base.grp
      GROUP BY p.t)
    SELECT t, CAST((num * 1000000) // den AS BIGINT) AS index_e6
    FROM ix WHERE den > 0
    """,
)
def qs217(spark: SparkSession, sf: str) -> DataFrame:
    """Laspeyres price index — monthly price level vs the 1996 base
    year, weighting each part group's unit price by its BASE-period
    quantity: Σ(pₜ·q₀)/Σ(p₀·q₀), the CPI construction. The
    economics-grade "are prices rising" series that raw revenue
    (volume-confounded) and qs190's seasonality can't answer.

    Determinism: unit prices are e2 floor divisions of exact cent
    and quantity sums; numerator/denominator are exact integer
    weighted sums (≤ ~10¹⁴); the index is one e6 floor division.
    Groups absent from the base period drop out by the inner join
    (fixed-basket semantics, as Laspeyres defines). Plan: one
    (grp, month) aggregate; the base-period table is group-sized
    and BROADCAST; the monthly re-aggregate shuffles the month
    grid only."""
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
        "grp", "t", F.expr("(c * 100) div q").alias("p_e2")
    )
    base = (
        g.filter(
            (F.col("t") >= 13) & (F.col("t") <= 24) & (F.col("q") > 0)
        )
        .groupBy("grp")
        .agg(
            F.expr("(SUM(c) * 100) div SUM(q)").alias("p0_e2"),
            F.sum("q").alias("q0"),
        )
    )
    ix = (
        # bcast: GRID partkey%100 base-period index, 100 rows
        p.join(F.broadcast(base), "grp")
        .groupBy("t")
        .agg(
            F.sum(F.col("p_e2") * F.col("q0")).alias("num"),
            F.sum(F.col("p0_e2") * F.col("q0")).alias("den"),
        )
    )
    # The e6 scaling is widened to DECIMAL(38) before the multiply:
    # num reaches ~10¹³ at sf10, so num·10⁶ passes 64-bit (r7 scale-
    # audit ANSI overflow catch). DuckDB's integer SUM is HUGEINT
    # already; the floor division itself is exact either way.
    return ix.filter(F.col("den") > 0).select(
        "t",
        F.expr(
            "CAST((CAST(num AS DECIMAL(38,0)) * 1000000) div den"
            " AS LONG)"
        ).alias("index_e6"),
    )


@query(
    "qs218_dbscan_core_points",
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
    nbr AS (
      SELECT a.id, COUNT(*) AS n_neighbors
      FROM cells a JOIN cells b
        ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
       AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
       AND a.id <> b.id
       AND (a.lat - b.lat) * (a.lat - b.lat)
         + (a.lon - b.lon) * (a.lon - b.lon) <= 2500000000
      GROUP BY a.id),
    lab AS (
      SELECT p.id, COALESCE(n.n_neighbors, 0) AS n_neighbors,
             CASE WHEN COALESCE(n.n_neighbors, 0) >= 4
                  THEN 1 ELSE 0 END AS is_core
      FROM pts p LEFT JOIN nbr n ON p.id = n.id),
    border AS (
      SELECT DISTINCT a.id
      FROM cells a
      JOIN cells b ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
       AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
       AND a.id <> b.id
       AND (a.lat - b.lat) * (a.lat - b.lat)
         + (a.lon - b.lon) * (a.lon - b.lon) <= 2500000000
      JOIN lab lb ON lb.id = b.id AND lb.is_core = 1)
    SELECT lab.id, CAST(lab.n_neighbors AS BIGINT) AS n_neighbors,
           CASE WHEN lab.is_core = 1 THEN 'core'
                WHEN border.id IS NOT NULL THEN 'border'
                ELSE 'noise' END AS role
    FROM lab LEFT JOIN border ON lab.id = border.id
    """,
)
def qs218(spark: SparkSession, sf: str) -> DataFrame:
    """DBSCAN density classification — label every point core /
    border / noise (eps = the qs206 radius, minPts = 4 neighbors):
    the density phase of DBSCAN, after which clusters are exactly
    the connected components (qs81's operator) of the core-point
    graph. Reuses qs206's uniform-grid candidate generation — the
    same blocked join does neighbor COUNTING here instead of pair
    listing, which is the form whose output stays LINEAR in the
    points regardless of density.

    Determinism: all-integer coords/distances; role labels are
    integer threshold logic; border status is a semi-join against
    core neighbors. Plan: two grid-blocked equi joins (count, then
    core-adjacency semi-join), both repartitioned on the cell key
    before expansion (qs206's lesson); the core-label table
    broadcasts."""
    cu = load_table(spark, sf, "customer")
    pts = cu.select(
        F.col("c_custkey").alias("id"),
        ((F.col("c_custkey") * 48271) % 1800000 - 900000).alias(
            "lat"
        ),
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
    a = cells.repartition(
        spark.sparkContext.defaultParallelism, "cx", "cy"
    )
    within = (
        (F.col("lat") - F.col("lat_b"))
        * (F.col("lat") - F.col("lat_b"))
        + (F.col("lon") - F.col("lon_b"))
        * (F.col("lon") - F.col("lon_b"))
        <= 2500000000
    )
    pairs = (
        a.join(b, ["cx", "cy"])
        .filter((F.col("id") != F.col("id_b")) & within)
        .select("id", "id_b")
    )
    nbr = pairs.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_neighbors")
    )
    lab = pts.select("id").join(nbr, "id", "left").select(
        "id",
        F.coalesce("n_neighbors", F.lit(0)).alias("n_neighbors"),
        (F.coalesce("n_neighbors", F.lit(0)) >= 4).alias("is_core"),
    )
    core = lab.filter(F.col("is_core")).select(
        F.col("id").alias("id_b")
    )
    border = (
        pairs.join(core, "id_b")
        .select("id")
        .distinct()
        .withColumn("has_core_nbr", F.lit(True))
    )
    return lab.join(border, "id", "left").select(
        "id",
        F.col("n_neighbors").cast("long").alias("n_neighbors"),
        F.when(F.col("is_core"), "core")
        .when(F.col("has_core_nbr").isNotNull(), "border")
        .otherwise("noise")
        .alias("role"),
    )


@query(
    "qs219_abc_classification",
    oracle="""
    WITH rev AS (
      SELECT l_partkey % 200 AS pgrp,
             SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS c
      FROM lineitem GROUP BY 1),
    w AS (
      SELECT pgrp, c,
             SUM(c) OVER (ORDER BY c DESC, pgrp
                          ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(c) OVER () AS total
      FROM rev)
    SELECT pgrp, CAST(c AS BIGINT) AS rev_cents,
           CAST((cum * 10000) // total AS BIGINT) AS cum_share_e4,
           CASE WHEN cum * 100 <= total * 80 THEN 'A'
                WHEN cum * 100 <= total * 95 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM w
    """,
)
def qs219(spark: SparkSession, sf: str) -> DataFrame:
    """ABC classification — rank part groups by revenue and cut the
    descending cumulative share at 80%/95% into the A/B/C inventory
    classes: the Pareto cut every ops and procurement team runs
    (qs189's Lorenz deciles describe the whole inequality curve;
    ABC is the actionable 3-bucket version of it).

    Determinism: exact cent sums; the cumulative window orders by
    (revenue DESC, group); class thresholds are exact integer
    cross-multiplications (cum·100 ≤ total·80 avoids any division).
    Plan: one narrow fact aggregate, then windows over the
    group-sized table — the global window runs on 200 rows, not
    the fact table."""
    li = load_table(spark, sf, "lineitem")
    rev = li.groupBy((F.col("l_partkey") % 200).alias("pgrp")).agg(
        F.sum(
            F.round(F.col("l_extendedprice") * 100, 0).cast("long")
        ).alias("c")
    )
    w = rev.select(
        "pgrp",
        "c",
        F.sum("c")
        .over(
            # window: GRID ABC: 200-group cumulative revenue
            Window.orderBy(F.col("c").desc(), "pgrp").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .alias("cum"),
        F.sum("c").over(Window.partitionBy()).alias("total"),
    )
    return w.select(
        "pgrp",
        F.col("c").cast("long").alias("rev_cents"),
        F.expr("CAST((cum * 10000) div total AS LONG)").alias(
            "cum_share_e4"
        ),
        F.when(
            F.col("cum") * 100 <= F.col("total") * 80, "A"
        )
        .when(F.col("cum") * 100 <= F.col("total") * 95, "B")
        .otherwise("C")
        .alias("abc_class"),
    )


@query(
    "qs220_segment_migration",
    oracle="""
    WITH yr AS (
      SELECT o_custkey AS cust, year(o_orderdate) AS y,
             COUNT(*) AS freq,
             SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders WHERE year(o_orderdate) IN (1996, 1997)
      GROUP BY 1, 2),
    scored AS (
      SELECT cust, y,
             CAST(ntile(4) OVER (PARTITION BY y
                 ORDER BY cents, cust) AS BIGINT) AS tier
      FROM yr),
    m AS (
      SELECT a.cust, a.tier AS tier_1996, b.tier AS tier_1997
      FROM scored a JOIN scored b
        ON a.cust = b.cust AND a.y = 1996 AND b.y = 1997)
    SELECT tier_1996, tier_1997,
           CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM m GROUP BY 1, 2
    """,
)
def qs220(spark: SparkSession, sf: str) -> DataFrame:
    """Segment-migration matrix — quartile-tier every customer's
    spend in 1996 and in 1997, then count the 4×4 transition cells:
    the "are my gold customers sliding to bronze" movement view
    that a static RFM snapshot (qs210) can't show and qs198's rank
    movers show only for the extremes. The matrix is the input to
    qs123-style Markov churn projections.

    Determinism: per-year ntile over the total (cents, cust) order;
    the join keeps customers active in BOTH years (migration is
    defined on survivors; qs191 counts the entries/exits). Plan:
    one narrow (cust, year) aggregate, per-year window partitions,
    a customer-keyed self-join, and a 16-cell aggregate."""
    o = load_table(spark, sf, "orders")
    yr = (
        o.filter(F.year("o_orderdate").isin(1996, 1997))
        .groupBy(
            F.col("o_custkey").alias("cust"),
            F.year("o_orderdate").alias("y"),
        )
        .agg(
            F.count(F.lit(1)).alias("freq"),
            F.sum(
                F.round(F.col("o_totalprice") * 100, 0).cast("long")
            ).alias("cents"),
        )
    )
    scored = yr.select(
        "cust",
        "y",
        F.ntile(4)
        # window: REJECT tier ntile per year: qs245-shape measured reject (BASELINE r9 task 5)
        .over(Window.partitionBy("y").orderBy("cents", "cust"))
        .cast("long")
        .alias("tier"),
    )
    a = scored.filter(F.col("y") == 1996).select(
        "cust", F.col("tier").alias("tier_1996")
    )
    b = scored.filter(F.col("y") == 1997).select(
        "cust", F.col("tier").alias("tier_1997")
    )
    return (
        a.join(b, "cust")
        .groupBy("tier_1996", "tier_1997")
        .agg(F.count(F.lit(1)).cast("long").alias("n_customers"))
    )


@query(
    "qs221_mase_forecast_eval",
    oracle="""
    WITH m AS (
      SELECT l_suppkey % 10 AS grp,
             (year(l_shipdate) - 1995) * 12 + month(l_shipdate) AS t,
             SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
               // 10000 AS y
      FROM lineitem GROUP BY 1, 2),
    lagged AS (
      SELECT grp, t, y,
             lag(y, 12) OVER (PARTITION BY grp ORDER BY t) AS snaive,
             lag(y, 1) OVER (PARTITION BY grp ORDER BY t) AS naive1
      FROM m),
    e AS (
      SELECT grp,
             SUM(CASE WHEN snaive IS NOT NULL
                 THEN abs(y - snaive) END) AS mae_s_num,
             COUNT(snaive) AS n_s,
             SUM(CASE WHEN naive1 IS NOT NULL
                 THEN abs(y - naive1) END) AS mae_1_num,
             COUNT(naive1) AS n_1
      FROM lagged GROUP BY grp)
    SELECT grp, CAST(n_s AS BIGINT) AS n_eval,
           CAST((mae_s_num * n_1 * 1000000)
                // NULLIF(mae_1_num * n_s, 0) AS BIGINT) AS mase_e6
    FROM e
    """,
)
def qs221(spark: SparkSession, sf: str) -> DataFrame:
    """MASE forecast-accuracy evaluation — the seasonal-naive
    forecast (same month last year) scored against the one-step
    naive baseline as Mean Absolute Scaled Error per series:
    Hyndman's scale-free metric that makes forecast quality
    comparable across series of different volumes (MASE < 1e6 here
    means seasonal-naive beats drift — the go/no-go gate before
    shipping qs141's trend forecast or qs209's decomposition as a
    predictor).

    Determinism: both error sums are exact integer sums of absolute
    differences; MASE is one e6 floor division with the counts
    cross-multiplied (no intermediate means). Plan: one (grp,
    month) aggregate, one window pass computing both lags, one
    final group aggregate — same single-shuffle shape as qs204."""
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
    # window: GRID MASE: per-series day grid
    w = Window.partitionBy("grp").orderBy("t")
    lagged = m.select(
        "grp",
        "y",
        F.lag("y", 12).over(w).alias("snaive"),
        F.lag("y", 1).over(w).alias("naive1"),
    )
    e = lagged.groupBy("grp").agg(
        F.sum(
            F.when(
                F.col("snaive").isNotNull(),
                F.abs(F.col("y") - F.col("snaive")),
            )
        ).alias("mae_s_num"),
        F.count("snaive").alias("n_s"),
        F.sum(
            F.when(
                F.col("naive1").isNotNull(),
                F.abs(F.col("y") - F.col("naive1")),
            )
        ).alias("mae_1_num"),
        F.count("naive1").alias("n_1"),
    )
    return e.select(
        "grp",
        F.col("n_s").cast("long").alias("n_eval"),
        F.expr(
            "CAST((mae_s_num * n_1 * 1000000)"
            " div NULLIF(mae_1_num * n_s, 0) AS LONG)"
        ).alias("mase_e6"),
    )


@query(
    "qs222_jaccard_link_prediction",
    oracle="""
    WITH e1 AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2
      FROM documents a JOIN documents b
        ON a.lang = b.lang AND a.n_chars = b.n_chars
       AND a.doc_id < b.doc_id),
    e2 AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2
      FROM documents a JOIN documents b
        ON a.source = b.source AND a.n_chars % 5 = b.n_chars % 5
       AND a.doc_id < b.doc_id),
    pairs AS (
      SELECT DISTINCT d1, d2 FROM
        (SELECT * FROM e1 UNION ALL SELECT * FROM e2)),
    edges AS (
      SELECT d1 AS a, d2 AS b FROM pairs
      UNION ALL SELECT d2, d1 FROM pairs),
    deg AS (SELECT a AS node, COUNT(*) AS deg FROM edges GROUP BY 1),
    cn AS (
      SELECT x.a AS u, y.a AS v, COUNT(*) AS common
      FROM edges x JOIN edges y
        ON x.b = y.b AND x.a < y.a
      GROUP BY 1, 2),
    nonedge AS (
      SELECT cn.u, cn.v, cn.common
      FROM cn LEFT JOIN pairs p
        ON p.d1 = cn.u AND p.d2 = cn.v
      WHERE p.d1 IS NULL)
    SELECT ne.u, ne.v, CAST(ne.common AS BIGINT) AS common_nbrs,
           CAST((ne.common * 1000000)
                // (du.deg + dv.deg - ne.common) AS BIGINT)
             AS jaccard_e6
    FROM nonedge ne
    JOIN deg du ON du.node = ne.u
    JOIN deg dv ON dv.node = ne.v
    """,
)
def qs222(spark: SparkSession, sf: str) -> DataFrame:
    """Jaccard link prediction — for every NON-adjacent node pair
    with ≥2 common neighbors, the Jaccard overlap of their
    neighborhoods |Γu∩Γv| / |Γu∪Γv|: the classic "who should be
    connected" score (recommendation, missing-dedup-edge recovery)
    over a TWO-blocking graph (the (lang, n_chars) similarity edges
    unioned with (source, n_chars band) provenance edges — a single
    blocking yields cliques where every 2-hop pair is already an
    edge and link prediction is vacuous). The 2-hop wedge join is
    qs108\'s triangle kernel pointed at OPEN wedges instead of
    closed ones.

    Determinism: common-neighbor counts, degrees, and the e6
    Jaccard floor division are all exact integers; the union size
    is deg_u + deg_v − common (inclusion–exclusion, no second
    neighborhood pass). Plan: wedges shuffle on the shared
    neighbor (blocked, bounded per block), the edge anti-join
    removes existing pairs; the per-node degree table is
    CORPUS-PROPORTIONAL, so its joins carry no broadcast hint (AQE
    chooses; at measured SFs it still broadcasts)."""
    d = load_table(spark, sf, "documents").select(
        "doc_id", "lang", "n_chars", "source"
    )
    a1 = d.select(F.col("doc_id").alias("d1"), "lang", "n_chars")
    b1 = d.select(F.col("doc_id").alias("d2"), "lang", "n_chars")
    sim = a1.join(b1, ["lang", "n_chars"]).filter(
        F.col("d1") < F.col("d2")
    )
    a2 = d.select(
        F.col("doc_id").alias("d1"),
        "source",
        (F.col("n_chars") % 5).alias("band"),
    )
    b2 = d.select(
        F.col("doc_id").alias("d2"),
        "source",
        (F.col("n_chars") % 5).alias("band"),
    )
    prov = a2.join(b2, ["source", "band"]).filter(
        F.col("d1") < F.col("d2")
    )
    # r15 (guide §2.4): `pairs` feeds edges (2x), the anti-join and —
    # via edges — the degree table and both wedge sides; without the
    # checkpoint the two blocked self-joins + distinct re-ran per
    # reference (qs334 precedent).
    pairs = cut_lineage(  # pin: corpus-scale pair set
        sim.select("d1", "d2").unionAll(prov.select("d1", "d2")).distinct()
    )
    edges = pairs.select(
        F.col("d1").alias("a"), F.col("d2").alias("b")
    ).unionAll(
        pairs.select(F.col("d2").alias("a"), F.col("d1").alias("b"))
    )
    deg = edges.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    wx = edges.select(F.col("a").alias("u"), "b")
    wy = edges.select(F.col("a").alias("v"), "b")
    cn = (
        wx.join(wy, "b")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    nonedge = cn.join(
        pairs.select(
            F.col("d1").alias("u"), F.col("d2").alias("v")
        ),
        ["u", "v"],
        "left_anti",
    )
    return (
        nonedge.join(
            deg.select(
                F.col("node").alias("u"),
                F.col("deg").alias("du"),
            ),
            "u",
        )
        .join(
            deg.select(
                F.col("node").alias("v"),
                F.col("deg").alias("dv"),
            ),
            "v",
        )
        .select(
            "u",
            "v",
            F.col("common").cast("long").alias("common_nbrs"),
            F.expr(
                "CAST((common * 1000000)"
                " div (du + dv - common) AS LONG)"
            ).alias("jaccard_e6"),
        )
    )


@query(
    "qs223_event_study_lift",
    oracle="""
    WITH r AS (
      SELECT n.n_regionkey AS rkey,
             CAST(o.o_orderdate AS DATE) AS d,
             CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS c
      FROM orders o
      JOIN customer cu ON o.o_custkey = cu.c_custkey
      JOIN nation n ON cu.c_nationkey = n.n_nationkey
      WHERE o.o_orderdate >= DATE '1996-12-18'
        AND o.o_orderdate < DATE '1997-01-02'),
    agg AS (
      SELECT rkey,
             SUM(CASE WHEN d < DATE '1996-12-25' THEN c END) AS pre_c,
             SUM(CASE WHEN d >= DATE '1996-12-25' THEN c END)
               AS post_c
      FROM r GROUP BY rkey)
    SELECT rg.r_name AS region,
           CAST(pre_c AS BIGINT) AS pre_cents,
           CAST(post_c AS BIGINT) AS post_cents,
           CAST((post_c * 7 * 10000) // NULLIF(pre_c * 8, 0)
                AS BIGINT) AS lift_e4
    FROM agg JOIN region rg ON agg.rkey = rg.r_regionkey
    """,
)
def qs223(spark: SparkSession, sf: str) -> DataFrame:
    """Event-study lift — mean daily revenue in the 8 days from the
    event (1996-12-25) vs the 7 days before, per region: the
    promo-impact readout marketing runs after every campaign (the
    single-event, short-window cousin of qs216's DiD — no control
    arm, the pre-window IS the counterfactual).

    Determinism: exact cent sums; the day-count normalization is
    cross-multiplied into the e4 floor division (post·7·10⁴ div
    pre·8) so no mean is ever materialized as a double. Plan: the
    date filter prunes at the scan, both dims broadcast, one 5-row
    aggregate."""
    o = load_table(spark, sf, "orders")
    cu = load_table(spark, sf, "customer")
    n = load_table(spark, sf, "nation")
    rg = load_table(spark, sf, "region")
    r = (
        o.filter(
            (F.col("o_orderdate") >= F.lit("1996-12-18").cast("date"))
            & (F.col("o_orderdate") < F.lit("1997-01-02").cast("date"))
        )
        .join(cu, o["o_custkey"] == cu["c_custkey"])
        .join(n, cu["c_nationkey"] == n["n_nationkey"])
        .select(
            F.col("n_regionkey").alias("rkey"),
            F.col("o_orderdate").cast("date").alias("d"),
            F.round(F.col("o_totalprice") * 100, 0)
            .cast("long")
            .alias("c"),
        )
    )
    agg = r.groupBy("rkey").agg(
        F.sum(
            F.when(
                F.col("d") < F.lit("1996-12-25").cast("date"),
                F.col("c"),
            )
        ).alias("pre_c"),
        F.sum(
            F.when(
                F.col("d") >= F.lit("1996-12-25").cast("date"),
                F.col("c"),
            )
        ).alias("post_c"),
    )
    return agg.join(
        rg, agg["rkey"] == rg["r_regionkey"]
    ).select(
        F.col("r_name").alias("region"),
        F.col("pre_c").cast("long").alias("pre_cents"),
        F.col("post_c").cast("long").alias("post_cents"),
        F.expr(
            "CAST((post_c * 7 * 10000) div NULLIF(pre_c * 8, 0)"
            " AS LONG)"
        ).alias("lift_e4"),
    )


@query(
    "qs224_log_odds_keywords",
    oracle="""
    WITH toks AS (
      SELECT source, unnest(string_split(lower(text), ' ')) AS term
      FROM documents),
    tc AS (
      SELECT source, term, COUNT(*) AS y
      FROM toks WHERE term <> '' GROUP BY 1, 2),
    src AS (SELECT source, SUM(y) AS n FROM tc GROUP BY 1),
    tot AS (
      SELECT term, SUM(y) AS yw FROM tc GROUP BY 1),
    g AS (SELECT SUM(y) AS n_all, COUNT(DISTINCT term) AS v FROM tc),
    d AS (
      SELECT tc.source, tc.term,
             ln((tc.y + 1.0)
                / (src.n + g.v - tc.y - 1.0))
           - ln((tot.yw + 1.0)
                / (g.n_all + g.v - tot.yw - 1.0)) AS delta
      FROM tc
      JOIN src ON tc.source = src.source
      JOIN tot ON tc.term = tot.term
      CROSS JOIN g),
    rk AS (
      SELECT source, term, ROUND(delta, 6) AS delta_r,
             ROW_NUMBER() OVER (PARTITION BY source
                 ORDER BY ROUND(delta, 6) DESC, term) AS rk
      FROM d)
    SELECT source, term, delta_r AS log_odds, CAST(rk AS BIGINT) AS rk
    FROM rk WHERE rk <= 5
    """,
)
def qs224(spark: SparkSession, sf: str) -> DataFrame:
    """Distinctive-keyword extraction via log-odds with a Dirichlet
    prior (Monroe et al.'s "Fightin' Words") — the top-5 terms that
    distinguish each source from the rest of the corpus: the
    principled replacement for raw tf-idf keyword lists (qs115)
    when comparing CORPORA rather than documents — the prior stops
    rare words from dominating, the odds form stops stopwords.

    Determinism: all counts exact integers; each ln sees a single
    division of exact-integer-valued doubles (the qs84/qs184 ln
    contract), deltas are ROUND(,6) BEFORE ranking so cross-engine
    last-ulp noise cannot flip ranks, term breaks ties. Plan:
    tokenize → (source, term) aggregate; the per-source and
    per-term marginals are dimension-sized broadcasts; one window
    per source partition."""
    docs = load_table(spark, sf, "documents")
    tc = (
        docs.select(
            "source",
            F.explode(
                F.split(F.lower(F.col("text")), " ")
            ).alias("term"),
        )
        .filter(F.col("term") != "")
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("y"))
    )
    src = tc.groupBy("source").agg(F.sum("y").alias("n"))
    tot = tc.groupBy("term").agg(F.sum("y").alias("yw"))
    g = tc.agg(
        F.sum("y").alias("n_all"),
        F.countDistinct("term").alias("v"),
    )
    d = (
        # bcast: GRID per-source totals, one row per source label
        tc.join(F.broadcast(src), "source")
        .join(tot, "term")
        .crossJoin(g)
        .select(
            "source",
            "term",
            (
                F.log(
                    (F.col("y") + 1.0)
                    / (
                        F.col("n")
                        + F.col("v")
                        - F.col("y")
                        - F.lit(1.0)
                    )
                )
                - F.log(
                    (F.col("yw") + 1.0)
                    / (
                        F.col("n_all")
                        + F.col("v")
                        - F.col("yw")
                        - F.lit(1.0)
                    )
                )
            ).alias("delta"),
        )
    )
    # Per-source top-5 on capped_row_number (r10): the plain
    # partitionBy(source) window is 5 tasks over the whole vocab —
    # a corpus-scaling cliff. Descending delta becomes the ascending
    # negation (finite rounded doubles — order-equivalent), the
    # operator's unique-total-order contract is (delta, term).
    rk = capped_row_number(
        d.select(
            "source",
            "term",
            F.round("delta", 6).alias("delta_r"),
            (-F.round("delta", 6)).alias("_nd"),
        ),
        ["source"],
        ["_nd", "term"],
        5,
        out_col="rk",
    )
    return rk.select(
        "source",
        "term",
        F.col("delta_r").alias("log_odds"),
        F.col("rk").cast("long").alias("rk"),
    )


@query(
    "qs225_golden_record",
    oracle="""
    WITH c AS (
      SELECT c_custkey // 5 AS entity, c_custkey,
             c_name, c_nationkey, c_mktsegment,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents
      FROM customer)
    SELECT entity,
           CAST(COUNT(*) AS BIGINT) AS n_records,
           arg_max(c_name, bal_cents * 10000000 + c_custkey)
             AS name,
           CAST(MAX(bal_cents) AS BIGINT) AS best_bal_cents,
           arg_min(c_mktsegment, c_custkey) AS segment,
           CAST(MIN(c_nationkey) AS BIGINT) AS nationkey
    FROM c GROUP BY entity
    """,
)
def qs225(spark: SparkSession, sf: str) -> DataFrame:
    """Golden-record survivorship — collapse each duplicate-entity
    group to ONE master record with per-field survivorship rules
    (name from the highest-balance record, segment from the
    earliest record, conservative min for nation): the MDM merge
    step that runs AFTER matching (qs114's fuzzy link / qs81's
    components decide who is the same; this decides what the
    merged row says). Entity = custkey div 5 stands in for the
    matcher's cluster id.

    Determinism: every argmax key is a PACKED integer
    (bal·10⁷+key — the composite-argmax encoding the verify notes
    require, since DuckDB arg_max takes no composite key); all
    rules are min/max/arg_max aggregates, so the merge is one
    hash aggregate with map-side combine — the shape that holds
    at any duplicate-cluster cardinality."""
    cu = load_table(spark, sf, "customer")
    c = cu.select(
        F.expr("c_custkey div 5").alias("entity"),
        "c_custkey",
        "c_name",
        "c_nationkey",
        "c_mktsegment",
        F.round(F.col("c_acctbal") * 100, 0)
        .cast("long")
        .alias("bal_cents"),
    )
    return c.groupBy("entity").agg(
        F.count(F.lit(1)).cast("long").alias("n_records"),
        F.expr(
            "max_by(c_name, bal_cents * 10000000 + c_custkey)"
        ).alias("name"),
        F.max("bal_cents").cast("long").alias("best_bal_cents"),
        F.expr("min_by(c_mktsegment, c_custkey)").alias("segment"),
        F.min("c_nationkey").cast("long").alias("nationkey"),
    )


@query(
    "qs226_vocab_coverage",
    oracle="""
    WITH toks AS (
      SELECT source, unnest(string_split(lower(text), ' ')) AS term
      FROM documents),
    tc AS (
      SELECT source, term, COUNT(*) AS y
      FROM toks WHERE term <> '' GROUP BY 1, 2),
    vocab AS (
      SELECT term FROM (
        SELECT term, SUM(y) AS yw,
               ROW_NUMBER() OVER (ORDER BY SUM(y) DESC, term) AS rk
        FROM tc GROUP BY term) WHERE rk <= 1000),
    cov AS (
      SELECT tc.source,
             SUM(tc.y) AS n_tokens,
             SUM(CASE WHEN v.term IS NOT NULL THEN tc.y ELSE 0 END)
               AS in_vocab
      FROM tc LEFT JOIN vocab v ON tc.term = v.term
      GROUP BY tc.source)
    SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(in_vocab AS BIGINT) AS in_vocab,
           CAST((in_vocab * 1000000) // n_tokens AS BIGINT)
             AS coverage_e6
    FROM cov
    """,
)
def qs226(spark: SparkSession, sf: str) -> DataFrame:
    """Vocabulary coverage / OOV-rate audit — build the top-1000
    corpus vocabulary and measure what fraction of each source's
    token stream it covers: the tokenizer-fit diagnostic run before
    committing a vocab (a source with low coverage will fragment
    into garbage subwords — the per-source version of the qs145 BPE
    loop's stopping criterion).

    Determinism: the vocab cut is a ROW_NUMBER over (freq DESC,
    term); coverage is exact token counts and one e6 floor
    division. Plan: one tokenize→(source, term) aggregate serves
    BOTH the vocab build (a term-keyed re-aggregate) and the
    coverage join; the 1000-term vocab broadcasts."""
    docs = load_table(spark, sf, "documents")
    tc = (
        docs.select(
            "source",
            F.explode(
                F.split(F.lower(F.col("text")), " ")
            ).alias("term"),
        )
        .filter(F.col("term") != "")
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("y"))
    )
    # Top-1000 via orderBy().limit(): TakeOrderedAndProject merges
    # per-partition top-k instead of the old single-task global
    # row_number window over the whole vocabulary (which grows with
    # the corpus under Heaps' law). (yw DESC, term) is a unique total
    # order, so the kept set is identical.
    vocab = (
        tc.groupBy("term")
        .agg(F.sum("y").alias("yw"))
        .orderBy(F.col("yw").desc(), "term")
        .limit(1000)
        .select("term", F.lit(True).alias("inv"))
    )
    cov = (
        tc.join(vocab, "term", "left")
        .groupBy("source")
        .agg(
            F.sum("y").alias("n_tokens"),
            F.sum(
                F.when(F.col("inv").isNotNull(), F.col("y")).otherwise(
                    0
                )
            ).alias("in_vocab"),
        )
    )
    return cov.select(
        "source",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("in_vocab").cast("long").alias("in_vocab"),
        F.expr(
            "CAST((in_vocab * 1000000) div n_tokens AS LONG)"
        ).alias("coverage_e6"),
    )


@query(
    "qs227_ks_two_sample",
    oracle="""
    WITH s AS (
      SELECT o_custkey % 2 AS grp,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v
      FROM orders),
    n AS (
      SELECT SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS n0,
             SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS n1
      FROM s),
    pooled AS (
      SELECT v,
             SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS c0,
             SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS c1
      FROM s GROUP BY v),
    cum AS (
      SELECT v,
             SUM(c0) OVER (ORDER BY v
                 ROWS UNBOUNDED PRECEDING) AS f0,
             SUM(c1) OVER (ORDER BY v
                 ROWS UNBOUNDED PRECEDING) AS f1
      FROM pooled)
    SELECT CAST(n.n0 AS BIGINT) AS n0, CAST(n.n1 AS BIGINT) AS n1,
           CAST(MAX(abs(cum.f0 * n.n1 - cum.f1 * n.n0)) AS BIGINT)
             AS d_num,
           CAST((MAX(abs(cum.f0 * n.n1 - cum.f1 * n.n0)) * 1000000)
                // (n.n0 * n.n1) AS BIGINT) AS ks_d_e6
    FROM cum, n GROUP BY n.n0, n.n1
    """,
)
def qs227(spark: SparkSession, sf: str) -> DataFrame:
    """Kolmogorov–Smirnov two-sample statistic — the maximum ECDF
    gap between even- and odd-customer order values: the
    whole-distribution "are these two samples from the same
    distribution" test that completes the nonparametric family
    (qs181's Mann–Whitney detects location shift; KS detects ANY
    shape difference — variance, tails, bimodality).

    Determinism: ECDFs never materialize as fractions — the gap is
    |F₀·n₁ − F₁·n₀| in exact cumulative-count cross-multiplication
    (≤ ~10⁹), maxed as an integer, with one final e6 floor
    division. Plan: one (value) aggregate collapses the scan, the
    cumulative window runs over DISTINCT values (value-grid-sized;
    one task, but with nothing downstream of it — the measured
    bucketed prefix-sum swap-in, operators/prefix.py multi-weight,
    re-evaluates the pooled aggregate for its bounds and lost 2.0 →
    3.5 s at sf10 local[32]; it remains the escape hatch for a
    value grid that outgrows a task), and the counts cross-join is
    a two-scalar broadcast."""
    o = load_table(spark, sf, "orders")
    s = o.select(
        (F.col("o_custkey") % 2).alias("grp"),
        F.round(F.col("o_totalprice") * 100, 0)
        .cast("long")
        .alias("v"),
    )
    n = s.agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).alias("n0"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).alias("n1"),
    )
    pooled = s.groupBy("v").agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).alias("c0"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).alias("c1"),
    )
    # window: REJECT KS value-grid cumulative: measured reject 2.0->3.5s (r6)
    wc = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = pooled.select(
        F.sum("c0").over(wc).alias("f0"),
        F.sum("c1").over(wc).alias("f1"),
    )
    gap = cum.crossJoin(n).agg(
        F.max(
            F.abs(
                F.col("f0") * F.col("n1") - F.col("f1") * F.col("n0")
            )
        ).alias("d_num"),
        F.first("n0").alias("n0"),
        F.first("n1").alias("n1"),
    )
    return gap.select(
        F.col("n0").cast("long").alias("n0"),
        F.col("n1").cast("long").alias("n1"),
        F.col("d_num").cast("long").alias("d_num"),
        # DECIMAL(38) widening: d_num is bounded by n0·n1 (~10¹³ at
        # sf10), so d_num·10⁶ can pass 64-bit when the two samples
        # genuinely differ — same ANSI-overflow family as the r7
        # qs214/qs217 scale-audit catches, widened preemptively.
        F.expr(
            "CAST((CAST(d_num AS DECIMAL(38,0)) * 1000000)"
            " div (n0 * n1) AS LONG)"
        ).alias("ks_d_e6"),
    )


@query(
    "qs228_simpson_detector",
    oracle="""
    WITH m AS (
      SELECT l_returnflag AS grp,
             (year(l_shipdate) - 1995) * 12 + month(l_shipdate) AS t,
             SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
               // 10000 AS y
      FROM lineitem GROUP BY 1, 2),
    per AS (
      SELECT grp, COUNT(*) AS n, SUM(t) AS st, SUM(y) AS sy,
             SUM(t * y) AS sty
      FROM m GROUP BY grp),
    overall AS (
      SELECT COUNT(*) AS n, SUM(t) AS st, SUM(y) AS sy,
             SUM(t * y) AS sty
      FROM m)
    SELECT per.grp,
           CAST(sign(per.n * per.sty - per.st * per.sy) AS BIGINT)
             AS group_trend_sign,
           CAST(sign(o.n * o.sty - o.st * o.sy) AS BIGINT)
             AS overall_trend_sign,
           CAST(CASE WHEN sign(per.n * per.sty - per.st * per.sy)
                   <> sign(o.n * o.sty - o.st * o.sy)
                THEN 1 ELSE 0 END AS BIGINT) AS reverses
    FROM per CROSS JOIN overall o
    """,
)
def qs228(spark: SparkSession, sf: str) -> DataFrame:
    """Simpson's-paradox detector — does any return-flag segment's
    revenue TREND point the opposite way from the pooled trend?
    Flags the aggregation-reversal trap before a dashboard ships
    the pooled line: the OLS slope SIGN per group vs overall, where
    sign(slope) = sign(n·Σty − Σt·Σy) needs no division at all —
    the qs202 regression reduced to its integer numerator. The
    governance companion to qs175/qs174: those audit data shape,
    this audits a CONCLUSION's stability under disaggregation.

    Determinism: pure integer moment sums and sign(); zero
    floating point anywhere. Plan: one (grp, month) aggregate,
    two tiny re-aggregates, a 1-row cross join."""
    li = load_table(spark, sf, "lineitem")
    m = li.groupBy(
        F.col("l_returnflag").alias("grp"),
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
    per = m.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("t").alias("st"),
        F.sum("y").alias("sy"),
        F.sum(F.col("t") * F.col("y")).alias("sty"),
    )
    overall = m.agg(
        F.count(F.lit(1)).alias("on_"),
        F.sum("t").alias("ost"),
        F.sum("y").alias("osy"),
        F.sum(F.col("t") * F.col("y")).alias("osty"),
    )
    j = per.crossJoin(overall)
    gsign = F.signum(
        (
            F.col("n") * F.col("sty") - F.col("st") * F.col("sy")
        ).cast("double")
    ).cast("long")
    osign = F.signum(
        (
            F.col("on_") * F.col("osty")
            - F.col("ost") * F.col("osy")
        ).cast("double")
    ).cast("long")
    return j.select(
        "grp",
        gsign.alias("group_trend_sign"),
        osign.alias("overall_trend_sign"),
        F.when(gsign != osign, 1)
        .otherwise(0)
        .cast("long")
        .alias("reverses"),
    )


@query(
    "qs229_eb_shrinkage",
    oracle="""
    WITH g AS (
      SELECT l_partkey % 500 AS grp, COUNT(*) AS n,
             SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS c
      FROM lineitem GROUP BY 1),
    tot AS (SELECT SUM(c) AS tc, SUM(n) AS tn FROM g)
    SELECT grp, CAST(n AS BIGINT) AS n,
           ROUND(CAST(c AS DOUBLE) / n, 4) AS raw_mean_cents,
           ROUND((c + 20.0 * tot.tc / tot.tn) / (n + 20), 4)
             AS shrunk_mean_cents
    FROM g, tot
    """,
)
def qs229(spark: SparkSession, sf: str) -> DataFrame:
    """Empirical-Bayes shrinkage — each part group's mean line
    value pulled toward the corpus mean with a pseudo-count prior
    of 20 observations: (Σx + k·μ)/(n + k), the James-Stein-style
    estimator that stops a 3-observation group from topping every
    ranking (the small-sample pathology qs20's raw top-k and
    qs210's raw tiers inherit). The standard fix wherever entities
    with wildly different sample sizes are compared.

    Determinism: c, n, and the corpus totals are exact integers;
    the prior mean and the shrunken mean are fixed sequences of
    IEEE double ops on exactly-representable operands, ROUND(,4).
    Plan: one narrow fact aggregate; the corpus total is a
    broadcast scalar — shrinkage itself is a pure row-local map."""
    li = load_table(spark, sf, "lineitem")
    g = li.groupBy((F.col("l_partkey") % 500).alias("grp")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.round(F.col("l_extendedprice") * 100, 0).cast("long")
        ).alias("c"),
    )
    tot = g.agg(
        F.sum("c").alias("tc"), F.sum("n").alias("tn")
    )
    return g.crossJoin(tot).select(
        "grp",
        F.col("n").cast("long").alias("n"),
        F.round(F.col("c").cast("double") / F.col("n"), 4).alias(
            "raw_mean_cents"
        ),
        F.round(
            (
                F.col("c")
                + F.lit(20.0) * F.col("tc") / F.col("tn")
            )
            / (F.col("n") + 20),
            4,
        ).alias("shrunk_mean_cents"),
    )


@query(
    "qs230_var_cvar",
    oracle="""
    WITH s AS (
      SELECT o_orderpriority AS prio,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v
      FROM orders),
    g AS (SELECT prio, v, COUNT(*) AS cnt FROM s GROUP BY 1, 2),
    w AS (
      SELECT prio, v, cnt,
             SUM(cnt) OVER (PARTITION BY prio ORDER BY v DESC
                 ROWS UNBOUNDED PRECEDING) AS cum_hi,
             SUM(cnt) OVER (PARTITION BY prio) AS tn
      FROM g),
    var AS (
      SELECT prio,
             MAX(CASE WHEN 20 * cum_hi >= tn THEN v END) AS var95,
             MAX(tn) AS tn
      FROM w GROUP BY prio)
    SELECT var.prio, CAST(var.var95 AS BIGINT) AS var95_cents,
           CAST(SUM(s.v) // COUNT(*) AS BIGINT) AS cvar95_cents,
           CAST(COUNT(*) AS BIGINT) AS n_tail
    FROM var JOIN s ON s.prio = var.prio AND s.v >= var.var95
    GROUP BY var.prio, var.var95
    """,
)
def qs230(spark: SparkSession, sf: str) -> DataFrame:
    """VaR / CVaR at the 95th percentile of order value per
    priority class — the tail-risk pair finance and capacity
    planning both run: VaR = the LARGEST value whose upper tail
    still holds ≥5% of the mass — the exact upper-quantile over the
    value grid (qs183's cumulative-count physics pointed at the
    tail). r9 semantic repair: the original MIN over the tail
    condition selected the global minimum (every value below the
    boundary also satisfies cum_hi ≥ n/20), which both engines
    mirrored — the oracle-differential gate proves ENGINE
    equivalence, not formula intent, and this is the class it
    cannot catch; found while building qs343's Kupiec backtest on
    top (x ≈ n exceedances exposed the degenerate threshold);
    CVaR/expected shortfall = the mean INSIDE that tail, the
    coherent-risk upgrade that sees tail SHAPE where VaR sees one
    point.

    Determinism: the quantile is an integer cumulative-count
    threshold (20·cum ≥ n cross-multiplied); CVaR is an integer
    floor-division mean over an exactly-defined tail set (v ≥
    VaR). Plan (r9 rewire, 9.97 → 6.48 s sf10): the cumulative
    count over the near-unique cents grid runs through
    operators/prefix.bucketed_prefix_sum — the old
    Window.partitionBy('prio') put the ENTIRE value grid in 5
    tasks forever (the low-cardinality-partition cliff the r8
    verdict flagged); now ascending cum_lo buckets into 1024
    parallel range windows and the descending tail count is the
    exact identity cum_hi = tn − cum_lo + cnt. Per-prio totals
    aggregate from the raw scan (cheaper subplan than the grid
    under the prefix machinery's 3-reference diamond), and the
    5-row VaR table broadcasts into the tail semi-join."""
    o = load_table(spark, sf, "orders")
    s = o.select(
        F.col("o_orderpriority").alias("prio"),
        F.round(F.col("o_totalprice") * 100, 0)
        .cast("long")
        .alias("v"),
    )
    # r15 (guide §2.4): the prefix machinery references its input ~4x
    # (bounds agg, bucket join, in-bucket window, bucket-offset join
    # back) — without the checkpoint the orders scan + (prio, v)
    # groupBy re-ran per reference.
    # pin: bounded (value-level grid: |prio|·|distinct cents|) —
    # localCheckpoint IS the bounded policy (operators/pin.py).
    g = (
        s.groupBy("prio", "v")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)
    )
    gp = bucketed_prefix_sum(g, "v", "cnt", "cum_lo", part_cols=("prio",))
    tn = s.groupBy("prio").agg(F.count(F.lit(1)).alias("tn"))
    # bcast: GRID per-priority totals, 5 rows
    w = gp.join(F.broadcast(tn), "prio")
    var = w.groupBy("prio").agg(
        F.max(
            F.when(
                20 * (F.col("tn") - F.col("cum_lo") + F.col("cnt"))
                >= F.col("tn"),
                F.col("v"),
            )
        ).alias("var95"),
        F.max("tn").alias("tn"),
    )
    # bcast: GRID per-priority VaR table, 5 rows
    tail = s.join(F.broadcast(var), "prio").filter(
        F.col("v") >= F.col("var95")
    )
    return tail.groupBy("prio", "var95").agg(
        F.expr("CAST(SUM(v) div COUNT(*) AS LONG)").alias(
            "cvar95_cents"
        ),
        F.count(F.lit(1)).cast("long").alias("n_tail"),
    ).select(
        "prio",
        F.col("var95").cast("long").alias("var95_cents"),
        "cvar95_cents",
        "n_tail",
    )


@query(
    "qs231_modularity",
    oracle="""
    WITH pairs AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2,
             a.lang AS lang, a.n_chars AS n_chars
      FROM documents a JOIN documents b
        ON a.lang = b.lang AND a.n_chars = b.n_chars
       AND a.doc_id < b.doc_id),
    edges AS (
      SELECT d1 AS a, d2 AS b FROM pairs
      UNION ALL SELECT d2, d1 FROM pairs),
    comm AS (
      SELECT doc_id AS node, lang || '|' || (n_chars % 7) AS c
      FROM documents),
    deg AS (SELECT a AS node, COUNT(*) AS deg FROM edges GROUP BY 1),
    m2 AS (SELECT COUNT(*) AS mm FROM edges),
    within AS (
      SELECT SUM(CASE WHEN ca.c = cb.c THEN 1 ELSE 0 END) AS e_in
      FROM edges e
      JOIN comm ca ON e.a = ca.node
      JOIN comm cb ON e.b = cb.node),
    dsum AS (
      SELECT SUM(dc * dc) AS sum_d2 FROM (
        SELECT comm.c, SUM(deg.deg) AS dc
        FROM deg JOIN comm ON deg.node = comm.node
        GROUP BY comm.c))
    SELECT CAST(m2.mm AS BIGINT) AS edge_ends,
           CAST(within.e_in AS BIGINT) AS within_ends,
           CAST(((within.e_in * m2.mm - dsum.sum_d2) * 1000000)
                // (m2.mm * m2.mm) AS BIGINT) AS modularity_e6
    FROM m2, within, dsum
    """,
)
def qs231(spark: SparkSession, sf: str) -> DataFrame:
    """Newman modularity of a community partition — Q = Σc(e_c/2m −
    (d_c/2m)²) for the (lang, n_chars-band) communities on the
    blocked similarity graph: the partition-quality score that
    tells you whether qs81's components or the label-propagation
    communities actually cut along structure (Q≈0 = no better than
    random given the degree sequence). Scaled to one integer:
    Q·(2m)² = e_in·2m − Σd_c², then e6 floor division.

    Determinism: edge-end counts, within-community ends, and
    squared degree sums are exact integers; the epilogue runs in
    DECIMAL(38,0) because (e_in·2m − Σd_c²)·10⁶ exceeds int64 once
    the corpus graph passes ~4M edge-ends (it overflowed at the sf10
    gen corpus — caught by the r11 sf30 linearity audit; DuckDB's
    SUM is HUGEINT so only the Spark side needed the lift), then one
    truncating div — identical semantics and values at every SF
    where the old LONG path worked. Plan: the edge list joins
    node→community twice via KEY-SHUFFLE joins — the community map
    has one row per DOCUMENT, i.e. it is corpus-proportional, so no
    broadcast hint (AQE may still broadcast at small SFs); degrees
    re-aggregate per community, no iteration."""
    d = load_table(spark, sf, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    a = d.select(F.col("doc_id").alias("d1"), "lang", "n_chars")
    b = d.select(F.col("doc_id").alias("d2"), "lang", "n_chars")
    pairs = a.join(b, ["lang", "n_chars"]).filter(
        F.col("d1") < F.col("d2")
    )
    edges = pairs.select(
        F.col("d1").alias("a"), F.col("d2").alias("b")
    ).unionAll(
        pairs.select(F.col("d2").alias("a"), F.col("d1").alias("b"))
    )
    comm = d.select(
        F.col("doc_id").alias("node"),
        F.concat_ws(
            "|", F.col("lang"), (F.col("n_chars") % 7).cast("string")
        ).alias("c"),
    )
    deg = edges.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    mm = edges.agg(F.count(F.lit(1)).alias("mm"))
    within = (
        edges.join(
            comm.select(
                F.col("node").alias("a"), F.col("c").alias("ca")
            ),
            "a",
        )
        .join(
            comm.select(
                F.col("node").alias("b"), F.col("c").alias("cb")
            ),
            "b",
        )
        .agg(
            F.sum(
                F.when(F.col("ca") == F.col("cb"), 1).otherwise(0)
            ).alias("e_in")
        )
    )
    dsum = (
        deg.join(comm, "node")
        .groupBy("c")
        .agg(F.sum("deg").alias("dc"))
        .agg(F.sum(F.col("dc") * F.col("dc")).alias("sum_d2"))
    )
    return (
        mm.crossJoin(within)
        .crossJoin(dsum)
        .select(
            F.col("mm").cast("long").alias("edge_ends"),
            F.col("e_in").cast("long").alias("within_ends"),
            F.expr(
                "CAST(((CAST(e_in AS DECIMAL(38, 0)) * mm - sum_d2)"
                " * 1000000) div (CAST(mm AS DECIMAL(38, 0)) * mm)"
                " AS LONG)"
            ).alias("modularity_e6"),
        )
    )


@query(
    "qs232_xmr_control_chart",
    oracle="""
    WITH d AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
               // 10000 AS y
      FROM orders
      WHERE o_orderdate >= DATE '1997-01-01'
        AND o_orderdate < DATE '1997-07-01'
      GROUP BY 1),
    mr AS (
      SELECT day, y,
             abs(y - lag(y) OVER (ORDER BY day)) AS mrange
      FROM d),
    lims AS (
      SELECT SUM(y) AS sy, COUNT(*) AS n,
             SUM(mrange) AS smr, COUNT(mrange) AS nmr
      FROM mr)
    SELECT mr.day, CAST(mr.y AS BIGINT) AS y,
           ROUND(CAST(l.sy AS DOUBLE) / l.n, 4) AS center,
           ROUND(CAST(l.sy AS DOUBLE) / l.n
               + 2.66 * l.smr / l.nmr, 4) AS ucl,
           ROUND(CAST(l.sy AS DOUBLE) / l.n
               - 2.66 * l.smr / l.nmr, 4) AS lcl,
           CAST(CASE WHEN mr.y * l.n * l.nmr
                       > l.sy * l.nmr + CAST(266 * l.n * l.smr
                           AS BIGINT) // 100
                  OR mr.y * l.n * l.nmr
                       < l.sy * l.nmr - CAST(266 * l.n * l.smr
                           AS BIGINT) // 100
                THEN 1 ELSE 0 END AS BIGINT) AS out_of_control
    FROM mr, lims l
    """,
)
def qs232(spark: SparkSession, sf: str) -> DataFrame:
    """XmR (individuals / moving-range) control chart — daily
    revenue against ±2.66·MR̄ natural-process limits: Shewhart's
    SPC chart, the monitoring physics that uses the MOVING RANGE
    for dispersion instead of the global σ (so a slow drift can't
    inflate its own limits — exactly the failure mode of qs167's
    z-score detector, which this complements).

    Determinism: daily sums are integers; center/UCL/LCL are fixed
    IEEE expressions ROUND(,4) for display, but the OUT-OF-CONTROL
    FLAG is decided in pure cross-multiplied integer arithmetic
    (y·n·nmr vs sy·nmr ± (266·n·smr) div 100) — the decision never
    touches a double. Plan: one (day) aggregate, one lag window
    over the calendar-sized series, one scalar limit row
    broadcast."""
    o = load_table(spark, sf, "orders")
    d = (
        o.filter(
            (F.col("o_orderdate") >= F.lit("1997-01-01").cast("date"))
            & (F.col("o_orderdate") < F.lit("1997-07-01").cast("date"))
        )
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.expr(
                "sum(CAST(ROUND(o_totalprice * 100, 0) AS LONG))"
                " div 10000"
            ).alias("y")
        )
    )
    mr = d.select(
        "day",
        "y",
        F.abs(
            # window: GRID XmR: ~180-day grid lag
            F.col("y") - F.lag("y").over(Window.orderBy("day"))
        ).alias("mrange"),
    )
    lims = mr.agg(
        F.sum("y").alias("sy"),
        F.count(F.lit(1)).alias("n"),
        F.sum("mrange").alias("smr"),
        F.count("mrange").alias("nmr"),
    )
    j = mr.crossJoin(lims)
    center = F.col("sy").cast("double") / F.col("n")
    band = F.lit(2.66) * F.col("smr") / F.col("nmr")
    hi = F.col("y") * F.col("n") * F.col("nmr") > F.col("sy") * F.col(
        "nmr"
    ) + F.expr("CAST(266 * n * smr AS LONG) div 100")
    lo = F.col("y") * F.col("n") * F.col("nmr") < F.col("sy") * F.col(
        "nmr"
    ) - F.expr("CAST(266 * n * smr AS LONG) div 100")
    return j.select(
        "day",
        F.col("y").cast("long").alias("y"),
        F.round(center, 4).alias("center"),
        F.round(center + band, 4).alias("ucl"),
        F.round(center - band, 4).alias("lcl"),
        F.when(hi | lo, 1).otherwise(0).cast("long").alias(
            "out_of_control"
        ),
    )


@query(
    "qs233_blocking_recall_eval",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang, n_chars // 64 AS lenband,
             string_split(text, ' ') AS toks
      FROM documents),
    sh AS (
      SELECT doc_id, lang, lenband,
        CASE WHEN len(toks) >= 3 THEN list_distinct(list_transform(
          range(1, len(toks) - 1),
          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
        ELSE [] END AS s
      FROM t),
    brute AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2,
             len(list_intersect(a.s, b.s)) AS inter,
             len(list_distinct(list_concat(a.s, b.s))) AS uni,
             CASE WHEN a.lenband = b.lenband THEN 1 ELSE 0 END
               AS same_band
      FROM sh a JOIN sh b
        ON a.lang = b.lang AND a.doc_id < b.doc_id),
    truth AS (
      SELECT same_band FROM brute WHERE 10 * inter >= 3 * uni)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
           CAST(SUM(same_band) AS BIGINT) AS n_found_by_band,
           CAST((SUM(same_band) * 1000000) // NULLIF(COUNT(*), 0)
                AS BIGINT) AS recall_e6
    FROM truth
    """,
)
def qs233(spark: SparkSession, sf: str) -> DataFrame:
    """Blocking-recall audit — ground-truth near-dup pairs (trigram
    Jaccard ≥ 0.3 within language) vs the pairs the (lang, length-
    band) blocking scheme can actually see: the measured recall of
    the blocking trade qs57's docstring only ASSERTS ("recall loss
    is only boundary-straddling pairs" — this query puts a number
    on it, the audit every production dedup pipeline schedules on
    a sample). Language blocks bound the truth computation; run on
    a block sample at corpus scale.

    Determinism: the Jaccard threshold is the cross-multiplied
    integer test 10·|∩| ≥ 3·|∪| (no double ever materializes);
    shingle sets are exact distinct trigram lists; recall is an e6
    floor division. Plan: shingle once, one lang-keyed blocked
    self-join, one scalar aggregate."""
    # r15 second pass: meta, both postings sides and the m1/m2/empties
    # chains each re-evaluated the scan→shingle subtree (10 scans in
    # the plan, the interpreted trigram transform ~5x — guide §2.4).
    # Spread the one-split scan (§2.5) and materialize the shingle
    # sets ONCE; everything downstream is a cheap map over the
    # checkpoint.
    from cds_etl_spark.operators.skew import spread_scan

    docs = spread_scan(load_table(spark, sf, "documents"), "doc_id")
    t = docs.select(
        "doc_id",
        "lang",
        F.expr("n_chars div 64").alias("lenband"),
        F.split(F.col("text"), " ").alias("toks"),
    )
    sh = t.select(
        "doc_id",
        "lang",
        "lenband",
        F.expr(
            "CASE WHEN size(toks) >= 3 THEN array_distinct("
            "transform(sequence(0, size(toks) - 3),"
            " i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])))"
            " ELSE array() END"
        ).alias("s"),
    )
    sh = cut_lineage(sh)  # pin: corpus-scale shingle sets
    # r15 rewrite (guide §2.3/§8): the oracle's within-language
    # all-pairs join moves every shingle array O(n²/L) times; the
    # identical result needs only (a) |∩| per pair that SHARES a
    # shingle — a postings equi-join on (lang, shingle) carrying two
    # doc ids, counted per pair — (b) |s| and lenband re-attached
    # from a narrow per-doc table, and (c) the all-empty pairs, which
    # pass 10·0 ≥ 3·0 and are a closed-form count per language.
    # Pairs with |∩| = 0 and a non-empty side fail 10·inter ≥ 3·uni,
    # so the postings join loses nothing. Shuffles carry ids and
    # counts, never shingle arrays.
    meta = sh.select(
        "doc_id", "lang", "lenband", F.size("s").alias("sz")
    )
    # explode_outer, not explode: plain explode's implicit
    # size(s) > 0 filter is pushed to the scan with the whole
    # shingle expression substituted in — an interpreted (no-codegen)
    # Filter that re-evaluates the transform lambda twice per row
    # (measured 6.3 s vs 0.4 s at sf0.1). The outer form generates no
    # such filter; its extra NULL-shingle rows are dropped by the
    # (lang, g) equi-join's cheap isnotnull(g) on the materialized
    # column.
    post = sh.select("lang", "doc_id", F.explode_outer("s").alias("g"))
    pa = post.select("lang", "g", F.col("doc_id").alias("d1"))
    pb = post.select("lang", "g", F.col("doc_id").alias("d2"))
    inter = (
        pa.join(pb, ["lang", "g"])
        .filter(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    m1 = meta.select(
        F.col("doc_id").alias("d1"),
        F.col("lenband").alias("lb1"),
        F.col("sz").alias("sz1"),
    )
    m2 = meta.select(
        F.col("doc_id").alias("d2"),
        F.col("lenband").alias("lb2"),
        F.col("sz").alias("sz2"),
    )
    nonempty = (
        inter.join(m1, "d1")
        .join(m2, "d2")
        .filter(
            10 * F.col("inter")
            >= 3 * (F.col("sz1") + F.col("sz2") - F.col("inter"))
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.coalesce(
                F.sum(
                    F.when(F.col("lb1") == F.col("lb2"), 1).otherwise(0)
                ),
                F.lit(0),
            ).alias("sb"),
        )
    )
    empties = (
        meta.filter(F.col("sz") == 0)
        .groupBy("lang", "lenband")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("lang")
        .agg(
            F.sum("n").alias("nl"),
            F.sum(F.expr("n * (n - 1) div 2")).alias("sb_l"),
        )
        .agg(
            F.coalesce(
                F.sum(F.expr("nl * (nl - 1) div 2")), F.lit(0)
            ).alias("cnt_e"),
            F.coalesce(F.sum("sb_l"), F.lit(0)).alias("sb_e"),
        )
    )
    return (
        nonempty.crossJoin(empties)
        .select(
            (F.col("cnt") + F.col("cnt_e")).alias("total"),
            (F.col("sb") + F.col("sb_e")).alias("found"),
        )
        .select(
            F.col("total").cast("long").alias("n_true_pairs"),
            F.when(F.col("total") > 0, F.col("found"))
            .cast("long")
            .alias("n_found_by_band"),
            F.expr(
                "CAST((found * 1000000) div NULLIF(total, 0) AS LONG)"
            ).alias("recall_e6"),
        )
    )


@query(
    "qs234_wilson_interval",
    oracle="""
    WITH g AS (
      SELECT l_partkey % 100 AS grp,
             COUNT(*) AS n,
             SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
               AS k
      FROM lineitem GROUP BY 1)
    SELECT grp, CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
           ROUND((k + 1.92) / (n + 3.84), 4) AS p_center,
           ROUND((k + 1.92) / (n + 3.84)
               - 1.96 * sqrt(CAST(k AS DOUBLE) * (n - k) / n + 0.96)
                 / (n + 3.84), 4) AS ci_lo,
           ROUND((k + 1.92) / (n + 3.84)
               + 1.96 * sqrt(CAST(k AS DOUBLE) * (n - k) / n + 0.96)
                 / (n + 3.84), 4) AS ci_hi
    FROM g
    """,
)
def qs234(spark: SparkSession, sf: str) -> DataFrame:
    """Wilson score interval — the 95% confidence interval on each
    part group's return RATE: the closed-form proportion CI that
    stays inside [0,1] and behaves at k=0/k=n where the naive Wald
    interval collapses (qs179 bootstraps CIs for MEANS; proportions
    have this exact formula, z²=3.84 folded into the constants).
    The ranking-with-uncertainty tool: sort groups by ci_lo, not by
    raw rate, and small-sample groups stop winning (the qs229
    shrinkage story, frequentist edition).

    Determinism: k and n are exact counts; center and bounds are
    fixed IEEE expression trees over exactly-representable
    operands (one sqrt), ROUND(,4). Plan: one narrow conditional
    aggregate, then row-local math — nothing after the single
    shuffle."""
    li = load_table(spark, sf, "lineitem")
    g = li.groupBy((F.col("l_partkey") % 100).alias("grp")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
        ).alias("k"),
    )
    center = (F.col("k") + 1.92) / (F.col("n") + 3.84)
    half = (
        F.lit(1.96)
        * F.sqrt(
            F.col("k").cast("double")
            * (F.col("n") - F.col("k"))
            / F.col("n")
            + 0.96
        )
        / (F.col("n") + 3.84)
    )
    return g.select(
        "grp",
        F.col("n").cast("long").alias("n"),
        F.col("k").cast("long").alias("k"),
        F.round(center, 4).alias("p_center"),
        F.round(center - half, 4).alias("ci_lo"),
        F.round(center + half, 4).alias("ci_hi"),
    )


@query(
    "qs235_token_burstiness",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
      FROM documents),
    dc AS (
      SELECT term, doc_id, COUNT(*) AS x
      FROM toks WHERE term <> '' GROUP BY 1, 2),
    nd AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
    s AS (
      SELECT term, COUNT(*) AS docs_in, SUM(x) AS sx,
             SUM(x * x) AS sxx
      FROM dc GROUP BY term HAVING SUM(x) >= 50)
    SELECT term, CAST(sx AS BIGINT) AS total_count,
           CAST(docs_in AS BIGINT) AS docs_in,
           CAST(((nd.n * sxx - sx * sx) * 1000000)
                // (nd.n * sx) AS BIGINT) AS vmr_e6
    FROM s, nd
    """,
)
def qs235(spark: SparkSession, sf: str) -> DataFrame:
    """Token burstiness — the variance-to-mean ratio of each
    frequent term's per-document count, zeros included (Church/
    Gale's burstiness): VMR ≈ 1e6 means Poisson-scattered function
    words; VMR ≫ 1e6 means the term CLUMPS into few documents —
    topical or boilerplate mass. The corpus-statistics signal
    orthogonal to frequency (qs137), entropy (qs160), and
    repetition (qs89): two terms with identical counts can have
    10× different burstiness, and the bursty one is the dedup/
    topic candidate.

    Determinism: zeros enter through the closed form — over all N
    docs, Σx and Σx² only need the nonzero counts, so VMR·1e6 =
    (N·Σx² − (Σx)²)·10⁶ div (N·Σx), all exact integers. Plan:
    tokenize → (term, doc) count → per-term moment aggregate; the
    HAVING prunes the tail before the scalar N broadcast joins."""
    docs = load_table(spark, sf, "documents")
    dc = (
        docs.select(
            "doc_id",
            F.explode(
                F.split(F.lower(F.col("text")), " ")
            ).alias("term"),
        )
        .filter(F.col("term") != "")
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    nd = docs.agg(F.countDistinct("doc_id").alias("n"))
    s = (
        dc.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("docs_in"),
            F.sum("x").alias("sx"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
        )
        .filter(F.col("sx") >= 50)
    )
    return s.crossJoin(nd).select(
        "term",
        F.col("sx").cast("long").alias("total_count"),
        F.col("docs_in").cast("long").alias("docs_in"),
        F.expr(
            "CAST(((n * sxx - sx * sx) * 1000000)"
            " div (n * sx) AS LONG)"
        ).alias("vmr_e6"),
    )


@query(
    "qs236_mix_shift_decomposition",
    oracle="""
    WITH g AS (
      SELECT o_orderpriority AS seg,
             year(o_orderdate) AS y, COUNT(*) AS n,
             SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS c
      FROM orders WHERE year(o_orderdate) IN (1996, 1998)
      GROUP BY 1, 2),
    w AS (
      SELECT seg,
             MAX(CASE WHEN y = 1996 THEN n END) AS n0,
             MAX(CASE WHEN y = 1996 THEN c END) AS c0,
             MAX(CASE WHEN y = 1998 THEN n END) AS n1,
             MAX(CASE WHEN y = 1998 THEN c END) AS c1
      FROM g GROUP BY seg),
    tot AS (
      SELECT SUM(n0) AS tn0, SUM(n1) AS tn1 FROM w)
    SELECT w.seg,
           ROUND((CAST(w.n1 AS DOUBLE) / tot.tn1
                - CAST(w.n0 AS DOUBLE) / tot.tn0)
               * (CAST(w.c0 AS DOUBLE) / w.n0), 4) AS mix_effect,
           ROUND((CAST(w.n0 AS DOUBLE) / tot.tn0)
               * (CAST(w.c1 AS DOUBLE) / w.n1
                - CAST(w.c0 AS DOUBLE) / w.n0), 4) AS rate_effect,
           ROUND((CAST(w.n1 AS DOUBLE) / tot.tn1
                - CAST(w.n0 AS DOUBLE) / tot.tn0)
               * (CAST(w.c1 AS DOUBLE) / w.n1
                - CAST(w.c0 AS DOUBLE) / w.n0), 4)
             AS interaction_effect
    FROM w, tot
    """,
)
def qs236(spark: SparkSession, sf: str) -> DataFrame:
    """Mix-shift decomposition (Oaxaca–Blinder style) — why did the
    overall mean order value move between 1996 and 1998? Split each
    priority segment's contribution into MIX (its share of orders
    changed), RATE (its own mean changed), and the interaction:
    Δ = Σ Δw·m₀ + Σ w₀·Δm + Σ Δw·Δm. The "is revenue/order down
    because customers changed or because behavior changed" question
    every growth review asks; qs228 flags that pooled and per-group
    trends disagree — this quantifies where the pooled move comes
    from.

    Determinism: all shares and means are single double divisions
    of exact integer sums; the three products are fixed IEEE
    expression trees, ROUND(,4). Plan: one conditional (segment,
    year) aggregate, a segment-sized pivot, a two-scalar broadcast
    — the decomposition is row-local."""
    o = load_table(spark, sf, "orders")
    g = (
        o.filter(F.year("o_orderdate").isin(1996, 1998))
        .groupBy(
            F.col("o_orderpriority").alias("seg"),
            F.year("o_orderdate").alias("y"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.round(F.col("o_totalprice") * 100, 0).cast("long")
            ).alias("c"),
        )
    )
    w = g.groupBy("seg").agg(
        F.max(F.when(F.col("y") == 1996, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("y") == 1996, F.col("c"))).alias("c0"),
        F.max(F.when(F.col("y") == 1998, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("y") == 1998, F.col("c"))).alias("c1"),
    )
    tot = w.agg(
        F.sum("n0").alias("tn0"), F.sum("n1").alias("tn1")
    )
    j = w.crossJoin(tot)
    w0 = F.col("n0").cast("double") / F.col("tn0")
    w1 = F.col("n1").cast("double") / F.col("tn1")
    m0 = F.col("c0").cast("double") / F.col("n0")
    m1 = F.col("c1").cast("double") / F.col("n1")
    return j.select(
        "seg",
        F.round((w1 - w0) * m0, 4).alias("mix_effect"),
        F.round(w0 * (m1 - m0), 4).alias("rate_effect"),
        F.round((w1 - w0) * (m1 - m0), 4).alias(
            "interaction_effect"
        ),
    )


@query(
    "qs237_seasonal_index_ratio",
    oracle="""
    WITH m AS (
      SELECT l_suppkey % 5 AS grp,
             (year(l_shipdate) - 1995) * 12 + month(l_shipdate) AS t,
             SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
               // 10000 AS y
      FROM lineitem GROUP BY 1, 2),
    w AS (
      SELECT grp, t, y,
             2 * SUM(y) OVER (PARTITION BY grp ORDER BY t
                 ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING)
               - lag(y, 6) OVER (PARTITION BY grp ORDER BY t)
               - lead(y, 6) OVER (PARTITION BY grp ORDER BY t)
               AS trend_x24,
             COUNT(*) OVER (PARTITION BY grp ORDER BY t
                 ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING) AS wn
      FROM m),
    r AS (
      SELECT grp, (t - 1) % 12 AS moy,
             (24 * y * 1000000) // trend_x24 AS ratio_e6
      FROM w WHERE wn = 13 AND trend_x24 > 0),
    g AS (
      SELECT grp, moy, ratio_e6, COUNT(*) AS c
      FROM r GROUP BY 1, 2, 3),
    cum AS (
      SELECT grp, moy, ratio_e6,
             SUM(c) OVER (PARTITION BY grp, moy ORDER BY ratio_e6
                 ROWS UNBOUNDED PRECEDING) AS cc,
             SUM(c) OVER (PARTITION BY grp, moy) AS tc
      FROM g)
    SELECT grp, CAST(moy AS BIGINT) AS moy,
           CAST(MIN(CASE WHEN 2 * cc >= tc THEN ratio_e6 END)
                AS BIGINT) AS seasonal_index_e6,
           CAST(MAX(tc) AS BIGINT) AS n_obs
    FROM cum GROUP BY grp, moy
    """,
)
def qs237(spark: SparkSession, sf: str) -> DataFrame:
    """Multiplicative seasonal index via ratio-to-moving-average —
    each month-of-year's LOWER MEDIAN ratio of actual to the 2×12
    centered trend: the classical-decomposition sibling of qs209
    (additive residuals there; multiplicative indices here — the
    right model when seasonal swings scale WITH the level, which
    revenue seasonality usually does). An index of 1.08e6 reads
    directly as "January runs 8% above trend".

    Determinism: ratios are e6 floor divisions of the all-integer
    trend×24 identity; the median is the qs183 cumulative-count
    lower median — no doubles anywhere. Plan: the qs209 single
    window pass, then calendar-sized median windows per (grp,
    month-of-year)."""
    li = load_table(spark, sf, "lineitem")
    m = li.groupBy(
        (F.col("l_suppkey") % 5).alias("grp"),
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
    # window: GRID seasonal index: per-group month grid
    wo = Window.partitionBy("grp").orderBy("t")
    wr = wo.rowsBetween(-6, 6)
    w = m.select(
        "grp",
        "t",
        "y",
        (
            2 * F.sum("y").over(wr)
            - F.lag("y", 6).over(wo)
            - F.lead("y", 6).over(wo)
        ).alias("trend_x24"),
        F.count(F.lit(1)).over(wr).alias("wn"),
    )
    r = w.filter(
        (F.col("wn") == 13) & (F.col("trend_x24") > 0)
    ).select(
        "grp",
        ((F.col("t") - 1) % 12).alias("moy"),
        F.expr("(24 * y * 1000000) div trend_x24").alias(
            "ratio_e6"
        ),
    )
    g = r.groupBy("grp", "moy", "ratio_e6").agg(
        F.count(F.lit(1)).alias("c")
    )
    wc = (
        Window.partitionBy("grp", "moy")
        .orderBy("ratio_e6")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = g.select(
        "grp",
        "moy",
        "ratio_e6",
        F.sum("c").over(wc).alias("cc"),
        F.sum("c")
        .over(Window.partitionBy("grp", "moy"))
        .alias("tc"),
    )
    return cum.groupBy("grp", F.col("moy").cast("long").alias("moy")).agg(
        F.min(
            F.when(2 * F.col("cc") >= F.col("tc"), F.col("ratio_e6"))
        )
        .cast("long")
        .alias("seasonal_index_e6"),
        F.max("tc").cast("long").alias("n_obs"),
    )


@query(
    "qs238_order_aging_buckets",
    oracle="""
    WITH open_o AS (
      SELECT o_orderpriority AS prio,
             date_diff('day', o_orderdate,
                       TIMESTAMP '1998-08-01') AS age_days,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c
      FROM orders
      WHERE o_orderstatus = 'O'
        AND o_orderdate < TIMESTAMP '1998-08-01')
    SELECT prio,
           CASE WHEN age_days <= 30 THEN '0-30'
                WHEN age_days <= 90 THEN '31-90'
                WHEN age_days <= 365 THEN '91-365'
                ELSE '365+' END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(c) AS BIGINT) AS value_cents,
           CAST(MAX(age_days) AS BIGINT) AS oldest_days
    FROM open_o GROUP BY 1, 2
    """,
)
def qs238(spark: SparkSession, sf: str) -> DataFrame:
    """Open-order aging report — the AR-aging staple: every order
    still open at the snapshot date bucketed into 0-30 / 31-90 /
    91-365 / 365+ days with counts, exposure value, and the oldest
    item per priority class. The operational companion to qs194's
    ship-SLA percentiles: SLA measures what DID ship; aging
    measures what hasn't.

    Determinism: day arithmetic and cent sums are exact integers;
    bucket edges are integer CASE tests. Plan: scan-pruned by the
    status+date predicates (both reach PushedFilters), one
    conditional aggregate — the minimal one-shuffle report."""
    o = load_table(spark, sf, "orders")
    open_o = o.filter(
        (F.col("o_orderstatus") == "O")
        & (F.col("o_orderdate") < F.lit("1998-08-01").cast("date"))
    ).select(
        F.col("o_orderpriority").alias("prio"),
        F.datediff(
            F.lit("1998-08-01").cast("date"), F.col("o_orderdate")
        ).alias("age_days"),
        F.round(F.col("o_totalprice") * 100, 0)
        .cast("long")
        .alias("c"),
    )
    return open_o.groupBy(
        "prio",
        F.when(F.col("age_days") <= 30, "0-30")
        .when(F.col("age_days") <= 90, "31-90")
        .when(F.col("age_days") <= 365, "91-365")
        .otherwise("365+")
        .alias("bucket"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("c").cast("long").alias("value_cents"),
        F.max("age_days").cast("long").alias("oldest_days"),
    )


@query(
    "qs239_tukey_fences",
    oracle="""
    WITH b AS (
      SELECT l_returnflag AS grp,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS v
      FROM lineitem),
    q AS (
      SELECT grp,
             quantile_cont(v, 0.25) AS q1,
             quantile_cont(v, 0.75) AS q3
      FROM b GROUP BY grp)
    SELECT q.grp, ROUND(q.q1, 4) AS q1, ROUND(q.q3, 4) AS q3,
           ROUND(q.q3 - q.q1, 4) AS iqr,
           ROUND(q.q1 - 1.5 * (q.q3 - q.q1), 4) AS lo_fence,
           ROUND(q.q3 + 1.5 * (q.q3 - q.q1), 4) AS hi_fence,
           CAST(SUM(CASE WHEN b.v < q.q1 - 1.5 * (q.q3 - q.q1)
                       OR b.v > q.q3 + 1.5 * (q.q3 - q.q1)
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM b JOIN q ON b.grp = q.grp
    GROUP BY q.grp, q.q1, q.q3
    """,
)
def qs239(spark: SparkSession, sf: str) -> DataFrame:
    """Tukey box-plot profile — Q1/Q3/IQR, the 1.5·IQR fences, and
    the outlier count per return flag: the boxplot every EDA pass
    draws, completing the outlier-detection trio (qs167 z-score
    assumes normality, qs156 median/MAD resists it, Tukey fences
    are the distribution-free convention dashboards actually use).

    Determinism: quantiles over integer cents follow the qs44
    exact-interpolation contract (endpoints exact doubles,
    lower + frac·(upper−lower) bit-identical); the fence comparison
    is integer v against an exact-operand double expression —
    identical in both engines; ROUND(,4) on display. Plan: one
    percentile aggregate over the fact scan, the 3-row quantile
    table broadcast back for the outlier count — two passes, both
    narrow."""
    li = load_table(spark, sf, "lineitem")
    b = li.select(
        F.col("l_returnflag").alias("grp"),
        F.round(F.col("l_extendedprice") * 100, 0)
        .cast("long")
        .alias("v"),
    )
    # r15 (guide §1.3/§2.4): ONE percentile aggregate carrying both
    # quantiles — two separate F.percentile calls each buffered the
    # full per-group value multiset (measured 3.4 s vs 1.9 s for the
    # fused form at sf0.1; the multiset buffer is the aggregate's
    # inherent cost — a (grp, v) count grid collapses nothing here,
    # 594k distinct of 600k). The 3-row result is checkpointed so the
    # fence-count join does not re-run the percentile pass (a spread
    # was measured and REVERTED: it parallelizes partials but inflates
    # the multiset-map merge, 1.9 -> 2.4 s).
    q = (
        b.groupBy("grp")
        .agg(
            F.percentile(
                "v", F.array(F.lit(0.25), F.lit(0.75))
            ).alias("_qq")
        )
        .select(
            "grp",
            F.col("_qq")[0].alias("q1"),
            F.col("_qq")[1].alias("q3"),
        )
        # pin: bounded (one quantile row per grp) — localCheckpoint IS
        # the bounded policy (operators/pin.py).
        .localCheckpoint(eager=True)
    )
    # bcast: GRID per-returnflag quartiles, 3 rows
    j = b.join(F.broadcast(q), "grp")
    iqr = F.col("q3") - F.col("q1")
    lo = F.col("q1") - 1.5 * iqr
    hi = F.col("q3") + 1.5 * iqr
    return (
        j.groupBy("grp", "q1", "q3")
        .agg(
            F.sum(
                F.when((F.col("v") < lo) | (F.col("v") > hi), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        .select(
            "grp",
            F.round("q1", 4).alias("q1"),
            F.round("q3", 4).alias("q3"),
            F.round(F.col("q3") - F.col("q1"), 4).alias("iqr"),
            F.round(
                F.col("q1") - 1.5 * (F.col("q3") - F.col("q1")), 4
            ).alias("lo_fence"),
            F.round(
                F.col("q3") + 1.5 * (F.col("q3") - F.col("q1")), 4
            ).alias("hi_fence"),
            "n_outliers",
            "n",
        )
    )


@query(
    "qs240_lexical_diversity",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
      FROM documents WHERE doc_id % 10 = 0),
    c AS (
      SELECT doc_id, COUNT(*) AS n_tokens,
             COUNT(DISTINCT term) AS n_types
      FROM toks WHERE term <> '' GROUP BY doc_id)
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_types AS BIGINT) AS n_types,
           CAST((n_types * 10000) // n_tokens AS BIGINT) AS ttr_e4,
           CAST((n_types * n_types * 10000) // n_tokens AS BIGINT)
             AS root_ttr_sq_e4
    FROM c
    """,
)
def qs240(spark: SparkSession, sf: str) -> DataFrame:
    """Lexical diversity — type-token ratio per document plus the
    length-controlled index types²/tokens (the SQUARE of Guiraud's
    root-TTR, kept in exact integers instead of a sqrt): raw TTR
    punishes long documents (types grow ~√tokens), so ranking by
    types²/tokens compares lexical richness fairly across lengths.
    The vocabulary-side quality signal beside qs160's entropy (how
    evenly tokens are used) and qs89's repetition (how much text
    repeats) — template spam scores low here even when its token
    DISTRIBUTION looks fine.

    Determinism: token/type counts exact, both indices e4 floor
    divisions — zero doubles. Plan: tokenize → one (doc) aggregate
    with a distinct count inside; the modulo filter prunes 90% of
    documents before the explode."""
    docs = load_table(spark, sf, "documents").filter(
        F.col("doc_id") % 10 == 0
    )
    c = (
        docs.select(
            "doc_id",
            F.explode(
                F.split(F.lower(F.col("text")), " ")
            ).alias("term"),
        )
        .filter(F.col("term") != "")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.countDistinct("term").alias("n_types"),
        )
    )
    return c.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_types").cast("long").alias("n_types"),
        F.expr("CAST((n_types * 10000) div n_tokens AS LONG)").alias(
            "ttr_e4"
        ),
        F.expr(
            "CAST((n_types * n_types * 10000) div n_tokens AS LONG)"
        ).alias("root_ttr_sq_e4"),
    )


# --------------------------------------------------------------------------
# qs313 k-anonymity audit on customer quasi-identifiers
# --------------------------------------------------------------------------


@query(
    "qs313_k_anonymity",
    oracle="""
    WITH cls AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(FLOOR(c_acctbal / 100) AS BIGINT) AS bal_band,
             COUNT(*) AS k
      FROM customer GROUP BY 1, 2, 3)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(MIN(k) AS BIGINT) AS min_k,
           CAST(SUM(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT)
             AS rows_below_5,
           CAST(SUM(CASE WHEN k < 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS classes_below_5,
           CAST(SUM(k) AS BIGINT) AS n_rows
    FROM cls
    """,
)
def qs313(spark: SparkSession, sf: str) -> DataFrame:
    """K-ANONYMITY AUDIT over the customer quasi-identifier set
    (nation, market segment, hundred-dollar balance band): class
    sizes, the
    minimum k, and how many rows/classes fall below k = 5 — the
    re-identification risk screen a privacy-aware ETL runs BEFORE
    releasing a table (the enforcement counterpart of qs96's
    anonymize: qs96 transforms, this one measures whether the
    release policy holds). Reference parity: the validation-report
    family (SSN/PII scan qs31/qs148) extended to the structural
    linkage risk the reference's per-value scan cannot see.

    Determinism: every output is an exact integer — no doubles
    anywhere. Plan: one grouped scan → class-dimension aggregate;
    at 100 TB the QI groupBy is the only shuffle and the audit
    row is a broadcastable scalar."""
    c = load_table(spark, sf, "customer")
    cls = c.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 100).cast("long").alias("bal_band"),
    ).agg(F.count(F.lit(1)).alias("k"))
    return cls.agg(
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.min("k").cast("long").alias("min_k"),
        F.sum(F.when(F.col("k") < 5, F.col("k")).otherwise(0))
        .cast("long")
        .alias("rows_below_5"),
        F.sum(F.when(F.col("k") < 5, 1).otherwise(0))
        .cast("long")
        .alias("classes_below_5"),
        F.sum("k").cast("long").alias("n_rows"),
    )
