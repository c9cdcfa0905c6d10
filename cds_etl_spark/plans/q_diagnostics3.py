"""Round-13 diagnostics family (qs393+): the ANN-serving composition
the r12 verdict asked for — the qs389 MRR/hits@k harness re-run over a
BOUNDED prefix-filter shortlist instead of the exact all-postings join,
so the documented scale path for the EVAL-HARNESS class is proven by a
registered, oracle-hash-checked query instead of asserted in a
docstring.

House conventions (registry module docstring): identical aliases both
sides, integer-exact ranking metrics, no corpus-proportional broadcast
hints (r12 audit rule), windows only over per-query frames (high-card
partition keys — each window-cliff site tagged ``# window:`` at the
site, gated by tests/test_site_tags.py).

Reference parity: none of these exist in cds-etl (its analytics stop at
per-table validation counts, cds_validation_functions.py); they extend
SURVEY.md §2.3's retrieval-eval tier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cds_etl_spark.catalog import load_table
from cds_etl_spark.plans.registry import query
from cds_etl_spark.operators.pin import cut_lineage

# ---------------------------------------------------------------------------
# qs393 MRR/hits@k over a prefix-filter candidate shortlist (the ANN
# serving path), exact-harness-comparable cell by cell with qs389
# ---------------------------------------------------------------------------


@query(
    "qs393_mrr_prefix_shortlist",
    oracle="""
    WITH tk AS (
      SELECT doc_id, unnest(list_distinct(
               string_split(lower(text), ' '))) AS term
      FROM documents),
    tkc AS (SELECT doc_id, term FROM tk WHERE term <> ''),
    df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
           FROM tkc GROUP BY 1),
    q AS (SELECT doc_id AS qid, source AS qsrc FROM documents
          WHERE doc_id % 50 = 0),
    pref AS (
      SELECT qid, qsrc, term FROM (
        SELECT q.qid, q.qsrc, t.term,
               ROW_NUMBER() OVER (PARTITION BY q.qid
                   ORDER BY df.df, t.term) AS prk
        FROM q
        JOIN tkc t ON t.doc_id = q.qid
        JOIN df ON df.term = t.term)
      WHERE prk <= 3),
    cand AS (
      SELECT DISTINCT p.qid, p.qsrc, t.doc_id AS cid
      FROM pref p
      JOIN tkc t ON t.term = p.term AND t.doc_id <> p.qid),
    arr AS (
      SELECT doc_id,
             list_distinct(list_filter(string_split(lower(text), ' '),
                                       x -> x <> '')) AS ts
      FROM documents),
    ov AS (
      SELECT c.qid, c.qsrc, c.cid, d.source AS csrc,
             len(list_intersect(a1.ts, a2.ts)) AS overlap
      FROM cand c
      JOIN arr a1 ON a1.doc_id = c.qid
      JOIN arr a2 ON a2.doc_id = c.cid
      JOIN documents d ON d.doc_id = c.cid),
    ranked AS (
      SELECT qid, qsrc, csrc,
             ROW_NUMBER() OVER (PARTITION BY qid
                 ORDER BY overlap DESC, cid) AS rk
      FROM ov),
    firstrel AS (
      SELECT qid, MIN(CASE WHEN csrc = qsrc AND rk <= 10 THEN rk END)
               AS fr
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
def qs393(spark: SparkSession, sf: str) -> DataFrame:
    """MRR + hits@k over a PREFIX-FILTER candidate shortlist — the
    qs389 harness (every 50th document queries the corpus,
    same-source is relevant, ranks ordered by distinct-token overlap
    with id tiebreaks) re-run the way a serving system actually
    retrieves: each query joins only its 3 globally-rarest tokens
    (df ascending, term tiebreak) against the postings, full overlap
    is computed ONLY on that candidate set, and the metric is taken
    over the ranked top-10 shortlist. Output aliases match qs389
    column for column, so shortlist-vs-exact recall is a direct
    cell-by-cell diff (the BASELINE.md r13 recall cell).

    Determinism: prefix selection orders by exact-integer (df, term);
    overlap is an integer; ranks tie-break by cid; each reciprocal is
    floor(1e6/rank) and MRR their integer-mean floor — zero floating
    point end to end. SCALE: this is the documented scale path for
    the EVAL-HARNESS class (qs213/qs215/qs233/qs389) made concrete —
    the candidate join moves 3 postings per query instead of the full
    ~|tokens| postings, so shuffle is bounded by 3·max_df per query
    (on a Zipfian corpus the rarest tokens' df is tiny; on this
    synthetic 31-term vocabulary it still cuts candidate generation
    ~8×), and the O(candidate) overlap verify replaces the
    O(query·corpus) exact join. Recall loss is measurable, not
    assumed: qs389 is the exact reference."""
    from cds_etl_spark.operators.skew import spread_scan

    docs = load_table(spark, sf, "documents")
    # r15 (guide §1.3/§2.4/§2.5): spread the single-file scan,
    # explode_outer (the implicit size>0 pushdown re-evaluated the
    # interpreted tokenize per row — the qs215 fix class), and
    # checkpoint the postings ONCE: `toks` feeds dfreq, the query-side
    # prefix join AND the candidate-generation postings join, so the
    # pure-plan diamond re-tokenized the corpus three times.
    toks = (
        spread_scan(docs.select("doc_id", "text"), "doc_id")
        .select(
            "doc_id",
            F.explode_outer(
                F.array_distinct(F.split(F.lower(F.col("text")), " "))
            ).alias("term"),
        )
        .filter(F.col("term") != "")
    )
    toks = cut_lineage(toks)  # pin: corpus-scale postings
    dfreq = toks.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    q = docs.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("qid"), F.col("source").alias("qsrc")
    )
    qt = (
        toks.join(q, toks["doc_id"] == q["qid"])
        .join(dfreq, "term")
        .select("qid", "qsrc", "term", "df")
    )
    # 3 rarest query tokens — the prefix; the window partitions on
    # qid (query-count-sized, high-card) over that query's ~|tokens|
    # rows, never the corpus.
    pref = (
        qt.withColumn(
            "prk",
            F.row_number().over(
                Window.partitionBy("qid").orderBy("df", "term")
            ),
        )
        .filter(F.col("prk") <= 3)
        .select("qid", "qsrc", "term")
    )
    cand = (
        pref.join(
            toks.select(F.col("doc_id").alias("cid"), "term"), "term"
        )
        .filter(F.col("cid") != F.col("qid"))
        .select("qid", "qsrc", "cid")
        .distinct()
    )
    # Checkpointed for the same reason: `arr` is attached on both the
    # query and candidate sides, re-running the interpreted
    # array_distinct/filter transform over the corpus twice.
    arr = (
        spread_scan(docs.select("doc_id", "text"), "doc_id")
        .select(
            "doc_id",
            F.array_distinct(
                F.filter(
                    F.split(F.lower(F.col("text")), " "),
                    lambda x: x != F.lit(""),
                )
            ).alias("ts"),
        )
    )
    arr = cut_lineage(arr)  # pin: corpus-scale token arrays
    # r15 (guide §2.3/§8): attach the cid-keyed payloads FIRST, the
    # qid-keyed array LAST — written q-side-first, the pair set
    # crossed the cid exchange already carrying qts, so token arrays
    # crossed TWO exchanges; this order moves arrays across one, and
    # the qid join's partitioning is reused by the rank window below
    # (no fourth pair exchange).
    ov = (
        cand.join(
            arr.select(F.col("doc_id").alias("cid"), F.col("ts").alias("cts")),
            "cid",
        )
        .join(
            docs.select(
                F.col("doc_id").alias("cid"), F.col("source").alias("csrc")
            ),
            "cid",
        )
        .join(
            arr.select(F.col("doc_id").alias("qid"), F.col("ts").alias("qts")),
            "qid",
        )
        .select(
            "qid",
            "qsrc",
            "cid",
            "csrc",
            F.size(F.array_intersect(F.col("qts"), F.col("cts"))).alias(
                "overlap"
            ),
        )
    )
    ranked = ov.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("qid").orderBy(F.col("overlap").desc(), "cid")
        ),
    )
    firstrel = ranked.groupBy("qid").agg(
        F.min(
            F.when(
                (F.col("csrc") == F.col("qsrc")) & (F.col("rk") <= 10),
                F.col("rk"),
            )
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
# shared: BUILDING vs MACHINERY daily-revenue day grid + unique
# permutation ranks — the qs377 two-sample convention (rank ties broken
# by (y, seg, d), documented there), reused by the r13 rank family
# ---------------------------------------------------------------------------

_SEG_DAILY_SQL = """
    daily AS (
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
      FROM daily)
"""


def _seg_daily_ranks(spark: SparkSession, sf: str) -> DataFrame:
    """(seg, r = pooled rank, i = within-sample rank) over the
    BUILDING/MACHINERY daily-revenue day grid — unique permutation
    ranks with the qs377 (y, seg, d) tiebreak; both windows are
    day-grid-sized (tagged ``# window: GRID`` at each site)."""
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    daily = (
        # NULL-date / NULL-price orders are excluded on both sides:
        # the family's unique (y, seg, d) rank tiebreak needs
        # non-null keys — engine default null ordering diverges
        # (r15 NULL-axis convention).
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
    return daily.select(
        "seg",
        F.row_number()
        # window: GRID qs377-convention pooled permutation rank over the two-segment day grid (qs395/qs396/qs397)
        .over(Window.orderBy("y", "seg", "d"))
        .cast("long")
        .alias("r"),
        F.row_number()
        # window: GRID within-segment rank over the day grid (2 segments x ~2.4k days)
        .over(Window.partitionBy("seg").orderBy("y", "seg", "d"))
        .cast("long")
        .alias("i"),
    )


# ---------------------------------------------------------------------------
# qs394 Kuiper two-sample statistic on order values
# ---------------------------------------------------------------------------


@query(
    "qs394_kuiper",
    oracle="""
    WITH s AS (
      SELECT o_custkey % 2 AS grp,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v
      FROM orders WHERE o_totalprice IS NOT NULL),
    n AS (
      SELECT CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n0,
             CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n1
      FROM s),
    pooled AS (
      SELECT v,
             SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS c0,
             SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS c1
      FROM s GROUP BY v),
    cum AS (
      SELECT SUM(c0) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS f0,
             SUM(c1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS f1
      FROM pooled)
    SELECT n.n0, n.n1,
           CAST(GREATEST(0, MAX(cum.f0 * n.n1 - cum.f1 * n.n0))
                AS BIGINT) AS dplus_num,
           CAST(GREATEST(0, MAX(cum.f1 * n.n0 - cum.f0 * n.n1))
                AS BIGINT) AS dminus_num,
           CAST((CAST(GREATEST(0, MAX(cum.f0*n.n1 - cum.f1*n.n0))
                      AS HUGEINT)
                 + GREATEST(0, MAX(cum.f1*n.n0 - cum.f0*n.n1)))
                * 1000000 // (CAST(n.n0 AS HUGEINT) * n.n1)
                AS BIGINT) AS kuiper_e6
    FROM cum, n GROUP BY n.n0, n.n1
    """,
)
def qs394(spark: SparkSession, sf: str) -> DataFrame:
    """Kuiper two-sample statistic V = D⁺ + D⁻ between even- and
    odd-customer order values — the rotation-invariant companion to
    qs227's KS on the SAME samples: KS takes the single worst ECDF
    gap, Kuiper adds the worst gaps in BOTH directions, giving equal
    sensitivity at the distribution's tails and median (the classic
    cyclic-data / tail-shift test).

    Determinism: the qs227 contract — ECDF gaps held as exact
    cross-multiplied counts f0·n1 − f1·n0, direction maxima clamped
    at 0 (the ECDF difference at −∞), one final e6 floor division in
    HUGEINT/DECIMAL(38) (f·n ≈ 4.6e13 at sf30 gen scale; ×1e6
    overflows int64 — the qs231 lesson applied at birth). Plan: one
    value aggregate, a value-grid cumulative window (the measured
    qs227 REJECT keeps the serial grid; same escape hatch), two-max
    one-row epilogue."""
    o = load_table(spark, sf, "orders")
    # NULL-price orders excluded on both sides: a NULL v would form a
    # divergently-ordered ECDF grid row (r15 NULL-axis convention).
    s = o.filter(F.col("o_totalprice").isNotNull()).select(
        (F.col("o_custkey") % 2).alias("grp"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("v"),
    )
    n = s.agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n0"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n1"),
    )
    pooled = s.groupBy("v").agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).alias("c0"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).alias("c1"),
    )
    # window: REJECT Kuiper value-grid cumulative: qs227's measured reject (2.0->3.5s r6) covers the identical grid shape
    wc = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = pooled.select(
        F.sum("c0").over(wc).alias("f0"),
        F.sum("c1").over(wc).alias("f1"),
    )
    m = cum.crossJoin(n).agg(
        F.max("n0").alias("n0"),
        F.max("n1").alias("n1"),
        F.greatest(
            F.lit(0),
            F.max(F.col("f0") * F.col("n1") - F.col("f1") * F.col("n0")),
        )
        .cast("long")
        .alias("dplus_num"),
        F.greatest(
            F.lit(0),
            F.max(F.col("f1") * F.col("n0") - F.col("f0") * F.col("n1")),
        )
        .cast("long")
        .alias("dminus_num"),
    )
    return m.select(
        "n0",
        "n1",
        "dplus_num",
        "dminus_num",
        F.expr(
            "CAST((CAST(dplus_num AS DECIMAL(38,0)) + dminus_num) "
            "* 1000000 div (CAST(n0 AS DECIMAL(38,0)) * n1) AS LONG)"
        ).alias("kuiper_e6"),
    )


# ---------------------------------------------------------------------------
# qs395 Anderson–Darling two-sample statistic on the day grid
# ---------------------------------------------------------------------------


@query(
    "qs395_anderson_darling",
    oracle=f"""
    WITH {_SEG_DAILY_SQL},
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS nn,
             CAST(SUM(CASE WHEN seg = 'BUILDING' THEN 1 ELSE 0 END)
                  AS BIGINT) AS mx
      FROM rk),
    cumx AS (
      SELECT r,
             SUM(CASE WHEN seg = 'BUILDING' THEN 1 ELSE 0 END)
               OVER (ORDER BY r ROWS UNBOUNDED PRECEDING) AS mi
      FROM rk),
    terms AS (
      SELECT CAST(SUM(
               (CAST(cumx.mi AS HUGEINT) * m.nn - cumx.r * m.mx)
               * (CAST(cumx.mi AS HUGEINT) * m.nn - cumx.r * m.mx)
               * 1000000000
               // (CAST(cumx.r AS HUGEINT) * (m.nn - cumx.r))
             ) AS HUGEINT) AS s_e9
      FROM cumx, m WHERE cumx.r < m.nn)
    SELECT m.mx AS n_x, m.nn - m.mx AS n_y,
           ROUND(CAST(terms.s_e9 AS DOUBLE)
                 / (1000000000.0 * m.mx * (m.nn - m.mx)), 6) AS a2
    FROM m, terms
    """,
)
def qs395(spark: SparkSession, sf: str) -> DataFrame:
    """Anderson–Darling two-sample statistic (Pettitt 1976) between
    the BUILDING and MACHINERY daily-revenue distributions:
    A² = (1/(mn)) Σ_{i<N} (M_i·N − i·m)² / (i(N−i)) over the pooled
    order statistics — the variance-weighted ECDF distance that
    up-weights the TAILS where qs227's KS and qs377's CvM are least
    sensitive (the third member of the ECDF-test family, same day
    grid and (y, seg, d) unique-rank convention as qs377).

    Determinism: every per-rank term is an exact integer floor
    division at e9 scale in DECIMAL(38)/HUGEINT ((M·N − i·m)² ≈
    5e14 at sf30's ~4.8k-row day grid, ×1e9 ≈ 5e23 — headroom to
    10³⁸), summed exactly; ONE double division + ROUND 6 at the end.
    Plan: one join-grouped scan → day grid, one grid rank window,
    one grid cumulative window, one-row epilogue."""
    rk = _seg_daily_ranks(spark, sf)
    # window: GRID Anderson-Darling cumulative over the ~4.8k-row day-grid ranks
    wc = Window.orderBy("r").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = rk.select(
        "r",
        F.sum(F.when(F.col("seg") == "BUILDING", 1).otherwise(0))
        .over(wc)
        .alias("mi"),
    )
    m = rk.agg(
        F.count(F.lit(1)).cast("long").alias("nn"),
        F.sum(F.when(F.col("seg") == "BUILDING", 1).otherwise(0))
        .cast("long")
        .alias("mx"),
    )
    terms = (
        cum.crossJoin(m)
        .filter(F.col("r") < F.col("nn"))
        .agg(
            F.sum(
                F.expr(
                    "(CAST(mi AS DECIMAL(38,0)) * nn - r * mx) "
                    "* (CAST(mi AS DECIMAL(38,0)) * nn - r * mx) "
                    "* 1000000000 div (CAST(r AS DECIMAL(38,0)) * (nn - r))"
                )
            ).alias("s_e9"),
            F.max("nn").alias("nn"),
            F.max("mx").alias("mx"),
        )
    )
    return terms.select(
        F.col("mx").alias("n_x"),
        (F.col("nn") - F.col("mx")).alias("n_y"),
        F.round(
            F.col("s_e9").cast("double")
            / (
                F.lit(1e9)
                * F.col("mx").cast("double")
                * (F.col("nn") - F.col("mx")).cast("double")
            ),
            6,
        ).alias("a2"),
    )


# ---------------------------------------------------------------------------
# qs396 Brunner–Munzel test on the day grid
# ---------------------------------------------------------------------------


@query(
    "qs396_brunner_munzel",
    oracle=f"""
    WITH {_SEG_DAILY_SQL},
    d AS (
      SELECT seg, r, r - i AS p FROM rk),
    m AS (
      SELECT
        CAST(SUM(CASE WHEN seg = 'BUILDING' THEN 1 ELSE 0 END)
             AS BIGINT) AS n1,
        CAST(SUM(CASE WHEN seg = 'MACHINERY' THEN 1 ELSE 0 END)
             AS BIGINT) AS n2,
        CAST(SUM(CASE WHEN seg = 'BUILDING' THEN r ELSE 0 END)
             AS BIGINT) AS sr1,
        CAST(SUM(CASE WHEN seg = 'MACHINERY' THEN r ELSE 0 END)
             AS BIGINT) AS sr2,
        CAST(SUM(CASE WHEN seg = 'BUILDING' THEN p ELSE 0 END)
             AS BIGINT) AS sp1,
        CAST(SUM(CASE WHEN seg = 'MACHINERY' THEN p ELSE 0 END)
             AS BIGINT) AS sp2,
        CAST(SUM(CASE WHEN seg = 'BUILDING'
                 THEN CAST(p AS HUGEINT) * p ELSE 0 END) AS HUGEINT)
          AS sq1,
        CAST(SUM(CASE WHEN seg = 'MACHINERY'
                 THEN CAST(p AS HUGEINT) * p ELSE 0 END) AS HUGEINT)
          AS sq2
      FROM d)
    SELECT n1 AS n_x, n2 AS n_y,
           CAST(CAST(sp2 AS HUGEINT) * 1000000 // (CAST(n2 AS HUGEINT)
                * n1) AS BIGINT) AS p_hat_e6,
           ROUND(
             (CAST(n1 AS DOUBLE) * n2
              * (CAST(sr2 AS DOUBLE)/n2 - CAST(sr1 AS DOUBLE)/n1))
             / (CAST(n1 + n2 AS DOUBLE)
                * sqrt(
                    n1 * ((CAST(sq1 AS DOUBLE)
                           - CAST(sp1 AS DOUBLE)*sp1/n1) / (n1 - 1))
                  + n2 * ((CAST(sq2 AS DOUBLE)
                           - CAST(sp2 AS DOUBLE)*sp2/n2) / (n2 - 1)))),
             6) AS w_bm
    FROM m
    """,
)
def qs396(spark: SparkSession, sf: str) -> DataFrame:
    """Brunner–Munzel test (Brunner & Munzel 2000) between the
    BUILDING and MACHINERY daily-revenue distributions — the
    heteroscedasticity-robust successor to Mann–Whitney (qs181):
    tests P(X<Y) = 1/2 WITHOUT assuming equal variances, via the
    placement statistics p = (pooled rank − within rank). Statistic
    W = n₁n₂(R̄₂−R̄₁) / ((n₁+n₂)·√(n₁S₁² + n₂S₂²)) with S_k² the
    placement variance; p̂ = Σp₂/(n₁n₂) is the estimated
    P(X<Y)+½P(X=Y) effect size, emitted exact at e6.

    Determinism: unique permutation ranks (the qs377 (y, seg, d)
    tiebreak); all five moments (n, ΣR, Σp, Σp²) are exact integers;
    each S² uses the exact re-centering Σp² − (Σp)²/n; one fixed
    double tree, ROUND 6. Plan: one join-grouped scan → day grid,
    two grid rank windows, one-row epilogue."""
    rk = _seg_daily_ranks(spark, sf)
    d = rk.select("seg", "r", (F.col("r") - F.col("i")).alias("p"))
    m = d.agg(
        F.sum(F.when(F.col("seg") == "BUILDING", 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("seg") == "MACHINERY", 1).otherwise(0))
        .cast("long")
        .alias("n2"),
        F.sum(F.when(F.col("seg") == "BUILDING", F.col("r")).otherwise(0))
        .cast("long")
        .alias("sr1"),
        F.sum(F.when(F.col("seg") == "MACHINERY", F.col("r")).otherwise(0))
        .cast("long")
        .alias("sr2"),
        F.sum(F.when(F.col("seg") == "BUILDING", F.col("p")).otherwise(0))
        .cast("long")
        .alias("sp1"),
        F.sum(F.when(F.col("seg") == "MACHINERY", F.col("p")).otherwise(0))
        .cast("long")
        .alias("sp2"),
        F.sum(
            F.when(
                F.col("seg") == "BUILDING",
                F.col("p").cast("decimal(38,0)") * F.col("p"),
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        ).alias("sq1"),
        F.sum(
            F.when(
                F.col("seg") == "MACHINERY",
                F.col("p").cast("decimal(38,0)") * F.col("p"),
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        ).alias("sq2"),
    )
    s1 = (
        F.col("sq1").cast("double")
        - F.col("sp1").cast("double") * F.col("sp1") / F.col("n1")
    ) / (F.col("n1") - 1)
    s2 = (
        F.col("sq2").cast("double")
        - F.col("sp2").cast("double") * F.col("sp2") / F.col("n2")
    ) / (F.col("n2") - 1)
    return m.select(
        F.col("n1").alias("n_x"),
        F.col("n2").alias("n_y"),
        F.expr(
            "CAST(CAST(sp2 AS DECIMAL(38,0)) * 1000000 "
            "div (CAST(n2 AS DECIMAL(38,0)) * n1) AS LONG)"
        ).alias("p_hat_e6"),
        F.round(
            (
                F.col("n1").cast("double")
                * F.col("n2")
                * (
                    F.col("sr2").cast("double") / F.col("n2")
                    - F.col("sr1").cast("double") / F.col("n1")
                )
            )
            / (
                (F.col("n1") + F.col("n2")).cast("double")
                * F.sqrt(F.col("n1") * s1 + F.col("n2") * s2)
            ),
            6,
        ).alias("w_bm"),
    )


# ---------------------------------------------------------------------------
# qs397 Lepage combined location–scale test on the day grid
# ---------------------------------------------------------------------------


@query(
    "qs397_lepage",
    oracle=f"""
    WITH {_SEG_DAILY_SQL},
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM rk),
    m AS (
      SELECT
        tot.nn AS nn,
        CAST(SUM(CASE WHEN seg = 'BUILDING' THEN 1 ELSE 0 END)
             AS BIGINT) AS n1,
        CAST(SUM(CASE WHEN seg = 'BUILDING' THEN r ELSE 0 END)
             AS BIGINT) AS w,
        CAST(SUM(CASE WHEN seg = 'BUILDING'
                 THEN LEAST(r, tot.nn + 1 - r) ELSE 0 END)
             AS BIGINT) AS c
      FROM rk, tot GROUP BY tot.nn),
    ev AS (
      SELECT nn, n1, nn - n1 AS n2, w, c,
             CAST(n1 AS DOUBLE) * (nn + 1) / 2 AS ew,
             CAST(n1 AS DOUBLE) * (nn - n1) * (nn + 1) / 12 AS vw,
             CASE WHEN nn % 2 = 0
                  THEN CAST(n1 AS DOUBLE) * (nn + 2) / 4
                  ELSE CAST(n1 AS DOUBLE) * (nn + 1) * (nn + 1)
                       / (4.0 * nn) END AS ec,
             CASE WHEN nn % 2 = 0
                  THEN CAST(n1 AS DOUBLE) * (nn - n1) * (nn + 2)
                       * (nn - 2) / (48.0 * (nn - 1))
                  ELSE CAST(n1 AS DOUBLE) * (nn - n1) * (nn + 1)
                       * (3 + nn * CAST(nn AS DOUBLE))
                       / (48.0 * nn * CAST(nn AS DOUBLE)) END AS vc
      FROM m)
    SELECT n1 AS n_x, n2 AS n_y, w AS wilcoxon_w, c AS ansari_c,
           ROUND((w - ew) * (w - ew) / vw
                 + (c - ec) * (c - ec) / vc, 6) AS lepage_l
    FROM ev
    """,
)
def qs397(spark: SparkSession, sf: str) -> DataFrame:
    """Lepage combined location–scale test between the BUILDING and
    MACHINERY daily-revenue distributions: L = Z_W² + Z_C², the sum
    of the squared standardized Wilcoxon rank-sum (location — qs181's
    family) and squared standardized Ansari–Bradley (scale — qs387's
    statistic), detecting a shift in EITHER moment with one omnibus
    number — the nonparametric analogue of a joint mean+variance
    test.

    Determinism: unique permutation ranks (qs377 tiebreak); W and
    the Ansari score sum C = Σ min(r, N+1−r) are exact integers;
    null moments are the closed-form textbook expressions (with the
    even/odd-N Ansari variance cases) in one fixed double tree,
    ROUND 6. Plan: one join-grouped scan → day grid, one grid rank
    window, one-row epilogue."""
    rk = _seg_daily_ranks(spark, sf)
    m = rk.agg(
        F.count(F.lit(1)).cast("long").alias("nn"),
        F.sum(F.when(F.col("seg") == "BUILDING", 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("seg") == "BUILDING", F.col("r")).otherwise(0))
        .cast("long")
        .alias("w"),
    )
    # Ansari scores need N in-row: join the scalar back (broadcast
    # one-row frame) rather than a second global window.
    c = (
        rk.crossJoin(m.select("nn"))
        .agg(
            F.sum(
                F.when(
                    F.col("seg") == "BUILDING",
                    F.least(
                        F.col("r"), F.col("nn") + 1 - F.col("r")
                    ),
                ).otherwise(0)
            )
            .cast("long")
            .alias("c")
        )
    )
    ev = m.crossJoin(c)
    nn = F.col("nn").cast("double")
    n1 = F.col("n1").cast("double")
    n2 = nn - n1
    ew = n1 * (nn + 1) / 2
    vw = n1 * n2 * (nn + 1) / 12
    ec = F.when(
        F.col("nn") % 2 == 0, n1 * (nn + 2) / 4
    ).otherwise(n1 * (nn + 1) * (nn + 1) / (4 * nn))
    vc = F.when(
        F.col("nn") % 2 == 0,
        n1 * n2 * (nn + 2) * (nn - 2) / (48 * (nn - 1)),
    ).otherwise(n1 * n2 * (nn + 1) * (3 + nn * nn) / (48 * nn * nn))
    return ev.select(
        F.col("n1").alias("n_x"),
        (F.col("nn") - F.col("n1")).alias("n_y"),
        F.col("w").alias("wilcoxon_w"),
        F.col("c").alias("ansari_c"),
        F.round(
            (F.col("w") - ew) * (F.col("w") - ew) / vw
            + (F.col("c") - ec) * (F.col("c") - ec) / vc,
            6,
        ).alias("lepage_l"),
    )


# ---------------------------------------------------------------------------
# qs398 G-test (log-likelihood-ratio independence) on priority × status
# ---------------------------------------------------------------------------

_PRIO_CELLS_SQL = """
    cells AS (
      SELECT TRY_CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS x,
             CASE o_orderstatus WHEN 'F' THEN 1 WHEN 'O' THEN 2
                  ELSE 3 END AS y,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM orders
      WHERE TRY_CAST(substr(o_orderpriority, 1, 1) AS BIGINT)
            IS NOT NULL
      GROUP BY 1, 2),
    rt AS (SELECT x, CAST(SUM(c) AS BIGINT) AS r FROM cells GROUP BY x),
    ct AS (SELECT y, CAST(SUM(c) AS BIGINT) AS s FROM cells GROUP BY y),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
                   CAST(COUNT(DISTINCT x) AS BIGINT) AS nr,
                   CAST(COUNT(DISTINCT y) AS BIGINT) AS nc
            FROM cells)
"""


def _prio_cells_margins(spark: SparkSession, sf: str):
    """(x = priority rank, y = status rank, c) grid joined with row /
    column / grand totals — the ≤15-cell contingency the qs383-family
    uses, with margins for expected-count statistics."""
    o = load_table(spark, sf, "orders")
    cells = (
        o.groupBy(
            # try_cast + drop: a NULL / empty / unparseable priority
            # is not an ordinal observation (r15 NULL-axis
            # convention; ANSI CAST throws on dirty source strings).
            F.substring("o_orderpriority", 1, 1)
            .try_cast("long")
            .alias("x"),
            F.when(F.col("o_orderstatus") == "F", 1)
            .when(F.col("o_orderstatus") == "O", 2)
            .otherwise(3)
            .cast("long")
            .alias("y"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .filter(F.col("x").isNotNull())
    )
    rt = cells.groupBy("x").agg(F.sum("c").cast("long").alias("r"))
    ct = cells.groupBy("y").agg(F.sum("c").cast("long").alias("s"))
    tot = cells.agg(
        F.sum("c").cast("long").alias("n"),
        F.countDistinct("x").cast("long").alias("nr"),
        F.countDistinct("y").cast("long").alias("nc"),
    )
    return (
        # bcast: GRID row margins of the <=15-cell priority x status grid
        cells.join(F.broadcast(rt), "x")
        # bcast: GRID column margins of the <=15-cell priority x status grid
        .join(F.broadcast(ct), "y")
        .crossJoin(tot)
    )


@query(
    "qs398_g_test",
    oracle=f"""
    WITH {_PRIO_CELLS_SQL}
    SELECT tot.n,
           CAST((tot.nr - 1) * (tot.nc - 1) AS BIGINT) AS df,
           ROUND(2 * SUM(cells.c * ln(CAST(cells.c AS DOUBLE) * tot.n
                                      / (CAST(rt.r AS DOUBLE) * ct.s))),
                 4) AS g_stat
    FROM cells
    JOIN rt ON rt.x = cells.x
    JOIN ct ON ct.y = cells.y
    CROSS JOIN tot
    GROUP BY tot.n, tot.nr, tot.nc
    """,
)
def qs398(spark: SparkSession, sf: str) -> DataFrame:
    """G-test of independence (log-likelihood-ratio χ²) on the order
    priority × status contingency grid: G = 2 Σ O·ln(O·n/(r·c)) with
    df = (R−1)(C−1) — the information-theoretic twin of Pearson's χ²
    (G = 2n·MI(X;Y) in nats), additive across partitions where
    Pearson's is not, and the statistic of choice when any O/E ratio
    is extreme. Empty cells contribute 0 by the x·ln(x)→0 limit and
    simply never appear in the grouped grid.

    Determinism: counts and margins exact integers; the sum runs
    over ≤15 grid cells of one ln each (the qs160/qs372 small-grid
    float-sum contract), ROUND 4. Plan: one scan → ≤15-cell grid,
    broadcast margins, one-row epilogue."""
    j = _prio_cells_margins(spark, sf)
    term = F.col("c") * F.log(
        F.col("c").cast("double")
        * F.col("n")
        / (F.col("r").cast("double") * F.col("s"))
    )
    return j.groupBy("n", "nr", "nc").agg(
        F.round(2 * F.sum(term), 4).alias("g_stat")
    ).select(
        "n",
        ((F.col("nr") - 1) * (F.col("nc") - 1)).cast("long").alias("df"),
        "g_stat",
    )


# ---------------------------------------------------------------------------
# qs399 Cramér's V on the same grid
# ---------------------------------------------------------------------------


@query(
    "qs399_cramers_v",
    oracle=f"""
    WITH {_PRIO_CELLS_SQL},
    chi AS (
      SELECT tot.n, tot.nr, tot.nc,
             GREATEST(
               CAST(SUM(
                 CAST(cells.c AS HUGEINT) * cells.c * tot.n
                   * 1000000000
                 // (CAST(rt.r AS HUGEINT) * ct.s)
               ) AS HUGEINT) - CAST(tot.n AS HUGEINT) * 1000000000,
               0) AS chi_e9
      FROM cells
      JOIN rt ON rt.x = cells.x
      JOIN ct ON ct.y = cells.y
      CROSS JOIN tot
      GROUP BY tot.n, tot.nr, tot.nc)
    SELECT n, ROUND(CAST(chi_e9 AS DOUBLE) / 1000000000.0 / n, 6)
             AS phi2,
           ROUND(sqrt(CAST(chi_e9 AS DOUBLE) / 1000000000.0
                      / (CAST(n AS DOUBLE)
                         * (LEAST(nr, nc) - 1))), 6) AS cramers_v
    FROM chi
    """,
)
def qs399(spark: SparkSession, sf: str) -> DataFrame:
    """Cramér's V on the order priority × status grid — the [0, 1]
    normalized effect size of the association the qs383-family
    measures with signed ordinal statistics: V = √(χ²/(n·(min(R,C)−1)))
    with the Pearson χ² in its genuinely empty-cell-free identity
    χ² = Σ_{{O>0}} O²·n/(r·c) − n (expand Σ(O−E)²/E = ΣO²/E − 2n + n;
    the O=0 cells contribute exactly 0 to ΣO²/E, so the nonzero grid
    suffices — unlike the naive per-cell expansion
    Σ_{{O>0}}(O·n−r·c)²/(n·r·c), which equals χ² − Σ_{{O=0}}E and
    silently undercounts on sparse grids; the r14 ADVICE fix). φ² is
    emitted alongside (the unnormalized mean-square contingency).

    Determinism: every per-cell term is an exact e9 floor division in
    HUGEINT/DECIMAL(38) (O²·n ≤ n³ ≈ 1e23 at sf30 gen scale, ×1e9
    well inside 38 digits), summed exactly over ≤15 cells before the
    single exact n·1e9 subtraction, clamped at 0 (each term FLOORS,
    so when true χ²≈0 the exact sum can land a few e-9 negative on
    both engines — NaN V; r15 ADVICE clamp); two fixed double
    expressions, ROUND 6. Plan: identical to qs398."""
    j = _prio_cells_margins(spark, sf)
    chi = j.groupBy("n", "nr", "nc").agg(
        F.sum(
            F.expr(
                "CAST(c AS DECIMAL(38,0)) * c * n * 1000000000 "
                "div (CAST(r AS DECIMAL(38,0)) * s)"
            )
        ).alias("oe_e9")
    ).withColumn(
        # Clamped at 0: each per-cell term FLOORS, so the exact sum
        # can land a few e-9 below zero when true chi2 ~ 0
        # (deterministically on both engines — but sqrt would emit
        # NaN V; r15 ADVICE).
        "chi_e9",
        F.expr(
            "greatest(oe_e9 - CAST(n AS DECIMAL(38,0)) * 1000000000,"
            " CAST(0 AS DECIMAL(38,0)))"
        ),
    )
    return chi.select(
        "n",
        F.round(
            F.col("chi_e9").cast("double") / 1e9 / F.col("n"), 6
        ).alias("phi2"),
        F.round(
            F.sqrt(
                F.col("chi_e9").cast("double")
                / 1e9
                / (
                    F.col("n").cast("double")
                    * (F.least("nr", "nc") - 1)
                )
            ),
            6,
        ).alias("cramers_v"),
    )


# ---------------------------------------------------------------------------
# qs400 LSH band-occupancy histogram — the r13 hot-band guard's
# diagnostic, oracle-checked
# ---------------------------------------------------------------------------


@query(
    "qs400_lsh_band_occupancy",
    oracle=None,  # set below: needs the qs55-family signature CTEs
)
def qs400(spark: SparkSession, sf: str) -> DataFrame:
    """Band-occupancy histogram of the qs55-family MinHash-LSH banding
    over documents: per (band_idx, ⌈log2 occupancy⌉ bucket) the number
    of band keys and the exact max occupancy — the EXACT diagnostic
    the r13 self-arming hot-band guard persists at index build time
    (operators/dedup.write_minhash_band_stats; BASELINE r13 table),
    here as a registry query with a full DuckDB oracle so the skew
    signal itself is hash-verified: a mega-cluster template shows up
    as a lone high bucket (occupancy = template copies in EVERY band),
    a healthy corpus as a short power-law tail.

    Determinism: the portable md5-sliced signature family (the qs55
    oracle vehicle), integer counts, and ceil(log2(n)) of exact
    integers (exact at power-of-two boundaries in both engines).
    Plan: signature banding rides the scan (array expressions, no
    Python), one (band, key) count aggregate, one ~50-row histogram
    epilogue — the shuffle carries (band_idx, 32-byte key) rows, the
    same shape the persisted index pays once at ingest."""
    from cds_etl_spark.operators.dedup import _signature_bands

    d = load_table(spark, sf, "documents")
    _sh, bands_df = _signature_bands(
        d, "doc_id", "text", 3, 12, 4, "portable"
    )
    occ = bands_df.groupBy(
        (F.col("_bi") + 1).cast("long").alias("band_idx"), "_key"
    ).agg(F.count(F.lit(1)).alias("n"))
    return occ.groupBy(
        "band_idx",
        F.ceil(F.log2("n")).cast("long").alias("occ_bucket"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.max("n").cast("long").alias("max_occ"),
    )


def _register_qs400_oracle() -> None:
    from cds_etl_spark.plans.q_dedup_text import (
        _MINHASH_SIG_SQL,
        _SHINGLES_CTE,
    )
    from cds_etl_spark.plans.registry import ORACLE_SQL

    ORACLE_SQL["qs400_lsh_band_occupancy"] = f"""
    WITH {_SHINGLES_CTE},
    sig AS (SELECT doc_id, [{_MINHASH_SIG_SQL}] AS sg FROM sh),
    bands AS (
      SELECT doc_id,
        [md5(sg[1]||','||sg[2]||','||sg[3]), md5(sg[4]||','||sg[5]||','||sg[6]),
         md5(sg[7]||','||sg[8]||','||sg[9]), md5(sg[10]||','||sg[11]||','||sg[12])] AS bk
      FROM sig),
    exploded AS (
      SELECT CAST(g.i AS BIGINT) AS band_idx, bk[g.i] AS key
      FROM bands, (SELECT unnest(range(1,5)) AS i) g),
    occ AS (
      SELECT band_idx, key, COUNT(*) AS n
      FROM exploded GROUP BY band_idx, key)
    SELECT band_idx, CAST(ceil(log2(n)) AS BIGINT) AS occ_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(MAX(n) AS BIGINT) AS max_occ
    FROM occ GROUP BY band_idx, occ_bucket
    """


_register_qs400_oracle()


# ---------------------------------------------------------------------------
# qs401 Moran's I on the daily-revenue calendar grid
# ---------------------------------------------------------------------------


@query(
    "qs401_moran_i_daily",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS y
      FROM orders GROUP BY 1),
    s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(y) AS HUGEINT) AS sy FROM daily),
    z AS (
      SELECT ROW_NUMBER() OVER (ORDER BY d) AS t,
             CAST(s.n AS HUGEINT) * y - s.sy AS z
      FROM daily, s),
    lagged AS (
      SELECT t, z, LAG(z) OVER (ORDER BY t) AS zp
      FROM z),
    m AS (
      SELECT CAST(SUM(CASE WHEN zp IS NOT NULL THEN z * zp
                           ELSE 0 END) AS HUGEINT) AS num,
             CAST(SUM(z * z) AS HUGEINT) AS den
      FROM lagged)
    SELECT s.n AS n_days,
           ROUND(CAST(s.n AS DOUBLE) / (s.n - 1)
                 * CAST(m.num AS DOUBLE) / CAST(m.den AS DOUBLE), 6)
             AS moran_i
    FROM s, m
    """,
)
def qs401(spark: SparkSession, sf: str) -> DataFrame:
    """Moran's I spatial-autocorrelation statistic on the daily-revenue
    calendar grid with binary lag-1 adjacency (each day's neighbours =
    the adjacent days): I = (n/ΣW)·Σw_ij z_i z_j / Σz_i², which for
    the symmetric chain (ΣW = 2(n−1), each consecutive pair counted
    both ways) collapses to (n/(n−1))·Σ z_t z_{t−1} / Σ z_t² — the
    cross-sectional cousin of qs303's Durbin–Watson (DW measures
    residual serial correlation as a ratio of DIFFERENCES; Moran
    measures it as a normalized lag PRODUCT, the form that
    generalizes to arbitrary adjacency graphs).

    Determinism: the qs390 re-centering — z_t = n·y_t − Σy exact in
    DECIMAL(38)/HUGEINT (z ≈ 2.6e14 at sf30 gen scale, z² ≈ 7e28 —
    headroom to 10³⁸); both quadratic sums exact; one double ratio,
    ROUND 6. Plan: one scan → ~2.4k-day grid, two GRID windows
    (ordinal + lag), one-row epilogue."""
    o = load_table(spark, sf, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
        .cast("long")
        .alias("y")
    )
    s = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
    )
    z = daily.crossJoin(s).select(
        "n",
        (
            F.col("n").cast("decimal(38,0)") * F.col("y") - F.col("sy")
        ).alias("z"),
        # window: GRID Moran's I: ~2.4k-day calendar grid ordinal
        F.row_number().over(Window.orderBy("d")).alias("t"),
    )
    # window: GRID Moran's I: calendar-grid lag-1
    lagged = z.withColumn("zp", F.lag("z").over(Window.orderBy("t")))
    m = lagged.agg(
        F.max("n").alias("n"),
        F.sum(
            F.when(F.col("zp").isNotNull(), F.col("z") * F.col("zp"))
            .otherwise(F.lit(0).cast("decimal(38,0)"))
        ).alias("num"),
        F.sum(F.col("z") * F.col("z")).alias("den"),
    )
    return m.select(
        F.col("n").alias("n_days"),
        F.round(
            F.col("n").cast("double")
            / (F.col("n") - 1)
            * F.col("num").cast("double")
            / F.col("den").cast("double"),
            6,
        ).alias("moran_i"),
    )


# ---------------------------------------------------------------------------
# qs403 Krippendorff's alpha (nominal, two raters) — the qs385 fixture
# ---------------------------------------------------------------------------


@query(
    "qs403_krippendorff_alpha",
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
           ROUND(CAST(n - agree AS DOUBLE) / n, 6) AS d_o,
           ROUND((4.0 * n * n
                  - (CAST(tr AS DOUBLE) * tr + CAST(tn AS DOUBLE) * tn
                     + CAST(ta AS DOUBLE) * ta))
                 / (2.0 * n * (2.0 * n - 1)), 6) AS d_e,
           ROUND(1.0 - (CAST(n - agree AS DOUBLE) / n)
                 / ((4.0 * n * n
                     - (CAST(tr AS DOUBLE) * tr + CAST(tn AS DOUBLE) * tn
                        + CAST(ta AS DOUBLE) * ta))
                    / (2.0 * n * (2.0 * n - 1))), 6)
             AS krippendorff_alpha
    FROM m
    """,
)
def qs403(spark: SparkSession, sf: str) -> DataFrame:
    """Krippendorff's alpha (nominal metric, two raters, complete
    data) on the qs385 rater fixture — the agreement coefficient that
    completes the family (qs347 weighted kappa, qs352 Fleiss, qs380
    Gwet AC1, qs385 Scott's pi): α = 1 − D_o/D_e with the observed
    disagreement D_o = (n − agree)/n and the expected disagreement
    from the COINCIDENCE matrix, D_e = (N² − Σ_v c_v²)/(N(N−1)) with
    N = 2n pooled values — the small-sample (N−1) correction is what
    separates α from Scott's pi, and α→pi as n→∞.

    Determinism: the qs385 composite-key rater extraction verbatim
    (documented tiebreak); all totals exact integers; one fixed
    double tree, ROUND 6. Plan: one grouped scan, one-row epilogue."""
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
        )
        .cast("long")
        .alias(f"t{f.lower()}")
        for f in ("R", "N", "A")
    }
    m = two.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("r1") == F.col("r2"), 1).otherwise(0))
        .cast("long")
        .alias("agree"),
        *cat.values(),
    )
    n = F.col("n").cast("double")
    sumc2 = (
        F.col("tr").cast("double") * F.col("tr")
        + F.col("tn").cast("double") * F.col("tn")
        + F.col("ta").cast("double") * F.col("ta")
    )
    d_o = (F.col("n") - F.col("agree")).cast("double") / n
    d_e = (4 * n * n - sumc2) / (2 * n * (2 * n - 1))
    return m.select(
        F.col("n").alias("n_subjects"),
        F.round(d_o, 6).alias("d_o"),
        F.round(d_e, 6).alias("d_e"),
        F.round(1 - d_o / d_e, 6).alias("krippendorff_alpha"),
    )


# ---------------------------------------------------------------------------
# qs404 Chao1 vocabulary-richness estimate per source
# ---------------------------------------------------------------------------


@query(
    "qs404_chao1_vocab",
    oracle="""
    WITH toks AS (
      SELECT source, unnest(string_split(lower(text), ' ')) AS term
      FROM documents),
    tc AS (SELECT source, term, CAST(COUNT(*) AS BIGINT) AS f
           FROM toks WHERE term <> '' GROUP BY 1, 2),
    agg AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS v,
             CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS f1,
             CAST(SUM(CASE WHEN f = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS f2
      FROM tc GROUP BY source)
    SELECT source, v AS v_observed, f1 AS singletons, f2 AS doubletons,
           ROUND(v + CAST(f1 AS DOUBLE) * (f1 - 1) / (2.0 * (f2 + 1)),
                 4) AS chao1
    FROM agg
    """,
)
def qs404(spark: SparkSession, sf: str) -> DataFrame:
    """Chao1 vocabulary-richness estimate per source — the
    species-richness lower bound from ecology applied to the token
    vocabulary: Ĉ = V + f₁(f₁−1)/(2(f₂+1)) (the bias-corrected form,
    defined even when no doubletons exist), where f₁/f₂ are singleton
    and doubleton type counts. THE "how much vocabulary haven't we
    crawled yet" estimator corpus curation pairs with Heaps' growth
    law (qs366): Heaps extrapolates the curve, Chao1 bounds its
    ceiling from one sample's abundance profile.

    Determinism: V, f₁, f₂ exact integers from one (source, term)
    count; one fixed double expression, ROUND 4. Plan: tokenize →
    one narrow aggregate → source-sized epilogue; at 100 TB this is
    the vocabulary-build shuffle every tokenizer pipeline already
    pays."""
    d = load_table(spark, sf, "documents")
    tc = (
        d.select(
            "source",
            F.explode(F.split(F.lower(F.col("text")), " ")).alias("term"),
        )
        .filter(F.col("term") != "")
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
    )
    agg = tc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("v"),
        F.sum(F.when(F.col("f") == 1, 1).otherwise(0))
        .cast("long")
        .alias("f1"),
        F.sum(F.when(F.col("f") == 2, 1).otherwise(0))
        .cast("long")
        .alias("f2"),
    )
    return agg.select(
        "source",
        F.col("v").alias("v_observed"),
        F.col("f1").alias("singletons"),
        F.col("f2").alias("doubletons"),
        F.round(
            F.col("v")
            + F.col("f1").cast("double")
            * (F.col("f1") - 1)
            / (2.0 * (F.col("f2") + 1)),
            4,
        ).alias("chao1"),
    )


# ---------------------------------------------------------------------------
# qs405 Rayleigh test of weekday uniformity
# ---------------------------------------------------------------------------


@query(
    "qs405_rayleigh_weekday",
    oracle="""
    WITH wd AS (
      SELECT dayofweek(o_orderdate) + 1 AS k,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM orders GROUP BY 1),
    m AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n,
             SUM(c * cos(2 * pi() * k / 7)) AS cs,
             SUM(c * sin(2 * pi() * k / 7)) AS sn
      FROM wd)
    SELECT n AS n_orders,
           ROUND(sqrt(cs * cs + sn * sn) / n, 6) AS rbar,
           ROUND((cs * cs + sn * sn) / n, 4) AS rayleigh_z
    FROM m
    """,
)
def qs405(spark: SparkSession, sf: str) -> DataFrame:
    """Rayleigh test of circular uniformity on the order weekday —
    are orders uniformly spread around the weekly cycle, or is there
    a preferred day? R̄ = |Σ e^{iθ_k}|/n over θ_k = 2πk/7 and the
    Rayleigh statistic z = nR̄² — the CIRCULAR-statistics entry the
    family lacks: qs190's DOW seasonality reports per-day means,
    qs398's G-test checks categorical independence, but only a
    circular test respects that Sunday and Monday are neighbours.

    Determinism: per-weekday counts are exact integers (Spark
    dayofweek = DuckDB dayofweek + 1, the registry's documented
    Sunday convention); the 7 cos/sin terms are fixed unary doubles
    of identical arguments (the qs354 periodogram margin argument —
    any last-ulp wobble is ~1e-15 relative against ROUND 6/4
    boundaries); one fixed double tree. Plan: one grouped scan →
    7-row grid, one-row epilogue."""
    o = load_table(spark, sf, "orders")
    wd = o.groupBy(F.dayofweek("o_orderdate").alias("k")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    two_pi = 2 * 3.141592653589793
    m = wd.agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("c") * F.cos(F.lit(two_pi) * F.col("k") / 7)).alias(
            "cs"
        ),
        F.sum(F.col("c") * F.sin(F.lit(two_pi) * F.col("k") / 7)).alias(
            "sn"
        ),
    )
    r2 = F.col("cs") * F.col("cs") + F.col("sn") * F.col("sn")
    return m.select(
        F.col("n").alias("n_orders"),
        F.round(F.sqrt(r2) / F.col("n"), 6).alias("rbar"),
        F.round(r2 / F.col("n"), 4).alias("rayleigh_z"),
    )


# ---------------------------------------------------------------------------
# qs402 embedding SimHash-LSH shortlist recall vs the qs52 brute top-k
# ---------------------------------------------------------------------------


@query(
    "qs402_embedding_simhash_recall",
    oracle="""
    WITH dims AS (SELECT unnest(range(1, 65)) AS d),
    w AS (
      SELECT j.j, dims.d,
             CASE WHEN ('0x' || substr(md5(CAST(j.j AS VARCHAR) || '|'
                          || CAST(dims.d AS VARCHAR)), 1, 8))::BIGINT
                       % 2 = 1
                  THEN 1 ELSE -1 END AS s
      FROM (SELECT unnest(range(0, 16)) AS j) j, dims),
    vals AS (
      SELECT vec_id, dims.d,
             CAST(ROUND((CAST(embedding AS DOUBLE[]))[dims.d] * 1000000)
                  AS BIGINT) AS x
      FROM embeddings, dims),
    proj AS (
      SELECT vals.vec_id, w.j, SUM(vals.x * w.s) AS p
      FROM vals JOIN w ON vals.d = w.d
      GROUP BY 1, 2),
    sig AS (
      SELECT vec_id, j // 4 AS band,
             SUM(CASE WHEN p >= 0 THEN 1 ELSE 0 END
                 * CASE j % 4 WHEN 0 THEN 1 WHEN 1 THEN 2
                              WHEN 2 THEN 4 ELSE 8 END) AS bval
      FROM proj GROUP BY 1, 2),
    cand AS (
      SELECT DISTINCT v.vec_id
      FROM sig v JOIN sig q
        ON v.band = q.band AND v.bval = q.bval
      WHERE q.vec_id = 0 AND v.vec_id <> 0),
    qv AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings
           WHERE vec_id = 0),
    scored AS (
      SELECT e.vec_id,
             ROUND(list_cosine_similarity(
                     CAST(e.embedding AS DOUBLE[]), qv.qe), 4) AS sim
      FROM embeddings e, qv WHERE e.vec_id <> 0),
    brute AS (
      SELECT vec_id FROM scored
      ORDER BY sim DESC, vec_id LIMIT 10),
    shortlist AS (
      SELECT s.vec_id FROM scored s JOIN cand USING (vec_id)
      ORDER BY s.sim DESC, s.vec_id LIMIT 10),
    hits AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS h
      FROM shortlist JOIN brute USING (vec_id))
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings)
             AS n_vectors,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_candidates,
           hits.h AS hits_at_10,
           CAST(hits.h * 1000000 // 10 AS BIGINT) AS recall_e6
    FROM hits
    """,
)
def qs402(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash-LSH shortlist recall over embeddings — the vector twin
    of qs393's text composition: 16 deterministic sign projections
    (hyperplane component for (bit j, dim d) = ±1 from md5 parity —
    the same portable-hash construction the qs55 signature family
    uses), banded 4×4 so any vector agreeing with the query on one
    whole 4-bit band is a candidate; candidates are ranked by exact
    cosine and recall@10 is measured against the qs52 brute-force
    reference IN THE SAME QUERY. The LSH family (qs112 buckets,
    qs59 IVF, qs151 PQ) gets its serving-path recall cell
    oracle-hash-checked instead of asserted by property tests.

    Determinism: embedding components lift to exact e6 integers
    (float32→double is exact; ROUND half-away agrees cross-engine),
    so every projection sum and sign bit is exact-integer; cosine
    ranking uses the qs52 ROUND-4 + vec_id convention. SCALE: the
    hyperplane matrix is a COMPILE-TIME constant (hashlib md5 parity
    at plan build — model-parameter class, same values the oracle
    derives in SQL), so all 16 projections and the 4 band values are
    row-local expressions fused into the scan: ZERO shuffle before
    the 4-row band probe. The projections are 64-term SCALAR sums of
    ±element_at over one staged e6-lift projection — whole-stage
    codegen arithmetic; the measured ladder at gen sf10 (BASELINE
    r13): explode-join 29.8 s → 16 interpreted zip_with/aggregate
    HOFs 31.2 s → this form 7.2 s for the signature pass (HOF
    lambdas are interpreted per element; scalar codegen is the fast
    path for a fixed-width matrix). The band probe moves candidates
    only, and the brute reference is the eval slice's ground truth
    exactly as qs389 is for qs393."""
    import hashlib

    emb = load_table(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    # 16×64 ±1 hyperplane matrix, identical to the oracle's
    # md5(j||'|'||d) parity CTE — deterministic plan-build constant.
    wmat = [
        [
            1
            if int(hashlib.md5(f"{j}|{d}".encode()).hexdigest()[:8], 16) % 2
            == 1
            else -1
            for d in range(1, 65)
        ]
        for j in range(16)
    ]
    # Staged e6 lift: transform() is non-cheap and multiply-referenced,
    # so CollapseProject keeps this projection instead of inlining 1024
    # copies of the round/cast into the signature terms.
    staged = emb.select(
        "vec_id",
        F.transform(
            F.col("v"), lambda x: F.round(x * 1_000_000, 0).cast("long")
        ).alias("xs"),
    )
    # One F.expr per band: a 64-term scalar string parses in
    # milliseconds where the equivalent py4j Column assembly (3k+
    # gateway calls) measured 7.8 s of plan-build time per invocation
    # — the full-registry gates and the driver pay plan build on
    # every run, so construction cost is part of the query's price.
    sig_cols = []
    for band in range(4):
        bits = []
        for k in range(4):
            j = 4 * band + k
            terms = "+".join(
                f"{'' if wmat[j][d - 1] == 1 else '-'}xs[{d - 1}]"
                for d in range(1, 65)
            )
            bits.append(
                f"(CASE WHEN ({terms}) >= 0 THEN {1 << k} ELSE 0 END)"
            )
        sig_cols.append(
            F.expr(" + ".join(bits)).alias(f"b{band}")
        )
    sig = staged.select("vec_id", *sig_cols)
    qsig = sig.filter(F.col("vec_id") == 0).select(
        *[F.col(f"b{b}").alias(f"q{b}") for b in range(4)]
    )
    cand = (
        sig.filter(F.col("vec_id") != 0)
        # bcast: ONE-ROW the query's signature pivoted to one 4-column row
        .crossJoin(F.broadcast(qsig))
        .filter(
            (F.col("b0") == F.col("q0"))
            | (F.col("b1") == F.col("q1"))
            | (F.col("b2") == F.col("q2"))
            | (F.col("b3") == F.col("q3"))
        )
        .select("vec_id")
    )
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("v").alias("qe"))
    dot = F.aggregate(
        F.zip_with(F.col("v"), F.col("qe"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(c, F.lit(0.0), lambda acc, t: acc + t * t)
    )
    scored = (
        emb.filter(F.col("vec_id") != 0)
        # bcast: ONE-ROW the single query vector
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            F.round(dot / (norm(F.col("v")) * norm(F.col("qe"))), 4).alias(
                "sim"
            ),
        )
    )
    brute = scored.orderBy(F.col("sim").desc(), "vec_id").limit(10)
    shortlist = (
        scored.join(cand, "vec_id")
        .orderBy(F.col("sim").desc(), "vec_id")
        .limit(10)
    )
    hits = shortlist.join(brute, "vec_id").agg(
        F.count(F.lit(1)).cast("long").alias("h")
    )
    n_vec = emb.agg(F.count(F.lit(1)).cast("long").alias("n_vectors"))
    n_cand = cand.agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
    return (
        hits.crossJoin(n_vec)
        .crossJoin(n_cand)
        .select(
            "n_vectors",
            "n_candidates",
            F.col("h").alias("hits_at_10"),
            F.expr("CAST(h * 1000000 div 10 AS LONG)").alias("recall_e6"),
        )
    )
