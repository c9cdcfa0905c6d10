"""Round-7 additions: classic-statistics tests (chi-square, Spearman,
McNemar, CUSUM), model-eval harnesses (Cohen's kappa over the
language-ID heuristic, gains/lift deciles, k-means update step),
iterative graph algorithms with exact unrolled oracles (k-core
peeling, synchronous label propagation), and retrieval/stylometry
text shapes (BM25, source-vocabulary Jaccard, Burrows' Delta,
price elasticity, Nelson–Aalen hazard, position-based attribution)
— qs241–qs255. Registration contract, aliasing and cross-engine
rules: cds_etl_spark/plans/registry.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cds_etl_spark.catalog import load_table
from cds_etl_spark.operators.prefix import midrank2
from cds_etl_spark.operators.text_analysis import LANG_LEXICONS
from cds_etl_spark.plans.registry import query
from cds_etl_spark.operators.pin import cut_lineage


def _sql_list(words: tuple[str, ...]) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


# ---------------------------------------------------------------------------
# qs241 chi-square test of independence + Cramér's V
# ---------------------------------------------------------------------------

@query(
    "qs241_chi_square_independence",
    oracle="""
    WITH cells AS (
      SELECT event_type AS t, user_id % 4 AS s, COUNT(*) AS o
      FROM events GROUP BY 1, 2),
    w AS (
      SELECT t, s, o,
             SUM(o) OVER (PARTITION BY t) AS rt,
             SUM(o) OVER (PARTITION BY s) AS ct,
             SUM(o) OVER () AS n
      FROM cells),
    terms AS (
      SELECT n, t, s,
             CAST(o AS DOUBLE) * o * n
               / (CAST(rt AS DOUBLE) * ct) AS oe
      FROM w)
    SELECT CAST(MAX(n) AS BIGINT) AS n,
           CAST((COUNT(DISTINCT t) - 1) * (COUNT(DISTINCT s) - 1)
                AS BIGINT) AS dof,
           ROUND(GREATEST(SUM(oe) - MAX(n), 0), 4) AS chi2,
           ROUND(SQRT(GREATEST(SUM(oe) - MAX(n), 0)
                 / (CAST(MAX(n) AS DOUBLE)
                 * LEAST(COUNT(DISTINCT t) - 1, COUNT(DISTINCT s) - 1))),
                 4) AS cramers_v
    FROM terms
    """,
)
def qs241(spark: SparkSession, sf: str) -> DataFrame:
    """Pearson chi-square test of independence (event type ×
    user-hash segment) with Cramér's V effect size — the categorical
    companion to qs86's Pearson r and qs227's KS: "are these two
    discretes associated at all, and how strongly". The workhorse
    behind feature screening and A/B segment-balance checks.

    Determinism: o²·n is evaluated IN DOUBLE (o·o·n can exceed 2^53
    at large n, so an exact-integer framing would be wrong — r14
    ADVICE correction); what makes the differential safe is that both
    engines evaluate the identical double expression shape
    o_dbl·o·n/(rt_dbl·ct) over the same ≤ |types|·|segments| cells
    (20 here) and round at 4 dp. χ² is clamped at 0 (GREATEST, r15
    ADVICE): the Σoe−n identity can land an epsilon below zero when
    true χ²≈0, and each engine's own summation order could put them
    on opposite sides (0.0 vs NaN V). (History: the r10 intent-audit
    fix removed a spurious ×N factor that pushed V above 1.)
    χ² uses the empty-cell-free
    identity Σ_{O>0} O²·n/(r·c) − n (r14 sweep of the qs399 bug
    class): the earlier (oN−rc)²/(Nrc) expansion over observed cells
    equals χ² − Σ_{O=0}E, so it silently undercounted whenever a
    (type, segment) cell was empty — invisible to the differential
    because the oracle shared the form; the new identity needs no
    fully-populated-grid assumption. Plan: one hash aggregate
    collapses the corpus to the contingency table; everything after
    runs on ≤ 20 rows (the windows are cells-sized, not
    corpus-sized) — at 100 TB this is the scan plus a constant-size
    epilogue."""
    ev = load_table(spark, sf, "events")
    cells = ev.groupBy(
        F.col("event_type").alias("t"),
        (F.col("user_id") % 4).alias("s"),
    ).agg(F.count(F.lit(1)).alias("o"))
    w = (
        cells.withColumn("rt", F.sum("o").over(Window.partitionBy("t")))
        .withColumn("ct", F.sum("o").over(Window.partitionBy("s")))
        .withColumn("n", F.sum("o").over(Window.partitionBy()))
    )
    oe = (
        F.col("o").cast("double")
        * F.col("o")
        * F.col("n")
        / (F.col("rt").cast("double") * F.col("ct"))
    )
    terms = w.select("n", "t", "s", oe.alias("oe"))
    # sum(o^2*n/(rt*ct)) - n IS Pearson's chi2 including the E of any
    # EMPTY cells (o=0 contributes exactly 0 to the sum, and the -n
    # carries the full Sigma E) — the r14 replacement for the
    # (oN-rc)^2/(Nrc) expansion, which undercounted by Sigma_{O=0}E
    # on sparse grids. (History: the r10 intent audit had already
    # removed a spurious *MAX(n) factor here.) Clamped at 0: the
    # identity can round an epsilon negative when true chi2 ~ 0,
    # which would NaN the sqrt (r15 ADVICE).
    chi2 = F.greatest(F.sum("oe") - F.max("n"), F.lit(0.0))
    mindim = F.least(
        F.countDistinct("t") - 1, F.countDistinct("s") - 1
    )
    return terms.agg(
        F.max("n").cast("long").alias("n"),
        ((F.countDistinct("t") - 1) * (F.countDistinct("s") - 1))
        .cast("long")
        .alias("dof"),
        F.round(chi2, 4).alias("chi2"),
        F.round(
            F.sqrt(chi2 / (F.max("n").cast("double") * mindim)), 4
        ).alias("cramers_v"),
    )


# ---------------------------------------------------------------------------
# qs242 CUSUM change detection over the daily metric
# ---------------------------------------------------------------------------

@query(
    "qs242_cusum_drift",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             SUM(CAST(ROUND(value * 100) AS BIGINT)) AS x
      FROM events GROUP BY 1, 2),
    c AS (
      SELECT event_type, day, x,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)
               AS i,
             SUM(x) OVER (PARTITION BY event_type ORDER BY day
                          ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(x) OVER (PARTITION BY event_type) AS tot,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM daily),
    t AS (
      SELECT event_type, day, n, ABS(n * cum - i * tot) AS abst,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY ABS(n * cum - i * tot) DESC,
                                         day) AS rn
      FROM c)
    SELECT event_type, day AS peak_day,
           ROUND(CAST(abst AS DOUBLE) / (CAST(n AS DOUBLE) * 100.0), 2)
             AS cusum_peak
    FROM t WHERE rn = 1
    """,
)
def qs242(spark: SparkSession, sf: str) -> DataFrame:
    """CUSUM change-point detection per metric series — the peak of
    the centered cumulative sum |Σ≤t(x) − (t/n)·Σ(x)| locates WHERE
    the mean shifted (Page 1954; the classic offline CUSUM argmax),
    complementing qs169's binary-segmentation mean-shift (which asks
    "how big") and qs167's rolling z-score (online view).

    Determinism: the centered sum is computed as n·cumsum − i·total,
    EXACT 64/128-bit integers on both engines (no mean subtraction,
    no float accumulation); the argmax tie-breaks by earliest day
    via an explicit (|T| DESC, day) rank; the only float op is the
    final presentation division, rounded at 2 dp. Plan: the corpus
    collapses to (type, day) in one hash aggregate; the windows run
    over ≤ days-per-type rows within each series' partition — the
    per-key state is calendar-bounded, so 1000 executors each own
    whole series."""
    ev = load_table(spark, sf, "events")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.sum(cents).alias("x"))
    # window: GRID CUSUM: event_type x day grid
    wd = Window.partitionBy("event_type").orderBy("day")
    wall = Window.partitionBy("event_type")
    c = (
        daily.withColumn("i", F.row_number().over(wd))
        .withColumn(
            "cum",
            F.sum("x").over(wd.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .withColumn("tot", F.sum("x").over(wall))
        .withColumn("n", F.count(F.lit(1)).over(wall))
    )
    t = c.withColumn(
        "abst", F.abs(F.col("n") * F.col("cum") - F.col("i") * F.col("tot"))
    ).withColumn(
        "rn",
        F.row_number().over(
            # window: GRID CUSUM: event_type x day grid
            Window.partitionBy("event_type").orderBy(
                F.col("abst").desc(), "day"
            )
        ),
    )
    return t.filter(F.col("rn") == 1).select(
        "event_type",
        F.col("day").alias("peak_day"),
        F.round(
            F.col("abst").cast("double")
            / (F.col("n").cast("double") * F.lit(100.0)),
            2,
        ).alias("cusum_peak"),
    )


# ---------------------------------------------------------------------------
# qs243 Spearman rank correlation (exact, tie-corrected)
# ---------------------------------------------------------------------------

@query(
    "qs243_spearman_corr",
    oracle="""
    WITH b AS (
      SELECT l_returnflag AS flag, l_quantity AS qx,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS qy
      FROM lineitem),
    r AS (
      SELECT flag,
             2 * RANK() OVER (PARTITION BY flag ORDER BY qx)
               + COUNT(*) OVER (PARTITION BY flag, qx) - 1 AS rx,
             2 * RANK() OVER (PARTITION BY flag ORDER BY qy)
               + COUNT(*) OVER (PARTITION BY flag, qy) - 1 AS ry
      FROM b),
    s AS (
      SELECT flag, COUNT(*) AS n, SUM(rx) AS sx, SUM(ry) AS sy,
             SUM(rx * ry) AS sxy, SUM(rx * rx) AS sxx,
             SUM(ry * ry) AS syy
      FROM r GROUP BY flag)
    SELECT flag, CAST(n AS BIGINT) AS n,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE)), 4)
             AS spearman_rho
    FROM s
    """,
)
def qs243(spark: SparkSession, sf: str) -> DataFrame:
    """Spearman rank correlation (tie-corrected, EXACT) between
    quantity and price per return flag — the monotonic-association
    companion to qs86's Pearson: rank both variables with midrank
    ties, then Pearson over the ranks. Robust to outliers and
    nonlinearity; the screening statistic feature pipelines run
    before trusting a linear model.

    Determinism: midranks are carried as 2·avg_rank = 2·min_rank +
    ties − 1 (exact integers, no .5 floats); all five moment sums
    accumulate as exact integers (DECIMAL(38) on Spark, HUGEINT on
    DuckDB — Σr² reaches 10²² at sf10, past the 64-bit line), and
    the closed form converts ONE exact numerator/denominator pair
    to double (identical IEEE rounding both engines) before the
    4 dp round. Plan: ranks come from value-level cumulative counts
    over the DISTINCT-value table (50 quantity values; prices
    near-unique) joined back on (flag, value) — the corpus is never
    globally sorted, unlike a naive per-flag RANK window; the
    oracle states the textbook window formulation, same math. Each
    variable's distinct-value grid is materialized with an eager
    localCheckpoint before the bucketed machinery references it ~4×
    (the pure-plan diamond otherwise re-aggregates the full corpus
    per reference — qs285 precedent)."""
    li = load_table(spark, sf, "lineitem")
    b = li.select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_quantity").alias("qx"),
        F.round(F.col("l_extendedprice") * 100, 0)
        .cast("long")
        .alias("qy"),
    )

    def midranks(df: DataFrame, col: str, out: str) -> DataFrame:
        # The distinct-value grid is one full-corpus aggregate and
        # the bucketed machinery below references it ~4× — checkpoint
        # it so the corpus aggregates ONCE (prices are near-unique:
        # the grid is value-dimension-sized, far below the corpus).
        vals = cut_lineage(  # pin: value grid; prices near-unique, so
            # it grows with the corpus — corpus class (operators/pin.py)
            df.groupBy("flag", col).agg(F.count(F.lit(1)).alias("_c"))
        )
        # Bucketed prefix sum (operators/prefix.py): the per-flag
        # serial window put ~2M distinct prices per flag in ONE task
        # each at sf10; range buckets spread the sort, bit-identical.
        # The bucket arithmetic needs an INTEGRAL order key: cents
        # (2-dp columns → order- and tie-preserving; qy is already
        # integer cents, qx integral quantities).
        vals = vals.withColumn(
            "_ik", F.round(F.col(col) * 100, 0).cast("long")
        )
        # r15 (guide §2.4): checkpoint the rank TABLE too, not just
        # the grid — the midrank2 window/offset machinery otherwise
        # re-ran inside every execution of the downstream join
        # (measured 3.9 -> 2.5 s at sf0.1).
        return cut_lineage(  # pin: same value-grid scale as vals
            midrank2(vals, "_ik", "_c", out, part_cols=("flag",))
            .select("flag", col, out)
        )

    rx = midranks(b, "qx", "rx")
    ry = midranks(b, "qy", "ry")
    # r15 (guide §3.1): the ry attach is an equi-join of the corpus
    # against the value-dimension-sized rank grid — a shuffled-hash
    # build beats sorting the corpus side (2.5 -> 2.0 s); the grid is
    # bounded by distinct price cents, so per-partition hash builds
    # stay small at any corpus scale.
    # bcast: GRID (flag, quantity) midrank grid <= 3x50; the near-unique price ranks join is SHUFFLE_HASH (scale-safe: per-partition build over the bounded price-cents grid), not broadcast
    r = b.join(F.broadcast(rx), ["flag", "qx"]).join(
        ry.hint("shuffle_hash"), ["flag", "qy"]
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    s = r.groupBy("flag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("rx")).alias("sx"),
        F.sum(dec("ry")).alias("sy"),
        F.sum(dec("rx") * dec("ry")).alias("sxy"),
        F.sum(dec("rx") * dec("rx")).alias("sxx"),
        F.sum(dec("ry") * dec("ry")).alias("syy"),
    )
    n = F.col("n").cast("decimal(38,0)")
    num = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    dx = (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    dy = (n * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return s.select(
        "flag",
        F.col("n").cast("long").alias("n"),
        F.round(num / F.sqrt(dx * dy), 4).alias("spearman_rho"),
    )


# ---------------------------------------------------------------------------
# qs244 Cohen's kappa: language-ID heuristic vs the labeled lang column
# ---------------------------------------------------------------------------

def _kappa_oracle() -> str:
    hits = ", ".join(
        f"len(list_filter(toks, t -> list_contains({_sql_list(lex)}, t)))"
        f" AS h_{lang}"
        for lang, lex in LANG_LEXICONS.items()
    )
    gr = "greatest(h_en, h_de, h_es, h_fr)"
    lang_case = (
        f"CASE WHEN {gr} = 0 THEN 'und' "
        + " ".join(
            f"WHEN h_{lang} = {gr} THEN '{lang}'" for lang in LANG_LEXICONS
        )
        + " END"
    )
    return f"""
    WITH b AS (
      SELECT lang AS truth,
             regexp_split_to_array(lower(text), '\\s+') AS toks
      FROM documents),
    h AS (SELECT truth, {hits} FROM b),
    g AS (SELECT truth, {lang_case} AS guess FROM h),
    conf AS (SELECT truth, guess, COUNT(*) AS c FROM g GROUP BY 1, 2),
    n AS (SELECT SUM(c) AS n FROM conf),
    po AS (SELECT COALESCE(SUM(c), 0) AS po FROM conf
           WHERE truth = guess),
    rt AS (SELECT truth AS lab, SUM(c) AS r FROM conf GROUP BY 1),
    ct AS (SELECT guess AS lab, SUM(c) AS g FROM conf GROUP BY 1),
    pe AS (SELECT COALESCE(SUM(r.r * ct.g), 0) AS pe
           FROM rt r JOIN ct ON r.lab = ct.lab)
    SELECT CAST(n AS BIGINT) AS n_docs,
           ROUND(CAST(po AS DOUBLE) / CAST(n AS DOUBLE), 4) AS accuracy,
           ROUND(CAST(n * po - pe AS DOUBLE)
                 / CAST(n * n - pe AS DOUBLE), 4) AS kappa
    FROM n, po, pe
    """


@query("qs244_langid_kappa_eval", oracle=_kappa_oracle())
def qs244(spark: SparkSession, sf: str) -> DataFrame:
    """Cohen's kappa for the lexicon language-ID heuristic
    (operators/text_analysis.language_id) against the labeled lang
    column — chance-corrected agreement, the honest version of
    accuracy when classes are imbalanced and one label ('zh', no
    lexicon) is structurally unguessable. The eval-harness pattern:
    the classifier under test IS a registry operator, so this query
    value-checks the operator AND scores it in one pass.

    Determinism: the confusion matrix, its marginals, po and pe are
    exact integers; kappa = (N·po − pe)/(N² − pe) converts ONE exact
    integer pair to double. Plan: one scan computes per-doc lexicon
    hits row-locally (zero shuffle), one hash aggregate builds the
    ≤ |langs|² confusion matrix, and the kappa epilogue runs on
    single-digit rows."""
    from cds_etl_spark.operators.skew import spread_scan
    from cds_etl_spark.operators.text_analysis import language_id

    d = load_table(spark, sf, "documents")
    # r15 (guide §2.4/§2.5, the qs295 fix applied to its kappa twin):
    # spread the single-file scan (the interpreted lexicon-HOF scoring
    # ran in one task) and checkpoint the <=|langs|^2-row confusion
    # matrix — nn/po/rt/ct each referenced it, re-running the corpus
    # scoring 4x.
    g = spread_scan(d.select("doc_id", "lang", "text"), "doc_id").select(
        F.col("lang").alias("truth"),
        language_id(F.col("text")).alias("guess"),
    )
    # pin: bounded (≤ |langs|² confusion cells) — localCheckpoint IS
    # the bounded policy (operators/pin.py).
    conf = (
        g.groupBy("truth", "guess")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    nn = conf.agg(F.sum("c").alias("n"))
    po = conf.filter(F.col("truth") == F.col("guess")).agg(
        F.coalesce(F.sum("c"), F.lit(0)).alias("po")
    )
    rt = conf.groupBy(F.col("truth").alias("lab")).agg(
        F.sum("c").alias("r")
    )
    ct = conf.groupBy(F.col("guess").alias("lab")).agg(
        F.sum("c").alias("g")
    )
    pe = rt.join(ct, "lab").agg(
        F.coalesce(F.sum(F.col("r") * F.col("g")), F.lit(0)).alias("pe")
    )
    row = nn.crossJoin(po).crossJoin(pe)
    return row.select(
        F.col("n").cast("long").alias("n_docs"),
        F.round(
            F.col("po").cast("double") / F.col("n").cast("double"), 4
        ).alias("accuracy"),
        F.round(
            (F.col("n") * F.col("po") - F.col("pe")).cast("double")
            / (F.col("n") * F.col("n") - F.col("pe")).cast("double"),
            4,
        ).alias("kappa"),
    )


# ---------------------------------------------------------------------------
# qs245 cumulative gains / lift deciles
# ---------------------------------------------------------------------------

@query(
    "qs245_gains_lift_deciles",
    oracle="""
    WITH spend AS (
      SELECT o_custkey,
             SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS s
      FROM orders WHERE year(o_orderdate) = 1995 GROUP BY 1),
    resp AS (SELECT DISTINCT o_custkey FROM orders
             WHERE year(o_orderdate) = 1996),
    scored AS (
      SELECT CAST(NTILE(10) OVER (ORDER BY s DESC, spend.o_custkey)
                  AS INTEGER) AS decile,
             CASE WHEN resp.o_custkey IS NULL THEN 0 ELSE 1 END AS y
      FROM spend LEFT JOIN resp ON spend.o_custkey = resp.o_custkey),
    d AS (
      SELECT decile, COUNT(*) AS n, SUM(y) AS r
      FROM scored GROUP BY decile),
    c AS (
      SELECT decile, n, r,
             SUM(n) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)
               AS cn,
             SUM(r) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)
               AS cr,
             SUM(n) OVER () AS tn, SUM(r) OVER () AS tr
      FROM d)
    SELECT decile, CAST(n AS BIGINT) AS n_cust, CAST(r AS BIGINT)
             AS responders,
           ROUND(CAST(r AS DOUBLE) / CAST(n AS DOUBLE), 4) AS resp_rate,
           ROUND(CAST(cr * tn AS DOUBLE) / CAST(cn * tr AS DOUBLE), 4)
             AS cum_lift
    FROM c
    """,
)
def qs245(spark: SparkSession, sf: str) -> DataFrame:
    """Cumulative gains / lift table — customers ranked into spend
    deciles by 1995 revenue, response = "ordered again in 1996",
    cumulative lift = (response rate through decile d) / (base
    rate). THE marketing-model eval artifact (does targeting the
    top 30% beat random by 2×?), complementing qs181's AUC (a
    ranking statistic) with the decision-table view.

    Determinism: spend is exact cents, NTILE ties break on custkey,
    and every rate/lift is ONE division of exact integer products
    (cr·tn / cn·tr). Plan: one year-filtered aggregate per side
    (both pushed to the scan), a key-hash join, one NTILE sort over
    customers-with-1995-orders, then a 10-row epilogue. The decile
    sort is one task but customer-DIMENSION-sized; the measured
    swap-in for a dimension that outgrows a task is
    operators/prefix.py scalable_ntile (boundary-broadcast, F.ntile
    bit-identical) — wired here it re-evaluates the year-filtered
    aggregate ~3x and measured 10.0 s vs 2.1 s serial at sf10 on
    local[32], so the serial window stays until the dimension, not
    the fact table, is the bottleneck."""
    o = load_table(spark, sf, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    spend = (
        o.filter(F.year("o_orderdate") == 1995)
        .groupBy("o_custkey")
        .agg(F.sum(cents).alias("s"))
    )
    resp = (
        o.filter(F.year("o_orderdate") == 1996)
        .select("o_custkey")
        .distinct()
        .withColumn("y1", F.lit(1))
    )
    scored = spend.join(resp, "o_custkey", "left").select(
        F.ntile(10)
        # window: REJECT gains/lift ntile-over-customers: measured reject 2.1->10s (r7)
        .over(Window.orderBy(F.col("s").desc(), "o_custkey"))
        .alias("decile"),
        F.coalesce(F.col("y1"), F.lit(0)).alias("y"),
    )
    d = scored.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("r")
    )
    # window: EPILOGUE gains/lift: 10-row decile epilogue
    wc = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.partitionBy()
    c = (
        d.withColumn("cn", F.sum("n").over(wc))
        .withColumn("cr", F.sum("r").over(wc))
        .withColumn("tn", F.sum("n").over(wall))
        .withColumn("tr", F.sum("r").over(wall))
    )
    return c.select(
        "decile",
        F.col("n").cast("long").alias("n_cust"),
        F.col("r").cast("long").alias("responders"),
        F.round(
            F.col("r").cast("double") / F.col("n").cast("double"), 4
        ).alias("resp_rate"),
        F.round(
            (F.col("cr") * F.col("tn")).cast("double")
            / (F.col("cn") * F.col("tr")).cast("double"),
            4,
        ).alias("cum_lift"),
    )


# ---------------------------------------------------------------------------
# qs246 Nelson–Aalen cumulative hazard
# ---------------------------------------------------------------------------

@query(
    "qs246_nelson_aalen",
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
      FROM d)
    SELECT day, CAST(deaths AS BIGINT) AS deaths,
           CAST(at_risk AS BIGINT) AS at_risk,
           ROUND(SUM(CAST(deaths AS DOUBLE) / CAST(at_risk AS DOUBLE))
                 OVER (ORDER BY day ROWS UNBOUNDED PRECEDING), 4)
             AS cum_hazard
    FROM risk
    """,
)
def qs246(spark: SparkSession, sf: str) -> DataFrame:
    """Nelson–Aalen cumulative-hazard estimator H(t) = Σ dᵢ/nᵢ over
    death days ≤ t — qs182's Kaplan–Meier sibling: KM estimates the
    survival PROBABILITY (a product), Nelson–Aalen the hazard
    ACCUMULATION (a sum), the quantity hazard-ratio models are fit
    against. Same churn framing: death = a user's last active day.

    Determinism: deaths and at-risk are exact integers from one
    per-user aggregate; each dᵢ/nᵢ is one double division and the
    cumulative sum runs in day order on both engines (the qs182
    ordered-window contract), rounded at 4 dp. Plan: corpus → users
    → days in two narrow aggregates, then windows over a
    days-sized frame."""
    ev = load_table(spark, sf, "events")
    d = (
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
    risk = d.withColumn(
        "at_risk",
        F.sum("deaths").over(wall)
        - F.coalesce(F.sum("deaths").over(wprev), F.lit(0)),
    )
    return risk.select(
        "day",
        F.col("deaths").cast("long").alias("deaths"),
        F.col("at_risk").cast("long").alias("at_risk"),
        F.round(
            F.sum(
                F.col("deaths").cast("double")
                / F.col("at_risk").cast("double")
            ).over(wcum),
            4,
        ).alias("cum_hazard"),
    )


# ---------------------------------------------------------------------------
# qs247 position-based (U-shaped) multi-touch attribution
# ---------------------------------------------------------------------------

@query(
    "qs247_position_attribution",
    oracle="""
    WITH q AS (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS pos
      FROM events),
    fp AS (
      SELECT user_id, MIN(pos) AS fpos FROM q
      WHERE event_type = 'purchase' GROUP BY user_id),
    path AS (
      SELECT q.user_id, q.event_type, q.pos, fp.fpos,
             COUNT(*) OVER (PARTITION BY q.user_id) AS n
      FROM q JOIN fp ON q.user_id = fp.user_id AND q.pos <= fp.fpos),
    credit AS (
      SELECT event_type,
             CASE WHEN n = 1 THEN 100.0
                  WHEN n = 2 THEN 50.0
                  WHEN pos = 1 OR pos = n THEN 40.0
                  ELSE 20.0 / (n - 2) END AS cr
      FROM path)
    SELECT event_type, ROUND(SUM(cr), 4) AS credit
    FROM credit GROUP BY event_type
    """,
)
def qs247(spark: SparkSession, sf: str) -> DataFrame:
    """Position-based (U-shaped 40/20/40) multi-touch attribution —
    each user's touch path up to their FIRST purchase splits 100
    credit points: 40 to the first touch, 40 to the converting
    touch, 20 shared equally across the middle (100 for a
    single-touch path, 50/50 for a pair). The standard middle
    ground between qs176's last-touch (all credit to the end) and
    linear attribution (all touches equal).

    Determinism: path positions tie-break by event_id; credits are
    exact decimal constants except the middle share's one division,
    identical per (n, pos) on both engines; the per-type Σ over
    ~user-count values rounds at 4 dp. Plan: one user-keyed window
    stack (position, first-purchase, path length) — a single
    shuffle by user_id with calendar-bounded per-user state — then
    a 5-row hash aggregate."""
    ev = load_table(spark, sf, "events")
    wq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    q = ev.select(
        "user_id",
        "event_type",
        F.row_number().over(wq).alias("pos"),
    )
    fp = (
        q.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("pos").alias("fpos"))
    )
    path = q.join(fp, "user_id").filter(
        F.col("pos") <= F.col("fpos")
    ).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("user_id"))
    )
    cr = (
        F.when(F.col("n") == 1, F.lit(100.0))
        .when(F.col("n") == 2, F.lit(50.0))
        .when(
            (F.col("pos") == 1) | (F.col("pos") == F.col("n")),
            F.lit(40.0),
        )
        .otherwise(F.lit(20.0) / (F.col("n") - 2))
    )
    return (
        path.select("event_type", cr.alias("cr"))
        .groupBy("event_type")
        .agg(F.round(F.sum("cr"), 4).alias("credit"))
    )


# ---------------------------------------------------------------------------
# qs248 k-means update step (Lloyd iteration) over the embeddings
# ---------------------------------------------------------------------------

@query(
    "qs248_kmeans_update",
    oracle="""
    WITH c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cvec
               FROM embeddings WHERE vec_id < 8),
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv
          FROM embeddings),
    scored AS (
      SELECT v.vec_id, v.vv, c.cid,
             ROUND(list_cosine_similarity(v.vv, c.cvec), 6) AS s
      FROM v, c),
    assigned AS (
      SELECT vec_id, vv, cid FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY s DESC, cid) rn
        FROM scored) WHERE rn = 1)
    SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_assigned,
           ROUND(AVG(vv[1]), 4) + 0.0 AS c1,
           ROUND(AVG(vv[2]), 4) + 0.0 AS c2,
           ROUND(AVG(vv[3]), 4) + 0.0 AS c3
    FROM assigned GROUP BY cid
    """,
)
def qs248(spark: SparkSession, sf: str) -> DataFrame:
    """One Lloyd k-means iteration — assign every vector to its
    nearest centroid (operators/similarity.ivf_assign: max-struct
    argmax over broadcast centroids, 6 dp cosine + centroid-id
    tie-break), then emit the UPDATED centroids as per-cluster
    means. The training step behind the IVF coarse quantizer qs59
    searches and qs151's PQ codebooks; iterating this query IS
    k-means, and each iteration is one broadcast + one map-side-
    combining aggregate — no global shuffle of the vectors.

    Determinism: assignment replays qs59's exact contract; the
    per-cluster dimension means are double sums over cluster-sized
    row sets rounded at 4 dp (first 3 dimensions emitted — the
    value check is per-cluster membership + mean, not the full
    64-dim vector, which array columns would break hashing for)."""
    from cds_etl_spark.operators.similarity import ivf_assign
    from cds_etl_spark.operators.skew import spread_scan

    emb = load_table(spark, sf, "embeddings")
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").cast("array<double>").alias("cvec"),
    )
    # r15 (guide §2.5): the single-file scan ran the C-way assignment
    # kernel in ONE task — spread before the broadcast expansion.
    assigned = ivf_assign(
        spread_scan(emb.select("vec_id", "embedding"), "vec_id"), cents
    )
    e = F.col("embedding")
    # `+ 0.0` on BOTH engines: ROUND at 4 dp preserves IEEE sign-of-zero
    # (DuckDB emits -0.0 for a tiny negative mean where Spark emits 0.0);
    # adding +0.0 canonicalizes because -0.0 + 0.0 = +0.0 exactly.
    return assigned.groupBy("cid").agg(
        F.count(F.lit(1)).cast("long").alias("n_assigned"),
        (F.round(F.avg(F.element_at(e, 1)), 4) + F.lit(0.0)).alias("c1"),
        (F.round(F.avg(F.element_at(e, 2)), 4) + F.lit(0.0)).alias("c2"),
        (F.round(F.avg(F.element_at(e, 3)), 4) + F.lit(0.0)).alias("c3"),
    )


# ---------------------------------------------------------------------------
# shared edge list for the graph queries: suppliers sharing >= 3 orders
# ---------------------------------------------------------------------------

#: Every CTE in the unrolled iterative oracles is MATERIALIZED —
#: DuckDB inlines plain CTEs, and an iteration that references its
#: predecessor twice (the peel's node/edge join) would otherwise
#: expand the plan EXPONENTIALLY in the round count (3^30 scan nodes
#: → "too many open files" before it even runs).
_EDGE_SQL = """
    e AS MATERIALIZED (SELECT a.l_suppkey AS s1, b.l_suppkey AS s2
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey
           AND a.l_suppkey < b.l_suppkey
          GROUP BY 1, 2 HAVING COUNT(*) >= 3),
    u0 AS MATERIALIZED (SELECT s1 AS a, s2 AS b FROM e
           UNION SELECT s2, s1 FROM e)
"""


def _supplier_edges(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    a = li.select("l_orderkey", F.col("l_suppkey").alias("s1"))
    b = li.select("l_orderkey", F.col("l_suppkey").alias("s2"))
    return (
        a.join(b, "l_orderkey")
        .filter(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 3)
        .select("s1", "s2")
    )


def _kcore_oracle(k: int, rounds: int) -> str:
    """Unrolled peeling: each round keeps nodes with degree >= k and
    the edges among them. ``rounds`` must exceed the data's peel
    depth (verified empirically; peeling halves the graph per round
    in practice, and a converged round is a fixed point so extra
    rounds are no-ops)."""
    ctes = [_EDGE_SQL.strip()]
    for r in range(rounds):
        ctes.append(
            f"n{r} AS MATERIALIZED (SELECT a FROM u{r} GROUP BY a"
            f" HAVING COUNT(*) >= {k})"
        )
        ctes.append(
            f"u{r + 1} AS MATERIALIZED (SELECT u.a, u.b FROM u{r} u"
            f" JOIN n{r} x ON u.a = x.a"
            f" JOIN n{r} y ON u.b = y.a)"
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS degree
    FROM u{rounds} GROUP BY a HAVING COUNT(*) >= {k}
    """
    )


@query("qs249_kcore_decomposition", oracle=_kcore_oracle(3, 30))
def qs249(spark: SparkSession, sf: str) -> DataFrame:
    """The 3-core of the supplier co-occurrence graph (suppliers
    sharing ≥ 3 orders) — iterative peeling until every surviving
    node keeps degree ≥ 3 (operators/components.k_core): the dense-
    substructure filter one tier above a degree threshold, because
    removals cascade (a hub whose neighbors are all leaves dies).
    Spam-ring and engaged-community extraction at corpus scale.

    The Spark side runs the operator's data-dependent fixed-point
    loop (each round: degree aggregate + two semi-joins, edges
    shrink monotonically, lineage cut per round); the oracle unrolls
    30 peel rounds — a fixed point is idempotent, so any round count
    past convergence is exact (convergence at this graph's depth is
    single-digit rounds; 30 is the safety margin). Set membership
    and degrees are exact integers — no rounding anywhere."""
    from cds_etl_spark.operators.components import k_core

    return k_core(_supplier_edges(spark, sf), 3, src="s1", dst="s2")


def _lpa_oracle(rounds: int) -> str:
    ctes = [
        _EDGE_SQL.strip(),
        "l0 AS MATERIALIZED (SELECT a AS node, a AS community"
        " FROM u0 GROUP BY a)",
    ]
    for r in range(rounds):
        ctes.append(
            f"v{r + 1} AS MATERIALIZED (SELECT u.a AS n,"
            f" l.community AS lab, COUNT(*) AS c FROM u0 u"
            f" JOIN l{r} l ON u.b = l.node GROUP BY 1, 2)"
        )
        ctes.append(
            f"l{r + 1} AS MATERIALIZED (SELECT n AS node, lab AS"
            f" community FROM ("
            f"SELECT n, lab, ROW_NUMBER() OVER (PARTITION BY n"
            f" ORDER BY c DESC, lab) AS rn FROM v{r + 1}) WHERE rn = 1)"
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT node, community FROM l{rounds}
    """
    )


@query("qs250_label_propagation", oracle=_lpa_oracle(3))
def qs250(spark: SparkSession, sf: str) -> DataFrame:
    """Synchronous label propagation, 3 rounds, over the supplier
    co-occurrence graph (operators/components.label_propagation;
    Raghavan et al. 2007) — community detection by neighbor-vote:
    where qs81's connected components ask "is there ANY path", this
    asks "where is the DENSITY". Deterministic by construction:
    synchronous rounds, votes tie-break (count DESC, label ASC),
    fixed round count — so the oracle can state the identical
    3-round unroll and match exactly, integer labels end to end.

    Scale: each round is one node-keyed join + one (node, label)
    count + one max-struct argmax — two shuffles per round, vote
    rows bounded by degree, lineage cut per round."""
    from cds_etl_spark.operators.components import label_propagation

    return label_propagation(
        _supplier_edges(spark, sf), src="s1", dst="s2", iterations=3
    )


# ---------------------------------------------------------------------------
# qs251 log-log price elasticity per brand
# ---------------------------------------------------------------------------

@query(
    "qs251_price_elasticity",
    oracle="""
    WITH pp AS (
      SELECT l_partkey,
             SUM(CAST(l_quantity AS BIGINT)) AS q,
             SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS r
      FROM lineitem GROUP BY 1),
    pts AS (
      SELECT p.p_brand AS brand,
             ln(CAST(pp.r AS DOUBLE) / CAST(pp.q AS DOUBLE) / 100.0)
               AS x,
             ln(CAST(pp.q AS DOUBLE)) AS y
      FROM pp JOIN part p ON pp.l_partkey = p.p_partkey),
    s AS (
      SELECT brand, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx
      FROM pts GROUP BY brand)
    SELECT brand, CAST(n AS BIGINT) AS n_parts,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 4)
             AS elasticity
    FROM s
    """,
)
def qs251(spark: SparkSession, sf: str) -> DataFrame:
    """Log-log price elasticity of demand per brand — OLS slope of
    ln(total quantity) on ln(mean unit price) across a brand's
    parts: the %-demand-change-per-%-price-change number pricing
    teams actually quote. qs202 fits a TREND against time; this
    fits demand against PRICE — same five distributive sums,
    economically different question.

    Determinism: per-part quantity and revenue collapse to exact
    integers first, so each ln sees the identical double argument
    on both engines (the qs184 ln contract); the brand-level float
    sums (≤ parts-per-brand terms) are rounded at 4 dp. Plan: parts
    aggregate → broadcast-joined brand lookup → one hash aggregate
    per brand; map-side combine end to end, no window, no sort."""
    li = load_table(spark, sf, "lineitem")
    p = load_table(spark, sf, "part")
    pp = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_quantity").cast("long")).alias("q"),
        F.sum(
            F.round(F.col("l_extendedprice") * 100, 0).cast("long")
        ).alias("r"),
    )
    pts = pp.join(
        p.select("p_partkey", "p_brand"),
        pp["l_partkey"] == F.col("p_partkey"),
    ).select(
        F.col("p_brand").alias("brand"),
        F.log(
            F.col("r").cast("double")
            / F.col("q").cast("double")
            / F.lit(100.0)
        ).alias("x"),
        F.log(F.col("q").cast("double")).alias("y"),
    )
    s = pts.groupBy("brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    return s.select(
        "brand",
        F.col("n").cast("long").alias("n_parts"),
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")),
            4,
        ).alias("elasticity"),
    )


# ---------------------------------------------------------------------------
# qs252 source-vocabulary Jaccard overlap matrix
# ---------------------------------------------------------------------------

@query(
    "qs252_vocab_jaccard_sources",
    oracle="""
    WITH toks AS (
      SELECT DISTINCT source, t AS term
      FROM (SELECT source,
                   unnest(regexp_split_to_array(lower(text), '\\s+'))
                     AS t
            FROM documents)
      WHERE t <> ''),
    sz AS (SELECT source, COUNT(*) AS v FROM toks GROUP BY source),
    inter AS (
      SELECT a.source AS s1, b.source AS s2, COUNT(*) AS i
      FROM toks a JOIN toks b
        ON a.term = b.term AND a.source < b.source
      GROUP BY 1, 2)
    SELECT s1, s2, CAST(i AS BIGINT) AS inter,
           CAST(x.v AS BIGINT) AS v1, CAST(y.v AS BIGINT) AS v2,
           ROUND(CAST(i AS DOUBLE) / CAST(x.v + y.v - i AS DOUBLE), 4)
             AS jaccard
    FROM inter JOIN sz x ON inter.s1 = x.source
               JOIN sz y ON inter.s2 = y.source
    """,
)
def qs252(spark: SparkSession, sf: str) -> DataFrame:
    """Pairwise vocabulary Jaccard between corpus sources — how much
    of each source pair's DISTINCT-token vocabulary is shared: the
    corpus-curation diagnostic for "are these two crawls the same
    content under different names" (a near-1 vocabulary overlap at
    the source level is the macro signal qs55's per-document MinHash
    chases at the micro level), and the qs226 vocab-coverage view
    turned symmetric.

    Determinism: set sizes and intersections are exact integers; one
    final division, 4 dp. Plan: the corpus explodes once to DISTINCT
    (source, term) — the same shuffle a vocabulary build pays — then
    a term-keyed self-join whose fan-out per term is ≤ |sources|
    (bounded, skew-safe: a term in every source emits C(20,2)
    pairs), then two broadcast joins against the 20-row size table."""
    d = load_table(spark, sf, "documents")
    toks = (
        d.select(
            "source",
            F.explode(
                F.split(F.lower(F.col("text")), r"\s+")
            ).alias("term"),
        )
        .filter(F.col("term") != "")
        .distinct()
    )
    sz = toks.groupBy("source").agg(F.count(F.lit(1)).alias("v"))
    a = toks.select(F.col("source").alias("s1"), "term")
    b = toks.select(F.col("source").alias("s2"), "term")
    inter = (
        a.join(b, "term")
        .filter(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    out = inter.join(
        # bcast: GRID per-source vocab sizes, one row per source label
        F.broadcast(sz.select(F.col("source").alias("s1"), F.col("v").alias("v1_"))),
        "s1",
    ).join(
        # bcast: GRID per-source vocab sizes, one row per source label
        F.broadcast(sz.select(F.col("source").alias("s2"), F.col("v").alias("v2_"))),
        "s2",
    )
    return out.select(
        "s1",
        "s2",
        F.col("i").cast("long").alias("inter"),
        F.col("v1_").cast("long").alias("v1"),
        F.col("v2_").cast("long").alias("v2"),
        F.round(
            F.col("i").cast("double")
            / (F.col("v1_") + F.col("v2_") - F.col("i")).cast("double"),
            4,
        ).alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# qs253 Burrows' Delta stylometric distance between sources
# ---------------------------------------------------------------------------

@query(
    "qs253_burrows_delta",
    oracle="""
    WITH toks AS (
      SELECT source, t AS term
      FROM (SELECT source,
                   unnest(regexp_split_to_array(lower(text), '\\s+'))
                     AS t
            FROM documents)
      WHERE t <> ''),
    cnt AS (SELECT source, term, COUNT(*) AS c FROM toks
            GROUP BY 1, 2),
    tot AS (SELECT source, SUM(c) AS tot FROM cnt GROUP BY source),
    top AS (SELECT term FROM cnt GROUP BY term
            ORDER BY SUM(c) DESC, term LIMIT 20),
    grid AS (
      SELECT tot.source, top.term,
             COALESCE(cnt.c, 0) AS c, tot.tot
      FROM tot CROSS JOIN top
      LEFT JOIN cnt ON cnt.source = tot.source
                   AND cnt.term = top.term),
    f AS (SELECT source, term,
                 CAST(c AS DOUBLE) / CAST(tot AS DOUBLE) AS fr
          FROM grid),
    z AS (
      SELECT source, term,
             CASE WHEN STDDEV_SAMP(fr) OVER (PARTITION BY term) > 0
                  THEN (fr - AVG(fr) OVER (PARTITION BY term))
                       / STDDEV_SAMP(fr) OVER (PARTITION BY term)
                  ELSE 0.0 END AS z
      FROM f)
    SELECT a.source AS s1, b.source AS s2,
           ROUND(AVG(ABS(a.z - b.z)), 4) AS delta
    FROM z a JOIN z b
      ON a.term = b.term AND a.source < b.source
    GROUP BY 1, 2
    """,
)
def qs253(spark: SparkSession, sf: str) -> DataFrame:
    """Burrows' Delta between corpus sources — the stylometry
    standard (Burrows 2002): z-score each source's relative
    frequency of the corpus's top-20 words, distance = mean |Δz|
    per source pair. Attribution-by-function-words: two sources
    with near-zero Delta write alike (same boilerplate generator,
    same author farm) even when their vocabularies differ — the
    style-level dedup signal alongside qs252's content overlap.

    Determinism: counts and totals are exact integers; relative
    frequencies are one division each; the per-term mean/stddev run
    over exactly |sources| values and z-ties are avoided by the
    sd = 0 → z = 0 guard; the final mean over 20 terms rounds at
    4 dp. Plan: one explode → (source, term) count (map-side
    combined), a 20-row broadcast top-term list, a sources×20 grid,
    and a grid self-join — everything after the count is
    constant-size."""
    from cds_etl_spark.operators.skew import spread_scan

    d = load_table(spark, sf, "documents")
    # r15 (guide §2.4/§2.5): spread the single-file scan and pin the
    # (source, term) count — tot, the top-20 list and the grid's left
    # join each referenced it, re-running the scan + tokenize explode
    # + count 3x. The table is vocabulary × sources, bounded.
    toks = spread_scan(d.select("source", "text"), "source").select(
        "source",
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias(
            "term"
        ),
    ).filter(F.col("term") != "")
    cnt = cut_lineage(  # pin: vocabulary-scale counts — corpus class
        toks.groupBy("source", "term").agg(F.count(F.lit(1)).alias("c"))
    )
    tot = cnt.groupBy("source").agg(F.sum("c").alias("tot"))
    top = (
        cnt.groupBy("term")
        .agg(F.sum("c").alias("tc"))
        .orderBy(F.col("tc").desc(), "term")
        .limit(20)
        .select("term")
    )
    grid = (
        tot.crossJoin(top)
        .join(cnt, ["source", "term"], "left")
        .select(
            "source",
            "term",
            (
                F.coalesce(F.col("c"), F.lit(0)).cast("double")
                / F.col("tot").cast("double")
            ).alias("fr"),
        )
    )
    wt = Window.partitionBy("term")
    z = grid.select(
        "source",
        "term",
        F.when(
            F.stddev_samp("fr").over(wt) > 0,
            (F.col("fr") - F.avg("fr").over(wt))
            / F.stddev_samp("fr").over(wt),
        )
        .otherwise(F.lit(0.0))
        .alias("z"),
    )
    a = z.select(
        F.col("source").alias("s1"), "term", F.col("z").alias("za")
    )
    b = z.select(
        F.col("source").alias("s2"), "term", F.col("z").alias("zb")
    )
    return (
        a.join(b, "term")
        .filter(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(
            F.round(F.avg(F.abs(F.col("za") - F.col("zb"))), 4).alias(
                "delta"
            )
        )
    )


# ---------------------------------------------------------------------------
# qs254 McNemar's paired test between two quality-gate rules
# ---------------------------------------------------------------------------

@query(
    "qs254_mcnemar_paired",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
               FROM documents),
    f AS (
      SELECT doc_id,
        CASE WHEN len(toks) BETWEEN 50 AND 100000 THEN 1 ELSE 0 END
          AS a,
        CASE WHEN list_sum(list_transform(toks, t -> len(t)))::DOUBLE
               / len(toks) BETWEEN 3.0 AND 10.0 THEN 1 ELSE 0 END
          AS b
      FROM t),
    m AS (
      SELECT SUM(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END) AS nb,
             SUM(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END) AS nc
      FROM f)
    SELECT CAST(nb AS BIGINT) AS only_a, CAST(nc AS BIGINT) AS only_b,
           ROUND(CASE WHEN nb + nc = 0 THEN 0.0
                      ELSE CAST((nb - nc) * (nb - nc) AS DOUBLE)
                           / CAST(nb + nc AS DOUBLE) END, 4)
             AS mcnemar_chi2
    FROM m
    """,
)
def qs254(spark: SparkSession, sf: str) -> DataFrame:
    """McNemar's paired chi-square between two Gopher quality rules
    (word-count bound vs mean-word-length bound, the qs147 gate's
    components) — do the two filters disagree SYSTEMATICALLY, i.e.
    is one strictly stricter, counted only over the discordant
    documents (passes A only vs passes B only)? The statistic for
    comparing two classifiers on the SAME subjects, where qs168's
    two-proportion z-test (independent samples) is wrong.

    Determinism: the flags replay qs147's exact rule arithmetic,
    the discordant counts are integers, and (b−c)²/(b+c) is one
    exact-integer-to-double conversion, guarded at b+c = 0. Plan:
    row-local flag evaluation fused into the scan, one 2-counter
    aggregate — zero shuffle beyond the final single-row combine."""
    from cds_etl_spark.operators.text_analysis import (
        gopher_quality_flags,
    )

    d = load_table(spark, sf, "documents")
    flags = gopher_quality_flags(F.col("text"))
    f = d.select(
        flags["words_ok"].cast("int").alias("a"),
        flags["mean_len_ok"].cast("int").alias("b"),
    )
    m = f.agg(
        F.sum(
            F.when((F.col("a") == 1) & (F.col("b") == 0), 1).otherwise(0)
        ).alias("nb"),
        F.sum(
            F.when((F.col("a") == 0) & (F.col("b") == 1), 1).otherwise(0)
        ).alias("nc"),
    )
    return m.select(
        F.col("nb").cast("long").alias("only_a"),
        F.col("nc").cast("long").alias("only_b"),
        F.round(
            F.when(F.col("nb") + F.col("nc") == 0, F.lit(0.0)).otherwise(
                (
                    (F.col("nb") - F.col("nc"))
                    * (F.col("nb") - F.col("nc"))
                ).cast("double")
                / (F.col("nb") + F.col("nc")).cast("double")
            ),
            4,
        ).alias("mcnemar_chi2"),
    )


# ---------------------------------------------------------------------------
# qs255 BM25 ranked retrieval
# ---------------------------------------------------------------------------

_BM25_TERMS = ("data", "query", "scan")


@query(
    "qs255_bm25_topk",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, t AS term
      FROM (SELECT doc_id,
                   unnest(regexp_split_to_array(lower(text), '\\s+'))
                     AS t
            FROM documents)
      WHERE t <> ''),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
    stats AS (SELECT COUNT(*) AS n, SUM(dl) AS sdl FROM dl),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
           WHERE term IN {_BM25_TERMS!r} GROUP BY 1, 2),
    idf AS (
      SELECT term, ln((CAST((SELECT n FROM stats) AS DOUBLE)
                       - COUNT(*) + 0.5) / (COUNT(*) + 0.5) + 1.0)
               AS idf
      FROM tf GROUP BY term),
    scored AS (
      SELECT tf.doc_id,
             SUM(idf.idf * tf.tf * 2.2
                 / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl
                    / (CAST((SELECT sdl FROM stats) AS DOUBLE)
                       / (SELECT n FROM stats))))) AS s
      FROM tf JOIN idf ON tf.term = idf.term
              JOIN dl ON tf.doc_id = dl.doc_id
      GROUP BY tf.doc_id)
    SELECT doc_id, ROUND(s, 4) AS bm25
    FROM scored ORDER BY ROUND(s, 4) DESC, doc_id LIMIT 20
    """,
)
def qs255(spark: SparkSession, sf: str) -> DataFrame:
    """Okapi BM25 top-20 for a fixed 3-term query (k₁ = 1.2,
    b = 0.75, the +1 idf variant) — the ranked-retrieval baseline
    qs115's TF-IDF feeds into and qs215's NDCG evaluates: term
    saturation (tf/(tf+k₁·…)) plus length normalization (b·dl/avgdl)
    are exactly what raw TF-IDF lacks. On a training-data pipeline
    this is the quality-biased retrieval step of retrieval-augmented
    filtering.

    Determinism: tf, df, dl, N, Σdl are exact integers; idf's ln
    sees identical double arguments (the qs184 contract); each
    document's score sums ≤ 3 term contributions and both the ORDER
    BY and the emitted value use the SAME 4 dp rounding with doc_id
    tie-break, so the LIMIT keeps identical rows. Plan: one explode
    feeds both the dl aggregate and the term-filtered tf aggregate
    (the filter prunes to 3 terms BEFORE the shuffle); df and the
    corpus stats are single-digit-row broadcasts; top-20 is
    TakeOrderedAndProject — per-partition k then merge, no global
    sort."""
    from cds_etl_spark.operators.skew import spread_scan

    d = load_table(spark, sf, "documents")
    # r15 (guide §2.4/§2.5): spread the single-file scan, and pin the
    # two narrow aggregates the DAG fans out from — dl fed stats and
    # the score join, tf fed idf and the score join, so the scan +
    # tokenize explode re-ran up to 4x per execution. dl is
    # doc-dimension-sized (two longs per doc), tf is 3-term-filtered.
    toks = spread_scan(d.select("doc_id", "text"), "doc_id").select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias(
            "term"
        ),
    ).filter(F.col("term") != "")
    dl = cut_lineage(  # pin: per-doc table — corpus class
        toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    )
    stats = dl.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("sdl")
    )
    tf = cut_lineage(  # pin: per-(doc, term) table — corpus class
        toks.filter(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    idf = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(stats.select("n"))
        .select(
            "term",
            F.log(
                (F.col("n").cast("double") - F.col("df") + 0.5)
                / (F.col("df") + 0.5)
                + 1.0
            ).alias("idf"),
        )
    )
    scored = (
        # bcast: LITERAL per-term IDF over the fixed literal _BM25_TERMS list
        tf.join(F.broadcast(idf), "term")
        .join(dl, "doc_id")
        .crossJoin(stats)
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.col("idf")
                * F.col("tf")
                * 2.2
                / (
                    F.col("tf")
                    + 1.2
                    * (
                        0.25
                        + 0.75
                        * F.col("dl")
                        / (
                            F.col("sdl").cast("double")
                            / F.col("n")
                        )
                    )
                )
            ).alias("s")
        )
    )
    return (
        scored.select("doc_id", F.round(F.col("s"), 4).alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# qs295 language-ID precision/recall/F1 per class + macro/micro rows
# ---------------------------------------------------------------------------


def _f1_oracle() -> str:
    hits = ", ".join(
        f"len(list_filter(toks, t -> list_contains({_sql_list(lex)}, t)))"
        f" AS h_{lang}"
        for lang, lex in LANG_LEXICONS.items()
    )
    gr = "greatest(h_en, h_de, h_es, h_fr)"
    lang_case = (
        f"CASE WHEN {gr} = 0 THEN 'und' "
        + " ".join(
            f"WHEN h_{lang} = {gr} THEN '{lang}'" for lang in LANG_LEXICONS
        )
        + " END"
    )
    return f"""
    WITH b AS (
      SELECT lang AS truth,
             regexp_split_to_array(lower(text), '\\s+') AS toks
      FROM documents),
    h AS (SELECT truth, {hits} FROM b),
    g AS (SELECT truth, {lang_case} AS guess FROM h),
    conf AS (SELECT truth, guess, COUNT(*) AS c FROM g GROUP BY 1, 2),
    labs AS (SELECT DISTINCT truth AS lab FROM conf),
    pc AS (
      SELECT labs.lab,
        COALESCE((SELECT SUM(c) FROM conf
          WHERE truth = labs.lab AND guess = labs.lab), 0) AS tp,
        COALESCE((SELECT SUM(c) FROM conf
          WHERE guess = labs.lab AND truth <> labs.lab), 0) AS fp,
        COALESCE((SELECT SUM(c) FROM conf
          WHERE truth = labs.lab AND guess <> labs.lab), 0) AS fn
      FROM labs),
    scored AS (
      SELECT lab, tp, fp, fn,
        CASE WHEN tp + fp = 0 THEN 0.0
             ELSE CAST(tp AS DOUBLE) / (tp + fp) END AS p,
        CASE WHEN tp + fn = 0 THEN 0.0
             ELSE CAST(tp AS DOUBLE) / (tp + fn) END AS r
      FROM pc),
    f1s AS (
      SELECT lab, tp, fp, fn, p, r,
        CASE WHEN p + r = 0 THEN 0.0 ELSE 2.0 * p * r / (p + r) END
          AS f1
      FROM scored),
    agg AS (
      SELECT 'macro' AS lab, SUM(tp) AS tp, SUM(fp) AS fp,
             SUM(fn) AS fn, AVG(p) AS p, AVG(r) AS r, AVG(f1) AS f1
      FROM f1s
      UNION ALL
      SELECT 'micro', SUM(tp), SUM(fp), SUM(fn),
        CASE WHEN SUM(tp + fp) = 0 THEN 0.0
             ELSE CAST(SUM(tp) AS DOUBLE) / SUM(tp + fp) END,
        CASE WHEN SUM(tp + fn) = 0 THEN 0.0
             ELSE CAST(SUM(tp) AS DOUBLE) / SUM(tp + fn) END,
        CASE WHEN SUM(tp + fp) = 0 OR SUM(tp + fn) = 0 THEN 0.0
             ELSE 2.0 * (CAST(SUM(tp) AS DOUBLE) / SUM(tp + fp))
                  * (CAST(SUM(tp) AS DOUBLE) / SUM(tp + fn))
                  / (CAST(SUM(tp) AS DOUBLE) / SUM(tp + fp)
                     + CAST(SUM(tp) AS DOUBLE) / SUM(tp + fn)) END
      FROM f1s)
    SELECT lab AS class, CAST(tp AS BIGINT) AS tp,
           CAST(fp AS BIGINT) AS fp, CAST(fn AS BIGINT) AS fn,
           ROUND(p, 4) AS precision_, ROUND(r, 4) AS recall_,
           ROUND(f1, 4) AS f1
    FROM (SELECT * FROM f1s UNION ALL SELECT * FROM agg)
    ORDER BY class
    """


@query("qs295_langid_f1_eval", oracle=_f1_oracle())
def qs295(spark: SparkSession, sf: str) -> DataFrame:
    """Per-class PRECISION / RECALL / F1 for the lexicon language-ID
    heuristic against the labeled lang column, plus macro (class-
    averaged — the imbalance-honest summary) and micro (pooled)
    rows — the standard eval table beside qs244's single-number
    kappa. Classes are the observed truth labels; 'und' appears only
    as a guess (a pure-precision sink), exactly how an abstaining
    classifier should be scored.

    Determinism: the confusion matrix and per-class tp/fp/fn are
    exact integers; P/R/F1 are fixed per-row double trees with
    explicit zero guards; macro averages 5 per-class doubles (like-
    magnitude, noise ≪ ROUND 4). Plan: row-local lexicon scoring →
    one ≤|langs|² confusion aggregate → label-sized epilogue."""
    from cds_etl_spark.operators.skew import spread_scan
    from cds_etl_spark.operators.text_analysis import language_id

    d = load_table(spark, sf, "documents")
    # r15 (guide §2.4/§2.5): spread the single-file scan (the
    # interpreted lexicon-HOF scoring ran in one task) and checkpoint
    # the <=|langs|^2-row confusion matrix — labs/tp/fp/fn each
    # referenced it, re-running the corpus scoring 4x.
    g = spread_scan(d.select("doc_id", "lang", "text"), "doc_id").select(
        F.col("lang").alias("truth"),
        language_id(F.col("text")).alias("guess"),
    )
    # pin: bounded (≤ |langs|² confusion cells) — localCheckpoint IS
    # the bounded policy (operators/pin.py).
    conf = (
        g.groupBy("truth", "guess")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    labs = conf.select(F.col("truth").alias("lab")).distinct()
    tp = conf.filter(F.col("truth") == F.col("guess")).select(
        F.col("truth").alias("lab"), F.col("c").alias("tp")
    )
    fp = (
        conf.filter(F.col("truth") != F.col("guess"))
        .groupBy(F.col("guess").alias("lab"))
        .agg(F.sum("c").alias("fp"))
    )
    fn = (
        conf.filter(F.col("truth") != F.col("guess"))
        .groupBy(F.col("truth").alias("lab"))
        .agg(F.sum("c").alias("fn"))
    )
    pc = (
        labs.join(tp, "lab", "left")
        .join(fp, "lab", "left")
        .join(fn, "lab", "left")
        .select(
            "lab",
            F.coalesce("tp", F.lit(0)).alias("tp"),
            F.coalesce("fp", F.lit(0)).alias("fp"),
            F.coalesce("fn", F.lit(0)).alias("fn"),
        )
    )
    p = F.when(F.col("tp") + F.col("fp") == 0, F.lit(0.0)).otherwise(
        F.col("tp").cast("double") / (F.col("tp") + F.col("fp"))
    )
    r = F.when(F.col("tp") + F.col("fn") == 0, F.lit(0.0)).otherwise(
        F.col("tp").cast("double") / (F.col("tp") + F.col("fn"))
    )
    scored = pc.select("lab", "tp", "fp", "fn", p.alias("p"), r.alias("r"))
    f1 = F.when(F.col("p") + F.col("r") == 0, F.lit(0.0)).otherwise(
        F.lit(2.0) * F.col("p") * F.col("r") / (F.col("p") + F.col("r"))
    )
    f1s = scored.withColumn("f1", f1)
    sp_ = F.sum("tp") + F.sum("fp")
    sr_ = F.sum("tp") + F.sum("fn")
    micro_p = F.when(sp_ == 0, F.lit(0.0)).otherwise(
        F.sum("tp").cast("double") / sp_
    )
    micro_r = F.when(sr_ == 0, F.lit(0.0)).otherwise(
        F.sum("tp").cast("double") / sr_
    )
    micro_f1 = F.when(
        (sp_ == 0) | (sr_ == 0), F.lit(0.0)
    ).otherwise(F.lit(2.0) * micro_p * micro_r / (micro_p + micro_r))
    agg = f1s.agg(
        F.sum("tp").alias("tp"),
        F.sum("fp").alias("fp"),
        F.sum("fn").alias("fn"),
        F.avg("p").alias("p"),
        F.avg("r").alias("r"),
        F.avg("f1").alias("f1"),
    ).select(F.lit("macro").alias("lab"), "tp", "fp", "fn", "p", "r", "f1").unionByName(
        f1s.agg(
            F.sum("tp").alias("tp"),
            F.sum("fp").alias("fp"),
            F.sum("fn").alias("fn"),
            micro_p.alias("p"),
            micro_r.alias("r"),
            micro_f1.alias("f1"),
        ).select(
            F.lit("micro").alias("lab"), "tp", "fp", "fn", "p", "r", "f1"
        )
    )
    return (
        f1s.unionByName(agg)
        .select(
            F.col("lab").alias("class"),
            F.col("tp").cast("long").alias("tp"),
            F.col("fp").cast("long").alias("fp"),
            F.col("fn").cast("long").alias("fn"),
            F.round("p", 4).alias("precision_"),
            F.round("r", 4).alias("recall_"),
            F.round("f1", 4).alias("f1"),
        )
        .orderBy("class")
    )
