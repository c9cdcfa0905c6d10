"""Monitoring + statistics: perplexity buckets, drift (PSI/z-score/
change-point), sketch applications, graph SSSP, winnowing, sparse
cosine, bootstrap/Mann-Whitney/Kaplan-Meier (qs157-qs179) — one family of the declared oracle-checkable
query set. Registration contract, aliasing and cross-engine
rules: cds_etl_spark/plans/registry.py. Split from the former
single queries module with zero query changes; registration
order is preserved by the import order in plans/__init__.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cds_etl_spark.catalog import load_table
from cds_etl_spark.operators.skew import spread_scan
from cds_etl_spark.plans.registry import query
from cds_etl_spark.operators.pin import cut_lineage

# --------------------------------------------------------------------------
# Round-6 session-2 extensions: CCNet buckets, epoch shards, PSI drift
# --------------------------------------------------------------------------


@query(
    "qs157_perplexity_buckets",
    oracle="""
    WITH t AS (SELECT doc_id, lang,
        list_filter(string_split(lower(text), ' '), x -> x <> '') AS ts
      FROM documents),
    bge AS (
      SELECT doc_id, lang, bg['w1'] AS w1, bg['w2'] AS w2 FROM (
        SELECT doc_id, lang, unnest(CASE WHEN len(ts) >= 2 THEN
            list_transform(range(1, len(ts)),
                           i -> struct_pack(w1 := ts[i], w2 := ts[i+1]))
          ELSE [] END) AS bg
        FROM t)),
    cbg AS (SELECT w1, w2, COUNT(*) AS c FROM bge GROUP BY w1, w2),
    cctx AS (SELECT w1, COUNT(*) AS c FROM bge GROUP BY w1),
    v AS (SELECT COUNT(DISTINCT term) AS v
          FROM (SELECT unnest(ts) AS term FROM t)),
    score AS (
      SELECT bge.doc_id, bge.lang,
             ROUND(AVG(ln((cbg.c + 1.0) / (cctx.c + v.v))), 4) AS lp
      FROM bge
      JOIN cbg ON bge.w1 = cbg.w1 AND bge.w2 = cbg.w2
      JOIN cctx ON bge.w1 = cctx.w1
      CROSS JOIN v
      GROUP BY bge.doc_id, bge.lang),
    tiered AS (
      SELECT lang, lp,
             NTILE(3) OVER (PARTITION BY lang
                            ORDER BY lp DESC, doc_id) AS t3
      FROM score)
    SELECT lang,
           CASE t3 WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                   ELSE 'tail' END AS tier,
           COUNT(*) AS n_docs,
           ROUND(AVG(lp), 4) AS mean_logp
    FROM tiered GROUP BY lang, t3
    """,
)
def qs157(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): score
    every document with the corpus bigram LM (qs119's signal), then
    split EACH LANGUAGE into head/middle/tail terciles by model score
    — the standard pretraining-corpus quality partition (head = keep,
    middle = maybe, tail = drop/review). Per-language NTILE is the
    load-bearing detail: a global cut would grade low-resource
    languages against English's score distribution and discard them
    wholesale.

    Determinism: scores are ROUNDed to 4 dp BEFORE the tercile window
    on both engines, so the NTILE ordering key (lp DESC, doc_id) is
    bit-identical cross-engine; docs with <2 tokens have no bigrams
    and drop out of scoring on both sides. Plan shape: bigram build is
    row-local, the LM is two narrow count aggregates joined back on
    the bigram key, vocab size rides a broadcast one-row crossJoin,
    and the tercile window shuffles only (doc, lang, score) rows — at
    100 TB the wide text column never reaches a shuffle."""
    d = load_table(spark, sf, "documents")
    from cds_etl_spark.sources.derived import has_derived

    if has_derived(d, "documents", "toks_lc"):
        # Pre-tokenized layout (sources/derived.py): the lowercase
        # split was paid once at ingest; the scan never reads text.
        toks = d.select("doc_id", "lang", F.col("toks_lc").alias("ts"))
    else:
        toks = d.select(
            "doc_id",
            "lang",
            F.filter(
                F.split(F.lower(F.col("text")), " "), lambda x: x != F.lit("")
            ).alias("ts"),
        )
    bge = toks.select(
        "doc_id",
        "lang",
        F.explode(
            F.when(
                F.size("ts") >= 2,
                F.expr(
                    "transform(sequence(1, size(ts) - 1), "
                    "i -> struct(element_at(ts, i) as w1, "
                    "element_at(ts, i + 1) as w2))"
                ),
            ).otherwise(F.array())
        ).alias("bg"),
    ).select(
        "doc_id", "lang", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2")
    )
    cbg = bge.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    # Context counts AGGREGATE THE MODEL TABLE (sum of bigram counts
    # per w1 == count of bigrams with that context) instead of
    # re-shuffling the corpus-sized bigram stream a second time — at
    # 100 TB this turns a full bigram exchange into a vocab-sized one.
    cctx = cbg.groupBy("w1").agg(F.sum("cb").alias("cc"))
    v = toks.select(F.explode("ts").alias("term")).agg(
        F.countDistinct("term").alias("v")
    )
    score = (
        bge.join(cbg, ["w1", "w2"])
        .join(cctx, "w1")
        .crossJoin(v)
        .groupBy("doc_id", "lang")
        .agg(
            F.round(
                F.avg(F.log((F.col("cb") + 1.0) / (F.col("cc") + F.col("v")))),
                4,
            ).alias("lp")
        )
    )
    # window: REJECT per-lang perplexity rank: qs245-shape measured reject (BASELINE r9 task 5)
    w = Window.partitionBy("lang").orderBy(F.col("lp").desc(), "doc_id")
    tiered = score.withColumn("t3", F.ntile(3).over(w))
    tier = F.element_at(
        F.array(F.lit("head"), F.lit("middle"), F.lit("tail")), F.col("t3")
    )
    return tiered.groupBy("lang", "t3").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("lp"), 4).alias("mean_logp"),
    ).select("lang", tier.alias("tier"), "n_docs", "mean_logp")


@query(
    "qs158_epoch_shard_plan",
    oracle="""
    WITH h AS (
      SELECT doc_id,
             md5(doc_id || '|epoch1') AS hx,
             ('0x' || substr(md5(doc_id || '|epoch1'), 1, 8))::BIGINT
               % 1000000 AS hk
      FROM documents)
    SELECT doc_id,
           CAST(hk % 8 AS BIGINT) AS shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY hk % 8
                                   ORDER BY hx, doc_id) AS INT) AS pos
    FROM h
    """,
)
def qs158(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic epoch shuffle as a shard plan
    (operators/sampling.epoch_shards): every document gets a
    (shard, pos) address that is a pure md5 function of
    (doc_id, epoch), so a training job streams shards in pos order and
    reads an exactly reproducible per-epoch permutation — without a
    global sort. The physical plan is ONE hash exchange on the shard
    key plus a per-shard local sort (row_number window); a naive
    ``ORDER BY md5(...)`` epoch shuffle would be a full-corpus range
    sort. Re-salting with the epoch number makes epochs independent
    permutations with zero carried state. The oracle recomputes the
    identical addresses — the permutation itself is value-checked
    cross-engine, not just row counts."""
    from cds_etl_spark.operators.sampling import epoch_shards

    d = load_table(spark, sf, "documents")
    return epoch_shards(d, "doc_id", num_shards=8, epoch=1)


@query(
    "qs159_psi_drift",
    oracle="""
    WITH b AS (
      SELECT event_type,
             CASE WHEN day(ts) <= 15 THEN 1 ELSE 2 END AS period,
             least(greatest(CAST(FLOOR(value / 32.0) AS BIGINT), 0), 15)
               AS bin
      FROM events),
    c AS (SELECT event_type, period, bin, COUNT(*) AS c
          FROM b GROUP BY 1, 2, 3),
    et AS (SELECT DISTINCT event_type FROM b),
    grid AS (
      SELECT et.event_type, g.bin
      FROM et CROSS JOIN (SELECT unnest(range(0, 16)) AS bin) g),
    p AS (
      SELECT grid.event_type, grid.bin,
             COALESCE(a.c, 0) AS c1, COALESCE(d.c, 0) AS c2
      FROM grid
      LEFT JOIN (SELECT * FROM c WHERE period = 1) a
        ON a.event_type = grid.event_type AND a.bin = grid.bin
      LEFT JOIN (SELECT * FROM c WHERE period = 2) d
        ON d.event_type = grid.event_type AND d.bin = grid.bin),
    w AS (
      SELECT event_type, bin, c1, c2,
             SUM(c1) OVER (PARTITION BY event_type) AS t1,
             SUM(c2) OVER (PARTITION BY event_type) AS t2
      FROM p)
    SELECT event_type,
           CAST(MAX(t1) AS BIGINT) AS n_before,
           CAST(MAX(t2) AS BIGINT) AS n_after,
           ROUND(SUM(
             ((c1 + 1.0) / (t1 + 16.0) - (c2 + 1.0) / (t2 + 16.0))
             * ln(((c1 + 1.0) / (t1 + 16.0))
                  / ((c2 + 1.0) / (t2 + 16.0)))), 4) AS psi
    FROM w GROUP BY event_type
    """,
)
def qs159(spark: SparkSession, sf: str) -> DataFrame:
    """Population Stability Index drift detection — the standard
    production-ML monitor for "did this feature's distribution move
    between two batches": per event type, bin `value` into 16
    fixed-width buckets, compare first-half-of-month vs second-half
    shares with PSI = Σ (p₁-p₂)·ln(p₁/p₂) under +1 Laplace smoothing
    over the FULL 16-bin grid (smoothing gives never-observed bins
    real mass — (c+1)/(t+16) — so they contribute terms; r10
    intent-audit repair, re-grade queued). Rule of thumb: <0.1 stable, >0.25
    drifted — the gate a 100 TB/day ingest would alarm on.

    Determinism: bin edges are value/32 with a power-of-two divisor
    (exact IEEE scaling, floor cannot straddle engines), counts are
    exact integers, the per-type totals ride a window OVER THE BINNED
    AGGREGATE (≤32 rows per type, not corpus rows), and the final
    16-term float sum is ROUNDed at 4 dp. Plan shape: one narrow
    groupBy(type, period, bin) count over the scan, a full-outer bin
    alignment on the tiny aggregate, zero corpus self-joins."""
    ev = load_table(spark, sf, "events")
    b = ev.select(
        "event_type",
        F.when(F.dayofmonth("ts") <= 15, 1).otherwise(2).alias("period"),
        F.least(
            F.greatest(F.floor(F.col("value") / 32.0).cast("bigint"), F.lit(0)),
            F.lit(15),
        ).alias("bin"),
    )
    # Conditional aggregation does the period alignment; the FULL
    # 16-bin grid per type is then restored with a broadcast
    # (type x bin) frame — the +1/+16 smoothing assigns never-observed
    # bins real mass, so they MUST contribute terms (r10 intent-audit
    # find #3: the old observed-bins-only sum understated PSI against
    # the docstring's own "16-term sum" whenever a bin was empty in
    # both halves).
    occ = b.groupBy("event_type", "bin").agg(
        F.sum(F.when(F.col("period") == 1, 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("period") == 2, 1).otherwise(0)).alias("c2"),
    )
    grid = (
        b.select("event_type")
        .distinct()
        .crossJoin(
            spark.range(16).select(F.col("id").alias("bin"))
        )
    )
    p = (
        grid.join(occ, ["event_type", "bin"], "left")
        .fillna(0, subset=["c1", "c2"])
    )
    w = Window.partitionBy("event_type")
    p1 = (F.col("c1") + 1.0) / (F.col("t1") + 16.0)
    p2 = (F.col("c2") + 1.0) / (F.col("t2") + 16.0)
    return (
        p.withColumn("t1", F.sum("c1").over(w))
        .withColumn("t2", F.sum("c2").over(w))
        .groupBy("event_type")
        .agg(
            F.max("t1").cast("bigint").alias("n_before"),
            F.max("t2").cast("bigint").alias("n_after"),
            F.round(F.sum((p1 - p2) * F.log(p1 / p2)), 4).alias("psi"),
        )
    )


@query(
    "qs160_token_entropy",
    oracle="""
    WITH t AS (SELECT doc_id,
        list_filter(string_split(lower(text), ' '), x -> x <> '') AS ts
      FROM documents),
    tok AS (SELECT doc_id, unnest(ts) AS term FROM t),
    c AS (SELECT doc_id, term, COUNT(*) AS c FROM tok GROUP BY doc_id, term),
    n AS (SELECT doc_id, SUM(c) AS n, COUNT(*) AS n_distinct
          FROM c GROUP BY doc_id)
    SELECT c.doc_id,
           CAST(MAX(n.n) AS BIGINT) AS n_tokens,
           CAST(MAX(n.n_distinct) AS BIGINT) AS n_distinct,
           ROUND(-SUM((c.c * 1.0 / n.n) * log2(c.c * 1.0 / n.n)), 4)
             AS entropy_bits
    FROM c JOIN n ON c.doc_id = n.doc_id
    GROUP BY c.doc_id
    """,
)
def qs160(spark: SparkSession, sf: str) -> DataFrame:
    """Token-entropy quality signal: Shannon entropy of each document's
    unigram distribution in bits — the information-density gate corpus
    filters pair with the repetition signal (qs89/qs138): spam,
    keyword-stuffed, and template pages score LOW entropy for their
    length, natural prose scores high. Complements Gopher rules
    (qs147) with a distribution-shape statistic no single rule
    captures.

    Plan shape: tokenize row-local, ONE groupBy(doc, term) count, then
    the per-doc total+distinct ride a second narrow aggregate joined
    back on doc_id — the text column never shuffles, only (doc, term,
    count) rows do. Determinism: counts are exact integers, each
    c/n division and log2 is a correctly-rounded unary op on identical
    operands, and the per-doc float SUM is ROUNDed at 4 dp (the qs119
    accumulation-order contract)."""
    d = load_table(spark, sf, "documents")
    tok = d.select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), " "),
                lambda x: x != F.lit(""),
            )
        ).alias("term"),
    )
    c = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("c"))
    # Per-doc totals ride a WINDOW over the count table (keyed by the
    # final grouping key, so the window exchange is the only one and
    # the closing groupBy reuses its partitioning) — an agg+rejoin
    # formulation would recompute the (doc, term) aggregate twice.
    wd = Window.partitionBy("doc_id")
    c = c.withColumn("n", F.sum("c").over(wd)).withColumn(
        "nd", F.count(F.lit(1)).over(wd)
    )
    p = F.col("c") / F.col("n")
    return c.groupBy("doc_id").agg(
        F.max("n").cast("bigint").alias("n_tokens"),
        F.max("nd").cast("bigint").alias("n_distinct"),
        F.round(-F.sum(p * F.log2(p)), 4).alias("entropy_bits"),
    )


@query(
    "qs161_winsorized_mean",
    oracle="""
    WITH c AS (
      SELECT o_orderstatus AS st,
             CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents,
             least(greatest(CAST(FLOOR(o_totalprice / 4096.0) AS BIGINT),
                            0), 127) AS bucket
      FROM orders),
    hist AS (SELECT st, bucket, COUNT(*) AS cnt, SUM(cents) AS s
             FROM c GROUP BY st, bucket),
    cum AS (
      SELECT st, bucket, cnt, s,
             SUM(cnt) OVER (PARTITION BY st ORDER BY bucket
                            ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(cnt) OVER (PARTITION BY st) AS total
      FROM hist),
    qb AS (
      SELECT st,
             MIN(CASE WHEN cum >= (total * 5 + 99) // 100 THEN bucket END)
               AS lo_b,
             MIN(CASE WHEN cum >= (total * 95 + 99) // 100 THEN bucket END)
               AS hi_b
      FROM cum GROUP BY st)
    SELECT h.st AS o_orderstatus,
           CAST(SUM(h.cnt) AS BIGINT) AS n,
           CAST(MAX(qb.lo_b) * 409600 AS BIGINT) AS lo_cents,
           CAST((MAX(qb.hi_b) + 1) * 409600 AS BIGINT) AS hi_cents,
           ROUND(SUM(CASE WHEN h.bucket < qb.lo_b
                          THEN h.cnt * qb.lo_b * 409600
                          WHEN h.bucket > qb.hi_b
                          THEN h.cnt * (qb.hi_b + 1) * 409600
                          ELSE h.s END)
                 * 1.0 / SUM(h.cnt), 4) AS winsorized_mean_cents
    FROM hist h JOIN qb ON h.st = qb.st
    GROUP BY h.st
    """,
)
def qs161(spark: SparkSession, sf: str) -> DataFrame:
    """Winsorized robust mean per order status: clamp each value into
    the [p05, p95] band read off the qs154 fixed-boundary histogram
    sketch, then average — the outlier-proof center a data-quality
    profile reports next to qs156's median/MAD.

    ONE corpus scan: the histogram aggregate carries BOTH the count
    and the exact cents sum per (status, bucket), so the winsorized
    sum reconstructs entirely from the ≤128-row aggregate — below-band
    buckets contribute cnt·lo_edge, above-band cnt·hi_edge, in-band
    their exact sums. Clamping at bucket EDGES (lo = lo_b·409600,
    hi = (hi_b+1)·409600, the open edge) is what makes bucket
    membership equivalent to value clamping: a row's rounded cents
    can reach but never cross its bucket's open edge, so in-band rows
    are never clamped and out-of-band rows clamp exactly to the edge.
    A clamp-by-value formulation would re-scan the corpus a second
    time for the same numbers (measured 2× slower at sf10).

    Determinism: every quantity summed is an exact integer; the single
    final division is the only float op. Plan shape: one narrow
    groupBy(status, bucket), window cumulation over the ≤384-row
    aggregate, broadcast band bounds, final tiny aggregate — corpus
    touched once, shuffle rows bounded by groups × buckets."""
    o = load_table(spark, sf, "orders")
    from cds_etl_spark.sources.derived import has_derived

    if has_derived(o, "orders", "o_totalprice_cents", "o_price_bucket128"):
        # Pre-projected kernel layout (sources/derived.py): cents and
        # histogram bucket were materialized at ingest with these exact
        # expressions — the scan reads two ints and a dictionary
        # string, zero per-row float work.
        c = o.select(
            F.col("o_orderstatus").alias("st"),
            F.col("o_totalprice_cents").alias("cents"),
            F.col("o_price_bucket128").alias("bucket"),
        )
    else:
        c = o.select(
            F.col("o_orderstatus").alias("st"),
            F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
            F.least(
                F.greatest(
                    F.floor(F.col("o_totalprice") / 4096.0).cast("bigint"),
                    F.lit(0),
                ),
                F.lit(127),
            ).alias("bucket"),
        )
    hist = c.groupBy("st", "bucket").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("cents").alias("s")
    )
    # Band bounds as WINDOW AGGREGATES over the same st partition the
    # final groupBy uses: a groupBy+rejoin formulation would consume
    # the histogram twice and recompute it from the corpus scan twice
    # (measured: this window form halves sf10 wall time). Every window
    # below shares partitionBy(st) — one exchange after the histogram.
    # window: GRID winsorized: per-status cents-histogram buckets; in-code measured note (halves sf10)
    wc = Window.partitionBy("st").orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wt = Window.partitionBy("st")
    cum = hist.withColumn("cum", F.sum("cnt").over(wc)).withColumn(
        "total", F.sum("cnt").over(wt)
    )
    cum = cum.withColumn(
        "lo_b",
        F.min(
            F.when(
                F.col("cum") >= F.floor((F.col("total") * 5 + 99) / 100),
                F.col("bucket"),
            )
        ).over(wt),
    ).withColumn(
        "hi_b",
        F.min(
            F.when(
                F.col("cum") >= F.floor((F.col("total") * 95 + 99) / 100),
                F.col("bucket"),
            )
        ).over(wt),
    )
    contrib = (
        F.when(
            F.col("bucket") < F.col("lo_b"),
            F.col("cnt") * F.col("lo_b") * 409600,
        )
        .when(
            F.col("bucket") > F.col("hi_b"),
            F.col("cnt") * (F.col("hi_b") + 1) * 409600,
        )
        .otherwise(F.col("s"))
    )
    return (
        cum.groupBy("st")
        .agg(
            F.sum("cnt").cast("bigint").alias("n"),
            (F.max("lo_b") * 409600).cast("bigint").alias("lo_cents"),
            ((F.max("hi_b") + 1) * 409600).cast("bigint").alias("hi_cents"),
            F.round(
                F.sum(contrib) * F.lit(1.0) / F.sum("cnt"), 4
            ).alias("winsorized_mean_cents"),
        )
        .withColumnRenamed("st", "o_orderstatus")
    )


@query(
    "qs162_interval_overlap_binned",
    oracle="""
    WITH iv AS (
      SELECT o_orderkey AS k, CAST(o_orderdate AS DATE) AS lo,
             CAST(o_orderdate AS DATE) + CAST((o_orderkey % 5) + 1 AS INT) AS hi
      FROM orders
      WHERE o_orderpriority = '1-URGENT'
        AND o_orderdate >= DATE '1997-03-01'
        AND o_orderdate < DATE '1997-04-01')
    SELECT a.k AS o1, b.k AS o2,
           CAST(least(a.hi, b.hi) - greatest(a.lo, b.lo) + 1 AS BIGINT)
             AS overlap_days
    FROM iv a JOIN iv b
      ON a.k < b.k AND a.lo <= b.hi AND b.lo <= a.hi
    """,
)
def qs162(spark: SparkSession, sf: str) -> DataFrame:
    """Interval-overlap self-join WITHOUT an equi key — the case where
    a naive theta-join is O(n²) and engines fall back to a nested
    loop (the oracle literally states that plan; fine at sf0.01,
    1.4B candidate pairs by sf10). The Spark side is the BINNED
    physical strategy every scalable interval join uses (bucket the
    timeline, equi-join on bucket): each interval explodes to the
    ≤6 days it covers, pairs equi-join on the day, and DISTINCT
    collapses multi-day matches. At day granularity, sharing a day
    IS the overlap predicate — the bin join is exact, not a
    candidate filter, so no verify pass exists to get wrong.

    Scale shape: shuffle is (day, interval) rows — input×⌈len⌉, not
    n² — and skew is bounded by intervals-per-day. overlap_days is
    exact integer date arithmetic (the only computed output)."""
    o = load_table(spark, sf, "orders")
    iv = o.filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_orderdate") >= F.lit("1997-03-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("date"))
    ).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderdate").alias("lo"),
        F.expr("date_add(o_orderdate, CAST(o_orderkey % 5 AS INT) + 1)").alias(
            "hi"
        ),
    )
    binned = iv.select(
        "k", "lo", "hi",
        F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("day"),
    )
    a = binned.alias("a")
    b = binned.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.day") == F.col("b.day")) & (F.col("a.k") < F.col("b.k")),
        )
        .select(
            F.col("a.k").alias("o1"),
            F.col("b.k").alias("o2"),
            F.col("a.lo").alias("lo1"),
            F.col("a.hi").alias("hi1"),
            F.col("b.lo").alias("lo2"),
            F.col("b.hi").alias("hi2"),
        )
        .distinct()
    )
    return pairs.select(
        "o1",
        "o2",
        (
            F.datediff(
                F.least(F.col("hi1"), F.col("hi2")),
                F.greatest(F.col("lo1"), F.col("lo2")),
            )
            + 1
        ).cast("bigint").alias("overlap_days"),
    )


@query(
    "qs163_prefix_filter_simjoin",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             list_distinct(list_filter(string_split(lower(text), ' '),
                                       x -> x <> '')) AS ts
      FROM documents),
    pairs AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2,
             len(list_intersect(a.ts, b.ts)) AS i,
             len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts)) AS u
      FROM t a JOIN t b ON a.doc_id < b.doc_id)
    SELECT d1, d2, CAST((1000000 * i) // u AS BIGINT) AS jac_e6
    FROM pairs WHERE i * 10 >= u * 9
    """,
)
def qs163(spark: SparkSession, sf: str) -> DataFrame:
    """Set-similarity self-join at Jaccard ≥ 0.9 via PREFIX FILTERING
    (Chaudhuri et al. 2006 / PPJoin) — the third near-dup physics in
    the engine after MinHash-LSH (probabilistic banding, qs55) and
    length banding (qs57): sort each document's token SET by global
    token frequency ascending (rarest first), keep only the first
    |x| − ⌈0.9·|x|⌉ + 1 tokens as the prefix, and equi-join on prefix
    tokens — any pair with Jaccard ≥ t MUST share a prefix token, so
    recall is exact (a theorem, not a probability), while candidates
    shrink to rare-token collisions. Exact |∩|/|∪| verification on
    candidates only; the oracle states the O(n²) brute-force
    definition.

    Determinism: the frequency sort breaks ties by token, similarity
    compares as exact integers (i·10 ≥ u·6; jac_e6 = ⌊1e6·i/u⌋), and
    the prefix ordering affects only WHICH candidates are generated,
    never the verified result. Scale shape: the shuffle carries
    (rare token, doc prefix) rows — corpus-linear — and the verify
    join moves only candidate pairs' token sets."""
    # r15 second pass: the self-join's a/b sides plus freq and the
    # t1/t2 verify attachments made the plan re-evaluate the whole
    # scan→tokenize subtree 12x (pure-plan diamonds, guide §2.4).
    # Materialize the token sets ONCE (spread first — the sf fixture
    # is a one-split file, §2.5) and the prefix-occurrence table ONCE,
    # so each side of the candidate join reads the checkpoint.
    d = spread_scan(load_table(spark, sf, "documents"), "doc_id")
    toks = d.select(
        "doc_id",
        F.array_distinct(
            F.filter(
                F.split(F.lower(F.col("text")), " "), lambda x: x != F.lit("")
            )
        ).alias("ts"),
    )
    toks = cut_lineage(toks)  # pin: corpus-scale token arrays
    # explode_outer in both explodes below: plain explode pushes an
    # implicit size(ts) > 0 filter down to the scan with the whole
    # array_distinct(filter(split(...))) expression substituted in —
    # an interpreted Filter paying the tokenization twice per row.
    # The outer form's extra NULL-token rows never survive the tok
    # equi-join (freq's NULL group matches nothing), so the results
    # are identical.
    freq = (
        toks.select(F.explode_outer("ts").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # Order each set rarest-first: join tokens to corpus frequency,
    # sort (tf, tok) pairs, take the prefix.
    exploded = toks.select(
        "doc_id", F.explode_outer("ts").alias("tok")
    ).join(freq, "tok")
    # r15: pin both pair-machinery exchanges to a cores-derived
    # partition count. AQE coalesces the narrow (few-MB) shuffles to
    # ONE partition and the quadratic candidate expansion + the
    # array-intersect verification then run single-task; the explicit
    # count keeps them parallel at any core count while staying tiny
    # relative to cluster-scale shuffles (guide §2.5 — the expansion
    # happens INSIDE the task, invisible to AQE's byte estimates).
    npart = spark.sparkContext.defaultParallelism * 4
    ordered = (
        exploded.repartition(npart, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("tf", "tok"))),
                lambda s: s["tok"],
            ).alias("ots")
        )
    )
    # r15 §2.3/§8: the candidate join and its distinct shuffle ONLY
    # narrow (doc_id, sz, pos, tok) rows — never the token arrays —
    # and two exact PPJoin filters prune occurrences before the
    # distinct: the LENGTH filter (Jaccard ≥ 0.9 forces
    # 10·min(sz) ≥ 9·max(sz)) and the POSITIONAL filter (at the
    # first shared ordered token at 0-based positions p1/p2 the
    # overlap is ≤ min(sz1−p1, sz2−p2), and 19·i ≥ 9·(sz1+sz2) is
    # the cross-multiplied threshold). Both are necessary conditions
    # of the final exact verification, so recall is unchanged; the
    # token arrays are re-attached to the surviving pairs afterwards
    # (unsorted `ts` — intersection size is order-independent).
    items = ordered.select(
        "doc_id",
        F.size("ots").alias("sz"),
        F.posexplode(
            F.expr(
                "slice(ots, 1,"
                " size(ots) - CAST(ceil(0.9 * size(ots)) AS INT) + 1)"
            )
        ).alias("p", "tok"),
    )
    # pin: corpus-scale prefix postings; read twice by the a/b self-join
    items = cut_lineage(items)
    a = items.alias("a")
    b = items.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("a.sz") * 10 >= F.col("b.sz") * 9)
            & (F.col("b.sz") * 10 >= F.col("a.sz") * 9)
            & (
                19
                * F.least(
                    F.col("a.sz") - F.col("a.p"),
                    F.col("b.sz") - F.col("b.p"),
                )
                >= 9 * (F.col("a.sz") + F.col("b.sz"))
            ),
        )
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
        )
    )
    # r15 second pass: the pre-verify distinct shuffled and hash-
    # aggregated EVERY candidate (3.3M pairs, 2.6 s of the 5 s warm
    # run) only to dedup a 1.27x occurrence multiplicity. The verify
    # filter is deterministic per pair, so duplicates pass or fail
    # together and the dedup can run AFTER it, on the (tiny at
    # Jaccard ≥ 0.9) survivor set: candidates now flow checkpoint →
    # join → verify with NO exchange at all, and the only distinct
    # touches output-sized rows (guide §2.4 — remove shuffles
    # outright; §8 — decide on survivors, not candidates).
    t1 = toks.select(F.col("doc_id").alias("d1"), F.col("ts").alias("ts1"))
    t2 = toks.select(F.col("doc_id").alias("d2"), F.col("ts").alias("ts2"))
    inter = F.size(F.array_intersect(F.col("ts1"), F.col("ts2")))
    union = F.size("ts1") + F.size("ts2") - inter
    return (
        cand.join(t1, "d1")
        .join(t2, "d2")
        .withColumn("i", inter)
        .withColumn("u", union)
        .filter(F.col("i") * 10 >= F.col("u") * 9)
        .select(
            "d1",
            "d2",
            F.floor(F.lit(1_000_000) * F.col("i") / F.col("u"))
            .cast("bigint")
            .alias("jac_e6"),
        )
        .distinct()
    )


@query(
    "qs164_sequence_mining",
    oracle="""
    WITH e AS (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events),
    tri AS (
      SELECT a.user_id,
             a.event_type || '>' || b.event_type || '>' || c.event_type
               AS seq
      FROM e a
      JOIN e b ON a.user_id = b.user_id AND b.rn = a.rn + 1
      JOIN e c ON a.user_id = c.user_id AND c.rn = a.rn + 2),
    sup AS (
      SELECT seq, COUNT(DISTINCT user_id) AS n_users,
             COUNT(*) AS n_occurrences
      FROM tri GROUP BY seq)
    SELECT seq, n_users, n_occurrences
    FROM sup ORDER BY n_users DESC, n_occurrences DESC, seq LIMIT 20
    """,
)
def qs164(spark: SparkSession, sf: str) -> DataFrame:
    """Sequential-pattern mining, 3-step (the a-priori sequence family
    — qs123's Markov transitions extended one order): the top ordered
    event-type trigrams by user support. The oracle states it as the
    textbook double self-join on row numbers; the Spark side is the
    scale formulation — ONE groupBy(user) collects each user's
    (ts, id, type) events, array_sort orders them ROW-LOCALLY, and
    trigram extraction is an array transform — so the corpus shuffles
    once on user_id and once on the (tiny) trigram aggregate, versus
    the oracle's three corpus-wide join inputs. Support counts both
    ways: distinct users (the mining support) and raw occurrences
    (the tie-break), with a total ORDER BY for a deterministic
    LIMIT."""
    ev = load_table(spark, sf, "events")
    seqs = (
        ev.groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ).alias("evs")
        )
        .select(
            "user_id",
            F.expr("transform(evs, x -> x.event_type)").alias("types"),
        )
    )
    tris = seqs.select(
        "user_id",
        F.explode(
            F.when(
                F.size("types") >= 3,
                F.expr(
                    "transform(sequence(1, size(types) - 2), i -> "
                    "concat(element_at(types, i), '>', "
                    "element_at(types, i + 1), '>', "
                    "element_at(types, i + 2)))"
                ),
            ).otherwise(F.array())
        ).alias("seq"),
    )
    return (
        tris.groupBy("seq")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .orderBy(F.col("n_users").desc(), F.col("n_occurrences").desc(), "seq")
        .limit(20)
    )


@query(
    "qs165_sweepline_concurrency",
    oracle="""
    WITH iv AS (
      SELECT o_orderpriority AS prio, CAST(o_orderdate AS DATE) AS lo,
             CAST(o_orderdate AS DATE)
               + CAST((o_orderkey % 7) + 1 AS INT) AS hi
      FROM orders),
    deltas AS (
      SELECT prio, lo AS day, 1 AS d FROM iv
      UNION ALL
      SELECT prio, hi AS day, -1 AS d FROM iv),
    daily AS (SELECT prio, day, SUM(d) AS d FROM deltas GROUP BY prio, day),
    cum AS (
      SELECT prio, day,
             SUM(d) OVER (PARTITION BY prio ORDER BY day
                          ROWS UNBOUNDED PRECEDING) AS open
      FROM daily)
    SELECT prio AS o_orderpriority,
           CAST(MAX(open) AS BIGINT) AS peak_open,
           MIN(CASE WHEN open = mx THEN day END) AS peak_day
    FROM (SELECT *, MAX(open) OVER (PARTITION BY prio) AS mx FROM cum)
    GROUP BY prio
    """,
)
def qs165(spark: SparkSession, sf: str) -> DataFrame:
    """Peak concurrency via SWEEP LINE — max simultaneously-open
    orders per priority, with the first day the peak is reached. The
    classic interval-analytics physics the engine didn't yet state:
    intervals become ±1 boundary events, a per-key date aggregate
    collapses the corpus to (key, day) rows, and the running sum's
    maximum IS the answer — O(n) with one narrow shuffle, where the
    naive formulation joins every day against every open interval.
    Complements qs162 (pairwise overlap) with the aggregate-over-time
    view of the same interval model.

    Determinism: counts and dates are exact; the peak day ties break
    by MIN(day). Plan shape: union of two projections of ONE scan,
    groupBy(prio, day) with map-side combine, then windows over the
    date-level aggregate (≤ key × days rows) partitioned by the same
    key the final groupBy uses."""
    o = load_table(spark, sf, "orders")
    iv = o.select(
        F.col("o_orderpriority").alias("prio"),
        F.col("o_orderdate").cast("date").alias("lo"),
        F.expr("date_add(o_orderdate, CAST(o_orderkey % 7 AS INT) + 1)").alias(
            "hi"
        ),
    )
    deltas = iv.select(
        "prio", F.col("lo").alias("day"), F.lit(1).alias("d")
    ).unionByName(
        iv.select("prio", F.col("hi").alias("day"), F.lit(-1).alias("d"))
    )
    daily = deltas.groupBy("prio", "day").agg(F.sum("d").alias("d"))
    # window: GRID sweepline: prio x day grid
    wcum = Window.partitionBy("prio").orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wmax = Window.partitionBy("prio")
    cum = daily.withColumn("open", F.sum("d").over(wcum)).withColumn(
        "mx", F.max(F.col("open")).over(wmax)
    )
    return cum.groupBy("prio").agg(
        F.max("open").cast("bigint").alias("peak_open"),
        F.min(F.when(F.col("open") == F.col("mx"), F.col("day"))).alias(
            "peak_day"
        ),
    ).withColumnRenamed("prio", "o_orderpriority")


@query(
    "qs166_mutual_information",
    oracle="""
    WITH b AS (
      SELECT event_type AS x,
             least(greatest(CAST(FLOOR(value / 32.0) AS BIGINT), 0), 15)
               AS y
      FROM events),
    jx AS (SELECT x, y, COUNT(*) AS cxy FROM b GROUP BY x, y),
    w AS (
      SELECT x, y, cxy,
             SUM(cxy) OVER (PARTITION BY x) AS cx,
             SUM(cxy) OVER (PARTITION BY y) AS cy,
             SUM(cxy) OVER () AS n
      FROM jx)
    SELECT CAST(MAX(n) AS BIGINT) AS n,
           ROUND(SUM((cxy * 1.0 / n)
                     * log2((cxy * 1.0 / n)
                            / ((cx * 1.0 / n) * (cy * 1.0 / n)))), 4)
             AS mi_bits
    FROM w
    """,
)
def qs166(spark: SparkSession, sf: str) -> DataFrame:
    """Mutual information between event type and value distribution —
    the feature-association statistic (I(X;Y) = Σ p(x,y)·log₂
    p(x,y)/(p(x)p(y))) a feature-selection or leakage audit computes
    between a categorical column and a binned numeric one. Completes
    the information-theoretic family: qs160 is marginal entropy,
    qs159 is a divergence between two populations, this is the
    dependence BETWEEN two columns of one population.

    Determinism: power-of-two bin width (exact floor), all marginals
    are window sums OVER THE JOINT AGGREGATE (≤ types×bins rows —
    the corpus is scanned once, counted once), every ratio divides
    exact integers, and the ≤80-term float sum is ROUNDed at 4 dp.
    Plan: one narrow groupBy + three windows + a one-row aggregate."""
    ev = load_table(spark, sf, "events")
    b = ev.select(
        F.col("event_type").alias("x"),
        F.least(
            F.greatest(F.floor(F.col("value") / 32.0).cast("bigint"), F.lit(0)),
            F.lit(15),
        ).alias("y"),
    )
    jx = b.groupBy("x", "y").agg(F.count(F.lit(1)).alias("cxy"))
    w = (
        jx.withColumn("cx", F.sum("cxy").over(Window.partitionBy("x")))
        .withColumn("cy", F.sum("cxy").over(Window.partitionBy("y")))
        .withColumn("n", F.sum("cxy").over(Window.partitionBy()))
    )
    pxy = F.col("cxy") * F.lit(1.0) / F.col("n")
    px = F.col("cx") * F.lit(1.0) / F.col("n")
    py = F.col("cy") * F.lit(1.0) / F.col("n")
    return w.agg(
        F.max("n").cast("bigint").alias("n"),
        F.round(F.sum(pxy * F.log2(pxy / (px * py))), 4).alias("mi_bits"),
    )


# --------------------------------------------------------------------------
# Monitoring statistics: anomaly / experiment / change-point family
# --------------------------------------------------------------------------


@query(
    "qs167_zscore_anomaly",
    oracle="""
    WITH b AS (
      SELECT event_id, event_type, ts,
             CAST(ROUND(value * 100) AS BIGINT) AS x
      FROM events),
    w AS (
      SELECT event_id, event_type, x,
             COUNT(x) OVER win AS n,
             SUM(x)   OVER win AS s1,
             SUM(x*x) OVER win AS s2
      FROM b
      WINDOW win AS (PARTITION BY event_type ORDER BY ts, event_id
                     ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
    SELECT event_id, event_type, x AS value_cents
    FROM w
    WHERE n = 20
      AND (n * s2 - s1 * s1) > 0
      AND (n * x - s1) * (n * x - s1) * (n - 1)
            > 9 * n * (n * s2 - s1 * s1)
    """,
)
def qs167(spark: SparkSession, sf: str) -> DataFrame:
    """Rolling z-score anomaly detection — flag events whose value
    deviates more than 3 sample standard deviations from the
    TRAILING 20-event window of their type (the frame excludes the
    current row, so an outlier cannot mask itself). The data-quality
    monitor every ingest pipeline runs before training data lands.

    Determinism: the whole test is EXACT INTEGER arithmetic on cents
    — z² > 9 cross-multiplied to
    (n·x − s1)²·(n−1) > 9·n·(n·s2 − s1²), so no float sqrt, no
    division, no rounding boundary anywhere (the qs44/qs161 exact
    physics applied to a streaming-shaped statistic). Magnitudes:
    cents ≤ 1e5, n = 20 ⇒ every term ≤ ~7e14, far inside bigint.
    Plan: one scan, one hash exchange on event_type, ONE window pass
    producing all three running sums, a row-local filter — no joins,
    no second scan."""
    ev = load_table(spark, sf, "events")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    # x2 pre-projected so all three window aggregates reference plain
    # columns — Catalyst then fuses them into ONE Window node (a
    # derived sum(x*x) would split into a second same-spec pass).
    b = ev.select(
        "event_id", "event_type", "ts", cents.alias("x")
    ).withColumn("x2", F.col("x") * F.col("x"))
    win = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-20, -1)
    )
    w = (
        b.withColumn("n", F.count("x").over(win))
        .withColumn("s1", F.sum("x").over(win))
        .withColumn("s2", F.sum("x2").over(win))
    )
    n, x, s1, s2 = F.col("n"), F.col("x"), F.col("s1"), F.col("s2")
    return w.filter(
        (n == 20)
        & ((n * s2 - s1 * s1) > 0)
        & (
            (n * x - s1) * (n * x - s1) * (n - F.lit(1))
            > F.lit(9) * n * (n * s2 - s1 * s1)
        )
    ).select("event_id", "event_type", x.alias("value_cents"))


@query(
    "qs168_ab_proportion_ztest",
    oracle="""
    WITH u AS (
      SELECT user_id % 2 AS cohort,
             MAX(CASE WHEN value >= 150 THEN 1 ELSE 0 END) AS conv
      FROM events GROUP BY user_id),
    c AS (SELECT cohort, COUNT(*) AS n,
                 CAST(SUM(conv) AS BIGINT) AS x
          FROM u GROUP BY cohort),
    s AS (SELECT
            MAX(CASE WHEN cohort = 0 THEN n END) AS n1,
            MAX(CASE WHEN cohort = 0 THEN x END) AS x1,
            MAX(CASE WHEN cohort = 1 THEN n END) AS n2,
            MAX(CASE WHEN cohort = 1 THEN x END) AS x2
          FROM c)
    SELECT n1, x1, n2, x2,
           CASE WHEN x1 + x2 = 0 OR x1 + x2 = n1 + n2 THEN NULL
                ELSE ROUND((x1 * 1.0 / n1 - x2 * 1.0 / n2)
                 / sqrt(((x1 + x2) * 1.0 / (n1 + n2))
                        * (1 - (x1 + x2) * 1.0 / (n1 + n2))
                        * (1.0 / n1 + 1.0 / n2)), 4) END AS z
    FROM s
    """,
)
def qs168(spark: SparkSession, sf: str) -> DataFrame:
    """Two-proportion z-test — the A/B-experiment readout: split
    users into two cohorts by a deterministic hash (user_id parity),
    define conversion as "ever emitted an event with value ≥ 150",
    and compute the pooled-variance z statistic for the difference in
    conversion rates. The decision statistic an experimentation
    platform computes per metric per day.

    Determinism: cohort counts and conversion counts are exact
    integers (per-user MAX then one tiny aggregate); the single
    z division + sqrt runs once over those integers and is ROUNDed
    at 4 dp. Plan: groupBy(user_id) with map-side combine collapses
    the corpus, then a 2-row aggregate pivots to one row — the only
    shuffle carries one row per user."""
    ev = load_table(spark, sf, "events")
    u = ev.groupBy((F.col("user_id") % 2).alias("cohort")).agg(
        F.count_distinct("user_id").alias("n"),
        F.count_distinct(
            F.when(F.col("value") >= 150, F.col("user_id"))
        ).alias("x"),
    )
    s = u.agg(
        F.max(F.when(F.col("cohort") == 0, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("cohort") == 0, F.col("x"))).alias("x1"),
        F.max(F.when(F.col("cohort") == 1, F.col("n"))).alias("n2"),
        F.max(F.when(F.col("cohort") == 1, F.col("x"))).alias("x2"),
    )
    n1, x1 = F.col("n1"), F.col("x1")
    n2, x2 = F.col("n2"), F.col("x2")
    p1 = x1 * F.lit(1.0) / n1
    p2 = x2 * F.lit(1.0) / n2
    pp = (x1 + x2) * F.lit(1.0) / (n1 + n2)
    z = (p1 - p2) / F.sqrt(
        pp * (F.lit(1) - pp) * (F.lit(1.0) / n1 + F.lit(1.0) / n2)
    )
    # Degenerate pooled variance (no or all conversions): the statistic
    # is undefined — emit NULL instead of ANSI divide-by-zero.
    z_guarded = F.when(
        ((x1 + x2) > 0) & ((x1 + x2) < (n1 + n2)), F.round(z, 4)
    )
    return s.select("n1", "x1", "n2", "x2", z_guarded.alias("z"))


@query(
    "qs169_changepoint_meanshift",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             SUM(CAST(ROUND(value * 100) AS BIGINT)) AS c
      FROM events GROUP BY event_type, CAST(ts AS DATE)),
    pre AS (
      SELECT event_type, day,
             SUM(c) OVER (PARTITION BY event_type ORDER BY day
                          ROWS UNBOUNDED PRECEDING) AS s,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)
               AS k,
             SUM(c) OVER (PARTITION BY event_type) AS tot,
             COUNT(*) OVER (PARTITION BY event_type) AS m
      FROM daily),
    shifts AS (
      SELECT event_type, day, m,
             ROUND(ABS(s * 1.0 / k - (tot - s) * 1.0 / (m - k))
                   / 100, 4) AS shift
      FROM pre WHERE k < m),
    best AS (
      SELECT event_type, day, m, shift,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY shift DESC, day) AS rn
      FROM shifts)
    SELECT event_type, day AS change_day, shift AS mean_shift,
           m AS n_days
    FROM best WHERE rn = 1
    """,
)
def qs169(spark: SparkSession, sf: str) -> DataFrame:
    """Mean-shift change-point detection — for each event type,
    the day boundary that maximizes |mean(daily totals before) −
    mean(daily totals after)|: the binary-segmentation step every
    metrics-monitoring system runs to localize a regression. With
    qs167 (point anomalies) and qs159 (distribution drift) this
    completes the monitoring family: point, distribution, and
    level-shift detectors.

    Determinism: daily totals are exact integer cents; prefix sums
    and the per-type total come from ONE window pass over the
    (type, day) aggregate (≤ types × days rows — the corpus never
    re-shuffles); each candidate split's shift divides exact
    integers and is ROUNDed at 4 dp BEFORE the argmax
    (round-before-rank, ties broken by earliest day). Plan: one
    narrow groupBy, windows over the tiny aggregate, rn = 1."""
    ev = load_table(spark, sf, "events")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.sum(cents).alias("c"))
    # window: GRID changepoint: event_type x day grid
    word = Window.partitionBy("event_type").orderBy("day")
    wall = Window.partitionBy("event_type")
    pre = (
        daily.withColumn(
            "s",
            F.sum("c").over(
                word.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .withColumn("k", F.row_number().over(word))
        .withColumn("tot", F.sum("c").over(wall))
        .withColumn("m", F.count(F.lit(1)).over(wall))
    )
    s, k = F.col("s"), F.col("k")
    tot, m = F.col("tot"), F.col("m")
    shifts = pre.filter(k < m).withColumn(
        "shift",
        F.round(
            F.abs(
                s * F.lit(1.0) / k - (tot - s) * F.lit(1.0) / (m - k)
            )
            / 100,
            4,
        ),
    )
    best = shifts.withColumn(
        "rn",
        F.row_number().over(
            # window: GRID changepoint: event_type x day grid
            Window.partitionBy("event_type").orderBy(
                F.col("shift").desc(), "day"
            )
        ),
    )
    return best.filter(F.col("rn") == 1).select(
        "event_type",
        F.col("day").alias("change_day"),
        F.col("shift").alias("mean_shift"),
        F.col("m").alias("n_days"),
    )


def _qs170_oracle() -> str:
    # Shares _hll_alpha_num so the float literal in the oracle can
    # never drift from the Spark estimator (the qs90/qs143 contract).
    from cds_etl_spark.operators.sketches import _hll_alpha_num

    m, two40 = 1024, 1 << 40
    num = repr(_hll_alpha_num(m))
    return f"""
    WITH f AS (
      SELECT event_type AS t,
             CAST(user_id AS VARCHAR) || ':'
               || CAST(CAST(ts AS DATE) AS VARCHAR) AS ud
      FROM events WHERE event_type IN ('click', 'purchase')),
    f2 AS (SELECT t, ud FROM f UNION ALL SELECT 'u' AS t, ud FROM f),
    h AS (
      SELECT t,
             ('0x' || substr(md5(ud), 1, 8))::BIGINT % {m} AS idx,
             ('0x' || substr(md5(ud), 9, 8))::BIGINT AS w
      FROM f2),
    r AS (SELECT t, idx,
            MAX(CASE WHEN w = 0 THEN 33 ELSE 33 - length(bin(w)) END)
              AS r
          FROM h GROUP BY t, idx),
    a AS (SELECT t, SUM(1::BIGINT << (40 - r)) AS sp, COUNT(*) AS nb
          FROM r GROUP BY t),
    e AS (SELECT t, {m} - nb AS v,
            {num} / CAST(sp + ({m} - nb) * {two40} AS DOUBLE) AS e_raw
          FROM a),
    est AS (SELECT t,
            CAST(round(CASE WHEN e_raw <= {2.5 * m!r} AND v > 0
                            THEN {float(m)!r} * ln({float(m)!r} / v)
                            ELSE e_raw END) AS BIGINT) AS estimate
            FROM e),
    piv AS (SELECT
        MAX(CASE WHEN t = 'click' THEN estimate END) AS est_a,
        MAX(CASE WHEN t = 'purchase' THEN estimate END) AS est_b,
        MAX(CASE WHEN t = 'u' THEN estimate END) AS est_union
      FROM est),
    ex AS (
      SELECT CAST(SUM(ia * ib) AS BIGINT) AS exact_intersection FROM (
        SELECT MAX(CASE WHEN t = 'click' THEN 1 ELSE 0 END) AS ia,
               MAX(CASE WHEN t = 'purchase' THEN 1 ELSE 0 END) AS ib
        FROM f GROUP BY ud))
    SELECT est_a, est_b, est_union,
           est_a + est_b - est_union AS est_intersection,
           exact_intersection
    FROM piv, ex
    """


@query("qs170_hll_intersection", oracle=_qs170_oracle())
def qs170(spark: SparkSession, sf: str) -> DataFrame:
    """HLL set intersection by inclusion–exclusion — |A∩B| ≈
    est(A) + est(B) − est(A∪B) over the portable-HLL registers
    (operators.sketches), for the daily-active sets (user, day) of
    two event types. The audience-overlap question every analytics
    store answers from sketches WITHOUT rescanning raw data: union
    registers are just max-merged, so A∪B costs no extra pass. The
    exact intersection rides along, so the result states its own
    error.

    Determinism: registers are exact integers from the portable md5
    hash; estimates are the qs90 finalizer (one IEEE division, or the
    linear-counting ln rounded to an integer); the intersection is a
    difference of those integers. Plan: ONE scan feeds both the
    register build (≤ 3·2¹⁰ rows after map-side max) and the exact
    per-(user,day) flags — no raw re-shuffle."""
    from cds_etl_spark.operators.sketches import hll_build, hll_estimate

    ev = load_table(spark, sf, "events")
    ta, tb = "click", "purchase"
    f = ev.filter(F.col("event_type").isin(ta, tb)).select(
        F.col("event_type").alias("t"),
        F.concat_ws(
            ":", F.col("user_id"), F.col("ts").cast("date")
        ).alias("ud"),
    )
    both = f.unionByName(f.select(F.lit("u").alias("t"), "ud"))
    est = hll_estimate(hll_build(both, "t", "ud", p=10), "t", p=10)
    piv = est.agg(
        F.max(F.when(F.col("t") == ta, F.col("estimate"))).alias("est_a"),
        F.max(F.when(F.col("t") == tb, F.col("estimate"))).alias("est_b"),
        F.max(F.when(F.col("t") == "u", F.col("estimate"))).alias(
            "est_union"
        ),
    ).withColumn(
        "est_intersection",
        F.col("est_a") + F.col("est_b") - F.col("est_union"),
    )
    exact = (
        f.groupBy("ud")
        .agg(
            F.max(F.when(F.col("t") == ta, 1).otherwise(0)).alias("ia"),
            F.max(F.when(F.col("t") == tb, 1).otherwise(0)).alias("ib"),
        )
        .agg(
            F.sum(F.col("ia") * F.col("ib"))
            .cast("long")
            .alias("exact_intersection")
        )
    )
    return piv.crossJoin(exact)


@query(
    "qs171_cms_join_size",
    oracle="""
    WITH sk AS (
      SELECT j,
             ('0x' || substr(md5(CAST(j AS VARCHAR) || ':'
                || CAST(l_partkey AS VARCHAR)), 1, 8))::BIGINT % 4096
               AS bucket,
             COUNT(*) AS cnt
      FROM lineitem, (SELECT unnest(range(4)) AS j) js
      GROUP BY j, bucket),
    dots AS (SELECT j, SUM(cnt * cnt) AS dot FROM sk GROUP BY j),
    est AS (SELECT CAST(MIN(dot) AS BIGINT) AS est_pairs FROM dots),
    ex AS (SELECT CAST(SUM(c * c) AS BIGINT) AS exact_pairs
           FROM (SELECT COUNT(*) AS c FROM lineitem
                 GROUP BY l_partkey))
    SELECT est_pairs, exact_pairs,
           ROUND((est_pairs - exact_pairs) * 100.0 / exact_pairs, 2)
             AS overest_pct
    FROM est, ex
    """,
)
def qs171(spark: SparkSession, sf: str) -> DataFrame:
    """CMS join-cardinality estimate — the sketch inner product
    min_j Σ_b R[j][b]·S[j][b] estimates |R ⋈ S| (AMS/Count-Min
    classic), here the self-join size Σ_k f(k)² of lineitem on
    l_partkey: the second frequency moment a cost-based optimizer
    wants BEFORE committing to a join order, computable from two
    tiny mergeable sketch tables instead of the raw tables. The
    exact value rides along so the row states the sketch's
    one-sided overestimate.

    Determinism: counters, dot products, and the min are EXACT
    integers (CMS never goes float); the single error-percent
    division is ROUNDed at 2 dp. Plan: one scan → depth×width
    (4×4096) counter rows via map-side partial agg; the dot product
    and min run over ≤ 4 rows. The exact side is the one narrow
    groupBy a planner could not afford at 100 TB — which is the
    point of the sketch."""
    from cds_etl_spark.operators.pin import pin_stage
    from cds_etl_spark.operators.sketches import cms_build
    from cds_etl_spark.operators.skew import spread_scan

    li = load_table(spark, sf, "lineitem")
    # r16 (the qs137 lesson): count keys FIRST, sketch the counts.
    # The r15 form hashed every OCCURRENCE (2.4M rows × depth 4 md5s);
    # the key-dimension (l_partkey, c) table carries the same
    # information at ~12x fewer hashes (cms_build weight_col sums
    # per-key counts onto exactly the occurrence-stream counters —
    # same longs) AND is precisely what the exact Σc² side needs, so
    # ONE shared aggregate replaces both scans (pin: key-dimension —
    # corpus class, narrow bigints → cut_lineage, not persist). The
    # scan spread (r15, §2.5) still parallelizes the partial agg on
    # the single-file fixture; no-op at real scale.
    kc = pin_stage(
        spread_scan(li.select("l_partkey"), "l_partkey")
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("c")),
        "corpus",
    )
    sk = cms_build(kc, "l_partkey", depth=4, width=4096, weight_col="c")
    dots = sk.groupBy("j").agg(
        F.sum(F.col("cnt") * F.col("cnt")).alias("dot")
    )
    est = dots.agg(F.min("dot").cast("long").alias("est_pairs"))
    exact = kc.agg(
        F.sum(F.col("c") * F.col("c")).cast("long").alias("exact_pairs")
    )
    return (
        est.crossJoin(exact)
        .withColumn(
            "overest_pct",
            F.round(
                (F.col("est_pairs") - F.col("exact_pairs"))
                * F.lit(100.0)
                / F.col("exact_pairs"),
                2,
            ),
        )
    )


@query(
    "qs172_weighted_shortest_path",
    oracle="""
    WITH RECURSIVE e AS (
      SELECT n1.n_name AS src, n2.n_name AS dst,
             CAST(1 + 1000000000000 //
                  SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT))
               AS BIGINT) AS w
      FROM supplier s
      JOIN lineitem l ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
      WHERE n1.n_name <> n2.n_name
      GROUP BY 1, 2),
    p AS (
      SELECT dst AS node, w AS d, 1 AS hops FROM e
      WHERE src = 'NATION_3'
      UNION ALL
      SELECT e.dst, p.d + e.w, p.hops + 1
      FROM p JOIN e ON e.src = p.node WHERE p.hops < 4)
    SELECT node AS n_name, CAST(MIN(d) AS BIGINT) AS dist
    FROM p GROUP BY node
    """,
)
def qs172(spark: SparkSession, sf: str) -> DataFrame:
    """Weighted single-source shortest path, ≤ 4 hops — Bellman-Ford
    relaxation (operators.components.weighted_sssp) over the
    trade-network graph: nations are nodes, a directed edge's weight
    is the inverse of supplier→customer trade volume ("cheap" = heavy
    trade), the classic logistics/routing question stated over the
    TPC-H schema. Completes the graph family's weighted tier above
    qs120's hop-count BFS.

    Determinism: volumes are exact integer cents, weights are exact
    integer floor divisions, path costs are integer sums, and MIN
    needs no tie-break. The ORACLE states the textbook definition —
    recursive path ENUMERATION (≈ 24⁴ rows on the dense 25-nation
    graph) with a global MIN; the Spark side is the scale
    formulation — 4 relaxation rounds, each one equi-join + min-agg
    over a one-row-per-node distance table. Edge build rides the
    qs117 snowflake (nation dims broadcast, orders⋈lineitem the only
    big-side work)."""
    from cds_etl_spark.operators.components import weighted_sssp

    s = load_table(spark, sf, "supplier")
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    n = load_table(spark, sf, "nation")
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"),
        F.col("n_name").alias("src"),
    )
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"),
        F.col("n_name").alias("dst"),
    )
    edges = (
        li.join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(n1, s["s_nationkey"] == F.col("n1_key"))
        .join(n2, c["c_nationkey"] == F.col("n2_key"))
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.sum(cents).alias("vol"))
        .select(
            "src",
            "dst",
            F.expr("1L + 1000000000000L div vol").alias("w"),
        )
    )
    d = weighted_sssp(edges, "NATION_3", max_hops=4)
    return d.select(
        F.col("node").alias("n_name"), F.col("d").alias("dist")
    )


@query(
    "qs173_ewma_smoothing",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             SUM(CAST(ROUND(value * 100) AS BIGINT)) AS x
      FROM events GROUP BY 1, 2),
    rn AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                        ORDER BY day) AS r
           FROM daily),
    pairs AS (
      SELECT a.event_type, a.day, b.x, (a.r - b.r) AS k
      FROM rn a JOIN rn b
        ON a.event_type = b.event_type
       AND b.r BETWEEN a.r - 9 AND a.r),
    agg AS (
      SELECT event_type, day,
             SUM(x * 3 * CAST(POWER(7, k) AS BIGINT)
                   * CAST(POWER(10, 9 - k) AS BIGINT)) AS num,
             SUM(3 * CAST(POWER(7, k) AS BIGINT)
                   * CAST(POWER(10, 9 - k) AS BIGINT)) AS den
      FROM pairs GROUP BY 1, 2)
    SELECT event_type, day,
           ROUND((num * 1.0) / (den * 100.0), 4) AS ewma
    FROM agg
    """,
)
def qs173(spark: SparkSession, sf: str) -> DataFrame:
    """EWMA-smoothed daily metric (α = 0.3, trailing-10-day window,
    weights renormalized over available terms) — the dashboard
    smoother between a plain moving average (qs19's physics) and the
    monitoring detectors: recent days dominate, old noise decays
    geometrically.

    Determinism: the geometric weights are EXACT INTEGERS —
    α(1−α)^k = 3·7^k·10^{9−k} / 10^{10} with a shared denominator, so
    numerator and denominator accumulate as exact bigint sums in ANY
    order; the single final division converts both to double
    identically (IEEE round-to-nearest) and ROUNDs at 4 dp. Every
    power (7^k ≤ 7⁹, 10^{9−k}) is integer-valued in double, so the
    CAST is exact on both engines. The ORACLE states the textbook
    band self-join (each day joins its 10 predecessors); the Spark
    side is the scale formulation — the corpus shuffles ONCE to
    (type, day), a trailing window collects ≤ 10 structs, and the
    weighted sum is a row-local higher-order fold (array_sort makes
    the fold independent of window traversal order)."""
    ev = load_table(spark, sf, "events")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.sum(cents).alias("x"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-9, 0)
    )
    xs = F.expr(
        "transform(array_sort(win), s -> s.x)"
    )
    folded = (
        daily.withColumn(
            "win", F.collect_list(F.struct("day", "x")).over(w)
        )
        .withColumn("xs", xs)
        .withColumn(
            "agg",
            F.expr(
                """
                aggregate(
                  zip_with(xs, sequence(size(xs) - 1, 0, -1),
                    (x, k) -> struct(
                      x * 3 * CAST(power(7, k) AS BIGINT)
                        * CAST(power(10, 9 - k) AS BIGINT) AS nm,
                      3 * CAST(power(7, k) AS BIGINT)
                        * CAST(power(10, 9 - k) AS BIGINT) AS dn)),
                  struct(CAST(0 AS BIGINT) AS nm,
                         CAST(0 AS BIGINT) AS dn),
                  (a, e) -> struct(a.nm + e.nm AS nm,
                                   a.dn + e.dn AS dn))
                """
            ),
        )
    )
    return folded.select(
        "event_type",
        "day",
        F.round(
            (F.col("agg.nm") * F.lit(1.0))
            / (F.col("agg.dn") * F.lit(100.0)),
            4,
        ).alias("ewma"),
    )


def _qs174_oracle() -> str:
    # log10(1 + 1/d) literals computed ONCE driver-side: both engines
    # consume the identical double (repr round-trips exactly), so the
    # expected counts cannot diverge by a libm ulp.
    import math

    cases = " ".join(
        f"WHEN {d} THEN {math.log10(1 + 1 / d)!r}" for d in range(1, 10)
    )
    return f"""
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                              AS VARCHAR), 1, 1) AS INTEGER) AS digit
      FROM orders),
    grid AS (SELECT CAST(unnest(range(1, 10)) AS INTEGER) AS digit),
    obs0 AS (SELECT digit, COUNT(*) AS obs FROM digits GROUP BY digit),
    obs AS (SELECT g.digit, CAST(COALESCE(o.obs, 0) AS BIGINT) AS obs
            FROM grid g LEFT JOIN obs0 o USING (digit)),
    tot AS (SELECT SUM(obs) AS n FROM obs),
    e AS (
      SELECT digit, obs,
             CAST((SELECT n FROM tot) AS DOUBLE)
               * CAST(CASE digit {cases} END AS DOUBLE) AS exp
      FROM obs)
    SELECT digit, obs,
           ROUND(exp, 4) AS exp_4dp,
           CAST(ROUND((obs - exp) * (obs - exp) / exp * 10000)
             AS BIGINT) AS chi2_term_e4
    FROM e
    """


@query("qs174_benford_audit", oracle=_qs174_oracle())
def qs174(spark: SparkSession, sf: str) -> DataFrame:
    """Benford first-digit audit — the fraud/data-quality screen: the
    leading digit of a naturally-spanning quantity should follow
    log10(1 + 1/d), and a fabricated or truncated column deviates.
    Emits one row for EVERY digit 1–9 (r14, the qs399 bug-class
    sweep: a digit that never occurs still owes its (0−E)²/E = E
    term — previously its row was silently absent, so the terms no
    longer summed to χ²) with the observed count, the expected
    count, and the integer-scaled chi-square term (their sum is the
    test statistic — left as per-digit terms so the result shows
    WHERE the deviation lives, the actionable part of the audit).

    Determinism: digits come from exact integer cents; expected
    counts multiply an exact integer by a driver-computed double
    literal shared verbatim by both engines; each chi-square term is
    one float expression ROUND-scaled to e4 integer — no float SUM
    anywhere. Plan: scan-fused digit projection, one 9-row groupBy,
    a scalar-subquery total."""
    import math

    o = load_table(spark, sf, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    digits = o.select(
        F.substring(cents.cast("string"), 1, 1).cast("int").alias("digit")
    )
    grid = spark.range(1, 10).select(F.col("id").cast("int").alias("digit"))
    obs = grid.join(
        digits.groupBy("digit").agg(F.count(F.lit(1)).alias("obs0")),
        "digit",
        "left",
    ).select(
        "digit", F.coalesce("obs0", F.lit(0)).cast("long").alias("obs")
    )
    n = F.sum("obs").over(Window.partitionBy())
    law = F.create_map(
        *[
            x
            for d in range(1, 10)
            for x in (F.lit(d), F.lit(math.log10(1 + 1 / d)))
        ]
    )
    e = obs.withColumn("exp", n * law[F.col("digit")])
    return e.select(
        "digit",
        "obs",
        F.round(F.col("exp"), 4).alias("exp_4dp"),
        F.round(
            (F.col("obs") - F.col("exp"))
            * (F.col("obs") - F.col("exp"))
            / F.col("exp")
            * 10000
        )
        .cast("long")
        .alias("chi2_term_e4"),
    )


@query(
    "qs175_key_skew_diagnosis",
    oracle="""
    WITH freq AS (
      SELECT l_suppkey, COUNT(*) AS f FROM lineitem GROUP BY l_suppkey),
    ranked AS (
      SELECT f,
             ROW_NUMBER() OVER (ORDER BY f, l_suppkey) AS rn,
             ROW_NUMBER() OVER (ORDER BY f DESC, l_suppkey) AS rd
      FROM freq),
    agg AS (
      SELECT COUNT(*) AS n_keys,
             CAST(SUM(f) AS BIGINT) AS total_rows,
             CAST(MAX(f) AS BIGINT) AS max_freq,
             CAST(SUM(rn * f) AS BIGINT) AS srnf,
             CAST(SUM(CASE WHEN rd <= 10 THEN f ELSE 0 END) AS BIGINT)
               AS top10
      FROM ranked)
    SELECT n_keys, total_rows, max_freq,
           CAST(ROUND((2.0 * srnf - (n_keys + 1.0) * total_rows)
                      * 1000000.0 / (n_keys * 1.0 * total_rows))
             AS BIGINT) AS gini_e6,
           CAST(ROUND(top10 * 1000000.0 / total_rows) AS BIGINT)
             AS top10_share_e6
    FROM agg
    """,
)
def qs175(spark: SparkSession, sf: str) -> DataFrame:
    """Join-key skew diagnosis — the pre-flight check before keying a
    100 TB shuffle: for a candidate join/partition key, the frequency
    Gini coefficient, the heaviest key, and the top-10-key share of
    all rows. Exactly the numbers that decide between a plain
    shuffle, AQE skew splitting, and salting (operators/skew.py) —
    the planner-diagnostics sibling of qs171's sketch join-size
    estimate.

    Determinism: frequencies and rank-weighted sums are exact
    integers (Gini's Σ rn·f over a (f, key) total order); the two
    final divisions ROUND-scale to e6 integers. Plan: one narrow
    groupBy collapses the corpus to keys-sized rows; windows and the
    final aggregate run over that — the diagnosis never re-shuffles
    the data it is diagnosing."""
    li = load_table(spark, sf, "lineitem")
    freq = li.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("f"))
    ranked = freq.select(
        "f",
        F.row_number()
        .over(Window.partitionBy().orderBy("f", "l_suppkey"))
        .alias("rn"),
        F.row_number()
        .over(Window.partitionBy().orderBy(F.col("f").desc(), "l_suppkey"))
        .alias("rd"),
    )
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("f").alias("total_rows"),
        F.max("f").alias("max_freq"),
        F.sum(F.col("rn") * F.col("f")).alias("srnf"),
        F.sum(F.when(F.col("rd") <= 10, F.col("f")).otherwise(0)).alias(
            "top10"
        ),
    )
    nk, tr = F.col("n_keys"), F.col("total_rows")
    return agg.select(
        "n_keys",
        "total_rows",
        "max_freq",
        F.round(
            (F.lit(2.0) * F.col("srnf") - (nk + F.lit(1.0)) * tr)
            * F.lit(1000000.0)
            / (nk * F.lit(1.0) * tr)
        )
        .cast("long")
        .alias("gini_e6"),
        F.round(F.col("top10") * F.lit(1000000.0) / tr)
        .cast("long")
        .alias("top10_share_e6"),
    )


@query(
    "qs176_last_touch_attribution",
    oracle="""
    WITH b AS (
      SELECT user_id, event_id, event_type,
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec
      FROM events),
    a AS (
      SELECT event_type,
             arg_max(CASE WHEN event_type <> 'purchase'
                          THEN event_type END,
                     CASE WHEN event_type <> 'purchase'
                          THEN sec * 10000000 + event_id END)
               OVER (PARTITION BY user_id ORDER BY sec
                     RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW)
               AS attr
      FROM b)
    SELECT COALESCE(attr, 'direct') AS attributed_type,
           COUNT(*) AS purchases
    FROM a WHERE event_type = 'purchase' GROUP BY 1
    """,
)
def qs176(spark: SparkSession, sf: str) -> DataFrame:
    """Last-touch attribution — each purchase credits the user's most
    recent non-purchase event within a 7-day horizon, 'direct' when
    none: the marketing-analytics question that motivates the as-of
    join (qs09), restated as ONE window pass instead of a join.

    Determinism: the horizon is a second-granular RANGE frame (both
    engines define RANGE peers by value, so same-second ties are in
    or out identically) and the "most recent" choice is an argmax by
    the TOTAL key sec·10⁷ + event_id (one bigint — arg_max takes no
    composite key in DuckDB; event_id < 10⁷ at every shipped SF) —
    max_by/arg_max skip the NULLed purchase rows, so a purchase
    never attributes to another purchase. Plan: one shuffle on user_id, one window, a tiny
    groupBy — the corpus-sized band join the textbook formulation
    would do never happens."""
    ev = load_table(spark, sf, "events")
    ts_s = F.col("ts").cast("timestamp").cast("double")
    b = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.floor(ts_s).cast("long").alias("sec"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("sec")
        .rangeBetween(-604800, 0)
    )
    nonp = F.col("event_type") != "purchase"
    attr = F.max_by(
        F.when(nonp, F.col("event_type")),
        F.when(
            nonp,
            F.col("sec") * F.lit(10000000) + F.col("event_id"),
        ),
    ).over(w)
    return (
        b.withColumn("attr", attr)
        .filter(F.col("event_type") == "purchase")
        .groupBy(
            F.coalesce(F.col("attr"), F.lit("direct")).alias(
                "attributed_type"
            )
        )
        .agg(F.count(F.lit(1)).alias("purchases"))
    )


@query(
    "qs177_winnow_fingerprints",
    oracle="""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks
                 FROM documents),
    kg AS (SELECT doc_id, g.i AS pos,
             md5(array_to_string(toks[g.i:g.i+4], ' ')) AS h
           FROM tok, (SELECT unnest(range(1, 100000)) AS i) g
           WHERE g.i + 4 <= len(toks)),
    keyed AS (SELECT doc_id, pos,
                h || lpad(CAST(99999999 - pos AS VARCHAR), 8, '0')
                  AS kkey,
                MAX(pos) OVER (PARTITION BY doc_id) AS mx
              FROM kg),
    win AS (SELECT doc_id, pos, mx,
              MIN(kkey) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mk
            FROM keyed),
    sel AS (SELECT DISTINCT doc_id, substr(mk, 1, 32) AS h
            FROM win WHERE pos <= mx - 3),
    hot AS (SELECT h FROM sel GROUP BY h HAVING COUNT(*) > 20),
    fp AS (SELECT s.doc_id, s.h FROM sel s
           LEFT JOIN hot ON s.h = hot.h WHERE hot.h IS NULL)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS shared_fp
    FROM fp a JOIN fp b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING COUNT(*) >= 3
    """,
)
def qs177(spark: SparkSession, sf: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al. 2003, the
    MOSS algorithm): hash every 5-token k-gram, slide a 4-hash
    window, keep each window's minimum — the selection GUARANTEES
    any shared run of ≥ k+w−1 = 8 tokens produces a shared
    fingerprint (a pigeonhole property MinHash only gives in
    expectation), at ~2/(w+1) the storage of full shingling. The
    8th near-dup physics in the dedup family, and the only one with
    a worst-case detection guarantee.

    Determinism: the in-window argmin ties break RIGHTMOST by
    packing (hash, inverted-position) into one fixed-width string —
    MIN of it is the paper's tie rule on both engines. Fingerprints
    in > 20 documents are pruned before pairing (ubiquitous
    boilerplate is not a duplication signal, and the prune bounds
    the pair join's hot keys — the qs111 blocklist economics).
    Scale: k-gram hashing is row-local, the shuffle carries (doc,
    pos, 16-byte hash), selection is one window pass, and the pair
    join runs over the winnowed ~2/(w+1) subset."""
    # r15: spread the single-file scan (the whole winnow chain ran in
    # one task), suppress the explode filter-pushdown that re-evaluated
    # the interpreted gram transform at the scan, and checkpoint the
    # winnowed fingerprint set -- `sel` fed both the hot-prune and the
    # pair self-join, so the pure-plan diamond re-ran the winnow chain
    # up to 4x.
    d = spread_scan(load_table(spark, sf, "documents"), "doc_id")
    toks = F.split(F.col("text"), " ")
    k, w = 5, 4
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (k - 1)),
        lambda i: F.struct(
            i.alias("pos"),
            F.md5(
                F.concat_ws(
                    " ",
                    *[
                        F.element_at(toks, (i + j).cast("int"))
                        for j in range(k)
                    ],
                )
            ).alias("h"),
        ),
    )
    kg = (
        d.filter(F.size(toks) >= k)
        .select("doc_id", F.explode_outer(grams).alias("g"))
        .select(
            "doc_id",
            F.col("g.pos").alias("pos"),
            F.col("g.h").alias("h"),
        )
    )
    kkey = F.concat(
        F.col("h"),
        F.lpad(
            (F.lit(99999999) - F.col("pos")).cast("string"), 8, "0"
        ),
    )
    wmax = Window.partitionBy("doc_id")
    wframe = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        0, w - 1
    )
    win = kg.withColumn("mx", F.max("pos").over(wmax)).withColumn(
        "mk", F.min(kkey).over(wframe)
    )
    sel = cut_lineage(  # pin: corpus-scale winnowed fingerprint set
        win.filter(F.col("pos") <= F.col("mx") - (w - 1))
        .select("doc_id", F.substring("mk", 1, 32).alias("h"))
        .distinct()
    )
    hot = (
        sel.groupBy("h")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > 20)
        .select("h")
    )
    fp = sel.join(hot, "h", "left_anti")
    a, b = fp.alias("a"), fp.alias("b")
    return (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("shared_fp"))
        .filter(F.col("shared_fp") >= 3)
    )


@query(
    "qs178_sparse_cosine_neighbors",
    oracle="""
    WITH terms AS (
      SELECT doc_id, term, COUNT(*) AS c FROM (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
        FROM documents) t
      WHERE term <> '' GROUP BY doc_id, term),
    hot AS (SELECT term FROM terms GROUP BY term
            HAVING COUNT(*) > 50),
    kept AS (SELECT t.* FROM terms t LEFT JOIN hot USING (term)
             WHERE hot.term IS NULL),
    norms AS (SELECT doc_id, SUM(c * c) AS n2 FROM kept
              GROUP BY doc_id),
    dots AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             SUM(a.c * b.c) AS dot
      FROM kept a JOIN kept b
        ON a.term = b.term AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    sims AS (
      SELECT doc_a, doc_b,
             ROUND(dot / (sqrt(na.n2 * 1.0) * sqrt(nb.n2 * 1.0)), 6)
               AS cos
      FROM dots
      JOIN norms na ON na.doc_id = doc_a
      JOIN norms nb ON nb.doc_id = doc_b),
    best AS (
      SELECT doc_a AS doc_id, doc_b AS neighbor, cos FROM sims
      UNION ALL
      SELECT doc_b, doc_a, cos FROM sims),
    r AS (SELECT doc_id, neighbor, cos,
            ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY cos DESC, neighbor) AS rn
          FROM best)
    SELECT doc_id, neighbor, cos FROM r WHERE rn = 1 AND cos >= 0.2
    """,
)
def qs178(spark: SparkSession, sf: str) -> DataFrame:
    """Sparse-vector cosine nearest neighbor — each document's most
    similar other document in raw term-count space: the
    inverted-index similarity join (the IR-side counterpart of the
    dense-embedding ANN family; qs115's TF-IDF weighs terms, this
    JOINS on them). Candidate pairs come only from shared terms, and
    terms in > 50 documents are pruned first — the Zipf head
    contributes near-zero angular information but ALL of the join's
    quadratic blowup (the qs111/qs177 blocklist economics, stated
    for similarity search).

    Determinism: dot products and squared norms are exact integer
    sums; each pair's cosine is one float expression ROUNDed at 6 dp
    BEFORE the per-doc argmax (round-before-rank, neighbor-id
    tie-break); the 0.2 floor keeps only meaningful neighbors.
    Plan: corpus → (doc, term, count) once; one term-keyed pair join
    over the pruned postings; norms join doc-keyed; rn = 1."""
    d = load_table(spark, sf, "documents")
    terms = (
        d.select(
            "doc_id",
            F.explode(F.split(F.lower(F.col("text")), " ")).alias(
                "term"
            ),
        )
        .filter(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    hot = (
        terms.groupBy("term")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") > 50)
        .select("term")
    )
    kept = terms.join(hot, "term", "left_anti")
    norms = kept.groupBy("doc_id").agg(
        F.sum(F.col("c") * F.col("c")).alias("n2")
    )
    a, b = kept.alias("a"), kept.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.term") == F.col("b.term"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.sum(F.col("a.c") * F.col("b.c")).alias("dot"))
    )
    na = norms.select(
        F.col("doc_id").alias("doc_a"), F.col("n2").alias("na2")
    )
    nb = norms.select(
        F.col("doc_id").alias("doc_b"), F.col("n2").alias("nb2")
    )
    sims = (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("dot")
                / (
                    F.sqrt(F.col("na2") * F.lit(1.0))
                    * F.sqrt(F.col("nb2") * F.lit(1.0))
                ),
                6,
            ).alias("cos"),
        )
    )
    best = sims.select(
        F.col("doc_a").alias("doc_id"),
        F.col("doc_b").alias("neighbor"),
        "cos",
    ).unionByName(
        sims.select(
            F.col("doc_b").alias("doc_id"),
            F.col("doc_a").alias("neighbor"),
            "cos",
        )
    )
    r = best.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy(
                F.col("cos").desc(), "neighbor"
            )
        ),
    )
    return r.filter((F.col("rn") == 1) & (F.col("cos") >= 0.2)).select(
        "doc_id", "neighbor", "cos"
    )


def _poisson1_thresholds_u32() -> list[int]:
    # Inverse-CDF thresholds of Poisson(1) scaled to 2^32, computed
    # ONCE driver-side as exact integers shared by both engines —
    # the weight decision is an integer comparison, never a float.
    import math

    cum, out, p, k = 0.0, [], math.exp(-1), 0
    while len(out) < 8:
        cum += p
        out.append(int(cum * (1 << 32)))
        p = p / (k + 1)
        k += 1
    return out


def _qs179_oracle() -> str:
    t = _poisson1_thresholds_u32()
    case = " ".join(
        f"WHEN u < {t[i]} THEN {i}" for i in range(len(t))
    )
    return f"""
    WITH base AS (
      SELECT o_orderkey AS k,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c
      FROM orders),
    rs AS (SELECT k, c, g.r FROM base,
           (SELECT unnest(range(32)) AS r) g),
    u AS (SELECT r, c,
            ('0x' || substr(md5(CAST(k AS VARCHAR) || ':'
               || CAST(r AS VARCHAR)), 1, 8))::BIGINT AS u
          FROM rs),
    wt AS (SELECT r, c, CASE {case} ELSE 8 END AS w FROM u),
    means AS (SELECT r,
                ROUND(SUM(w * c) * 1.0 / (SUM(w) * 100.0), 4) AS m
              FROM wt GROUP BY r),
    ranked AS (SELECT m, r,
                 ROW_NUMBER() OVER (ORDER BY m, r) AS rk
               FROM means),
    f AS (SELECT ROUND(SUM(c) * 1.0 / (COUNT(*) * 100.0), 4)
            AS mean_full FROM base)
    SELECT 32 AS n_resamples,
           (SELECT mean_full FROM f) AS mean_full,
           MAX(CASE WHEN rk = 2 THEN m END) AS ci_lo,
           MAX(CASE WHEN rk = 31 THEN m END) AS ci_hi
    FROM ranked
    """


@query("qs179_bootstrap_ci", oracle=_qs179_oracle())
def qs179(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic bootstrap confidence interval for the mean
    order value — the Poisson-bootstrap trick that makes resampling
    DISTRIBUTABLE (Chamandy et al., "Estimating Uncertainty for
    Massive Data Streams": per-row Poisson(1) weights ≈ with-
    replacement resampling, so 32 resamples are one map-side weight
    column each, never a shuffle of resampled rows) and
    REPRODUCIBLE: the weight is an inverse-CDF lookup of an
    md5-uniform, with the Poisson thresholds precomputed driver-side
    as exact 2³²-scaled integers both engines compare identically.

    Determinism: weighted sums are exact integer cents; each
    resample mean is ONE division ROUNDed at 4 dp; the 5th/95th
    bootstrap percentiles are exact order statistics (ranks 2 and 31
    of 32, ties broken by resample index). Plan: the ×32 explode is
    map-side and collapses to 32 rows in one partial-agg shuffle —
    the uncertainty of a 100 TB mean costs one extra scan."""
    # r15: spread the single-file scan -- the 32-resample md5 weight
    # projection (19M hash evaluations at sf0.1) ran in one task.
    o = spread_scan(load_table(spark, sf, "orders"), "o_orderkey")
    t = _poisson1_thresholds_u32()
    base = o.select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100, 0)
        .cast("long")
        .alias("c"),
    )
    rs = base.select(
        "k", "c", F.explode(F.sequence(F.lit(0), F.lit(31))).alias("r")
    )
    u = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("k").cast("string"),
                    F.lit(":"),
                    F.col("r").cast("string"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    w = F.lit(8)
    for i in range(len(t) - 1, -1, -1):
        w = F.when(u < t[i], F.lit(i)).otherwise(w)
    means = (
        rs.withColumn("w", w)
        .groupBy("r")
        .agg(
            F.round(
                F.sum(F.col("w") * F.col("c"))
                * F.lit(1.0)
                / (F.sum("w") * F.lit(100.0)),
                4,
            ).alias("m")
        )
    )
    ranked = means.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy().orderBy("m", "r")
        ),
    )
    f = base.agg(
        F.round(
            F.sum("c") * F.lit(1.0) / (F.count(F.lit(1)) * F.lit(100.0)),
            4,
        ).alias("mean_full")
    )
    ci = ranked.agg(
        F.max(F.when(F.col("rk") == 2, F.col("m"))).alias("ci_lo"),
        F.max(F.when(F.col("rk") == 31, F.col("m"))).alias("ci_hi"),
    )
    return (
        ci.crossJoin(f)
        .select(
            F.lit(32).alias("n_resamples"),
            "mean_full",
            "ci_lo",
            "ci_hi",
        )
    )


