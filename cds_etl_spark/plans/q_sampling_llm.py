"""Hash sampling/splits, packing, decontamination, profiles, HLL sketch,
LLM corpus manifests, anonymize, incremental aggregation (qs65-qs99) — one family of the declared oracle-checkable
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
from cds_etl_spark.operators.sampling import (  # noqa: E402
    hash_sample,
    hash_split,
    interleave_sources,
    stratified_hash_sample,
)
from cds_etl_spark.operators.text_analysis import LANG_LEXICONS  # noqa: E402
from cds_etl_spark.plans.q_dedup_text import _JACCARD_SQL, _MINHASH_SIG_SQL, _SHINGLES_CTE, _sql_list

_BK = "('0x' || substr(md5({key} || '|{salt}'), 1, 8))::BIGINT % 1000000"


@query(
    "qs65_hash_sample",
    oracle=f"""
    SELECT doc_id FROM documents
    WHERE {_BK.format(key="doc_id", salt="sample")} < 100000
    ORDER BY doc_id
    """,
)
def qs65(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic 10% hash sample keyed on doc_id
    (operators/sampling.hash_sample): selection is a pure function of
    the key — stable across runs, partitionings, and engines (the
    oracle recomputes the identical md5 decision in DuckDB). Map-side
    filter; no shuffle."""
    d = load_table(spark, sf, "documents")
    return hash_sample(d, "doc_id", 0.10, salt="sample").select("doc_id").orderBy("doc_id")


@query(
    "qs66_hash_split",
    oracle=f"""
    WITH b AS (SELECT o_totalprice,
                      {_BK.format(key="o_orderkey", salt="split")} AS bk
               FROM orders)
    SELECT CASE WHEN bk < 800000 THEN 'train'
                WHEN bk < 900000 THEN 'val' ELSE 'test' END AS split,
           COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(o_totalprice*100, 0) AS BIGINT))
                AS BIGINT) AS cents
    FROM b GROUP BY 1 ORDER BY split
    """,
)
def qs66(spark: SparkSession, sf: str) -> DataFrame:
    """80/10/10 train/val/test split (operators/sampling.hash_split),
    validated by per-split counts and exact cents totals — i.e. the
    oracle checks every row's split assignment in aggregate."""
    o = load_table(spark, sf, "orders")
    out = hash_split(
        o, "o_orderkey", {"train": 0.8, "val": 0.1, "test": 0.1}, salt="split"
    )
    return (
        out.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias("cents"),
        )
        .orderBy("split")
    )


@query(
    "qs67_stratified_sample",
    oracle=f"""
    SELECT doc_id, lang FROM documents
    WHERE {_BK.format(key="doc_id", salt="strata")} <
      CASE lang WHEN 'en' THEN 200000 WHEN 'de' THEN 800000
                WHEN 'zh' THEN 800000 ELSE 500000 END
    ORDER BY doc_id
    """,
)
def qs67(spark: SparkSession, sf: str) -> DataFrame:
    """Per-language sampling rates
    (operators/sampling.stratified_hash_sample): downsample the
    dominant language, keep more of the low-resource ones — the
    standard corpus-rebalancing move, still a pure map-side filter."""
    d = load_table(spark, sf, "documents")
    out = stratified_hash_sample(
        d, "doc_id", "lang",
        {"en": 0.2, "de": 0.8, "zh": 0.8},
        default_fraction=0.5, salt="strata",
    )
    return out.select("doc_id", "lang").orderBy("doc_id")


@query(
    "qs68_interleave_sources",
    oracle=f"""
    WITH a AS (SELECT doc_id, 'web' AS source_ds FROM documents
               WHERE source IN ('src0','src1','src2','src3','src4',
                                'src5','src6','src7','src8','src9')),
         b AS (SELECT doc_id, 'curated' AS source_ds FROM documents
               WHERE source NOT IN ('src0','src1','src2','src3','src4',
                                    'src5','src6','src7','src8','src9')),
         mix AS (
           SELECT * FROM a
           WHERE {_BK.format(key="doc_id", salt="mix|web")} < 250000
           UNION ALL SELECT * FROM b)
    SELECT doc_id, source_ds FROM mix ORDER BY doc_id, source_ds
    """,
)
def qs68(spark: SparkSession, sf: str) -> DataFrame:
    """Dataset mixture (operators/sampling.interleave_sources): a
    'web' source downsampled to 25% interleaved with a fully-kept
    'curated' source; per-source salts keep decisions independent.
    Union is metadata-only — no shuffle until a downstream
    repartition chooses the physical interleaving."""
    d = load_table(spark, sf, "documents")
    web_srcs = [f"src{i}" for i in range(10)]
    web = d.filter(F.col("source").isin(web_srcs)).select("doc_id")
    curated = d.filter(~F.col("source").isin(web_srcs)).select("doc_id")
    out = interleave_sources(
        {"web": web, "curated": curated}, "doc_id",
        rates={"web": 0.25, "curated": 1.0}, salt="mix",
    )
    return out.select("doc_id", "source_ds").orderBy("doc_id", "source_ds")


# --------------------------------------------------------------------------
# Relational surface widening (beyond the reference, SURVEY.md §2.3)
# --------------------------------------------------------------------------


@query(
    "qs69_unpivot",
    oracle="""
    WITH a AS (SELECT c_mktsegment, ROUND(MIN(c_acctbal),2) mn,
                      ROUND(MAX(c_acctbal),2) mx
               FROM customer GROUP BY c_mktsegment)
    SELECT c_mktsegment, 'min' AS stat, mn AS val FROM a
    UNION ALL
    SELECT c_mktsegment, 'max' AS stat, mx AS val FROM a
    """,
)
def qs69(spark: SparkSession, sf: str) -> DataFrame:
    """Wide→long unpivot via ``stack`` — the inverse of O16's pivot
    (cds-transformation.py:114-120). The oracle states the same
    reshape relationally (UNION ALL of per-column projections), which
    is exactly the logical expansion Spark's unpivot performs."""
    c = load_table(spark, sf, "customer")
    agg = c.groupBy("c_mktsegment").agg(
        F.round(F.min("c_acctbal"), 2).alias("mn"),
        F.round(F.max("c_acctbal"), 2).alias("mx"),
    )
    return agg.select(
        "c_mktsegment",
        F.expr("stack(2, 'min', mn, 'max', mx) AS (stat, val)"),
    )


@query(
    "qs70_grouping_id",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) AS INTEGER) g1,
           CAST(GROUPING(o_orderpriority) AS INTEGER) g2, COUNT(*) c
    FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
    """,
)
def qs70(spark: SparkSession, sf: str) -> DataFrame:
    """GROUPING() markers distinguish 'NULL because subtotal row' from
    'NULL in the data' — the piece ROLLUP output is ambiguous without
    (qs12). Same partial+final hash aggregation; the grouping-set
    expansion happens before the shuffle."""
    o = load_table(spark, sf, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.grouping("o_orderstatus").cast("int").alias("g1"),
        F.grouping("o_orderpriority").cast("int").alias("g2"),
        F.count(F.lit(1)).alias("c"),
    )


@query(
    "qs71_rank_pct",
    oracle="""
    SELECT o_orderkey,
           ROUND(PERCENT_RANK() OVER (ORDER BY o_totalprice, o_orderkey),6) pr,
           ROUND(CUME_DIST() OVER (ORDER BY o_totalprice, o_orderkey),6) cd
    FROM orders ORDER BY o_orderkey LIMIT 1000
    """,
)
def qs71(spark: SparkSession, sf: str) -> DataFrame:
    """percent_rank/cume_dist — the remaining ranking-family windows
    (qs21 covers rank/dense_rank/ntile).

    Plan (r9 rewire, 27.2 → measured-below s sf10): the
    unpartitioned window put ALL orders in one task; since the
    (o_totalprice, o_orderkey) order is a UNIQUE composite, ties are
    impossible and the window functions collapse to exact rank
    algebra — percent_rank = (rn−1)/(n−1), cume_dist = rn/n — with
    rn from operators/prefix.bucketed_row_number (2-dp prices map
    bijectively to integer cents, the required monotone integral
    bucket key) and n one broadcast scalar. The n = 1 edge returns
    pr = 0.0 like F.percent_rank() does, instead of the algebra's
    NULL from 0/0 (r9 ADVICE)."""
    from cds_etl_spark.operators.prefix import bucketed_row_number

    o = load_table(spark, sf, "orders")
    s = o.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100, 0)
        .cast("long")
        .alias("_cents"),
    )
    rn = bucketed_row_number(
        s, "_cents", ["_cents", "o_orderkey"], "_rn"
    )
    n = s.agg(F.count(F.lit(1)).alias("_n"))
    return (
        rn.crossJoin(n)
        .select(
            "o_orderkey",
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
        )
        .orderBy("o_orderkey")
        .limit(1000)
    )


@query(
    "qs72_sequence_explode",
    oracle="""
    SELECT n_nationkey, unnest(generate_series(0, n_nationkey % 5)) AS step
    FROM nation
    """,
)
def qs72(spark: SparkSession, sf: str) -> DataFrame:
    """Row generation: per-row sequence + explode (generate_series /
    lateral unnest). The generator runs inside the scan's stage — no
    shuffle; output cardinality is data-dependent."""
    n = load_table(spark, sf, "nation")
    return n.select(
        "n_nationkey",
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.col("n_nationkey") % 5)
        ).alias("step"),
    )


@query(
    "qs73_bitwise",
    oracle="""
    SELECT o_orderkey, o_orderkey & 255 AS band, o_orderkey | 15 AS bor,
           xor(o_orderkey, 255) AS bxor, o_orderkey << 2 AS shl,
           o_orderkey >> 3 AS shr
    FROM orders ORDER BY o_orderkey LIMIT 1000
    """,
)
def qs73(spark: SparkSession, sf: str) -> DataFrame:
    """Bitwise expression kit (&, |, xor, shifts) — hash-bucketing and
    flag-field arithmetic; pure codegen expressions."""
    o = load_table(spark, sf, "orders")
    k = F.col("o_orderkey")
    return (
        o.select(
            "o_orderkey",
            k.bitwiseAND(F.lit(255)).alias("band"),
            k.bitwiseOR(F.lit(15)).alias("bor"),
            k.bitwiseXOR(F.lit(255)).alias("bxor"),
            F.shiftleft(k, 2).alias("shl"),
            F.shiftright(k, 3).alias("shr"),
        )
        .orderBy("o_orderkey")
        .limit(1000)
    )


@query(
    "qs74_nullsafe_join",
    oracle="""
    SELECT a.n_nationkey n1, b.n_nationkey n2 FROM nation a
    JOIN nation b
      ON NULLIF(a.n_regionkey, 0) IS NOT DISTINCT FROM NULLIF(b.n_regionkey, 0)
     AND a.n_nationkey < b.n_nationkey
    """,
)
def qs74(spark: SparkSession, sf: str) -> DataFrame:
    """Null-safe equi-join (<=> / IS NOT DISTINCT FROM): NULL keys
    match each other instead of dropping out — Catalyst still plans
    this as a hash join (null-safe equality is a valid hash key),
    not a nested loop."""
    n = load_table(spark, sf, "nation")
    a, b = n.alias("a"), n.alias("b")
    ka = F.nullif(F.col("a.n_regionkey"), F.lit(0))
    kb = F.nullif(F.col("b.n_regionkey"), F.lit(0))
    return (
        a.join(b, ka.eqNullSafe(kb) & (F.col("a.n_nationkey") < F.col("b.n_nationkey")))
        .select(F.col("a.n_nationkey").alias("n1"), F.col("b.n_nationkey").alias("n2"))
    )


@query(
    "qs75_greatest_least",
    oracle="""
    SELECT o_orderkey, GREATEST(o_totalprice, 150000.0) g,
           LEAST(o_totalprice, 150000.0) l,
           IFNULL(NULLIF(o_orderstatus, 'F'), 'finished') s
    FROM orders ORDER BY o_orderkey LIMIT 1000
    """,
)
def qs75(spark: SparkSession, sf: str) -> DataFrame:
    """n-ary conditional scalars (greatest/least/ifnull/nullif) — the
    clamp-and-default idiom of O19's clean_data defaults
    (cds_transformation_functions.py:43-44) without CASE chains."""
    o = load_table(spark, sf, "orders")
    return (
        o.select(
            "o_orderkey",
            F.greatest("o_totalprice", F.lit(150000.0)).alias("g"),
            F.least("o_totalprice", F.lit(150000.0)).alias("l"),
            F.ifnull(F.nullif("o_orderstatus", F.lit("F")), F.lit("finished")).alias("s"),
        )
        .orderBy("o_orderkey")
        .limit(1000)
    )


@query(
    "qs76_string_pad",
    oracle="""
    SELECT n_nationkey, LPAD(n_name, 12, '*') lp, RPAD(n_name, 12, '.') rp,
           REVERSE(n_name) rv, TRANSLATE(n_name, 'AEIOU', 'aeiou') tr,
           REPEAT(substr(n_name, 1, 2), 2) r2
    FROM nation
    """,
)
def qs76(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed-width formatting string kit (pad/reverse/translate/repeat)
    — O30's TSV emission formatting family, all codegen expressions."""
    n = load_table(spark, sf, "nation")
    return n.select(
        "n_nationkey",
        F.lpad("n_name", 12, "*").alias("lp"),
        F.rpad("n_name", 12, ".").alias("rp"),
        F.reverse("n_name").alias("rv"),
        F.translate("n_name", "AEIOU", "aeiou").alias("tr"),
        F.repeat(F.substring("n_name", 1, 2), 2).alias("r2"),
    )


@query(
    "qs77_try_cast",
    oracle="""
    SELECT doc_id, TRY_CAST(substr(text, 1, 2) AS INTEGER) t1,
           TRY_CAST(lang AS DOUBLE) t2
    FROM documents
    """,
)
def qs77(spark: SparkSession, sf: str) -> DataFrame:
    """Safe casts: malformed input → NULL instead of error/garbage —
    the principled version of the reference's permissive retro-coercion
    (clean_data integer coercion, cds_transformation_functions.py:56-72)."""
    d = load_table(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.substring("text", 1, 2).try_cast("int").alias("t1"),
        F.col("lang").try_cast("double").alias("t2"),
    )


@query(
    "qs78_scalar_subquery",
    oracle="""
    SELECT o_orderkey,
           ROUND(o_totalprice / (SELECT ROUND(AVG(o_totalprice), 4) FROM orders), 6)
             AS ratio
    FROM orders ORDER BY o_orderkey LIMIT 1000
    """,
)
def qs78(spark: SparkSession, sf: str) -> DataFrame:
    """Uncorrelated scalar subquery: a global aggregate referenced per
    row. DataFrame-side this is an explicit broadcast of the 1-row
    aggregate — exactly the physical plan the SQL form lowers to, with
    no second scan of the fact table per row."""
    o = load_table(spark, sf, "orders")
    avg = o.agg(F.round(F.avg("o_totalprice"), 4).alias("_avg"))
    return (
        o.crossJoin(avg)
        .select(
            "o_orderkey",
            F.round(F.col("o_totalprice") / F.col("_avg"), 6).alias("ratio"),
        )
        .orderBy("o_orderkey")
        .limit(1000)
    )


@query(
    "qs79_width_bucket",
    oracle="""
    -- width_bucket(x, 0, 600000, 12) spelled arithmetically
    -- (DuckDB 1.0 has no width_bucket)
    SELECT CASE WHEN o_totalprice < 0 THEN 0
                WHEN o_totalprice >= 600000 THEN 13
                ELSE 1 + CAST(FLOOR(o_totalprice * 12 / 600000.0) AS BIGINT)
           END b, COUNT(*) c
    FROM orders GROUP BY b
    """,
)
def qs79(spark: SparkSession, sf: str) -> DataFrame:
    """Equi-width histogram via width_bucket + count — the profiling
    pass over value distributions (skew detection input for
    operators/skew.py). Map-side bucketing, 13-group aggregate."""
    o = load_table(spark, sf, "orders")
    return (
        o.select(
            F.width_bucket("o_totalprice", F.lit(0), F.lit(600000), F.lit(12)).alias("b")
        )
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("c"))
    )


@query(
    "qs80_regexp_extract_replace",
    oracle="""
    SELECT event_id, regexp_extract(props, '"k": *([0-9]+)', 1) k,
           regexp_replace(event_type, '[aeiou]', '_', 'g') r
    FROM events ORDER BY event_id LIMIT 1000
    """,
)
def qs80(spark: SparkSession, sf: str) -> DataFrame:
    """Regex extract + global replace — O26's scan patterns
    (cds_transformation_functions.py:286) as value transforms, not
    just filters. NB DuckDB regexp_replace is first-match unless the
    'g' flag is passed; Spark's is always global."""
    e = load_table(spark, sf, "events")
    return (
        e.select(
            "event_id",
            F.regexp_extract("props", '"k": *([0-9]+)', 1).alias("k"),
            F.regexp_replace("event_type", "[aeiou]", "_").alias("r"),
        )
        .orderBy("event_id")
        .limit(1000)
    )


@query(
    "qs81_connected_dedup",
    oracle="""
    WITH RECURSIVE
      pairs AS (SELECT a.doc_id d1, b.doc_id d2 FROM documents a
                JOIN documents b ON a.lang = b.lang AND a.doc_id < b.doc_id
                                AND a.n_chars = b.n_chars),
      edges AS (SELECT d1 a, d2 b FROM pairs UNION SELECT d2, d1 FROM pairs),
      reach(a, b) AS (SELECT a, b FROM edges
                      UNION
                      SELECT r.a, e.b FROM reach r
                      JOIN edges e ON r.b = e.a WHERE e.b <> r.a)
    SELECT a AS doc_id, LEAST(a, MIN(b)) AS component
    FROM reach GROUP BY a
    """,
)
def qs81(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup cluster resolution: blocking pairs (qs51 shape) →
    connected components (operators/components.py) → one canonical id
    per cluster. The oracle states the same closure as a recursive CTE
    — feasible for DuckDB on the test graph, while the Spark side is
    the O(diameter)-round shuffle-parallel label propagation that
    holds at corpus scale."""
    from cds_etl_spark.operators.components import connected_components

    d = load_table(spark, sf, "documents")
    a, b = d.alias("a"), d.alias("b")
    pairs = a.join(
        b,
        (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & (F.col("a.n_chars") == F.col("b.n_chars")),
    ).select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
    cc = connected_components(pairs, "d1", "d2")
    return cc.select(F.col("node").alias("doc_id"), "component")


@query(
    "qs82_sequence_packing",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens
      FROM documents),
    c AS (
      SELECT doc_id, lang, n_tokens,
             CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                      ROWS UNBOUNDED PRECEDING) - n_tokens
                  AS BIGINT) AS cum_before
      FROM t WHERE n_tokens > 0)
    SELECT lang, doc_id,
           unnest(generate_series(CAST(cum_before // 256 AS BIGINT),
                                  CAST((cum_before + n_tokens - 1) // 256
                                       AS BIGINT)))
             AS chunk_id,
           n_tokens, cum_before
    FROM c
    """,
)
def qs82(spark: SparkSession, sf: str) -> DataFrame:
    """GPT-style sequence packing (operators/packing.py): per-language
    concat-and-chunk at a 256-token budget; one row per (doc, chunk)
    overlap. Token counts are the whitespace tokenizer of
    operators/text_analysis.token_count_ws, restated in the oracle."""
    from cds_etl_spark.operators.packing import chunk_assignments

    d = load_table(spark, sf, "documents")
    return chunk_assignments(
        d,
        "doc_id",
        F.size(F.split(F.col("text"), " ")),
        budget=256,
        shard_col="lang",
    )


@query(
    "qs83_decontaminate",
    oracle="""
    WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
                 FROM documents),
    sh AS (SELECT doc_id,
             CASE WHEN len(toks) >= 3 THEN list_distinct(list_transform(
               range(1, len(toks)-1),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
             ELSE [] END AS shset
           FROM tok),
    probe AS (SELECT DISTINCT unnest(shset) AS s FROM sh
              WHERE doc_id % 101 = 0),
    corpus AS (SELECT doc_id, shset FROM sh WHERE doc_id % 101 <> 0),
    ex AS (SELECT doc_id, len(shset) AS n_shingles, unnest(shset) AS s
           FROM corpus)
    SELECT ex.doc_id, COUNT(*) AS n_shared, ANY_VALUE(n_shingles) AS n_shingles
    FROM ex JOIN probe ON ex.s = probe.s
    GROUP BY ex.doc_id
    """,
)
def qs83(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark decontamination (operators/retrieval.decontaminate):
    corpus docs sharing any lowercase word 3-gram with the probe set
    (doc_id % 101 == 0 plays the held-out benchmark). Probe shingles
    broadcast; one shuffle on doc_id. No reference analogue."""
    from cds_etl_spark.operators.retrieval import decontaminate

    d = load_table(spark, sf, "documents")
    probe = d.filter(F.col("doc_id") % 101 == 0)
    corpus = d.filter(F.col("doc_id") % 101 != 0)
    return decontaminate(corpus, probe, "doc_id", "text", n=3)


@query(
    "qs84_bm25",
    oracle="""
    WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
                 FROM documents),
    dl AS (SELECT doc_id, len(toks) AS dl FROM tok),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
    tf AS (SELECT doc_id, t.tok, COUNT(*) AS tf
           FROM (SELECT doc_id, unnest(toks) AS tok FROM tok) t
           WHERE t.tok IN ('hash', 'join', 'scan')
           GROUP BY doc_id, t.tok),
    dft AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok)
    SELECT tf.doc_id,
           ROUND(SUM(ln((stats.n_docs - dft.df + 0.5)/(dft.df + 0.5) + 1)
                 * tf.tf * (1.2 + 1)
                 / (tf.tf + 1.2*(1 - 0.75 + 0.75*dl.dl/stats.avgdl))), 4)
             AS score
    FROM tf
    JOIN dft USING (tok)
    JOIN dl ON dl.doc_id = tf.doc_id
    CROSS JOIN stats
    GROUP BY tf.doc_id
    """,
)
def qs84(spark: SparkSession, sf: str) -> DataFrame:
    """Okapi BM25 relevance (operators/retrieval.bm25_scores) of every
    document against the query terms {hash, join, scan}; corpus stats
    (N, avgdl, df) computed in-plan and attached by broadcast. No
    reference analogue (LLM-pipeline retrieval extension)."""
    from cds_etl_spark.operators.retrieval import bm25_scores

    d = load_table(spark, sf, "documents")
    out = bm25_scores(d, "doc_id", "text", ["hash", "join", "scan"])
    return out.select("doc_id", F.round("score", 4).alias("score"))


@query(
    "qs85_scd2_apply",
    oracle="""
    WITH dim AS (
      SELECT c_custkey AS key, c_mktsegment AS seg,
             DATE '1995-01-01' AS valid_from, CAST(NULL AS DATE) AS valid_to
      FROM customer),
    upd AS (
      SELECT o_custkey AS key, 'VIP' AS seg, DATE '1996-06-01' AS eff
      FROM orders GROUP BY o_custkey HAVING COUNT(*) > 15),
    changed AS (
      SELECT d.key FROM dim d JOIN upd u ON d.key = u.key
      WHERE d.valid_to IS NULL AND d.seg IS DISTINCT FROM u.seg)
    SELECT d.key, d.seg, d.valid_from,
           CASE WHEN c.key IS NOT NULL AND d.valid_to IS NULL
                THEN DATE '1996-06-01' ELSE d.valid_to END AS valid_to
    FROM dim d LEFT JOIN changed c ON d.key = c.key
    UNION ALL
    SELECT u.key, u.seg, u.eff AS valid_from, CAST(NULL AS DATE) AS valid_to
    FROM upd u JOIN changed c ON u.key = c.key
    """,
)
def qs85(spark: SparkSession, sf: str) -> DataFrame:
    """SCD2 versioned upsert (operators/scd.scd2_apply): customers who
    placed >15 orders move to the VIP segment effective 1996-06-01 —
    their live dimension version closes and a new one opens; everyone
    else passes through. Generalizes the reference's historical-value
    accumulation (cds_transformation_functions.py:420-466)."""
    from cds_etl_spark.operators.scd import scd2_apply

    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    dim = c.select(
        F.col("c_custkey").alias("key"),
        F.col("c_mktsegment").alias("seg"),
        F.lit("1995-01-01").cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
    )
    upd = (
        o.groupBy(F.col("o_custkey").alias("key"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 15)
        .select("key", F.lit("VIP").alias("seg"),
                F.lit("1996-06-01").cast("date").alias("eff"))
    )
    return scd2_apply(dim, upd, "key", ["seg"], "eff")


@query(
    "qs86_corr_covar",
    oracle="""
    SELECT l_returnflag,
           ROUND(corr(l_quantity, l_extendedprice), 4) AS r,
           ROUND(covar_samp(l_quantity, l_extendedprice), 4) AS cs,
           ROUND(covar_pop(l_quantity, l_extendedprice), 4) AS cp
    FROM lineitem GROUP BY l_returnflag
    """,
)
def qs86(spark: SparkSession, sf: str) -> DataFrame:
    """Bivariate statistical aggregates per group (co-moment family;
    extends qs15's univariate stddev). Single hash aggregation."""
    li = load_table(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("r"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias("cs"),
        F.round(F.covar_pop("l_quantity", "l_extendedprice"), 4).alias("cp"),
    )


@query(
    "qs87_regression_agg",
    oracle="""
    SELECT l_linestatus,
           ROUND(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
           ROUND(regr_intercept(l_extendedprice, l_quantity), 4) AS icept,
           ROUND(regr_r2(l_extendedprice, l_quantity), 4) AS r2,
           regr_count(l_extendedprice, l_quantity) AS n
    FROM lineitem GROUP BY l_linestatus
    """,
)
def qs87(spark: SparkSession, sf: str) -> DataFrame:
    """Linear-regression aggregate family (ANSI regr_*): price ~
    quantity per line status. One hash aggregation; all co-moments
    accumulate in a single pass."""
    li = load_table(spark, sf, "lineitem")
    return li.groupBy("l_linestatus").agg(
        F.round(F.regr_slope("l_extendedprice", "l_quantity"), 4).alias("slope"),
        F.round(F.regr_intercept("l_extendedprice", "l_quantity"), 4).alias("icept"),
        F.round(F.regr_r2("l_extendedprice", "l_quantity"), 4).alias("r2"),
        F.regr_count("l_extendedprice", "l_quantity").alias("n"),
    )


@query(
    "qs88_profile_columns",
    oracle="""
    SELECT 'c_mktsegment' AS col_name, COUNT(*) AS n_rows,
           COUNT(*) - COUNT(c_mktsegment) AS n_null,
           COUNT(DISTINCT c_mktsegment) AS n_distinct
    FROM customer
    UNION ALL
    SELECT 'c_nationkey', COUNT(*), COUNT(*) - COUNT(c_nationkey),
           COUNT(DISTINCT c_nationkey) FROM customer
    UNION ALL
    SELECT 'c_acctbal', COUNT(*), COUNT(*) - COUNT(c_acctbal),
           COUNT(DISTINCT c_acctbal) FROM customer
    """,
)
def qs88(spark: SparkSession, sf: str) -> DataFrame:
    """One-pass data-quality profile (operators/profiling.py): null and
    exact-distinct counts for three customer columns in a single
    aggregation (Expand-based multi-distinct), vs the oracle's
    three-scan UNION ALL formulation. Generalizes the reference's
    validation reports (cds-transformation_v1.3.py:105-108)."""
    from cds_etl_spark.operators.profiling import profile_columns

    c = load_table(spark, sf, "customer")
    return profile_columns(c, ["c_mktsegment", "c_nationkey", "c_acctbal"])


@query(
    "qs89_repetition_signal",
    oracle="""
    WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
                 FROM documents),
    g AS (SELECT doc_id,
            unnest(list_transform(range(1, len(toks)),
                                  i -> toks[i] || ' ' || toks[i+1])) AS gram
          FROM tok WHERE len(toks) >= 2),
    c AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g GROUP BY doc_id, gram)
    SELECT doc_id, MAX(cnt) AS top_cnt, CAST(SUM(cnt) AS BIGINT) AS n_grams,
           MAX(cnt)::DOUBLE / SUM(cnt)::DOUBLE AS top_fraction
    FROM c GROUP BY doc_id
    """,
)
def qs89(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-style repetition quality signal
    (operators/text_analysis.top_ngram_fraction): fraction of each
    document's word bigrams taken by its most frequent one. Exact
    integer-count division, no rounding. No reference analogue
    (LLM-pipeline text-quality extension)."""
    from cds_etl_spark.operators.text_analysis import top_ngram_fraction

    d = load_table(spark, sf, "documents")
    return top_ngram_fraction(d, "doc_id", "text", n=2)


def _qs90_oracle() -> str:
    from cds_etl_spark.operators.sketches import hll_oracle_sql

    return hll_oracle_sql("lineitem", "l_returnflag", "l_orderkey", p=10)


@query("qs90_hll_distinct_sketch", oracle=_qs90_oracle())
def qs90(spark: SparkSession, sf: str) -> DataFrame:
    """Mergeable HLL distinct-count estimate per return flag —
    operators/sketches.hll_distinct_by over lineitem orderkeys.

    HASH-CHECKABLE approximate structure (the qs110 CMS trick applied
    to HLL): registers derive from the engine-portable salted-md5 hash
    family with integer-only rank math, the harmonic sum is an exact
    shiftleft integer sum, and the estimate is one IEEE-deterministic
    division — so DuckDB recomputes the identical registers AND the
    identical estimate in SQL (``hll_oracle_sql`` is generated from
    the same module, so the two sides cannot drift). This replaced the
    r5 rows-only DataSketches formulation; the production binary-
    sketch path (hll_sketch_agg) remains in
    text_analysis.distinct_sketch_by with its own unit tests.
    Accuracy + merge=union invariants: tests/test_sketches.py."""
    from cds_etl_spark.operators.sketches import hll_distinct_by

    li = load_table(spark, sf, "lineitem")
    return hll_distinct_by(li, "l_returnflag", "l_orderkey", p=10)


# k=3 shingle set over a pre-split token array (template over the token
# column name) — the same transform as _SHINGLES_CTE, reused by the
# composed-pipeline oracle below at three different scopes.
def _sh3(t: str) -> str:
    return (
        f"CASE WHEN len({t}) >= 3 THEN list_distinct(list_transform("
        f"range(1, len({t})-1), i -> {t}[i] || ' ' || {t}[i+1] || ' ' || {t}[i+2])) "
        f"ELSE [] END"
    )


def _llm_manifest_oracle() -> str:
    """The llm_pipeline.prepare_training_data composition as one DuckDB
    CTE chain — each stage restated from its individually-green stage
    oracle (qs60 lang/quality, qs89 repetition, qs54 exact dedup,
    qs55 MinHash-LSH, qs81 connected components, qs83 decontamination,
    qs82 packing), scoped to the pipeline's corpus/probe split."""
    hits = ", ".join(
        f"CAST(len(list_filter(toks, t -> list_contains({_sql_list(lex)}, t)))"
        f" AS BIGINT) AS h_{lang}"
        for lang, lex in LANG_LEXICONS.items()
    )
    gr = "greatest(" + ", ".join(f"h_{lang}" for lang in LANG_LEXICONS) + ")"
    lang_case = (
        f"CASE WHEN {gr} = 0 THEN 'und' "
        + " ".join(f"WHEN h_{lang} = {gr} THEN '{lang}'" for lang in LANG_LEXICONS)
        + " END"
    )
    return f"""
    WITH RECURSIVE
    corpus0 AS (SELECT doc_id, text FROM documents WHERE doc_id % 101 <> 0),
    probe0  AS (SELECT doc_id, text FROM documents WHERE doc_id % 101 = 0),
    lb AS (SELECT doc_id, text,
             regexp_split_to_array(lower(text), '\\s+') AS toks
           FROM corpus0),
    lf AS (SELECT doc_id, text, toks,
             CAST(length(text) AS BIGINT) AS n_chars,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS BIGINT)
               AS n_punct,
             {hits},
             COALESCE(list_sum(list_transform(toks, t -> length(t))), 0)
               AS sum_tok_len
           FROM lb),
    lg AS (SELECT doc_id, text, n_tokens,
             CASE WHEN n_chars > 0 THEN n_punct::DOUBLE / n_chars::DOUBLE
                  ELSE 0.0 END AS punct_ratio,
             CASE WHEN n_tokens > 0 THEN h_en::DOUBLE / n_tokens::DOUBLE
                  ELSE 0.0 END AS stopword_ratio,
             CASE WHEN n_tokens > 0 THEN sum_tok_len::DOUBLE / n_tokens::DOUBLE
                  ELSE 0.0 END AS mean_token_len,
             {lang_case} AS lang_guess
           FROM lf),
    lq AS (SELECT doc_id, text, lang_guess,
             (CASE WHEN n_tokens >= 5 AND n_tokens <= 100000 THEN 1 ELSE 0 END
              + CASE WHEN stopword_ratio > 0 THEN 1 ELSE 0 END
              + CASE WHEN punct_ratio < 0.2 THEN 1 ELSE 0 END
              + CASE WHEN mean_token_len >= 2.0 AND mean_token_len <= 12.0
                     THEN 1 ELSE 0 END)::DOUBLE / 4.0 AS quality
           FROM lg),
    rt AS (SELECT doc_id, string_split(lower(text), ' ') AS ltoks FROM corpus0),
    rg AS (SELECT doc_id,
             unnest(list_transform(range(1, len(ltoks)),
                                   i -> ltoks[i] || ' ' || ltoks[i+1])) AS gram
           FROM rt WHERE len(ltoks) >= 2),
    rc AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM rg GROUP BY doc_id, gram),
    rep AS (SELECT doc_id, MAX(cnt)::DOUBLE / SUM(cnt)::DOUBLE AS top_fraction
            FROM rc GROUP BY doc_id),
    filtered AS (
      SELECT lq.doc_id, lq.text, lq.lang_guess
      FROM lq LEFT JOIN rep ON lq.doc_id = rep.doc_id
      WHERE lq.lang_guess IN ('en') AND lq.quality >= 0.5
        AND COALESCE(rep.top_fraction, 0.0) <= 0.5),
    survivors AS (SELECT MIN(doc_id) AS doc_id FROM filtered GROUP BY md5(text)),
    deduped AS (SELECT f.* FROM filtered f JOIN survivors s USING (doc_id)),
    mt AS (SELECT doc_id, string_split(text, ' ') AS toks FROM deduped),
    msh AS (SELECT doc_id, {_sh3('toks')} AS shset FROM mt),
    sig AS (SELECT doc_id, shset, [{_MINHASH_SIG_SQL}] AS sg FROM msh),
    bands AS (
      SELECT doc_id,
        [md5(sg[1]||','||sg[2]||','||sg[3]), md5(sg[4]||','||sg[5]||','||sg[6]),
         md5(sg[7]||','||sg[8]||','||sg[9]), md5(sg[10]||','||sg[11]||','||sg[12])]
          AS bk
      FROM sig),
    exploded AS (
      SELECT doc_id, g.i AS bi, bk[g.i] AS key
      FROM bands, (SELECT unnest(range(1,5)) AS i) g),
    cand AS (
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      FROM exploded a JOIN exploded b
        ON a.bi = b.bi AND a.key = b.key AND a.doc_id < b.doc_id),
    pairs AS (
      SELECT cand.d1, cand.d2
      FROM cand JOIN msh sa ON cand.d1 = sa.doc_id
                JOIN msh sb ON cand.d2 = sb.doc_id
      WHERE {_JACCARD_SQL.format(a='sa.shset', b='sb.shset')} >= 0.5),
    edges AS (SELECT d1 a, d2 b FROM pairs UNION SELECT d2, d1 FROM pairs),
    reach(a, b) AS (SELECT a, b FROM edges
                    UNION
                    SELECT r.a, e.b FROM reach r
                    JOIN edges e ON r.b = e.a WHERE e.b <> r.a),
    comp AS (SELECT a AS node, LEAST(a, MIN(b)) AS component
             FROM reach GROUP BY a),
    losers AS (SELECT node AS doc_id FROM comp WHERE node <> component),
    clustered AS (SELECT d.* FROM deduped d
                  WHERE d.doc_id NOT IN (SELECT doc_id FROM losers)),
    pt AS (SELECT string_split(lower(text), ' ') AS toks FROM probe0),
    psh AS (SELECT DISTINCT unnest({_sh3('toks')}) AS s FROM pt),
    ct AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM clustered),
    csh AS (SELECT doc_id, unnest({_sh3('toks')}) AS s FROM ct),
    contaminated AS (SELECT DISTINCT csh.doc_id
                     FROM csh JOIN psh ON csh.s = psh.s),
    clean AS (SELECT c.* FROM clustered c
              WHERE c.doc_id NOT IN (SELECT doc_id FROM contaminated)),
    pk AS (SELECT doc_id, lang_guess,
             len(string_split(text, ' ')) AS n_tokens FROM clean),
    pc AS (SELECT doc_id, lang_guess, n_tokens,
             CAST(SUM(n_tokens) OVER (PARTITION BY lang_guess ORDER BY doc_id
                                      ROWS UNBOUNDED PRECEDING) - n_tokens
                  AS BIGINT) AS cum_before
           FROM pk WHERE n_tokens > 0)
    SELECT lang_guess, doc_id,
           unnest(generate_series(CAST(cum_before // 256 AS BIGINT),
                                  CAST((cum_before + n_tokens - 1) // 256
                                       AS BIGINT))) AS chunk_id,
           n_tokens, cum_before
    FROM pc
    """


@query("qs91_llm_pipeline_manifest", oracle=_llm_manifest_oracle())
def qs91(spark: SparkSession, sf: str) -> DataFrame:
    """Composed LLM training-data pipeline (llm_pipeline.py): language
    + quality + repetition filters → exact dedup → MinHash-LSH cluster
    dedup → decontamination → sequence packing. Hash-checked since r5:
    the oracle restates the whole composition as one CTE chain built
    from the individually-green stage oracles (qs60, qs89, qs54, qs55,
    qs81, qs83, qs82); the composition's invariants are additionally
    unit-tested (tests/test_llm_pipeline.py)."""
    from cds_etl_spark.llm_pipeline import prepare_training_data

    d = load_table(spark, sf, "documents")
    probe = d.filter(F.col("doc_id") % 101 == 0)
    corpus = d.filter(F.col("doc_id") % 101 != 0)
    return prepare_training_data(corpus, probe)["manifest"]


@query(
    "qs92_forward_fill",
    oracle="""
    SELECT event_id, user_id,
           last_value(CASE WHEN event_type <> 'click' THEN value END
                      IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS ff
    FROM events
    """,
)
def qs92(spark: SparkSession, sf: str) -> DataFrame:
    """Forward-fill imputation (operators/timeseries.forward_fill):
    click events' values are masked to NULL and refilled with the last
    preceding observation per user — LAST_VALUE IGNORE NULLS over a
    running window, one shuffle on the user key. Time-aware form of
    the reference's constant null-fill
    (cds_transformation_functions.py:43-44)."""
    from cds_etl_spark.operators.timeseries import forward_fill

    e = load_table(spark, sf, "events").select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("event_type") != "click", F.col("value")).alias("ff"),
    )
    return forward_fill(
        e, "ts", ["ff"], ["user_id"], order_extra=["event_id"]
    ).select("event_id", "user_id", "ff")


@query(
    "qs93_resample_grid",
    oracle="""
    WITH e AS (SELECT user_id, date_trunc('hour', ts) AS b, value
               FROM events WHERE user_id < 20),
    agg AS (SELECT user_id, b, COUNT(*) AS n,
                   ROUND(SUM(value), 4) AS total
            FROM e GROUP BY user_id, b),
    bounds AS (SELECT user_id, min(b) AS lo, max(b) AS hi
               FROM e GROUP BY user_id),
    grid AS (SELECT user_id,
                    unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
             FROM bounds)
    SELECT g.user_id, g.bucket, COALESCE(a.n, 0) AS n, a.total
    FROM grid g LEFT JOIN agg a ON g.user_id = a.user_id AND g.bucket = a.b
    """,
)
def qs93(spark: SparkSession, sf: str) -> DataFrame:
    """Regular-grid resample with gap densification
    (operators/timeseries.resample): hourly event counts/sums per user
    including empty buckets, the grid generated row-locally per key
    from its own min/max (no global calendar cross join)."""
    from cds_etl_spark.operators.timeseries import resample

    e = load_table(spark, sf, "events").filter(F.col("user_id") < 20)
    out = resample(e, "user_id", "ts", "value", step="1 hour")
    return out.select(
        "user_id", "bucket", "n", F.round("total", 4).alias("total")
    )


@query(
    "qs94_pagerank",
    oracle="""
    WITH RECURSIVE
    pairs AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2
      FROM documents a JOIN documents b
        ON a.lang = b.lang AND a.n_chars = b.n_chars
       AND a.doc_id < b.doc_id),
    edges AS (
      SELECT DISTINCT a, b FROM (
        SELECT d1 AS a, d2 AS b FROM pairs
        UNION ALL
        SELECT d2 AS a, d1 AS b FROM pairs) WHERE a <> b),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    deg AS (SELECT a AS node, COUNT(*) AS deg FROM edges GROUP BY a),
    pr(iter, node, rank) AS (
      SELECT 0, node, 1.0 / (SELECT n FROM nn) FROM nodes
      UNION ALL
      SELECT p.iter + 1, e.b,
             0.15 / (SELECT n FROM nn) + 0.85 * SUM(p.rank / d.deg)
      FROM pr p
      JOIN edges e ON e.a = p.node
      JOIN deg d ON d.node = p.node
      WHERE p.iter < 10
      GROUP BY p.iter, e.b)
    SELECT node, ROUND(rank, 4) AS rank FROM pr WHERE iter = 10
    """,
)
def qs94(spark: SparkSession, sf: str) -> DataFrame:
    """PageRank (operators/components.pagerank) over the qs51 blocking
    graph (documents sharing lang + length band): centrality of each
    document inside its near-dup neighborhood. The symmetrized graph
    has no dangling nodes (every node has out-degree >= 1), so the
    fixed-iteration power method is expressible as a DuckDB recursive
    CTE; both sides round to 4 decimals, which masks the ~1e-15
    relative float drift from differing summation order. Invariants
    (rank mass = 1, dangling redistribution, symmetry) remain
    unit-tested in tests/test_pagerank.py."""
    from cds_etl_spark.operators.components import pagerank

    d = load_table(spark, sf, "documents").alias("a")
    b = load_table(spark, sf, "documents").alias("b")
    pairs = d.join(
        b,
        (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.n_chars") == F.col("b.n_chars"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
    ranks = pagerank(pairs, "d1", "d2", iterations=10, directed=False)
    return ranks.select("node", F.round("rank", 4).alias("rank"))


@query(
    "qs95_table_diff",
    oracle="""
    WITH old AS (SELECT c_custkey, c_acctbal, c_mktsegment FROM customer),
    new AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 97 = 0 THEN c_acctbal + 10
                  ELSE c_acctbal END AS c_acctbal,
             c_mktsegment
      FROM customer WHERE c_custkey % 89 <> 0
      UNION ALL
      SELECT c_custkey + 1000000, c_acctbal, c_mktsegment
      FROM customer WHERE c_custkey % 83 = 0)
    SELECT COALESCE(o.c_custkey, n.c_custkey) AS c_custkey,
           CASE WHEN o.c_custkey IS NULL THEN 'added'
                WHEN n.c_custkey IS NULL THEN 'removed'
                WHEN o.c_acctbal IS DISTINCT FROM n.c_acctbal
                  OR o.c_mktsegment IS DISTINCT FROM n.c_mktsegment
                  THEN 'changed'
                ELSE 'unchanged' END AS status
    FROM old o FULL OUTER JOIN new n ON o.c_custkey = n.c_custkey
    WHERE o.c_custkey IS NULL OR n.c_custkey IS NULL
       OR o.c_acctbal IS DISTINCT FROM n.c_acctbal
       OR o.c_mktsegment IS DISTINCT FROM n.c_mktsegment
    """,
)
def qs95(spark: SparkSession, sf: str) -> DataFrame:
    """Keyed table diff (operators/reconcile.table_diff): old vs new
    customer versions with synthetic changes/removals/additions; the
    full-outer join shuffles (key, digest) pairs, not wide rows.
    Extends the reference's duplicate-conflict diagnosis (O22) to
    version reconciliation."""
    from cds_etl_spark.operators.reconcile import table_diff

    c = load_table(spark, sf, "customer").select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    )
    new = (
        c.filter(F.col("c_custkey") % 89 != 0)
        .withColumn(
            "c_acctbal",
            F.when(
                F.col("c_custkey") % 97 == 0, F.col("c_acctbal") + 10
            ).otherwise(F.col("c_acctbal")),
        )
        .unionByName(
            c.filter(F.col("c_custkey") % 83 == 0).withColumn(
                "c_custkey", F.col("c_custkey") + 1000000
            )
        )
    )
    return table_diff(c, new, ["c_custkey"]).filter(
        F.col("status") != "unchanged"
    )


@query(
    "qs96_anonymize",
    oracle="""
    SELECT c_custkey,
           sha256('pepper' || c_name) AS name_h,
           repeat('*', greatest(length(c_mktsegment) - 4, 0))
             || right(c_mktsegment, 4) AS seg_m,
           CAST(floor(c_acctbal / 1000) * 1000 AS BIGINT) AS bal_band
    FROM customer
    """,
)
def qs96(spark: SparkSession, sf: str) -> DataFrame:
    """PII anonymization (operators/reconcile.anonymize): salted-hash
    pseudonymization, partial masking, numeric banding — all row-local
    codegen expressions. The remediation side of the reference's SSN
    detection (cds_transformation_functions.py:284-299)."""
    from cds_etl_spark.operators.reconcile import (
        anonymize,
        band_numeric,
        hash_column,
        mask_keep_last,
    )

    c = load_table(spark, sf, "customer").select(
        "c_custkey", "c_name", "c_mktsegment", "c_acctbal"
    )
    out = anonymize(
        c,
        {
            "c_name": hash_column("c_name", salt="pepper"),
            "c_mktsegment": mask_keep_last("c_mktsegment", 4),
            "c_acctbal": band_numeric("c_acctbal", 1000),
        },
    )
    return out.select(
        "c_custkey",
        F.col("c_name").alias("name_h"),
        F.col("c_mktsegment").alias("seg_m"),
        F.col("c_acctbal").alias("bal_band"),
    )


@query(
    "qs97_weighted_sample",
    oracle=f"""
    WITH p AS (
      SELECT doc_id,
             pow(({_BK.format(key="doc_id", salt="ws")} + 0.5) / 1000000.0,
                 1.0 / n_chars) AS pri
      FROM documents WHERE n_chars > 0)
    SELECT doc_id FROM p ORDER BY pri DESC, doc_id LIMIT 50
    """,
)
def qs97(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (operators/sampling.weighted_hash_sample): 50 documents drawn with
    probability proportional to n_chars, the draw a pure function of
    (doc_id, salt) — the oracle recomputes the identical
    Efraimidis-Spirakis priority in DuckDB. Compiles to
    TakeOrderedAndProject (per-partition top-k, no global sort)."""
    from cds_etl_spark.operators.sampling import weighted_hash_sample

    d = load_table(spark, sf, "documents")
    return weighted_hash_sample(d, "doc_id", "n_chars", 50, salt="ws").select(
        "doc_id"
    )


@query(
    "qs98_incremental_agg",
    oracle="""
    SELECT o_custkey,
           COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(o_totalprice*100, 0) AS BIGINT))
                AS BIGINT) AS cents,
           MIN(o_orderdate) AS first_order,
           MAX(o_orderdate) AS last_order
    FROM orders GROUP BY o_custkey
    """,
)
def qs98(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental aggregate maintenance
    (operators/incremental.merge_aggregate_state): the orders table is
    split at 1996-01-01 into a 'historical state' batch and a 'new
    arrivals' delta, each aggregated alone and algebraically merged —
    the oracle is the from-scratch aggregate, so the check IS the
    incremental-equals-full identity. Money is carried as exact cents
    (sum order independence)."""
    from cds_etl_spark.operators.incremental import (
        aggregate_delta,
        merge_aggregate_state,
    )

    o = load_table(spark, sf, "orders").withColumn(
        "cents_src", F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
    )
    spec = {
        "n": ("count", ""),
        "cents": ("sum", "cents_src"),
        "first_order": ("min", "o_orderdate"),
        "last_order": ("max", "o_orderdate"),
    }
    cut = F.lit("1996-01-01").cast("date")
    state = aggregate_delta(o.filter(F.col("o_orderdate") < cut), ["o_custkey"], spec)
    delta = aggregate_delta(o.filter(F.col("o_orderdate") >= cut), ["o_custkey"], spec)
    return merge_aggregate_state(state, delta, ["o_custkey"], spec)


@query(
    "qs99_funnel",
    oracle="""
    WITH s0 AS (
      SELECT user_id, min(ts) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY user_id),
    s1 AS (
      SELECT e.user_id, min(e.ts) AS t_click
      FROM events e JOIN s0 USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > s0.t_view
        AND e.ts <= s0.t_view + INTERVAL 7 DAY
      GROUP BY e.user_id),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS t_purchase
      FROM events e JOIN s1 USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > s1.t_click
        AND e.ts <= s1.t_click + INTERVAL 7 DAY
      GROUP BY e.user_id)
    SELECT s0.user_id, s0.t_view, s1.t_click, s2.t_purchase,
           CAST(s0.t_view IS NOT NULL AS INTEGER)
             + CAST(s1.t_click IS NOT NULL AS INTEGER)
             + CAST(s2.t_purchase IS NOT NULL AS INTEGER) AS depth
    FROM s0 LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
    """,
)
def qs99(spark: SparkSession, sf: str) -> DataFrame:
    """Conversion funnel (operators/funnel.funnel): view → click →
    purchase per user, each step strictly after and within 7 days of
    the previous step's earliest match. One conditional min-aggregation
    + user-key join per step; no per-user timeline materialization."""
    from cds_etl_spark.operators.funnel import funnel

    e = load_table(spark, sf, "events")
    out = funnel(
        e,
        "user_id",
        "ts",
        [
            ("view", F.col("event_type") == "view"),
            ("click", F.col("event_type") == "click"),
            ("purchase", F.col("event_type") == "purchase"),
        ],
        horizon="7 days",
    )
    return out.select("user_id", "t_view", "t_click", "t_purchase", "depth")


