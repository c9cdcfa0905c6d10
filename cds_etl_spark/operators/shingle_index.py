"""Standing shingle-gram table — pay the corpus explode ONCE.

Every span-level corpus job (duplicated-span detection à la Lee et
al. 2022, winnowing fingerprints à la Schleimer et al. 2003,
benchmark decontamination) starts from the same primitive: hash every
k-token gram of every document. Inline, that is a corpus-sized
explode — the measured dominant cost of qs135/qs177-class jobs
(BASELINE r6: the 16M-row explode at sf1 dwarfs everything after
it). This module is the same move `build_minhash_index` made for
LSH banding: materialize the exploded gram table at INGEST, then run
every downstream job — and every incremental batch — off the
standing table.

Layout: ``<path>/grams`` parquet, one row per gram position:

    (doc_id, pos int, h long)      h = xxhash64 of the k-gram text

(xxhash64: the production family — 3.8× faster than md5, measured;
an index never needs the cross-engine md5 oracle. 64-bit hashes make
distinct-h a faithful stand-in for distinct-gram: corpus-scale
collision odds are ~n²/2⁶⁵.) Positions make the single table serve
all three consumers: span dedup needs (doc, pos) of duplicated
grams, winnowing selects window minima by pos, decontamination only
needs distinct h per doc.

Scale: the build is one scan + explode (row-local, no shuffle — the
write is the only exchange); every consumer then reads 16-byte rows
instead of re-tokenizing text. ``mode="append"`` is the continuous-
ingest path (same contract as build_minhash_index: one hash family
and one k per index, never mixed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _gram_rows(
    df: DataFrame, id_col: str, text_col: str, k: int, lowercase: bool
) -> DataFrame:
    """(id, pos, h) for every k-token gram; rows with < k tokens
    contribute nothing. Row-local: the explode's parent is the scan."""
    text = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    toks = F.split(text, " ")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (k - 1)),
        lambda i: F.struct(
            i.alias("pos"),
            F.xxhash64(
                F.concat_ws(
                    " ",
                    *[F.element_at(toks, (i + j).cast("int")) for j in range(k)],
                )
            ).alias("h"),
        ),
    )
    return (
        df.filter(F.size(toks) >= k)
        .select(F.col(id_col).alias("doc_id"), F.explode(grams).alias("g"))
        .select("doc_id", F.col("g.pos").alias("pos"), F.col("g.h").alias("h"))
    )


def build_shingle_index(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    lowercase: bool = False,
    mode: str = "overwrite",
) -> None:
    """Materialize the gram table for a corpus (or append a batch).

    The write repartitions by doc_id so each downstream per-document
    window (winnowing, span grouping) starts from files that are
    doc-clustered — at 100 TB the build's one exchange replaces an
    exchange in EVERY subsequent job."""
    rows = _gram_rows(df, id_col, text_col, k, lowercase)
    spark = df.sparkSession
    n = max(spark.sparkContext.defaultParallelism, 8)
    rows.repartition(n, "doc_id").write.mode(mode).parquet(f"{path}/grams")


def read_shingle_index(spark: SparkSession, path: str) -> DataFrame:
    """The standing gram table. dropDuplicates = the same crash-replay
    guard as probe_minhash_index: a streaming ingest may re-append an
    epoch; gram rows are identical on replay, so keep-any is exact."""
    return spark.read.parquet(f"{path}/grams").dropDuplicates(
        ["doc_id", "pos"]
    )


def duplicate_spans_indexed(
    spark: SparkSession, path: str, min_docs: int = 2
) -> DataFrame:
    """qs135's duplicated-span signal off the standing table: grams
    whose hash occurs in ≥ ``min_docs`` documents are cross-document
    duplicated text. Returns (doc_id, n_dup_spans, first_pos).

    The corpus text is never touched: the aggregation input is
    16-byte rows, the duplicate-hash set is aggregation output
    (broadcast back), so the job is two hash-sized shuffles instead
    of tokenize + explode + shuffle of the whole corpus."""
    grams = read_shingle_index(spark, path)
    dup = (
        grams.groupBy("h")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.countDistinct("doc_id").alias("_nd"),
        )
        .filter((F.col("_n") > 1) & (F.col("_nd") >= min_docs))
        .select("h")
    )
    return (
        grams.join(dup, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_dup_spans"),
            F.min("pos").alias("first_pos"),
        )
    )


def winnow_from_index(
    spark: SparkSession, path: str, w: int = 4
) -> DataFrame:
    """Winnowing selection off the standing gram table — identical
    output to ``dedup.winnow_fingerprints`` on the same corpus with
    the same k (equivalence-tested), minus the tokenize+explode:
    slide a w-hash window per document, keep each window's minimum,
    rightmost tie rule. Returns (doc_id, fp, pos) distinct."""
    kg = read_shingle_index(spark, path)
    wmax = Window.partitionBy("doc_id")
    wframe = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, w - 1)
    key = F.struct(F.col("h"), (-F.col("pos")).alias("np"))
    win = kg.withColumn("mx", F.max("pos").over(wmax)).withColumn(
        "mk", F.min(key).over(wframe)
    )
    return (
        win.filter(F.col("pos") <= F.col("mx") - (w - 1))
        .select(
            "doc_id",
            F.col("mk.h").alias("fp"),
            (-F.col("mk.np")).alias("pos"),
        )
        .distinct()
    )


def decontaminate_indexed(
    spark: SparkSession,
    path: str,
    probe: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    lowercase: bool = False,
) -> DataFrame:
    """Benchmark decontamination off the standing table: hash the
    (small) probe set's grams with the index's family, broadcast,
    and count per-document hits among the stored hashes. Returns
    contaminated docs only: (doc_id, n_shared, n_shingles), the
    ``retrieval.decontaminate`` contract — n_shared/n_shingles over
    DISTINCT grams (distinct h; 64-bit collisions are the only
    daylight, ~n²/2⁶⁵). The corpus side reads 16-byte rows: a new
    benchmark arriving NEVER re-tokenizes the corpus."""
    probe_h = (
        _gram_rows(probe, id_col, text_col, k, lowercase)
        .select("h")
        .distinct()
    )
    grams = read_shingle_index(spark, path).select("doc_id", "h").distinct()
    per_doc = grams.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles")
    )
    hits = (
        # bcast: BOUNDED benchmark probe set - eval-suite sized
        grams.join(F.broadcast(probe_h), "h")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return hits.join(per_doc, "doc_id").select(
        F.col("doc_id").alias("doc_id"), "n_shared", "n_shingles"
    )


def perplexity_tiers_indexed(
    spark: SparkSession,
    path: str,
    docs: DataFrame,
    lang_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """qs157's CCNet-style perplexity tercile table off a STANDING
    k=1 lowercase gram index (``build_shingle_index(k=1,
    lowercase=True)``): consecutive token hashes pair into bigrams
    via one doc-keyed LEAD window, the add-one bigram LM and the
    per-document mean log-probability then run entirely over 8-byte
    hash keys — the corpus is never re-tokenized, no string ever
    reaches a shuffle, and the model join hashes longs instead of
    word pairs. Measured tradeoff (BASELINE.md): the pairing window
    costs one (doc, pos) exchange the inline query's row-local
    array-transform avoids, so the index wins where tokenization
    dominates (1.5× at sf1) and roughly breaks even / loses where
    the exchange does (sf10 local[32]) — use it when the text
    column is wide or scored repeatedly, keep the inline form for
    one-shot scoring of narrow corpora.

    Equivalence with the inline qs157 holds whenever (a) xxhash64 is
    collision-free over the corpus vocabulary/bigrams (violations ~
    n²/2⁶⁵) and (b) documents are single-space tokenizable (the
    index's ``split(text, ' ')`` keeps empty tokens where qs157's
    filter drops them; identical on corpora without repeated
    spaces) — pinned by tests/test_shingle_index.py.

    Returns (lang, tier, n_docs, mean_logp) — the qs157 contract."""
    grams = read_shingle_index(spark, path)
    wnext = Window.partitionBy("doc_id").orderBy("pos")
    bge = (
        grams.withColumn("h2", F.lead("h").over(wnext))
        .filter(F.col("h2").isNotNull())
        .select("doc_id", F.col("h").alias("w1"), F.col("h2").alias("w2"))
    )
    cbg = bge.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    cctx = cbg.groupBy("w1").agg(F.sum("cb").alias("cc"))
    v = grams.agg(F.countDistinct("h").alias("v"))
    lang = docs.select(F.col(id_col).alias("doc_id"), F.col(lang_col).alias("lang"))
    score = (
        bge.join(cbg, ["w1", "w2"])
        .join(cctx, "w1")
        # bcast: ONE-ROW global .agg() scalar frame (one row by construction)
        .crossJoin(F.broadcast(v))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.avg(
                    F.log((F.col("cb") + 1.0) / (F.col("cc") + F.col("v")))
                ),
                4,
            ).alias("lp")
        )
        .join(lang, "doc_id")
    )
    # window: REJECT per-lang perplexity tiers: qs157's qs245-shape measured reject (BASELINE r9 task 5)
    w = Window.partitionBy("lang").orderBy(F.col("lp").desc(), "doc_id")
    tiered = score.withColumn("t3", F.ntile(3).over(w))
    tier = F.element_at(
        F.array(F.lit("head"), F.lit("middle"), F.lit("tail")),
        F.col("t3"),
    )
    return tiered.groupBy("lang", "t3").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("lp"), 4).alias("mean_logp"),
    ).select("lang", tier.alias("tier"), "n_docs", "mean_logp")
