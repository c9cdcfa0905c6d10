"""Count-Min sketch: mergeable frequency estimation over unbounded
key domains.

Companion to the HLL distinct sketches in ``text_analysis.
distinct_sketch_by``: HLL answers "how many distinct", CMS answers
"how often does X occur" with sublinear state — the standard pair a
100 TB corpus profiler keeps per shard. The reference's frequency
analogue is full enumeration (pandas ``value_counts`` shapes inside
cds_transformation_functions.py validation reports), which cannot ship
a bounded summary per batch; a CMS table is ``depth × width`` rows
regardless of corpus size.

Representation is RELATIONAL on purpose: a sketch is a DataFrame of
``(j, bucket, cnt)`` rows (j = hash-function index). That makes every
sketch operation a plain DataFrame op — build is one groupBy, merge of
two sketches is union + sum (counters are additive), and a point query
is a join + min — all shuffle-parallel, nothing driver-side, and the
sketch itself is storable/unionable as a tiny parquet table. The hash
family is md5 with the depth index salted into the preimage,
hex-parsed to int64 — deterministic and engine-portable, so the exact
same sketch is reproducible from DuckDB/any SQL engine (qs110's
oracle builds it in SQL).

Guarantees (standard CMS, Cormode & Muthukrishnan): estimate ≥ true
count always (counters only over-count on collisions); with width w
and depth d, P[error > e·N] ≤ (1/2^d-ish) for w ≈ 2/e — property-
tested in tests/test_sketches.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _bucket(item: Column, j: Column, width: int) -> Column:
    """Hash-function family: int64 of the first 8 md5 hex chars of
    ``j:item``, mod width. Engine-portable (DuckDB:
    ('0x'||substr(md5(...),1,8))::BIGINT % w)."""
    preimage = F.concat(j.cast("string"), F.lit(":"), item.cast("string"))
    return (
        F.conv(F.substring(F.md5(preimage), 1, 8), 16, 10).cast("long")
        % F.lit(width)
    ).alias("bucket")


def cms_build(
    df: DataFrame,
    item_col: str,
    depth: int = 4,
    width: int = 256,
    weight_col: str | None = None,
) -> DataFrame:
    """Build a ``(j, bucket, cnt)`` Count-Min sketch of ``item_col``
    occurrences (or of ``weight_col`` sums when given).

    One explode (×depth — a constant) and ONE shuffle on the composite
    (j, bucket) key whose cardinality is depth·width, with map-side
    partial aggregation collapsing each partition's stream before the
    exchange — at scale the shuffle carries at most depth·width rows
    per map task, independent of input size.
    """
    w = F.col(weight_col) if weight_col else F.lit(1)
    rows = (
        df.select(F.col(item_col).alias("__item"), w.alias("__w"))
        .select(
            F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("__j"),
            "__item",
            "__w",
        )
        .select(F.col("__j").cast("long").alias("j"), "__item", "__w")
    )
    return (
        rows.select("j", _bucket(F.col("__item"), F.col("j"), width), "__w")
        .groupBy("j", "bucket")
        .agg(F.sum("__w").cast("long").alias("cnt"))
    )


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Merge sketches built with the same (depth, width): counters are
    additive, so merge is union + sum — the property that lets each
    corpus shard sketch independently and a reducer combine results
    without touching raw data."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("j", "bucket").agg(F.sum("cnt").alias("cnt"))


def _hll_alpha_num(m: int) -> float:
    """alpha_m * m^2 * 2^40 precomputed driver-side so BOTH engines see
    the identical double literal (Python repr round-trips exactly) and
    the raw estimate is ONE IEEE-correctly-rounded division — the only
    float op on the raw path, hence bit-deterministic cross-engine."""
    alpha = 0.7213 / (1.0 + 1.079 / m)
    return alpha * m * m * float(1 << 40)


def hll_build(
    df: DataFrame, group_col: str, value_col: str, p: int = 10
) -> DataFrame:
    """Engine-portable HyperLogLog registers per group: ``(group, idx,
    r)`` with idx the bucket (low ``p`` bits of the md5-derived hash)
    and r the register value max(rank).

    Same relational-sketch philosophy as ``cms_build``: the sketch IS
    a DataFrame, so build is one groupBy (shuffle keyed on
    (group, idx) — at most ``groups x 2^p`` rows survive the map-side
    partial max regardless of input size), and merge is union + max.

    The hash family is the CMS one (md5 hex, engine-portable): bucket
    from hex chars 1-8, a 32-bit rank word w from hex chars 9-16, and
    rank = 33 - bitlength(w) (33 when w = 0) computed with INTEGER ops
    only (``length(bin(w))``) — no log2, whose last-ulp rounding could
    diverge engines. DuckDB rebuilds identical registers in SQL, which
    is what upgrades the HLL *estimate* from a rows-only check to a
    full value-hash oracle (qs90).

    Unlike ``text_analysis.distinct_sketch_by`` (Apache DataSketches
    HLL via hll_sketch_agg — the production-grade path, kept for its
    binary mergeable sketch column), this variant trades a few bits of
    accuracy for cross-engine reproducibility.
    """
    m = 1 << p
    md5c = F.md5(F.col(value_col).cast("string"))
    idx = F.conv(F.substring(md5c, 1, 8), 16, 10).cast("long") % F.lit(m)
    w = F.conv(F.substring(md5c, 9, 8), 16, 10).cast("long")
    rank = (
        F.when(w == 0, F.lit(33))
        .otherwise(F.lit(33) - F.length(F.bin(w)))
        .cast("int")
    )
    return (
        df.select(
            F.col(group_col), idx.alias("idx"), rank.alias("__rank")
        )
        .groupBy(group_col, "idx")
        .agg(F.max("__rank").alias("r"))
    )


def hll_merge(*sketches: DataFrame) -> DataFrame:
    """Merge register tables built with the same p: registers combine
    by max, so sharded builds union losslessly — merged-then-estimated
    equals estimated-over-the-union exactly (tested in
    tests/test_sketches.py)."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    cols = [c for c in out.columns if c not in ("idx", "r")]
    return out.groupBy(*cols, "idx").agg(F.max("r").alias("r"))


def hll_estimate(regs: DataFrame, group_col: str, p: int = 10) -> DataFrame:
    """Finalize registers to ``(group, estimate)`` (BIGINT).

    Determinism: the harmonic sum S = sum(2^-r) is computed as the
    EXACT integer sum(2^(40-r)) via shiftleft (every term and every
    partial sum is a multiple of 2^-40 bounded by 2^50, so the sum is
    order-independent and exact); empty registers contribute 2^40
    each. The raw estimate is one double division of exact operands
    (IEEE-correctly-rounded, engine-identical). The small-range
    linear-counting branch (E <= 2.5m with empty registers) uses
    m*ln(m/V) — ln is the one non-IEEE-pinned op, but the result is
    rounded to an integer and a last-ulp wobble is ~1e-13, the same
    cross-engine contract qs84's BM25 ln already relies on. The
    2^32-scale large-range correction is intentionally omitted
    (documented contract: per-group cardinality < ~100M; registers
    themselves stay exact far beyond that)."""
    m = 1 << p
    two40 = 1 << 40
    agg = regs.groupBy(group_col).agg(
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 40 - r)")).alias("sp"),
        F.count(F.lit(1)).alias("nb"),
    )
    v = (F.lit(m) - F.col("nb")).cast("long")
    s_scaled = (F.col("sp") + v * F.lit(two40)).cast("double")
    e_raw = F.lit(_hll_alpha_num(m)) / s_scaled
    est = (
        F.when(
            (e_raw <= F.lit(2.5 * m)) & (v > 0),
            F.round(F.lit(float(m)) * F.log(F.lit(float(m)) / v.cast("double"))),
        )
        .otherwise(F.round(e_raw))
        .cast("long")
    )
    return agg.select(F.col(group_col), est.alias("estimate"))


def hll_distinct_by(
    df: DataFrame, group_col: str, value_col: str, p: int = 10
) -> DataFrame:
    """Per-group approximate distinct count, hash-checkable: build +
    estimate in one plan (two shuffles, the second over at most
    ``groups x 2^p`` register rows)."""
    return hll_estimate(hll_build(df, group_col, value_col, p), group_col, p)


def hll_oracle_sql(
    table: str, group_col: str, value_col: str, p: int = 10
) -> str:
    """DuckDB SQL that rebuilds the exact registers and estimate of
    ``hll_distinct_by`` (shared so tests and the qs90 oracle cannot
    drift from the Spark implementation)."""
    m = 1 << p
    two40 = 1 << 40
    num = repr(_hll_alpha_num(m))
    return f"""
    WITH h AS (
      SELECT {group_col} AS g,
             ('0x' || substr(md5(CAST({value_col} AS VARCHAR)), 1, 8))::BIGINT
               % {m} AS idx,
             ('0x' || substr(md5(CAST({value_col} AS VARCHAR)), 9, 8))::BIGINT
               AS w
      FROM {table}),
    r AS (SELECT g, idx,
            MAX(CASE WHEN w = 0 THEN 33 ELSE 33 - length(bin(w)) END) AS r
          FROM h GROUP BY g, idx),
    a AS (SELECT g, SUM(1::BIGINT << (40 - r)) AS sp, COUNT(*) AS nb
          FROM r GROUP BY g),
    e AS (SELECT g, {m} - nb AS v,
            {num} / CAST(sp + ({m} - nb) * {two40} AS DOUBLE) AS e_raw
          FROM a)
    SELECT g AS {group_col},
           CAST(round(CASE WHEN e_raw <= {2.5 * m!r} AND v > 0
                           THEN {float(m)!r} * ln({float(m)!r} / v)
                           ELSE e_raw END) AS BIGINT) AS estimate
    FROM e
    """


def cms_estimate(
    sketch: DataFrame,
    items: DataFrame,
    item_col: str,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Point-query a batch of items: returns ``(item_col, est)`` with
    est = min over the depth rows the item hashes to (classic CMS
    upper-bound estimate). The probe side re-derives its (j, bucket)
    keys and joins the sketch — sketch side is depth·width rows, so
    Catalyst broadcasts it and the probe never shuffles."""
    probes = (
        items.select(F.col(item_col).alias("__item"))
        .distinct()
        .select(
            F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("__j"),
            "__item",
        )
        .select(F.col("__j").cast("long").alias("j"), "__item")
    )
    keyed = probes.select("j", "__item", _bucket(F.col("__item"), F.col("j"), width))
    return (
        # bcast: GRID depth x width CMS table (fixed sketch params)
        keyed.join(F.broadcast(sketch), ["j", "bucket"], "left")
        .groupBy(F.col("__item").alias(item_col))
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est"))
    )


# ---------------------------------------------------------------- Bloom
# Membership sketch, completing the trio: HLL = "how many distinct",
# CMS = "how often", Bloom = "have we seen X". 32-bit words keep every
# mask positive (bit 63 of an int64 word would flip sign in engines
# that lack unsigned — the portable-layout lesson).
BLOOM_WORD_BITS = 32


def _bloom_bits(
    item: Column, k: int, n_words: int, hash_family: str = "portable"
) -> Column:
    """Array of k bit positions for ``item`` in an n_words×32-bit
    filter. "portable" = the CMS md5 family ('j:item', first 8 hex
    chars → int64) — engine-reproducible, the oracle vehicle. "fast" =
    xxhash64(j, item) — native codegen, the production family (same
    knob story as the MinHash stack: measured ~4x on the md5-bound
    corpus ops; filters from different families never mix). pmod
    keeps fast-family positions non-negative (xxhash64 is signed)."""
    total_bits = n_words * BLOOM_WORD_BITS
    if hash_family == "fast":
        return F.array(
            *[
                F.pmod(F.xxhash64(F.lit(j), item), F.lit(total_bits))
                for j in range(k)
            ]
        )
    return F.array(
        *[
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit(f"{j}:"), item.cast("string"))), 1, 8
                    ),
                    16,
                    10,
                ).cast("long")
                % F.lit(total_bits)
            )
            for j in range(k)
        ]
    )


def bloom_build(
    df: DataFrame,
    item_col: str,
    k: int = 3,
    n_words: int = 64,
    hash_family: str = "portable",
) -> DataFrame:
    """Build a relational Bloom filter over ``item_col``: one
    ``(word, bits)`` row per 32-bit word, bits the OR of every member
    item's masks. Same relational-sketch philosophy as CMS/HLL: build
    is one explode (×k, constant) + ONE shuffle on the word index
    (≤ n_words rows reach the reduce — map-side bit_or collapses each
    partition first); merge of two filters is union + bit_or; the
    whole filter is a tiny broadcastable parquet table. This is the
    BFF shape (Bloom-filter dedup/decontamination as used by Dolma
    et al.) — the membership sketch a 100 TB pipeline probes INSTEAD
    of joining the benchmark corpus itself.
    """
    bits = df.select(
        F.explode(_bloom_bits(F.col(item_col), k, n_words, hash_family)).alias("bit")
    )
    return (
        bits.select(
            (F.col("bit") / BLOOM_WORD_BITS).cast("long").alias("word"),
            F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(bit % {BLOOM_WORD_BITS} AS INT))").alias("mask"),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )


def bloom_probe(
    df: DataFrame,
    bloom: DataFrame,
    item_col: str,
    id_col: str,
    k: int = 3,
    n_words: int = 64,
    hash_family: str = "portable",
) -> DataFrame:
    """Probe items against a built filter: one ``(id, item, hit)``
    row per input row, ``hit`` = 1 iff ALL k bit positions are set
    (Bloom semantics: no false negatives, false-positive rate bounded
    by (1-e^{-kn/m})^k).

    Physical shape: the k bit tests are k BROADCAST left joins (the
    filter is ≤ n_words rows), one per hash function, ANDed in a final
    projection — every probed row stays on its partition, zero shuffle
    of the probed corpus (an explode + per-(id,item) regroup would
    shuffle k rows per probe just to reassemble them). The filter is
    materialized once up front: each broadcast join is a separate
    consumer, and an unmaterialized build plan would re-run its scan +
    word aggregation k times (at scale the filter is a persisted table
    anyway — the build corpus must not be re-scanned per hash)."""
    # pin: bounded (filter table ≤ n_words rows) — localCheckpoint
    # IS the bounded policy (operators/pin.py); lazy: single consumer
    # chain builds it on first use.
    bloom = bloom.localCheckpoint(eager=False)
    bits = _bloom_bits(F.col(item_col), k, n_words, hash_family)
    out = df.select(
        F.col(id_col),
        F.col(item_col),
        *[bits[j].alias(f"_bit{j}") for j in range(k)],
    )
    for j in range(k):
        w = bloom.select(
            F.col("word").alias(f"_w{j}"), F.col("bits").alias(f"_bits{j}")
        )
        out = out.join(
            # bcast: BOUNDED bloom filter words, m/64 rows (fixed sketch param)
            F.broadcast(w),
            (F.col(f"_bit{j}") / BLOOM_WORD_BITS).cast("long") == F.col(f"_w{j}"),
            "left",
        )
    tests = [
        F.col(f"_bits{j}").isNotNull()
        & (
            F.col(f"_bits{j}").bitwiseAND(
                F.expr(
                    f"shiftleft(CAST(1 AS BIGINT), CAST(_bit{j} % {BLOOM_WORD_BITS} AS INT))"
                )
            )
            != 0
        )
        for j in range(k)
    ]
    all_set = tests[0]
    for t in tests[1:]:
        all_set = all_set & t
    return out.select(id_col, item_col, all_set.cast("long").alias("hit"))


def histogram_quantile_buckets(
    df: DataFrame,
    group_col: str,
    value_col: str,
    bucket_width: float,
    n_buckets: int = 128,
    quantiles: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Fixed-boundary histogram quantile sketch: per group, the lower
    bound of the bucket containing each requested quantile, plus the
    total count.

    The fourth relational sketch (HLL distinct / CMS frequency / Bloom
    membership / histogram QUANTILES): state is ≤ n_buckets integer
    counters per group regardless of input size, shards merge by
    adding counters, and unlike rank-based summaries (qs63's
    Greenwald-Khanna) the fixed boundaries make the result exactly
    reproducible in any engine — bucketing, cumulation, and the
    threshold pick are all integer arithmetic, no interpolation.
    Error is bounded by bucket_width by construction.

    One shuffle on (group, bucket) with map-side combine (≤ n_buckets
    rows per group per map task), then a window cumulation over the
    tiny histogram — at 100 TB the cost is the scan.
    """
    from pyspark.sql import Window

    bucket = F.least(
        F.greatest((F.col(value_col) / bucket_width).cast("long"), F.lit(0)),
        F.lit(n_buckets - 1),
    )
    hist = (
        df.select(F.col(group_col), bucket.alias("bucket"))
        .groupBy(group_col, "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = (
        Window.partitionBy(group_col)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.select(
        group_col,
        "bucket",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(Window.partitionBy(group_col)).alias("total"),
    )
    # Threshold rank for quantile q is ceil(q * total) — integer via
    # (total * q_num + q_den - 1) div q_den with q expressed as an
    # exact rational (percentile in 1/100ths).
    aggs = [F.max("total").alias("total")]
    for q in quantiles:
        q_num = int(round(q * 100))
        thresh = (F.col("total") * q_num + F.lit(99)) / F.lit(100)
        hit = F.when(F.col("cum") >= thresh.cast("long"), F.col("bucket"))
        aggs.append(
            (F.min(hit) * F.lit(bucket_width))
            .cast("long")
            .alias(f"q{q_num}_lo")
        )
    return cum.groupBy(group_col).agg(*aggs)
