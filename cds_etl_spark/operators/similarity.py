"""Similarity search over embedding columns (``array<float>``).

Three tiers, per SURVEY.md §7.1 M5:

* ``cosine_topk``      — exact brute-force top-k: the correctness
  baseline. Scan-parallel scoring + ``TakeOrderedAndProject`` (each
  partition keeps k rows, driver merges k·P) — no global sort ever
  materializes. This is the right plan even at 100 TB when k is small:
  one pass, no shuffle except the k-row-per-partition merge.
* ``ivf_assign`` / ``ivf_topk`` — IVF (inverted-file) ANN: vectors are
  partitioned by nearest coarse centroid at index-build time; a query
  probes only the ``nprobe`` nearest centroid buckets, cutting scanned
  rows to ~nprobe/n_centroids of the corpus. The assignment column
  doubles as the blocking key for embedding near-dup joins
  (operators/dedup.embedding_neardup_pairs).
* ``cosine_topk_pandas`` — Arrow-batched numpy variant of the scorer:
  same results, matrix–vector product per batch. Wins when the
  embedding dimension is large enough that per-element codegen loses
  to BLAS; kept as an alternative physical strategy for the same
  logical op.

Centroid choice for the ORACLE-CHECKED query (qs59) stays
deterministic first-C so DuckDB can replay the exact algorithm;
``kmeans_train`` fills the production slot — a seeded, deterministic
Lloyd trainer on a hash-sample whose (cid, cvec) output plugs
straight into ``ivf_assign``/``ivf_topk`` (recall-tested against
first-C on a planted-blob fixture in tests/test_similarity_lsh.py).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cds_etl_spark.operators.pin import cut_lineage
from pyspark.sql.types import DoubleType

from cds_etl_spark.functions.vector import cosine_similarity, dot_product, l2_norm


def cosine_topk(
    df: DataFrame,
    query_vec: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k of ``df`` against a single query vector
    (one-row DataFrame with column ``qvec``). The query side is
    broadcast; scoring fuses into the scan stage."""
    return (
        # bcast: ONE-ROW single query vector row
        df.join(F.broadcast(query_vec))
        .select(
            F.col(id_col),
            cosine_similarity(F.col(vec_col).cast("array<double>"), F.col("qvec")).alias(
                "sim"
            ),
        )
        .orderBy(F.col("sim").desc(), id_col)
        .limit(k)
    )


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cid_col: str = "cid",
    cvec_col: str = "cvec",
    dim: int | None = None,
) -> DataFrame:
    """Assign every vector to its nearest centroid (max cosine,
    centroid-id tiebreak): the IVF index build.

    Centroids (C rows) are broadcast; the argmax over the C-way
    crossJoin is a MAX-STRUCT aggregate keyed by vector id — map-side
    partial aggregation collapses each vector's C candidate rows
    before the exchange, so the shuffle carries ONE row per vector,
    not C·n (a window row_number here sort-shuffles the full C·n
    expansion — the r5 formulation; see BASELINE r6 ANN evidence for
    the end-to-end build numbers). Cosine is rounded to 6 dp before the argmax so near-ties
    resolve by centroid id identically on any engine (the max key is
    (sim, -cid): highest similarity, then smallest centroid id).
    """
    # With a known ``dim``, the cosine decomposes into an unrolled
    # dot product plus norms computed ONCE per side BEFORE the
    # crossjoin (n + C norm evaluations instead of 3·C·n HOF passes
    # over the expansion) — bit-identical values. For corpus-scale
    # assignment prefer ivf_assign_arrow (batched matmul: 294 s →
    # 12.8 s on 200k×64, C=64 — BASELINE r6 ANN evidence).
    if dim is not None:
        from cds_etl_spark.functions.vector import dot_product_fixed

        left = df.select(
            F.col(id_col),
            F.col(vec_col).cast("array<double>").alias("_v"),
        ).withColumn("_vn", l2_norm(F.col("_v")))
        right = centroids.select(
            F.col(cid_col),
            F.col(cvec_col),
            l2_norm(F.col(cvec_col)).alias("_cn"),
        )
        # bcast: BOUNDED K centroids (model parameter)
        scored = left.join(F.broadcast(right)).select(
            id_col,
            "_v",
            F.col(cid_col),
            F.round(
                dot_product_fixed(F.col("_v"), F.col(cvec_col), dim)
                / (F.col("_vn") * F.col("_cn")),
                6,
            ).alias("_sim"),
        )
    else:
        # r15 (guide §4.3/§8): norms once per SIDE before the C-way
        # expansion — cosine_similarity per pair ran three interpreted
        # HOF passes (dot + both self-dots) over every (vector,
        # centroid) row; dot/(vn*cn) associates exactly like
        # dot/(|a|*|b|), so the doubles are bit-identical.
        scored = (
            df.select(
                F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
            )
            .withColumn("_vn", l2_norm(F.col("_v")))
            .join(
                # bcast: BOUNDED K centroids (model parameter; r15 prenorm re-key of the same site)
                F.broadcast(
                    centroids.select(
                        F.col(cid_col),
                        F.col(cvec_col),
                        l2_norm(F.col(cvec_col)).alias("_cn"),
                    )
                )
            )
            .select(
                id_col,
                "_v",
                F.col(cid_col),
                F.round(
                    dot_product(F.col("_v"), F.col(cvec_col))
                    / (F.col("_vn") * F.col("_cn")),
                    6,
                ).alias("_sim"),
            )
        )
    best = scored.groupBy(id_col).agg(
        F.max_by(
            F.struct(F.col(cid_col).alias("c"), F.col("_v").alias("v")),
            F.struct(F.col("_sim"), (-F.col(cid_col)).alias("_nc")),
        ).alias("_best")
    )
    return best.select(
        F.col(id_col),
        F.col("_best.v").alias(vec_col),
        F.col("_best.c").alias(cid_col),
    )


def ivf_topk(
    assigned: DataFrame,
    centroids: DataFrame,
    query_vec: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cid_col: str = "cid",
    cvec_col: str = "cvec",
) -> DataFrame:
    """IVF search: rank centroids against the query, keep the best
    ``nprobe``, scan only vectors assigned to those buckets, exact
    top-k within. At scale the assigned table is *partitioned by cid*
    on disk, so the probe filter is partition pruning — the scan reads
    nprobe/C of the data."""
    probed = (
        # bcast: ONE-ROW single query vector row
        centroids.join(F.broadcast(query_vec))
        .select(
            F.col(cid_col),
            F.round(cosine_similarity(F.col(cvec_col), F.col("qvec")), 6).alias("_csim"),
        )
        .orderBy(F.col("_csim").desc(), F.col(cid_col))
        .limit(nprobe)
        .select(cid_col)
    )
    return (
        # bcast: TOPK nprobe probed centroid ids (.limit)
        assigned.join(F.broadcast(probed), cid_col)
        # bcast: ONE-ROW single query vector row
        .join(F.broadcast(query_vec))
        .select(
            F.col(id_col),
            F.round(cosine_similarity(F.col(vec_col), F.col("qvec")), 4).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), id_col)
        .limit(k)
    )


def kmeans_train(
    df: DataFrame,
    n_centroids: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iterations: int = 8,
    sample_mod: int = 1,
    seed: int = 0,
) -> DataFrame:
    """Deterministic seeded Lloyd's k-means over a hash-sample: the
    production centroid trainer for the IVF slot (``ivf_assign`` /
    ``ivf_topk`` accept its output directly as ``(cid, cvec)``).
    First-C centroids remain the choice for oracle replay (qs59);
    this trainer exists for recall.

    Determinism without RNG state: the training sample is
    ``xxhash64(id, seed) % sample_mod == 0`` (a fixed, engine-portable
    subset — at 100 TB train on ~1/1000th of the corpus, not all of
    it), and initialization takes the C sample vectors with the
    smallest hash — a seeded spread uncorrelated with insertion order,
    unlike first-C. Each Lloyd round is one broadcast-assign (same
    argmax as ivf_assign, cosine rounded to 6 dp) plus a narrow
    (cid, pos) mean aggregation; the C·dim means are collected and
    re-broadcast — the centroid set is driver-sized BY DEFINITION
    (it must broadcast for assignment anyway), so this collect is the
    algorithm, not a bottleneck. Component means round to 6 dp so
    accumulation-order noise can never flip a later assignment; empty
    clusters keep their previous centroid."""
    spark = df.sparkSession
    h = F.abs(F.xxhash64(F.col("_id").cast("string"), F.lit(seed)))
    sample = (
        df.select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).cast("array<double>").alias("_v"),
        )
        .filter((h % sample_mod) == 0 if sample_mod > 1 else F.lit(True))
    )
    sample = cut_lineage(sample)  # pin: corpus-scale (sampled corpus slice)
    init = (
        sample.withColumn("_h", h)
        .orderBy("_h", "_id")
        .limit(n_centroids)
        .select("_v")
        .collect()
    )
    centroids = [list(r["_v"]) for r in init]

    def _cdf(cents: list[list[float]]) -> DataFrame:
        return spark.createDataFrame(
            [(i, c) for i, c in enumerate(cents)], "cid int, cvec array<double>"
        )

    dim = len(centroids[0]) if centroids else 0
    for _ in range(iterations):
        assigned = ivf_assign(
            sample, _cdf(centroids), id_col="_id", vec_col="_v", dim=dim or None
        )
        means = (
            assigned.select("cid", F.posexplode("_v").alias("_pos", "_x"))
            .groupBy("cid", "_pos")
            .agg(F.round(F.avg("_x"), 6).alias("_m"))
            .groupBy("cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_pos", "_m"))),
                    lambda s: s["_m"],
                ).alias("_mean")
            )
            .collect()
        )
        nxt = list(centroids)
        for r in means:
            nxt[r["cid"]] = list(r["_mean"])
        centroids = nxt
    return _cdf(centroids)


def cosine_topk_pandas(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Arrow-batched brute-force scorer: numpy matrix–vector cosine per
    batch (BLAS), then the same TakeOrderedAndProject top-k. Identical
    results to cosine_topk; alternative physical strategy for wide
    embeddings."""
    import numpy as np

    q = np.asarray(query, dtype="float64")
    qn = float(np.sqrt((q * q).sum()))

    @F.pandas_udf(DoubleType())
    def _score(v: pd.Series) -> pd.Series:
        m = np.asarray(v.tolist(), dtype="float64")
        sims = (m @ q) / (np.sqrt((m * m).sum(axis=1)) * qn)
        return pd.Series(sims)

    return (
        df.select(F.col(id_col), _score(F.col(vec_col)).alias("sim"))
        .orderBy(F.col("sim").desc(), id_col)
        .limit(k)
    )


def lsh_sign_matrix(seed: int, n_bits: int, dim: int) -> list[list[int]]:
    """Deterministic ±1 hyperplane components from md5 parity — pure
    Python, no RNG state, so the identical matrix is reproducible by
    any engine (or generated into SQL text, as qs112's oracle does)."""
    import hashlib

    return [
        [
            1
            if hashlib.md5(f"{seed}:{i}:{d}".encode()).digest()[0] & 1
            else -1
            for d in range(dim)
        ]
        for i in range(n_bits)
    ]


def hyperplane_lsh_assign(
    df: DataFrame,
    dim: int,
    n_bits: int = 16,
    seed: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Random-hyperplane (signed-projection) LSH bucketing: bucket =
    the n_bits sign pattern of the vector's dot products with ±1
    hyperplanes. Cosine-similar vectors collide with probability
    1 - angle/pi per bit — the LSH-family counterpart of the IVF index
    above (data-independent: no centroid training pass, stable under
    corpus drift).

    Scale shape: the whole bucket computation is ONE projection fused
    into the scan — unrolled ±sums over the vector components, no
    explode, no join, no shuffle, no Python. Writing the result
    partitioned by ``bucket`` turns probes into partition pruning,
    exactly like the IVF layout. Sums run left-to-right in doubles, so
    bucket ids are bit-identical across engines.
    """
    signs = lsh_sign_matrix(seed, n_bits, dim)
    v = F.col(vec_col).cast("array<double>")
    bucket = None
    for i, row in enumerate(signs):
        dot = None
        for d, s in enumerate(row):
            term = v[d] if s > 0 else -v[d]
            dot = term if dot is None else dot + term
        bit = F.when(dot >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return df.select(
        F.col(id_col), F.col(vec_col), bucket.cast("long").alias("bucket")
    )


def lsh_topk(
    assigned: DataFrame,
    query_vec: DataFrame,
    dim: int,
    k: int = 10,
    n_bits: int = 16,
    seed: int = 0,
    multiprobe: bool = True,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN search over ``hyperplane_lsh_assign`` output: hash the query
    with the same hyperplanes, probe its bucket (plus, with
    ``multiprobe``, every 1-bit-flip neighbor — the standard recall
    repair for boundary vectors), exact cosine top-k within the probed
    set. Probe set is ≤ n_bits+1 bucket ids — a broadcast semi-join /
    partition prune; the corpus outside those buckets is never read."""
    qb = hyperplane_lsh_assign(
        query_vec.select(F.lit(-1).alias(id_col), F.col("qvec").alias(vec_col)),
        dim=dim,
        n_bits=n_bits,
        seed=seed,
        id_col=id_col,
        vec_col=vec_col,
    ).select("bucket")
    if multiprobe:
        flips = F.array(
            F.col("bucket"),
            *[
                F.col("bucket").bitwiseXOR(F.lit(1 << i))
                for i in range(n_bits)
            ],
        )
        probes = qb.select(F.explode(flips).alias("bucket")).distinct()
    else:
        probes = qb
    return (
        # bcast: TOPK query bucket + n_bits flips, <= n_bits+1 rows
        assigned.join(F.broadcast(probes), "bucket")
        # bcast: ONE-ROW single query vector row
        .join(F.broadcast(query_vec))
        .select(
            F.col(id_col),
            F.round(
                cosine_similarity(F.col(vec_col).cast("array<double>"), F.col("qvec")),
                4,
            ).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), id_col)
        .limit(k)
    )


def pq_encode(
    df: DataFrame,
    codebooks: DataFrame,
    n_sub: int = 4,
    sub_dim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "dot",
) -> DataFrame:
    """Product-quantization encode (Jégou et al. 2011): split each
    vector into ``n_sub`` sub-vectors and replace each with the id of
    its best-matching sub-codeword (max dot product, codeword-id
    tiebreak). Output: one (id, sub, code) row per sub-space — the PQ
    code table, n_sub small integers per vector instead of the vector.

    ``codebooks`` is (sub, code, cwvec): K codewords per sub-space,
    broadcast everywhere (K·n_sub rows — hundreds, driver-sized). The
    argmax is a broadcast-crossjoin + MAX-STRUCT aggregate (rounded to
    6 dp pre-argmax for engine-portable ties): lexicographic max gets
    map-side partial aggregation, so the shuffle carries one row per
    (vector, sub) — K× less than a windowed row_number would ship.
    At 100 TB the encode is one scan projection; the 64× compression
    (64 floats → 4 bytes here) is what makes billion-vector ANN RAM-
    resident.
    """
    subs = df.select(
        F.col(id_col),
        F.posexplode(
            F.array(
                *[
                    F.slice(F.col(vec_col).cast("array<double>"), s * sub_dim + 1, sub_dim)
                    for s in range(n_sub)
                ]
            )
        ).alias("sub", "_sv"),
    )
    # metric="dot": argmax inner product (the qs151 oracle contract).
    # metric="l2": proper reconstruction encoding — argmin Euclidean
    # distance, expressed as argmax(2·s·c − ‖c‖²) since ‖s‖² is
    # constant per (vector, sub) and cannot change the argmin. The
    # dot form ranks large-norm codewords up regardless of fit, which
    # is fine when both engines replay it (oracle parity) but wrecks
    # reconstruction quality — measured recall@10 0.0 vs 0.69 on
    # planted clusters (BASELINE r6 ANN evidence).
    if metric == "l2":
        fit = F.round(
            2 * dot_product(F.col("_sv"), F.col("cwvec"))
            - dot_product(F.col("cwvec"), F.col("cwvec")),
            6,
        )
    else:
        fit = F.round(dot_product(F.col("_sv"), F.col("cwvec")), 6)
    # bcast: BOUNDED 256 x n_sub codebook (model parameter)
    scored = subs.join(F.broadcast(codebooks), "sub").select(
        id_col,
        "sub",
        F.col("code"),
        fit.alias("_d"),
    )
    return (
        scored.groupBy(id_col, "sub")
        .agg(
            F.max(
                F.struct(F.col("_d"), (-F.col("code")).alias("_nc"), F.col("code"))
            ).alias("_b")
        )
        .select(id_col, "sub", F.col("_b.code").alias("code"))
    )


def pq_adc_topk(
    codes: DataFrame,
    codebooks: DataFrame,
    query_vec: DataFrame,
    k: int = 10,
    n_sub: int = 4,
    sub_dim: int = 16,
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance PQ search: precompute the query's dot
    product against every codeword (a K·n_sub lookup table, broadcast),
    then score every encoded vector as the SUM of its n_sub table
    entries — never touching the original vectors.

    Determinism: each table entry is rounded to integer micro-units
    (ROUND(dot·1e6) → BIGINT) so the per-vector sum is exact integer
    arithmetic — accumulation order cannot flip a rank, unlike a float
    sum of rounded doubles (the "round the small side, keep the big
    side integer" pattern). Returns (id, score_e6) top-k, id tiebreak.
    """
    lut = (
        # bcast: ONE-ROW single query vector row
        codebooks.join(F.broadcast(query_vec))
        .select(
            "sub",
            "code",
            F.round(
                dot_product(
                    F.col("cwvec"),
                    F.slice(F.col("qvec"), F.col("sub") * sub_dim + 1, sub_dim),
                )
                * 1_000_000
            )
            .cast("long")
            .alias("_e6"),
        )
    )
    return (
        # bcast: GRID 256 x n_sub ADC lookup table
        codes.join(F.broadcast(lut), ["sub", "code"])
        .groupBy(id_col)
        .agg(F.sum("_e6").alias("score_e6"))
        .orderBy(F.col("score_e6").desc(), id_col)
        .limit(k)
    )


def ivf_assign_arrow(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cid_col: str = "cid",
    cvec_col: str = "cvec",
) -> DataFrame:
    """Arrow/BLAS strategy for the IVF assignment — the production
    twin of ``ivf_assign`` (the semantic_dedup_arrow precedent): the
    C×dim centroid matrix collects to the driver (driver-sized BY
    DEFINITION — it must broadcast for assignment anyway) and each
    Arrow batch scores as ONE numpy matmul ``V @ C.T`` instead of a
    C-way row expansion. Measured 200k×64, C=64: the matmul pass is
    ~2 s where the relational expansion needs ~30 s of well-
    partitioned expression evaluation (and minutes if the input
    partitioning is skewed — a batched map inherits partitioning but
    never EXPANDS rows, so skew hurts C× less).

    Tie semantics match ``ivf_assign`` exactly: cosine rounded to
    6 dp, ties take the smallest centroid id (numpy argmax returns
    the first maximum; centroid rows are ordered by cid) — the
    equivalence is unit-tested, so either strategy can back qs59's
    oracle contract."""
    import numpy as np
    import pandas as pd
    from collections.abc import Iterator

    rows = sorted(
        centroids.select(cid_col, cvec_col).collect(), key=lambda r: r[cid_col]
    )
    cids = np.array([r[cid_col] for r in rows], dtype=np.int64)
    C = np.array([list(r[cvec_col]) for r in rows], dtype=np.float64)
    Cn = np.linalg.norm(C, axis=1)
    Cn[Cn == 0] = 1.0

    def _assign(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            Vn = np.linalg.norm(V, axis=1)
            Vn[Vn == 0] = 1.0
            sims = np.round((V @ C.T) / np.outer(Vn, Cn), 6)
            best = cids[np.argmax(sims, axis=1)]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    vec_col: pdf[vec_col],
                    cid_col: best.astype(np.int32),
                }
            )

    schema = f"{id_col} long, {vec_col} array<double>, {cid_col} int"
    return df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias(vec_col)
    ).mapInPandas(_assign, schema=schema)


def pq_train_codebooks(
    df: DataFrame,
    n_sub: int = 4,
    sub_dim: int = 16,
    k: int = 16,
    sample_mod: int = 50,
    iterations: int = 10,
    seed: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Train PQ sub-space codebooks (Jégou et al. 2011 §III): per
    sub-space, k-means over a deterministic hash-sample of the
    corpus's sub-vectors. The training set is a driver-sized sample
    BY DESIGN (a codebook is k·sub_dim floats — hundreds of values —
    and PQ quality saturates with a few thousand training points per
    sub-space), so Lloyd runs in numpy on the collected sample: no
    per-iteration Spark jobs, no RNG (hash-sample + smallest-hash
    init, the kmeans_train determinism contract).

    Returns (sub, code, cwvec) ready for ``pq_encode``/``pq_adc_topk``.
    Against planted-cluster data this lifts recall@10 from noise
    (untrained random codewords) to ~search-grade — the honest "PQ
    needs trained codebooks" knob, measured in BASELINE."""
    import numpy as np

    h = F.abs(F.xxhash64(F.col(id_col).cast("string"), F.lit(seed)))
    sample_rows = (
        df.select(
            F.col(vec_col).cast("array<double>").alias("_v"),
            h.alias("_h"),
        )
        .filter((F.col("_h") % sample_mod) == 0 if sample_mod > 1 else F.lit(True))
        .orderBy("_h")
        .limit(50_000)
        .collect()
    )
    X = np.array([list(r["_v"]) for r in sample_rows], dtype=np.float64)
    out = []
    for s in range(n_sub):
        Xs = X[:, s * sub_dim : (s + 1) * sub_dim]
        cents = Xs[:k].copy()  # rows arrive in hash order — seeded spread
        for _ in range(iterations):
            d2 = ((Xs[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(k):
                m = Xs[assign == c]
                if len(m):
                    cents[c] = m.mean(axis=0)
        cents = np.round(cents, 6)
        for c in range(k):
            out.append((s, c, [float(x) for x in cents[c]]))
    return df.sparkSession.createDataFrame(
        out, "sub int, code int, cwvec array<double>"
    )


def lsh_bucket_py(vec, n_bits: int = 16, seed: int = 0) -> int:
    """Driver-side twin of ``hyperplane_lsh_assign``'s bucket
    expression: the sign matrix is plain Python (``lsh_sign_matrix``)
    and the ±sum replays the JVM expression's exact left-to-right
    IEEE-double accumulation (first term initializes, subsequent
    terms add in component order), so the bucket id is BIT-IDENTICAL
    to what the scan-fused expression computes — parity is
    unit-tested. Lets a caller with the query vector in hand compute
    its probe set without running Spark jobs."""
    signs = lsh_sign_matrix(seed, n_bits, len(vec))
    bucket = 0
    for i, row in enumerate(signs):
        dot = None
        for d, s in enumerate(row):
            term = float(vec[d]) if s > 0 else -float(vec[d])
            dot = term if dot is None else dot + term
        if dot is not None and dot >= 0:
            bucket |= 1 << i
    return bucket


def lsh_topk_fast(
    assigned: DataFrame,
    qvec: list,
    k: int = 10,
    n_bits: int = 16,
    seed: int = 0,
    multiprobe: bool = True,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Low-latency LSH search when the query vector is driver-side
    (the serving path): the probe bucket set computes in Python
    (``lsh_bucket_py`` — bit-identical to the scan expression) and
    lands in the plan as a LITERAL ``isin`` filter, so the whole
    search is ONE job — filter (partition-prunable on a
    bucket-partitioned layout) + fused cosine + TakeOrderedAndProject
    — instead of ``lsh_topk``'s hash-the-query sub-jobs. Measured
    4.6 s → sub-second per query on the r6 ANN evidence set; results
    identical (same probe set, same exact re-rank)."""
    b = lsh_bucket_py(qvec, n_bits, seed)
    probes = [b] + ([b ^ (1 << i) for i in range(n_bits)] if multiprobe else [])
    qlit = F.array(*[F.lit(float(x)) for x in qvec])
    return (
        assigned.filter(F.col("bucket").isin(probes))
        .select(
            F.col(id_col),
            F.round(
                cosine_similarity(F.col(vec_col).cast("array<double>"), qlit),
                4,
            ).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), id_col)
        .limit(k)
    )


def ivfpq_build(
    df: DataFrame,
    centroids: DataFrame,
    n_sub: int = 4,
    sub_dim: int = 16,
    k_codes: int = 16,
    sample_mod: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    use_arrow: bool = False,
):
    """IVF-PQ index build (the canonical billion-scale ANN structure,
    Jégou et al. 2011 §IV): vectors are assigned to their coarse
    centroid (IVF), and product quantization encodes the RESIDUAL
    v − c(v) rather than v itself — residuals concentrate near the
    origin, so the same codebook budget spends its resolution where
    the data actually is. Composes the existing pieces: ``ivf_assign``
    → residual projection → ``pq_train_codebooks``/``pq_encode`` with
    ``metric="l2"`` (reconstruction encoding).

    Returns ``(codes, codebooks)``: codes is one (id, cid, sub, code)
    row per sub-space — the whole index is 1 coarse id + n_sub small
    codes per vector. Scale: assignment and encode are broadcast
    crossjoin + max-struct aggregates (one shuffled row per vector
    resp. (vector, sub)); residual subtraction is a row-local
    zip_with; training collects only a driver-sized hash-sample.
    ``use_arrow`` routes coarse assignment through the batched-matmul
    strategy (ivf_assign_arrow — the corpus-scale path, 294 s → 13 s
    at 200k×64 per the BASELINE ANN evidence)."""
    if use_arrow:
        assigned = ivf_assign_arrow(
            df, centroids, id_col=id_col, vec_col=vec_col
        )
    else:
        assigned = ivf_assign(
            df, centroids, id_col=id_col, vec_col=vec_col
        )
    res = (
        assigned.join(
            # bcast: BOUNDED K centroids (model parameter)
            F.broadcast(centroids.select("cid", "cvec")), "cid"
        )
        .select(
            F.col(id_col),
            F.col("cid"),
            F.expr(
                f"zip_with({vec_col}, cvec, (a, b) -> a - b)"
            ).alias(vec_col),
        )
    )
    books = pq_train_codebooks(
        res,
        n_sub=n_sub,
        sub_dim=sub_dim,
        k=k_codes,
        sample_mod=sample_mod,
        id_col=id_col,
        vec_col=vec_col,
    )
    codes = pq_encode(
        res,
        books,
        n_sub=n_sub,
        sub_dim=sub_dim,
        id_col=id_col,
        vec_col=vec_col,
        metric="l2",
    )
    return codes.join(res.select(id_col, "cid"), id_col), books


def ivfpq_topk(
    codes: DataFrame,
    codebooks: DataFrame,
    centroids: DataFrame,
    query_vec: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    n_sub: int = 4,
    sub_dim: int = 16,
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF-PQ search: probe the ``nprobe`` centroids with the highest
    query dot product, then ADC-score only their lists —
    dot(q, v̂) = dot(q, c) + Σ_sub dot(q_sub, codeword_sub), i.e. the
    per-centroid constant plus the residual lookup-table sum. Never
    touches an original vector.

    Determinism: the pq_adc_topk contract — every LUT entry and the
    centroid term are ROUND(dot·1e6) → BIGINT, so each candidate's
    score is an exact integer sum (accumulation order cannot flip a
    rank), top-k ties break by id. Scale: probes and LUT are
    driver-sized broadcasts; the only shuffle is the per-candidate
    n_sub-row sum, over the probed lists only (≈ nprobe/C of the
    corpus)."""
    qd = F.round(
        dot_product(F.col("cvec"), F.col("qvec")) * 1_000_000
    ).cast("long")
    probes = (
        # bcast: ONE-ROW single query vector row
        centroids.join(F.broadcast(query_vec))
        .select("cid", qd.alias("_c_e6"))
        .orderBy(F.col("_c_e6").desc(), "cid")
        .limit(nprobe)
    )
    # bcast: ONE-ROW single query vector row
    lut = codebooks.join(F.broadcast(query_vec)).select(
        "sub",
        "code",
        F.round(
            dot_product(
                F.col("cwvec"),
                F.slice(
                    F.col("qvec"), F.col("sub") * sub_dim + 1, sub_dim
                ),
            )
            * 1_000_000
        )
        .cast("long")
        .alias("_e6"),
    )
    # bcast: TOPK nprobe probed centroid ids (.limit)
    cand = codes.join(F.broadcast(probes), "cid")
    return (
        # bcast: GRID 256 x n_sub ADC lookup table
        cand.join(F.broadcast(lut), ["sub", "code"])
        .groupBy(id_col, "_c_e6")
        .agg(F.sum("_e6").alias("_r_e6"))
        .select(
            id_col,
            (F.col("_c_e6") + F.col("_r_e6")).alias("score_e6"),
        )
        .orderBy(F.col("score_e6").desc(), id_col)
        .limit(k)
    )
