"""Distributed prefix sums: ordered running totals WITHOUT the
single-task global window.

A ``Window.orderBy`` with no partition moves every row to ONE
task — the classic scale cliff behind midrank tables (qs243/qs271),
Lorenz curves and any "cumulative X by sorted Y" epilogue: on a
1000-executor cluster the whole frame still sorts on one core. The
two-level formulation here keeps the running total EXACT while
spreading the sort:

1. rows bucket by integer value range (``(v - min) DIV width`` —
   order-aligned by construction, no sampling, no nondeterministic
   partition ids, AQE-proof);
2. an in-bucket cumulative window runs per (group, bucket) — one
   task per bucket, fully parallel;
3. bucket totals (≤ ``n_buckets`` rows per group) take their own
   tiny cumulative window, and each bucket's EXCLUSIVE running
   offset broadcast-joins back on (group, bucket).

Every quantity is an exact integer sum, so the result is
bit-identical to the serial window (equality-tested in
tests/test_prefix.py) — only the physical plan changes.

Reference parity: the reference sorts whole pandas frames in one
process (/root/reference/cds_transformation_functions.py — single-
node semantics); this module is how the same ordered-accumulation
semantics survive a 100 TB corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# DataType.simpleString() spellings (NOT the Python-style aliases:
# ByteType → 'tinyint', ShortType → 'smallint', LongType → 'bigint').
_INTEGRAL_TYPES = ("tinyint", "smallint", "int", "bigint")


def _guard_span(bounds: DataFrame, fname: str) -> DataFrame:
    """Fail loudly (both ANSI modes) if a group's order-value span
    exceeds int64 — under ANSI-off Spark ``_mx - _mn`` would wrap
    silently and bucket ids would lose order alignment. The check
    runs in DECIMAL on the tiny per-group bounds frame (one row per
    group), so it costs nothing per data row."""
    return bounds.withColumn(
        "_mn",
        F.expr(
            "CASE WHEN CAST(_mx AS DECIMAL(21,0)) - CAST(_mn AS DECIMAL(21,0))"
            " > 9223372036854775807"
            f" THEN CAST(raise_error('{fname}: order-column span exceeds"
            " int64; bucket arithmetic would wrap') AS BIGINT)"
            " ELSE _mn END"
        ),
    )


def _null_safe_equi_join(
    df: DataFrame, small: DataFrame, keys: list[str]
) -> DataFrame:
    """Equi-join `df` to the broadcast-sized `small` on `keys`,
    matching NULL keys to NULL keys (r15 NULL axis): the plain
    USING-list join drops NULL-keyed partitions silently — a
    `part_cols` group whose key is NULL lost its bounds/offset row
    and vanished from the output. The small side's key columns are
    renamed away and dropped after the join, preserving `df`'s
    column set exactly like the USING form did."""
    renamed = small
    for k in keys:
        renamed = renamed.withColumnRenamed(k, f"_nsj_{k}")
    cond = None
    for k in keys:
        c = df[k].eqNullSafe(renamed[f"_nsj_{k}"])
        cond = c if cond is None else (cond & c)
    # bcast: GRID shared null-safe form of the bounds/offset joins above: per-partition min/max span (one row per part key) or per-bucket offsets (n_buckets rows)
    return df.join(F.broadcast(renamed), cond).drop(
        *[f"_nsj_{k}" for k in keys]
    )


def bucketed_prefix_sum(
    df: DataFrame,
    order_col: str,
    weight_col,
    out_col,
    part_cols: tuple[str, ...] = (),
    n_buckets: int = 1024,
) -> DataFrame:
    """Inclusive running SUM(``weight_col``) ordered by
    ``order_col`` (ascending) within each ``part_cols`` group,
    returned as ``out_col`` — exact-integer equal to
    ``F.sum(weight).over(Window.partitionBy(*part_cols)
    .orderBy(order_col).rowsBetween(unboundedPreceding, 0))``
    but parallel over ``n_buckets`` range buckets per group.
    ``weight_col``/``out_col`` may be lists of equal length: every
    weight shares the single bucketed window/offset pass (the
    two-ECDF shape of KS-style tests).

    Requirements: ``order_col`` is an integral type (the bucket
    arithmetic is exact integer division) and UNIQUE within its
    group (the usual shape — callers run it over a distinct-value
    count table, where ties were already collapsed; with duplicate
    keys an inclusive running sum is ordering-ambiguous in the
    serial form too). Weights must be integral for the exactness
    guarantee to hold. The order values' span must fit in int64
    (``max - min <= 2^63 - 1``) — a range that wide (e.g. negated
    keys near LONG_MIN against positives near LONG_MAX) would wrap
    the bucket arithmetic; the bounds pass checks the span in
    DECIMAL and raises instead of mis-bucketing.
    """
    weights = (
        [weight_col] if isinstance(weight_col, str) else list(weight_col)
    )
    outs = [out_col] if isinstance(out_col, str) else list(out_col)
    if len(weights) != len(outs):
        raise ValueError("weight_col/out_col length mismatch")
    pc = list(part_cols)
    gb = df.groupBy(*pc) if pc else df.groupBy()
    bounds = _guard_span(
        gb.agg(
            F.min(order_col).alias("_mn"),
            F.max(order_col).alias("_mx"),
        ),
        "bucketed_prefix_sum",
    )
    b = (
        _null_safe_equi_join(df, bounds, pc)
        if pc
        # bcast: GRID per-partition min/max span, one row per part key
        else df.crossJoin(F.broadcast(bounds))
    )
    # width = range DIV n_buckets + 1: exact integer division (no
    # float rounding near the int64 edge, no (v-mn)*n_buckets
    # blowup), so bucket ids are order-aligned by construction.
    b = (
        b.withColumn(
            "_w",
            F.expr(f"(_mx - _mn) DIV {int(n_buckets)}") + F.lit(1),
        )
        .withColumn(
            "_bkt", F.expr(f"(`{order_col}` - _mn) DIV _w")
        )
        .drop("_mn", "_mx", "_w")
    )
    win_in = (
        Window.partitionBy(*pc, "_bkt")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    for j, wcol in enumerate(weights):
        b = b.withColumn(f"_cum_in{j}", F.sum(wcol).over(win_in))
    btot = b.groupBy(*pc, "_bkt").agg(
        *[F.sum(w).alias(f"_tot{j}") for j, w in enumerate(weights)]
    )
    win_b = (
        Window.partitionBy(*pc)
        .orderBy("_bkt")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    boff = btot.select(
        *pc,
        "_bkt",
        *[
            (F.sum(f"_tot{j}").over(win_b) - F.col(f"_tot{j}")).alias(
                f"_off{j}"
            )
            for j in range(len(weights))
        ],
    )
    out = _null_safe_equi_join(b, boff, pc + ["_bkt"])
    drop = ["_bkt"]
    for j, oc in enumerate(outs):
        out = out.withColumn(
            oc, F.col(f"_cum_in{j}") + F.col(f"_off{j}")
        )
        drop += [f"_cum_in{j}", f"_off{j}"]
    return out.drop(*drop)


def bucketed_row_number(
    df: DataFrame,
    bucket_key_col: str,
    order_cols: list,
    out_col: str,
    part_cols: tuple[str, ...] = (),
    n_buckets: int = 1024,
) -> DataFrame:
    """Global ``row_number`` over ``order_cols`` (within
    ``part_cols`` groups) without the single-task global sort:
    rows range-bucket on ``bucket_key_col`` — an INTEGRAL column
    that must be a monotone non-decreasing coarsening of the total
    order (e.g. the first sort column, negated for descending) —
    take an in-bucket ``row_number`` over the full ``order_cols``,
    and add each bucket's exclusive running row count. Ties of the
    bucket key always land in one bucket, so the composite order's
    tiebreakers only ever act locally. As in
    :func:`bucketed_prefix_sum`, the bucket key's span must fit in
    int64 — the bounds pass checks and raises otherwise."""
    pc = list(part_cols)
    gb = df.groupBy(*pc) if pc else df.groupBy()
    bounds = _guard_span(
        gb.agg(
            F.min(bucket_key_col).alias("_mn"),
            F.max(bucket_key_col).alias("_mx"),
        ),
        "bucketed_row_number",
    )
    b = (
        _null_safe_equi_join(df, bounds, pc)
        if pc
        # bcast: GRID per-partition min/max span, one row per part key
        else df.crossJoin(F.broadcast(bounds))
    )
    b = (
        b.withColumn(
            "_w",
            F.expr(f"(_mx - _mn) DIV {int(n_buckets)}") + F.lit(1),
        )
        .withColumn(
            "_bkt", F.expr(f"(`{bucket_key_col}` - _mn) DIV _w")
        )
        .drop("_mn", "_mx", "_w")
    )
    win_in = Window.partitionBy(*pc, "_bkt").orderBy(*order_cols)
    b = b.withColumn("_rn_in", F.row_number().over(win_in))
    btot = b.groupBy(*pc, "_bkt").agg(F.count(F.lit(1)).alias("_c"))
    win_b = (
        Window.partitionBy(*pc)
        .orderBy("_bkt")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    boff = btot.select(
        *pc,
        "_bkt",
        (F.sum("_c").over(win_b) - F.col("_c")).alias("_off"),
    )
    return (
        _null_safe_equi_join(b, boff, pc + ["_bkt"])
        .withColumn(
            out_col, (F.col("_rn_in") + F.col("_off")).cast("long")
        )
        .drop("_bkt", "_rn_in", "_off")
    )


def capped_row_number(
    df: DataFrame,
    part_cols,
    order_cols,
    k: int,
    out_col: str = "pos",
    n_salts: int = 64,
) -> DataFrame:
    """Per-group top-``k`` with ranks — ``row_number() OVER
    (PARTITION BY part_cols ORDER BY order_cols)`` kept only where
    ``<= k`` — WITHOUT putting each group's entire row set in one
    task. With few groups (the qs105 shape: 5 sources over the whole
    corpus) the plain window is a handful of tasks forever; here each
    row first salts into one of ``n_salts`` sub-partitions by a
    deterministic hash of its order key, a local window takes the
    per-salt top-k (a SUPERSET-preserving prune: any global top-k row
    is in its salt bucket's top-k), and the final window ranks only
    the ≤ ``k * n_salts`` survivors per group. Both shuffles are
    parallel; the second input is candidate-sized.

    ``order_cols`` must be a UNIQUE total order within each group
    (the usual deterministic-cap contract — qs105 orders by
    (md5(id), id)); with duplicates the kept set would be
    ordering-ambiguous in the serial window too. Equality with the
    serial form is pinned in tests/test_prefix.py."""
    pc = list(part_cols)
    oc = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    # Deterministic salt from the order key itself (xxhash64 is
    # stable across runs/partitionings), so the plan is reproducible
    # — though correctness only needs the superset property, which
    # holds under ANY salt assignment.
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(*oc), F.lit(int(n_salts)))
    )
    w_local = Window.partitionBy(*pc, "_salt").orderBy(*oc)
    cand = (
        salted.withColumn("_lr", F.row_number().over(w_local))
        .filter(F.col("_lr") <= k)
        .drop("_lr", "_salt")
    )
    w_final = Window.partitionBy(*pc).orderBy(*oc)
    return cand.withColumn(
        out_col, F.row_number().over(w_final)
    ).filter(F.col(out_col) <= k)


def ntile_from_rank(
    rank_col: str, total_col: str, n: int
):
    """Spark/DuckDB ``NTILE(n)`` tile id from a 1-based rank and
    the partition row count: both engines fill LARGER TILES FIRST
    (first ``N mod n`` tiles get ``N DIV n + 1`` rows). Pure integer
    expression — pair with :func:`bucketed_row_number` for a
    cluster-parallel ntile."""
    size = F.expr(f"`{total_col}` DIV {int(n)}")
    rem = F.col(total_col) - size * n
    big = rem * (size + 1)
    # Both branches are pure integer DIV so the tile id stays exact
    # at any partition size (float floor-division loses exactness
    # past 2^53 rows). The otherwise branch only fires when
    # rank > big, which requires size >= 1, so its DIV denominator
    # is never zero.
    rem_sql = f"(`{total_col}` - (`{total_col}` DIV {int(n)}) * {int(n)})"
    big_sql = f"({rem_sql} * ((`{total_col}` DIV {int(n)}) + 1))"
    return (
        F.when(
            F.col(rank_col) <= big,
            F.expr(f"(`{rank_col}` - 1) DIV (`{total_col}` DIV {int(n)} + 1)"),
        )
        .otherwise(
            rem
            + F.expr(
                f"(`{rank_col}` - 1 - {big_sql})"
                f" DIV (`{total_col}` DIV {int(n)})"
            )
        )
        + 1
    )


def scalable_ntile(
    df: DataFrame,
    metric_col: str,
    tiebreak_col: str,
    out_col: str,
    n: int,
    n_buckets: int = 1024,
) -> DataFrame:
    """``NTILE(n) OVER (ORDER BY metric, tiebreak)`` — single-metric
    convenience wrapper over :func:`scalable_ntile_multi`."""
    return scalable_ntile_multi(
        df, [(metric_col, out_col)], tiebreak_col, n, n_buckets
    )


def scalable_ntile_multi(
    df: DataFrame,
    metrics: list,
    tiebreak_col: str,
    n: int,
    n_buckets: int = 1024,
) -> DataFrame:
    """``NTILE(n) OVER (ORDER BY metric_j, tiebreak)`` for SEVERAL
    metrics at once, without ranking a single row: a tile assignment
    only needs each ordering's n-1 BOUNDARY pairs. Boundary ranks
    follow the engines' larger-tiles-first rule
    (r_i = i·(N DIV n) + min(i, N mod n)); boundary metric values
    come from an (exclusive, inclusive] probe of per-metric
    distinct-value running counts (:func:`bucketed_prefix_sum`,
    grouped by metric name — parallel); within-value tiebreak
    elements from a per-(metric, value) ``row_number`` (never
    global); and every row's tiles are
    1 + #{boundaries strictly below} against ONE broadcast pivot row
    holding all metrics' boundaries. No global sort exists anywhere
    in the plan, and the full frame is scanned ~3× TOTAL regardless
    of how many metrics are tiled (the long-format explode feeds
    every metric's counts and ties at once) — chaining or branching
    one-metric calls instead re-evaluates the input per call, which
    is exactly the compounding this entry point exists to avoid.

    ``metrics`` is ``[(metric_col, out_col), ...]``; metric columns
    must be integral (bucket arithmetic), and ``(metric_col,
    tiebreak_col)`` unique per row (ntile over a non-unique order is
    ambiguous in the serial form too). Order columns must be
    non-NULL (the bucket arithmetic and the serial window's
    nulls-first rule diverge; every in-repo caller feeds count/key
    tables where NULL cannot occur). The tiebreak column must also
    be integral and non-NULL — it is compared as BIGINT, and a
    non-integral type (e.g. a string key) would cast to NULL and
    silently mis-tile, so the types are asserted up front.
    Matches ``F.ntile`` bit-for-bit (tests/test_prefix.py)."""
    for c in [tiebreak_col] + [m for m, _ in metrics]:
        t = df.schema[c].dataType.simpleString()
        if t not in _INTEGRAL_TYPES:
            raise TypeError(
                f"scalable_ntile_multi: column {c!r} has type {t}; "
                "metric and tiebreak columns must be integral "
                "(non-integral values would CAST to NULL and "
                "silently mis-tile)"
            )
    if n == 1:
        # NTILE(1) is constant; the boundary machinery would produce
        # an empty bounds frame (null pivot row) instead.
        return df.withColumn(
            metrics[0][1], F.lit(1).cast("long")
        ) if len(metrics) == 1 else df.select(
            "*", *[F.lit(1).cast("long").alias(o) for _, o in metrics]
        )
    stack_args = ", ".join(
        f"'{m}', CAST(`{m}` AS BIGINT)" for m, _ in metrics
    )
    long = df.select(
        F.col(tiebreak_col).cast("long").alias("_tb"),
        F.expr(
            f"stack({len(metrics)}, {stack_args}) AS (_mname, _mval)"
        ),
    )
    vc = long.groupBy("_mname", "_mval").agg(
        F.count(F.lit(1)).alias("_c")
    )
    cum = bucketed_prefix_sum(
        vc, "_mval", "_c", "_cum", part_cols=("_mname",),
        n_buckets=n_buckets,
    )
    tot = vc.groupBy("_mname").agg(F.sum("_c").alias("_nn"))
    # Boundary ranks r_1..r_{n-1} per metric: a row with
    # rank <= r_i is in tile <= i. size = N DIV n, the first
    # (N mod n) tiles take one extra.
    ranks = (
        tot.crossJoin(
            # bcast: GRID literal n-1 boundary ranks
            F.broadcast(
                df.sparkSession.range(1, n).withColumnRenamed(
                    "id", "_i"
                )
            )
        )
        .select(
            "_mname",
            "_i",
            (
                F.col("_i") * F.expr(f"_nn DIV {int(n)}")
                + F.least(
                    F.col("_i"),
                    F.col("_nn") - F.expr(f"_nn DIV {int(n)}") * n,
                )
            ).alias("_r"),
        )
        .filter(F.col("_r") >= 1)
    )
    # The boundary's metric value: the unique vc row whose running
    # count first reaches r_i. _k = how deep into that value's tie
    # group the boundary sits.
    bvals = (
        cum.withColumnRenamed("_mname", "_mn2")
        .join(
            # bcast: GRID n-1 boundary ranks per metric
            F.broadcast(ranks),
            (F.col("_mn2") == F.col("_mname"))
            & (F.col("_cum") >= F.col("_r"))
            & (F.col("_cum") - F.col("_c") < F.col("_r")),
        )
        .select(
            "_mname",
            "_i",
            F.col("_mval").alias("_bv"),
            (F.col("_r") - (F.col("_cum") - F.col("_c"))).alias("_k"),
            F.col("_c").alias("_bc"),
        )
    )
    # Tiebreak element: the _k-th smallest tiebreak within the
    # boundary's (metric, value) group. Skipped entirely when the
    # boundary falls on the group's last row (_k == _bc): the pair
    # closes at (value, +inf) and rows compare on the value alone.
    inner = bvals.filter(F.col("_k") < F.col("_bc"))
    bpairs_closed = bvals.filter(F.col("_k") == F.col("_bc")).select(
        "_mname", "_i", "_bv", F.lit(None).cast("long").alias("_bt")
    )
    wv = Window.partitionBy("_mname", "_mval").orderBy("_tb")
    ties = (
        long.join(
            # bcast: GRID tile boundary values, <= n-1 per metric
            F.broadcast(
                inner.select(
                    F.col("_mname").alias("_mn3"),
                    F.col("_bv").alias("_bv3"),
                ).distinct()
            ),
            (F.col("_mname") == F.col("_mn3"))
            & (F.col("_mval") == F.col("_bv3")),
        )
        .withColumn("_vrn", F.row_number().over(wv))
        .select("_mname", "_mval", F.col("_tb").alias("_btt"), "_vrn")
    )
    bpairs_inner = inner.join(
        ties.withColumnRenamed("_mname", "_mn4"),
        (F.col("_mn4") == F.col("_mname"))
        & (F.col("_mval") == F.col("_bv"))
        & (F.col("_vrn") == F.col("_k")),
    ).select("_mname", "_i", "_bv", F.col("_btt").alias("_bt"))
    bounds = bpairs_closed.unionByName(bpairs_inner)
    # One pivot row holds every metric's n-1 boundary pairs (+
    # closed flags): tiles are then pure per-row expressions against
    # a broadcast scalar — no row expansion, no regroup. A CLOSED
    # boundary sits on the LAST row of its value group, i.e. at
    # (bv, +inf): rows sharing bv are never after it.
    aggs = []
    for j, (m, _) in enumerate(metrics):
        for i in range(1, n):
            hit = (F.col("_mname") == m) & (F.col("_i") == i)
            aggs.append(
                F.max(F.when(hit, F.col("_bv"))).alias(f"_bv_{j}_{i}")
            )
            aggs.append(
                F.max(F.when(hit, F.col("_bt"))).alias(f"_bt_{j}_{i}")
            )
            aggs.append(
                F.max(
                    F.when(hit, F.col("_bt").isNull().cast("int"))
                ).alias(f"_cl_{j}_{i}")
            )
    piv = bounds.groupBy().agg(*aggs)
    # bcast: GRID single pivoted boundary row
    out = df.crossJoin(F.broadcast(piv))
    drop = []
    for j, (m, out_col) in enumerate(metrics):
        tile = F.lit(1)
        for i in range(1, n):
            after = (
                F.col(m).cast("long") > F.col(f"_bv_{j}_{i}")
            ) | (
                (F.col(m).cast("long") == F.col(f"_bv_{j}_{i}"))
                & (F.col(f"_cl_{j}_{i}") == 0)
                & (
                    F.col(tiebreak_col).cast("long")
                    > F.col(f"_bt_{j}_{i}")
                )
            )
            tile = tile + after.cast("long")
            drop += [f"_bv_{j}_{i}", f"_bt_{j}_{i}", f"_cl_{j}_{i}"]
        out = out.withColumn(out_col, tile)
    return out.drop(*drop)


def midrank2(
    df: DataFrame,
    value_col: str,
    count_col: str,
    out_col: str,
    part_cols: tuple[str, ...] = (),
    n_buckets: int = 1024,
) -> DataFrame:
    """Doubled midranks (2·average-rank, always an exact integer)
    over a distinct-value count table: 2·cum − c + 1 where cum is
    the inclusive running count in value order. The shared epilogue
    of the rank-statistic family (Spearman qs243, Kruskal–Wallis
    qs271, Mann–Whitney) — scalable via :func:`bucketed_prefix_sum`
    instead of a single-task global window."""
    out = bucketed_prefix_sum(
        df,
        value_col,
        count_col,
        "_cum",
        part_cols=part_cols,
        n_buckets=n_buckets,
    )
    return out.withColumn(
        out_col, 2 * F.col("_cum") - F.col(count_col) + 1
    ).drop("_cum")
