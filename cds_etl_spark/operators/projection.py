"""Schema-mapping projection and raw-dictionary inference (O5/O6/O7/O8).

The reference maps messy submitter columns onto model properties in two
phases (cds-transformation_v1.3.py):
  * inference (`extract_raw_data_dict` :35-51 + `match_col` :16-33):
    fuzzy-match headers to properties with difflib SequenceMatcher at a
    ratio threshold, skipping all-null columns — a driver-side metadata
    operation (no data movement beyond one per-column null-count pass);
  * transformation (`extract_data` :69-81 + `match_col_from_raw_dict`
    :53-66): project raw columns to property names via the reviewed
    dictionary, skipping all-null sources, and stamp a `type` column.

Spark re-expression: the projection is a single `select` of aliased
columns (column pruning reaches the scan); the all-null guards read
non-null counts from one aggregate pass per source frame
(`non_null_counts`, the reference scans per column). The caller runs
that pass once over every raw-dictionary column of the frame and hands
the counts to each node's `extract_node`.

`with_row_id` pins the reference's implicit row identity: several ops
(O10 external_node, O11, O12-v1.3) copy columns *by row position*
between node frames. All node frames are projections of one
denormalized metadata scan, so position-alignment is really
same-source-row alignment — carrying an explicit `_row_id` from that
scan turns every positional op into an equi-join that is correct under
any partitioning (the reference's positional semantics would silently
break at scale; this formulation does not).
"""

from __future__ import annotations

from collections.abc import Iterable
from difflib import SequenceMatcher

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cds_etl_spark.model import Model

ROW_ID = "_row_id"


def with_row_id(df: DataFrame) -> DataFrame:
    """Attach a stable unique row id to the ingest scan.

    `monotonically_increasing_id` is partition-local-contiguous and
    globally unique — sufficient for alignment joins (all consumers
    project from the same scan, so the same physical row gets the same
    id in every projection of this DataFrame object's lineage is NOT
    guaranteed across recomputations; the ingest layer therefore
    materializes (caches) the id-stamped frame once).
    """
    return df.withColumn(ROW_ID, F.monotonically_increasing_id())


def match_col(columns: list[str], prop: str, limit: float) -> str | None:
    """Best fuzzy match of a model property against raw headers.

    Same normalization and scoring as the reference (spaces→underscore,
    lowercase, SequenceMatcher ratio ≥ limit, argmax ratio;
    cds-transformation_v1.3.py:16-33). Driver-side metadata op.
    """
    best, best_ratio = None, -1.0
    for col in columns:
        name = col.replace(" ", "_").lower()
        ratio = SequenceMatcher(None, name, prop).ratio()
        if ratio >= limit and ratio > best_ratio:
            best, best_ratio = col, ratio
    return best


def non_null_counts(df: DataFrame, columns: Iterable[str]) -> dict[str, int]:
    """One aggregate pass → non-null count per column of `df` among
    `columns` (names `df` lacks are skipped; no job when none remain)."""
    columns = sorted({c for c in columns if c in df.columns})
    if not columns:
        return {}
    row = df.agg(
        *[F.count(F.col(f"`{c}`")).alias(f"c{i}") for i, c in enumerate(columns)]
    ).collect()[0]
    return {c: row[f"c{i}"] for i, c in enumerate(columns)}


def extract_raw_data_dict(
    df: DataFrame,
    model: Model,
    node: str,
    limit: float,
    raw_dict: dict[str, dict[str, str]] | None = None,
) -> dict[str, dict[str, str]]:
    """Schema-inference pass: build {node: {raw_column: property}}.

    Reference `extract_raw_data_dict` (cds-transformation_v1.3.py:35-51):
    fuzzy-match each property, keep the column only if it has any
    non-null value. The result is meant to be human-reviewed and
    versioned, then drives `extract_node`.
    """
    raw_dict = raw_dict if raw_dict is not None else {}
    candidates: dict[str, str] = {}
    for prop in model.nodes[node]:
        col = match_col([c for c in df.columns if c != ROW_ID], prop, limit)
        if col is not None:
            candidates[col] = prop
    counts = non_null_counts(df, candidates)
    for col, prop in candidates.items():
        if counts.get(col, 0) > 0:
            raw_dict.setdefault(node, {})[col] = prop
    return raw_dict


def extract_node(
    df: DataFrame,
    model: Model,
    node: str,
    raw_dict: dict[str, dict[str, str]],
    counts: dict[str, int],
    keep_row_id: bool = True,
) -> DataFrame:
    """Project raw columns into model property names for one node and
    stamp `type` (reference `extract_data`,
    cds-transformation_v1.3.py:69-81).

    For each property, candidate raw columns come from the dictionary;
    the first candidate with any non-null data wins (reference
    `match_col_from_raw_dict` :53-66 iterates candidates in dict order
    with an all-null guard). `counts` is `non_null_counts` of `df` over
    (at least) this node's dictionary columns, computed once by the
    caller for every node projected from the same frame; no Spark job
    runs here.
    """
    mapping = raw_dict.get(node, {})
    by_prop: dict[str, list[str]] = {}
    for col, prop in mapping.items():
        if col in df.columns:
            by_prop.setdefault(prop, []).append(col)

    select_exprs = []
    for prop in model.nodes[node]:
        for col in by_prop.get(prop, []):
            if counts.get(col, 0) > 0:
                select_exprs.append(F.col(f"`{col}`").alias(prop))
                break
    if not select_exprs:
        # No mappable data for this node → empty frame with just `type`
        # (reference returns an empty DataFrame and sinks skip it).
        empty = df.limit(0).select(F.lit(node).alias("type"))
        return empty
    if keep_row_id and ROW_ID in df.columns:
        select_exprs.append(F.col(ROW_ID))
    return df.select(*select_exprs).withColumn("type", F.lit(node))
