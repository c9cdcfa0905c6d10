"""Reshape operators: key-value transpose/pivot and positional
horizontal concat.

Reference parity:
* O16 — the v1.0 pipeline turns the vertical two-column `Study` sheet
  (key rows, value rows) into a one-row wide table and replicates it to
  manifest length (cds-transformation.py:114-120, a driver-side
  `.values.T` loop). Here that is `pivot_key_value` — a
  groupBy().pivot().agg(first) hash aggregation — plus a broadcast
  crossJoin for the replication, both distributed.
* O15 — `pd.concat(axis=1)` horizontal concat (cds-transformation.py
  :26,56) is `zip_frames`: an equi-join on the ingest `_row_id`
  (operators/projection.with_row_id). Positional semantics only exist
  relative to a pinned ingest order — documented single-workbook compat,
  not a 100 TB path (SURVEY.md §7.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cds_etl_spark.operators.projection import ROW_ID


def pivot_key_value(
    df: DataFrame,
    key_col: str,
    value_col: str,
    keys: list[str] | None = None,
) -> DataFrame:
    """Vertical (key, value) rows → a single wide row.

    Passing `keys` pins the output columns (and lets Spark skip the
    distinct-keys job — at scale, always pass them: a key-value config
    sheet has a governed vocabulary, not discovered columns). Duplicate
    keys resolve to the first value in row order (reference takes the
    sheet's first row, via the transpose)."""
    piv = df.groupBy().pivot(key_col, values=keys) if keys else df.groupBy().pivot(key_col)
    return piv.agg(F.first(value_col, ignorenulls=True))


def replicate_to(df_single: DataFrame, target: DataFrame) -> DataFrame:
    """Attach the single wide row to every row of `target` (the
    reference replicates the Study row to manifest length). The
    single-row side is broadcast: a map-side expand, no shuffle."""
    # bcast: ONE-ROW global .agg() scalar frame (one row by construction)
    return target.crossJoin(F.broadcast(df_single))


def zip_frames(left: DataFrame, right: DataFrame) -> DataFrame:
    """Positional horizontal concat of two frames ingested with
    `with_row_id` — column-wise union aligned by ingest row order."""
    if ROW_ID not in left.columns or ROW_ID not in right.columns:
        raise ValueError("zip_frames requires _row_id on both sides (with_row_id)")
    dup = [c for c in right.columns if c != ROW_ID and c in left.columns]
    return left.join(right.drop(*dup), ROW_ID, "full_outer")
