"""Relationship/edge operators (O12/O13/O14).

* `extract_parent_property` — attach the `parent.prop` FK column to a
  child node. The v1.3 reference copies the parent frame's column by
  row position (cds-transformation_v1.3.py:83-95), valid only because
  both frames project the same metadata rows → here an equi-join on the
  ingest `_row_id`. When frames don't share provenance, the keyed
  variants below apply.

* `first_match_lookup` — the v1.2 mapping-sheet lookup
  (cds-transformation_v1.2.py:168-194): for each key take the FIRST
  matching value from a mapping table. Reference is an O(keys×rows)
  `.loc[...].iloc[0]` scan per key; here a broadcast join + row_number
  window keeping the first mapping row per key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cds_etl_spark.operators.projection import ROW_ID

NodeTables = dict[str, DataFrame]


def extract_parent_property(tables: NodeTables, parent_mapping: list[dict]) -> NodeTables:
    """Attach `parent_node.property` FK columns per PARENT_MAPPING_COLUMNS
    (cds_config_example_v1.3.yaml:22-62), aligned on `_row_id`."""
    out = dict(tables)
    for rule in parent_mapping:
        node, parent_node, prop = rule["node"], rule["parent_node"], rule["property"]
        if node not in out or parent_node not in out:
            continue
        child, parent = out[node], out[parent_node]
        if prop not in parent.columns:
            continue
        fk = f"{parent_node}.{prop}"
        if ROW_ID in child.columns and ROW_ID in parent.columns:
            side = parent.select(F.col(ROW_ID), F.col(prop).alias(fk))
            out[node] = child.join(side, ROW_ID, "left")
        else:
            raise ValueError(
                "extract_parent_property requires _row_id alignment (ingest via with_row_id)"
            )
    return out


def first_match_lookup(
    df: DataFrame,
    mapping: DataFrame,
    key: str,
    value: str,
    output_col: str | None = None,
    order_col: str | None = None,
) -> DataFrame:
    """Left-join `df` to the first matching `value` per `key` in
    `mapping` (first by `order_col`, or by mapping `_row_id`/arbitrary
    stable order). Mapping tables are dimension-sized → broadcast."""
    output_col = output_col or value
    order = order_col or (ROW_ID if ROW_ID in mapping.columns else F.lit(1))
    w = Window.partitionBy(key).orderBy(order)
    first = (
        mapping.select(key, F.col(value).alias(output_col), F.row_number().over(w).alias("_rn"))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    # bcast: BOUNDED reference mapping files are curated catalog-scale tables
    return df.join(F.broadcast(first), key, "left")
