"""The composed CDS transformation pipeline (EP1 of the reference,
cds-transformation_v1.3.py:119-167), as one lazy DataFrame program.

Stage order matches the reference exactly:
    scan → normalize → per-node schema projection → secondary ids →
    combined keys → parent-FK attach → node drops → string-canonical
    dedup → all-null-prop row drop → grouped row merge → enum clean →
    UI validation → SSN scan → ID validation (incl. cascade delete) →
    historical state → TSV sinks.

Every stage is a NodeTables → NodeTables transform from `operators/`,
lazy up to ID validation, so Catalyst sees the whole per-node program
and prunes columns back to the ingest scan. Before the sinks, Spark
runs one null-count pass over the source scan (the projection's
all-null guards) and ID validation, which cuts lineage at its stages.
The source scan is cached so row ids hold while the outputs are
written; the caller unpersists `PipelineResult.source` afterwards.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame

from cds_etl_spark.model import Model
from cds_etl_spark.operators import (
    add_secondary_id,
    clean_data,
    combine_columns,
    combine_rows,
    drop_all_null_prop_rows,
    drop_internal,
    extract_node,
    extract_parent_property,
    id_validation,
    non_null_counts,
    normalize_strings,
    remove_nodes,
    ssn_validation,
    string_canonical_dedup,
    ui_validation,
    with_row_id,
)

NodeTables = dict[str, DataFrame]


@dataclass
class PipelineResult:
    tables: NodeTables
    source: DataFrame  # the cached, row-id-stamped scan the tables derive from
    id_report: DataFrame | None = None
    parent_report: DataFrame | None = None
    ssn_report: DataFrame | None = None
    ui_report: DataFrame | None = None


@dataclass
class CdsPipeline:
    """Config keys mirror the reference's YAML contract
    (cds_config_example_v1.3.yaml): NODE_ID_FIELD,
    PARENT_MAPPING_COLUMNS, COMBINE_NODE, COMBINE_COLUMN,
    SECONDARY_ID_COLUMN, REMOVE_NODES; plus the raw dictionary,
    clean dictionary and UI mapping as parsed dicts."""

    model: Model
    raw_dict: dict[str, dict[str, str]]
    config: dict[str, Any]
    clean_dict: dict = field(default_factory=dict)
    ui_mapping: dict[str, list[str]] = field(default_factory=dict)

    def run(self, metadata: DataFrame, raw_data_name: str = "batch") -> PipelineResult:
        cfg = self.config
        # O3/O4 + stable row identity for the positional-compat joins.
        # Cached: row ids must not change across downstream recomputes.
        src = with_row_id(normalize_strings(metadata)).cache()

        # O6 schema-mapping projection per node; one null-count pass
        # over every dictionary column serves all nodes' guards.
        counts = non_null_counts(
            src, [c for node in self.model.nodes for c in self.raw_dict.get(node, {})]
        )
        tables: NodeTables = {
            node: extract_node(src, self.model, node, self.raw_dict, counts)
            for node in self.model.nodes
        }
        tables = add_secondary_id(tables, cfg.get("SECONDARY_ID_COLUMN", []))  # O11
        tables = combine_columns(tables, cfg.get("COMBINE_COLUMN", []))  # O10
        tables = extract_parent_property(tables, cfg.get("PARENT_MAPPING_COLUMNS", []))  # O12
        tables = remove_nodes(tables, cfg.get("REMOVE_NODES", []))  # O20

        # O17 + O8 — row-id is dropped here (it would defeat dedup).
        id_fields = cfg.get("NODE_ID_FIELD", {})
        for node in list(tables):
            df = string_canonical_dedup(drop_internal(tables[node]))
            tables[node] = drop_all_null_prop_rows(
                df, self.model, node, id_fields.get(node, "")
            )

        tables = combine_rows(tables, cfg.get("COMBINE_NODE", []))  # O18
        tables = clean_data(tables, self.model, self.clean_dict)  # O19

        tables, ui_report = ui_validation(tables, self.ui_mapping, raw_data_name)  # O27
        ssn_report = (
            ssn_validation(tables, raw_data_name) if "file" in tables else None
        )  # O26
        tables, id_report, parent_report = id_validation(  # O22-O25
            tables,
            id_fields,
            cfg.get("PARENT_MAPPING_COLUMNS", []),
            self.model,
            raw_data_name,
        )
        return PipelineResult(tables, src, id_report, parent_report, ssn_report, ui_report)
