from cds_etl_spark.operators.normalize import normalize_strings
from cds_etl_spark.operators.projection import (
    ROW_ID,
    extract_node,
    extract_raw_data_dict,
    match_col,
    non_null_counts,
    with_row_id,
)
from cds_etl_spark.operators.keys import add_secondary_id, combine_columns, synthetic_file_id
from cds_etl_spark.operators.relations import extract_parent_property, first_match_lookup
from cds_etl_spark.operators.merge import combine_rows
from cds_etl_spark.operators.clean import clean_data
from cds_etl_spark.operators.prune import drop_columns, drop_internal, remove_nodes, string_canonical_dedup, drop_all_null_prop_rows
from cds_etl_spark.operators.validation import (
    cascade_delete,
    id_validation,
    ssn_validation,
    ui_validation,
)

__all__ = [
    "ROW_ID",
    "normalize_strings",
    "with_row_id",
    "match_col",
    "extract_raw_data_dict",
    "extract_node",
    "non_null_counts",
    "combine_columns",
    "add_secondary_id",
    "synthetic_file_id",
    "extract_parent_property",
    "first_match_lookup",
    "combine_rows",
    "clean_data",
    "remove_nodes",
    "drop_columns",
    "drop_internal",
    "string_canonical_dedup",
    "drop_all_null_prop_rows",
    "id_validation",
    "ssn_validation",
    "ui_validation",
    "cascade_delete",
]
