from cds_etl_spark.sources.excel import read_excel_sheet
from cds_etl_spark.sources.files import read_tsv, write_tsv_file

__all__ = ["read_excel_sheet", "read_tsv", "write_tsv_file"]
