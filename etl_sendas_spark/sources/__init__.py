from .readers import (
    read_table,
    read_excel_dim,
    read_csv,
    with_row_id,
    filename_partition,
    latest_partition_files,
    load_fact_files,
)
from .sinks import write_csv, write_excel, write_parquet

__all__ = [
    "read_table",
    "read_excel_dim",
    "read_csv",
    "with_row_id",
    "filename_partition",
    "latest_partition_files",
    "load_fact_files",
    "write_csv",
    "write_excel",
    "write_parquet",
]
