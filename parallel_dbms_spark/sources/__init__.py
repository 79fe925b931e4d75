from .jsonl import corrupt_records, jsonl_to_parquet, read_jsonl, write_jsonl
from .lake import (
    compact_small_files,
    overwrite_partitions,
    read_partitioned,
    write_bucketed_table,
    write_partitioned,
)
from .tx_sql import is_lake_statement, tx_sql
from .typed_csv import read_typed_csv, register_typed_csv_dir, write_typed_csv
from .typed_csv_ds import TypedCSVDataSource, register_typed_csv

__all__ = [
    "compact_small_files",
    "corrupt_records",
    "jsonl_to_parquet",
    "overwrite_partitions",
    "read_jsonl",
    "read_partitioned",
    "read_typed_csv",
    "register_typed_csv",
    "TypedCSVDataSource",
    "register_typed_csv_dir",
    "is_lake_statement",
    "tx_sql",
    "write_bucketed_table",
    "write_jsonl",
    "write_partitioned",
    "write_typed_csv",
]
