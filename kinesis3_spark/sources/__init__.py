from .batch import (
    TABLES,
    load_table,
    load_tables,
    read_csv,
    read_jsonl,
    read_parquet,
    register_temp_views,
)

__all__ = [
    "TABLES",
    "load_table",
    "load_tables",
    "read_csv",
    "read_jsonl",
    "read_parquet",
    "register_temp_views",
]
