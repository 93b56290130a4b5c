from .batch import TABLES, load_table, read_parquet

__all__ = ["TABLES", "load_table", "read_parquet"]
