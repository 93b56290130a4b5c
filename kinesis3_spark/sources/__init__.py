from .batch import TABLES, load_table, read_parquet, register_temp_views

__all__ = ["TABLES", "load_table", "read_parquet", "register_temp_views"]
