from graphdbetl_spark.sources.catalog import TABLES, load_table
from graphdbetl_spark.sources.readers import read_source

__all__ = ["TABLES", "load_table", "read_source"]
