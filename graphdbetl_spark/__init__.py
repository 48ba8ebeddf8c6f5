"""graphdbetl_spark — a PySpark-native analytics/ETL engine.

A from-scratch, Spark-first re-expression of the capability surface of
JDRomano2/GraphDbETL (reference surveyed in SURVEY.md): multi-source
graph ETL (node/relationship table builds with schema harmonization,
id-key dedup, uri derivation), a full relational operator surface,
streaming windows over event tables, and LLM-training-data pipeline
operators (dedup, similarity search, text analysis, multimodal columns).

Everything is declared through the DataFrame/SQL API so Catalyst +
Tungsten own the physical plan; Python UDFs appear only where built-in
operators cannot express the semantics, and they take and return Arrow
(mapInArrow, applyInArrow, arrow_udf); no module imports pandas.
"""

from graphdbetl_spark.session import configure_session, get_spark
from graphdbetl_spark.etl.builder import GraphDBBuilder

__all__ = ["configure_session", "get_spark", "GraphDBBuilder"]
__version__ = "0.1.0"
