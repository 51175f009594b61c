"""dataextractor_spark — a PySpark-native analytics engine.

Re-expresses the capabilities of the reference ETL pipeline
(scudellerlemos/dataextractor, surveyed in SURVEY.md) as an idiomatic
Spark engine: DataFrame/SQL on Catalyst for relational work, Structured
Streaming for event-time analytics, and pyspark.ml / pandas-UDF backed
operators for the LLM-data-pipeline tier (dedup, similarity search,
text analysis, multimodal columns).

Design rules (SURVEY.md §4):
- DataFrame-first; RDDs only inside connectors.
- Catalyst does pushdown/pruning/join-selection; we declare, it plans.
- Broadcast small dims, partition big facts, AQE on everywhere.
- Python UDFs only where built-ins can't express the semantics, and
  then always Arrow-batched (pandas_udf / mapInPandas).

Shared intermediates are pinned through one storage policy,
``dataextractor_spark.pins.pin``; its docstring holds the trade.
"""

__version__ = "0.1.0"

from dataextractor_spark.catalog import TABLES, load_table, tables
from dataextractor_spark.session import get_session

__all__ = ["TABLES", "load_table", "tables", "get_session", "__version__"]
