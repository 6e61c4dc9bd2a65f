"""area_etl_spark — a PySpark-native analytics/ETL engine.

Re-expresses the query and data-processing capabilities of the
``3dinformatica/area-etl`` reference (a single-node Polars ETL) as
declarative Spark DataFrame plans, plus LLM-data-pipeline operators
(dedup, similarity search, multimodal columns, text analysis) designed
for 100 TB-scale clusters.

Layout
------
functions/   scalar Column-expression transforms (reference src/utils.py)
operators/   relational + LLM operators (joins, unions, windows, dedup, ANN, ...)
sources/     extract (SQL / CSV / parquet) and load (append / overwrite / CSV)
plans/       composite pipelines recasting the reference's migrate_* modules
streaming/   Structured Streaming operators over the events table
registry/    the query records: builder q_<key> + DuckDB oracle o_<key>, by family
"""

from area_etl_spark.session import get_spark, load_tables

__all__ = ["get_spark", "load_tables"]
