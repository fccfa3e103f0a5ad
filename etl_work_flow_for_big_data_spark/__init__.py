"""spark-graft: a PySpark-native ETL/analytics engine.

Brand-new engine with the capabilities of
``Rameshei87/ETL-work-flow-for-Big-Data`` (a C++ telecom CDR
mediation/rating ETL framework — see ``SURVEY.md``), rebuilt
idiomatically on Spark:

- pipelines are declarative specs compiled to DataFrame plans
  (``plans/``), the analog of the reference's DB-driven session
  topology (``MFramework.cpp:938-1014``);
- stages are named ``DataFrame -> DataFrame`` operators in a registry
  (``operators/``), the analog of the reference's dlopen'd session
  plugins (``SOContainer.cpp:67-88``);
- sources/sinks live behind a format registry (``sources/``), the
  analog of ``ProtocolFactory.cpp:78-118``;
- streaming uses Structured Streaming with checkpoints, watermarks and
  a control plane (``streaming/``) in place of AMQP threads
  (``MFramework.cpp:1151-1327``);
- the query surface (``queries/``) covers SURVEY.md §2 line by line,
  each entry paired with a DuckDB oracle SQL string.

Everything compiles to stock Catalyst plans; no Python row-UDFs in hot
paths (100 TB design goal).
"""

from etl_work_flow_for_big_data_spark.session import get_spark, tune_session
from etl_work_flow_for_big_data_spark.catalog import TABLES, load_table

__all__ = ["get_spark", "tune_session", "TABLES", "load_table"]
