"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash).

All real logic lives in the ``etl_work_flow_for_big_data_spark``
package; this module only adapts its query registry to the driver's
calling convention.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from etl_work_flow_for_big_data_spark.queries import load_all  # noqa: E402

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship rating query (SURVEY.md §7.1 step 1) on sf0.001."""
    registry = load_all()
    return registry["rate_charge"].fn(spark, SF0001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: spec.fn for name, spec in load_all().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query — every registered
    query carries one (hard hash check; no rows-only fallbacks)."""
    return {name: spec.oracle for name, spec in load_all().items()}
