"""Log sink — the LoggerWriter analog (A7).

The reference builds leveled log packets (``s=1``, ``c=component``,
``l=letter``, ``m=ts|session|msg``) and publishes them to a central
LOGGER_DATA queue after a bitmask admission check
(``/root/reference/LoggerWriter.cpp:171-224``). Here log records are
rows appended to a log table partitioned by level letter via
foreachBatch with ``streaming.sinks.route_fanout_writer(base_dir, "l")``
(per-batch overwrite dirs for replay idempotence); admission uses the
same ``global_mask & level`` predicate, and the packet shape is
reproduced exactly so downstream consumers of the reference's log
stream could read ours.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_work_flow_for_big_data_spark.functions.packets import (
    DEFAULT_GLOBAL_MASK,
    bitmask_admit,
    decode_level,
)


def build_log_packets(
    records: DataFrame,
    component: str,
    level_col: str = "level",
    session_col: str = "session",
    message_col: str = "message",
    ts_col: str = "ts",
    global_mask: int = DEFAULT_GLOBAL_MASK,
) -> DataFrame:
    """records(level:int, session, message, ts) → admitted log packets
    with the reference's exact shape (LoggerWriter.cpp:207-213):
    s='1', c=component, l=letter, m='ts|session|message'."""
    admitted = records.filter(bitmask_admit(F.col(level_col), global_mask))
    return admitted.select(
        F.lit("1").alias("s"),
        F.lit(component).alias("c"),
        decode_level(F.col(level_col)).alias("l"),
        F.concat_ws(
            "|",
            F.date_format(F.col(ts_col), "yyyy-MM-dd HH:mm:ss"),
            F.col(session_col).cast("string"),
            F.col(message_col),
        ).alias("m"),
    )

