"""Streaming sinks: content-routed fan-out with idempotent writes.

The reference's writer master demuxes packets by target type 't',
lazily creating one writer thread + queue per route
(``/root/reference/MFramework.cpp:1366-1471``), and keeps a
marker-file ledger for recovery (``:1286-1302``). The Spark analog:
``foreachBatch`` writing ``partitionBy(route)`` — routes materialize
lazily as partition directories on first occurrence, and idempotence
under checkpoint replay comes from overwriting the per-batch output
path (a replayed batch id rewrites the same directory instead of
appending duplicates — the ledger is the directory name).
"""

from __future__ import annotations

import os
import threading
from collections.abc import Callable

from pyspark.sql import DataFrame


def route_fanout_writer(
    base_dir: str, route_col: str = "route"
) -> Callable[[DataFrame, int], None]:
    """foreachBatch function: write each micro-batch as parquet under
    ``base_dir/batch_id=N/<route_col>=<value>/``. Replays overwrite
    their own batch directory → exactly-once output without a
    transactional sink."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.write.mode("overwrite")
            .partitionBy(route_col)
            .parquet(f"{base_dir}/batch_id={batch_id}")
        )

    return write


# A new routed-stream checkpoint's state partitions: streams get no AQE
# coalescing, and each partition pays a store commit and one file per
# route every batch; 1 measured best at ~10k rows per trigger.
_STATE_PARTITIONS = "1"
_START_LOCK = threading.Lock()  # orders the conf set/restore below


def start_routed_stream(
    df: DataFrame,
    base_dir: str,
    checkpoint_dir: str,
    *,
    trigger_available_now: bool = True,
):
    """Start a streaming query that fans out by its ``route`` column
    with checkpointed exactly-once semantics (G2: checkpointLocation is
    the offset ledger, the per-batch overwrite is the output ledger).
    ``trigger_available_now`` drains what has landed and stops; pass
    False for continuous mediation. A new checkpoint gets
    ``_STATE_PARTITIONS`` state partitions: the session conf is set only
    around ``start()``, so do not start one while other work runs on the
    same session."""
    writer = (
        df.writeStream.foreachBatch(route_fanout_writer(base_dir))
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    log = os.path.join(checkpoint_dir, "offsets")
    if os.path.isdir(log) and any(n.isdigit() for n in os.listdir(log)):
        return writer.start()  # resumed: its offset log fixes the count
    conf = df.sparkSession.conf
    key = "spark.sql.shuffle.partitions"
    with _START_LOCK:
        caller_value = conf.get(key)
        conf.set(key, _STATE_PARTITIONS)
        try:
            return writer.start()
        finally:
            if conf.get(key) == _STATE_PARTITIONS:  # not reset by anyone else
                conf.set(key, caller_value)
