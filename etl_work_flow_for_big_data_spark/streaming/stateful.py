"""Custom stateful per-key streaming operators (G8).

The reference's session plugins hold per-session state across packets
— the session object lives for the pipeline's lifetime and sees every
packet routed to its key (``/root/reference/MFramework.cpp:749-773``,
``:905``). The Spark analog is the arbitrary-stateful-processing API:
state is keyed, checkpointed (survives restarts — the FWorkCheckpoint
analog), and fed Arrow batches per key per micro-batch.

The engine uses ``applyInPandasWithState`` (Spark 3.4+), the
function-based form that runs on every supported runtime. Its state
lives in whichever store ``spark.sql.streaming.stateStore.providerClass``
names; setting it to the RocksDB provider at deployment spills keyed
state to disk instead of pinning it in executor heap like the
HDFS-backed default.

State values stay constant-size per key (counters/aggregates, never
row buffers) so the state store is O(keys) regardless of stream
length — the 100 TB constraint.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

RUNNING_TOTALS_STATE = "total_events long, total_value double"


def running_totals_per_key(
    stream: DataFrame,
    key: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Cumulative per-key event count + ``value_col`` sum, emitted once
    per key per micro-batch. State = two scalars per key;
    checkpoint-durable (counts continue across query restarts).

    Output columns: ``<key>, batch_events, total_events, total_value``.
    """
    if value_col not in stream.columns:
        raise ValueError(f"value_col {value_col!r} not in stream columns")
    key_type = stream.schema[key].dataType.simpleString()
    output_schema = (
        f"{key} {key_type}, batch_events long, total_events long, "
        "total_value double"
    )

    def fn(
        k: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        total_events, total_value = state.get if state.exists else (0, 0.0)
        batch_events = 0
        for pdf in pdfs:
            batch_events += len(pdf)
            total_events += len(pdf)
            total_value += float(pdf[value_col].sum())
        state.update((total_events, round(total_value, 6)))
        yield pd.DataFrame(
            {
                key: [k[0]],
                "batch_events": [batch_events],
                "total_events": [total_events],
                "total_value": [round(total_value, 6)],
            }
        )

    return stream.groupBy(key).applyInPandasWithState(
        fn,
        outputStructType=output_schema,
        stateStructType=RUNNING_TOTALS_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
