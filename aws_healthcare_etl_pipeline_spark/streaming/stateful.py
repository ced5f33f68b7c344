"""Custom stateful streaming operator via applyInPandasWithState
(SURVEY.md §2.7 [EXT] — the reference has no stateful story at all).

``running_user_totals`` maintains per-user lifetime counters across
micro-batches: state lives in Spark's checkpointed state store, so
totals survive query restarts and each batch emits the updated totals
for the users it touched. This is the canonical shape for any custom
stateful operator (CDC accumulators, per-entity rate limits, feature
freshness) that windowed aggregation can't express.

Scale: state is partitioned by the group key across executors; each
task holds only its keys' state rows (two longs + a double here), and
Arrow moves batch groups — no per-row Python overhead.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events_total", T.LongType()),
        T.StructField("sum_value_total", T.DoubleType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("s", T.DoubleType()),
    ]
)


def running_user_totals(events: DataFrame, key_col: str = "user_id") -> DataFrame:
    """Per-key lifetime (count, sum(value)) maintained in the state store.

    Works only on a streaming DataFrame with columns (key_col, value).
    Output mode must be 'update'.
    """

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            n, s = state.get
        else:
            n, s = 0, 0.0
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].sum())
        state.update((n, s))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events_total": [n], "sum_value_total": [s]}
        )

    return (
        events.select(key_col, "value")
        .groupBy(key_col)
        .applyInPandasWithState(
            update,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
