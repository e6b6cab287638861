"""Custom stateful streaming operator (driver brief:
``applyInPandasWithState`` for operators the built-in windows can't
express).

``running_user_stats`` keeps one state row per user — event count, value
sum, last-seen event time — updated per micro-batch and emitted on every
update. State is per-key and partitioned by the grouping hash.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType(), False),
        T.StructField("total_value", T.DoubleType(), False),
        T.StructField("last_ts", T.TimestampType(), True),
    ]
)

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("n_events", T.LongType(), False),
        T.StructField("total_value", T.DoubleType(), False),
    ]
)


def _update_user(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    n, total, last = state.get if state.exists else (0, 0.0, None)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
        batch_last = pdf["ts"].max()
        last = batch_last if last is None or batch_last > last else last
    state.update((n, total, last))
    yield pd.DataFrame({"user_id": [user_id], "n_events": [n], "total_value": [total]})


def running_user_stats(events: DataFrame) -> DataFrame:
    """Apply the per-user stateful update over a (possibly streaming)
    events frame with columns (user_id, ts, value). No state timeout:
    under Trigger.AvailableNow (the repo's drain cadence) a timeout
    keeps the executor scheduling empty micro-batches until every state
    timer fires, which turns a batch drain into a slow timer loop."""
    return (
        events.select("user_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_user,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
