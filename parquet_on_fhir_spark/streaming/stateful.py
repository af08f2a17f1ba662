"""Custom stateful streaming operator (SURVEY.md §2B Q58):
per-key running aggregation via ``applyInPandasWithState``.

Demonstrates the arbitrary-state surface: the state object survives
across micro-batches (here: per-user running count + sum), which is the
building block for sessionization, CDC folding, and online feature
computation at stream scale.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = "user_id BIGINT, n_events BIGINT, total_value DOUBLE"
STATE_SCHEMA = "n BIGINT, total DOUBLE"


def _update_user_totals(
    key: Tuple[int], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    if state.exists:
        n, total = state.get
    else:
        n, total = 0, 0.0
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
    )


def running_user_totals(events_stream: DataFrame) -> DataFrame:
    """Streaming per-user running (count, sum(value)) with explicit state."""
    return events_stream.groupBy("user_id").applyInPandasWithState(
        _update_user_totals,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
