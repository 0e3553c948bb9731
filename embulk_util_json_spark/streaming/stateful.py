"""Custom stateful streaming operators (applyInPandasWithState).

The engine's exactly-once table maintenance deliberately lives in
``foreachBatch`` + the sink's batch log (late events must still win
LWW, so event-time watermark dropping is wrong for the apply path —
SURVEY.md §2.4). This module covers the OTHER streaming need: running
per-key state that callers want continuously, e.g. live conversation
progress for monitoring/backpressure — the `applyInPandasWithState`
pattern from the north-star's operator list.

Scale notes: state is per-conversation (two longs) — bounded by
distinct conversations, partitioned by the groupBy key across
executors, checkpointed by the state store. Arrow batches in/out; no
per-row Python.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

PROGRESS_OUTPUT_SCHEMA = (
    "conv_id string, events_seen long, max_turn int, deletes long"
)
PROGRESS_STATE_SCHEMA = "events_seen long, max_turn int, deletes long"


def conversation_progress(changes: DataFrame) -> DataFrame:
    """Streaming running aggregate per conversation: total change
    events seen, highest turn index touched, delete count. Emits one
    snapshot row per touched conversation per micro-batch (operator
    output mode ``append`` — each emitted row is a closed per-batch
    snapshot, so any sink works; consumers take the row with the
    highest ``events_seen`` per key for the current value).

    ``changes``: a *streaming* DataFrame with at least
    (conv_id, turn_idx, op) — i.e. the output of
    ``parse_change_events`` on a streaming source.
    """

    def update(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (conv_id,) = key
        if state.exists:
            events_seen, max_turn, deletes = state.get
        else:
            events_seen, max_turn, deletes = 0, -1, 0
        for pdf in pdfs:
            events_seen += len(pdf)
            turns = pdf["turn_idx"].dropna()
            if len(turns):
                max_turn = max(max_turn, int(turns.max()))
            deletes += int((pdf["op"] == "delete").sum())
        state.update((events_seen, max_turn, deletes))
        yield pd.DataFrame(
            {
                "conv_id": [conv_id],
                "events_seen": [events_seen],
                "max_turn": [max_turn],
                "deletes": [deletes],
            }
        )

    return (
        changes.groupBy("conv_id")
        .applyInPandasWithState(
            update,
            PROGRESS_OUTPUT_SCHEMA,
            PROGRESS_STATE_SCHEMA,
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )
