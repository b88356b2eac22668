"""Sessionization: gap-based user sessions, batch and stateful streaming.

Batch form (sessionize_batch): the classic lag/cumsum window pattern —
session boundary where the gap to the previous event exceeds the timeout;
session id = running count of boundaries. Pure window functions, fully
SQL-expressible (driver query q_user_sessions has a DuckDB oracle twin).

Streaming form (sessionize_stream): applyInPandasWithState — the
arbitrary-stateful-operator API. Per user key, state holds the open
session (start, end, n_events); each micro-batch merges its events,
closes sessions whose gap elapsed, emits closed sessions, and keeps the
open one in state. After the micro-batch that reads one input batch, the
emitted closed sessions equal the batch twin's non-final sessions — the
equivalence the test asserts. Trigger.AvailableNow does not end such a
query: GroupStateTimeout.ProcessingTimeTimeout makes Spark run a no-data
batch after every batch, forever, so neither awaitTermination() without
a timeout nor processAllAvailable() returns. Callers wait for the batch that
read the input (its recentProgress entry has numInputRows > 0) and then
stop() the query, as tests/test_sessionize.py does.

Scale: state lives in the state store keyed by user — O(active users)
not O(events); the shuffle is the groupBy(user) exchange that any
sessionizer needs.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SESSION_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, n_events long"
)
_STATE_SCHEMA = "start double, end double, n long"


def sessionize_batch(
    events: DataFrame,
    gap_seconds: int = 1800,
    user_col: str = "user_id",
    time_col: str = "ts",
) -> DataFrame:
    """(user_id, session_start, session_end, n_events) via lag + cumsum."""
    w = Window.partitionBy(user_col).orderBy(time_col)
    # fractional epoch seconds (timestamp->double), not unix_timestamp:
    # second-truncation would merge/split sessions differently from any
    # oracle computing exact gaps
    with_gap = events.select(user_col, time_col).withColumn(
        "prev", F.lag(time_col).over(w)
    ).withColumn(
        "new_session",
        (
            F.col("prev").isNull()
            | (
                F.col(time_col).cast("timestamp").cast("double")
                - F.col("prev").cast("timestamp").cast("double")
                > gap_seconds
            )
        ).cast("int"),
    )
    with_sid = with_gap.withColumn(
        "sid", F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        with_sid.groupBy(user_col, "sid")
        .agg(
            F.min(time_col).alias("session_start"),
            F.max(time_col).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.col(user_col).alias("user_id"),
            "session_start",
            "session_end",
            "n_events",
        )
    )


def _sessionize_group(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
    gap_seconds: float,
) -> Iterator[pd.DataFrame]:
    times: list[float] = []
    for pdf in pdfs:
        times.extend(ts.timestamp() for ts in pdf["ts"])
    times.sort()
    if state.exists:
        start, end, n = state.get
    else:
        start = end = None
        n = 0
    closed = []
    for t in times:
        if start is None:
            start, end, n = t, t, 1
        elif t - end > gap_seconds:
            closed.append((start, end, n))
            start, end, n = t, t, 1
        else:
            end = t
            n += 1
    if state.hasTimedOut:
        if start is not None:
            closed.append((start, end, n))
        state.remove()
    else:
        state.update((float(start), float(end), int(n)))
        state.setTimeoutDuration(int(gap_seconds * 1000))
    if closed:
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(closed),
                "session_start": [pd.Timestamp(s, unit="s") for s, _, _ in closed],
                "session_end": [pd.Timestamp(e, unit="s") for _, e, _ in closed],
                "n_events": [c for _, _, c in closed],
            }
        )


def sessionize_stream(
    events_stream: DataFrame,
    gap_seconds: int = 1800,
    user_col: str = "user_id",
    time_col: str = "ts",
) -> DataFrame:
    """Streaming sessionizer: emits CLOSED sessions as they finalize."""

    def fn(key, pdfs, state):
        return _sessionize_group(key, pdfs, state, gap_seconds)

    return (
        events_stream.select(
            F.col(user_col).alias("user_id"), F.col(time_col).alias("ts")
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )
