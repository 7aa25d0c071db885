"""Per-user running profile over a stream of attempt events.

The profile is cumulative attempt count, success count, and last-seen
timestamp, emitted once per micro-batch per active user — the
streaming materialization of the reference's per-user accumulation
that its daily report re-computes from scratch each run (the
reference's main.py:278-289).

Default plan (``ttl=False``): a native update-mode
``groupBy().agg()``. Catalyst plans, code-generates and checkpoints
it; the per-user state (two counts and a running maximum) lives in
the state store and no row crosses into Python.

``ttl=True``: processing-time eviction is the one thing a native
aggregate cannot do, so that mode keeps an ``applyInPandasWithState``
kernel. Its state is keyed by user_id, holds three scalars (not the
event history), and is evicted after STATE_TTL of inactivity via the
processing-time timeout — bounded state, no unbounded growth. Both
plans carry ``last_seen`` as a running maximum over all events, so
out-of-order events never move it backwards.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

STATE_TTL_MS = 7 * 24 * 3600 * 1000  # the reference's 7-day horizon

# last_seen is kept as epoch microseconds of the session-local wall
# time: a TimestampType state field would round-trip through the
# Python worker's own time zone, which need not be the session's.
_STATE_SCHEMA = StructType(
    [
        StructField("n_attempts", LongType()),
        StructField("n_success", LongType()),
        StructField("last_seen_us", LongType()),
    ]
)

_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", StringType()),
        StructField("n_attempts", LongType()),
        StructField("n_success", LongType()),
        StructField("last_seen", TimestampType()),
    ]
)


def _update_profile(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """The ``ttl=True`` kernel: fold one user's micro-batch rows into
    the state, re-arm the eviction timeout, emit the profile."""
    if state.hasTimedOut:
        state.remove()
        return
    n_attempts, n_success, last_us = state.get if state.exists else (0, 0, None)
    for pdf in batches:
        n_attempts += len(pdf)
        n_success += int(pdf["is_correct"].eq(True).sum())
        batch_max = pdf["event_timestamp"].max()
        if not pd.isna(batch_max):
            us = pd.Timestamp(batch_max).value // 1000
            last_us = us if last_us is None else max(last_us, us)
    state.update((n_attempts, n_success, last_us))
    state.setTimeoutDuration(STATE_TTL_MS)
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_attempts": [n_attempts],
            "n_success": [n_success],
            "last_seen": [pd.NaT if last_us is None else pd.Timestamp(last_us, unit="us")],
        }
    )


def user_profile_stream(events: DataFrame, ttl: bool = False) -> DataFrame:
    """Stateful per-user profile over a stream of attempt events
    (columns: user_id, event_timestamp, is_correct). Emits the updated
    profile for every user seen in each micro-batch (update mode).

    ``ttl=True`` arms the 7-day processing-time state eviction — the
    production mode for a continuously-triggered query (bounded state
    at 100 TB) — and runs the pandas kernel above. Leave it False
    under Trigger.AvailableNow: a processing-time timeout makes the
    availableNow run WAIT for timeouts to fire before terminating,
    which deadlocks a drain-and-stop batch (observed as a
    never-returning awaitTermination)."""
    if not ttl:
        return events.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_attempts"),
            F.count(F.when(F.col("is_correct"), 1)).alias("n_success"),
            F.max("event_timestamp").alias("last_seen"),
        )
    return events.groupBy("user_id").applyInPandasWithState(
        _update_profile,
        outputStructType=_OUTPUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )
