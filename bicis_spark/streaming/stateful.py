"""Custom stateful streaming operator via ``applyInPandasWithState``
(SURVEY.md §2.9 / pyspark_guide Stateful): per-station running totals that
survive across micro-batches.

This is the engine's extension slot for operators that windowed aggregation
can't express (running counters, custom session logic, online feature
state). State is per-key and partitioned with the shuffle — at scale the
state store shards across executors; the timeout policy bounds state for
keys that go quiet.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
    TimestampType,
)

RUNNING_SCHEMA = StructType(
    [
        StructField("station", LongType()),
        StructField("total_events", LongType()),
        StructField("last_ts", TimestampType()),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("total", LongType()),
        StructField("last_us", LongType()),
    ]
)


def _make_update_running_counts(idle_timeout_ms: int | None):
    def update(
        key: tuple,
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        # Timeout firing: the key has been quiet for idle_timeout_ms of
        # processing time — evict its state. Totals are monotone and
        # emitted in update mode, so the last emitted row already holds
        # the final value; a key that comes back simply restarts from 0
        # (documented trade of bounded state for exact lifetime totals).
        if state.hasTimedOut:
            state.remove()
            return
        # last_us sentinel: None until a non-null event time is seen. A key
        # whose rows (so far) all carry ts=NULL must emit last_ts=NULL — an
        # integer 0 initializer would surface as the 1970 epoch, fabricating
        # an event time that never existed.
        total, last_us = state.get if state.exists else (0, None)
        for pdf in pdfs:
            total += len(pdf)
            if len(pdf):
                batch_max = pdf["ts"].max()  # NaT if every ts in the batch is null
                if not pd.isna(batch_max):
                    batch_us = int(batch_max.value // 1000)
                    last_us = batch_us if last_us is None else max(last_us, batch_us)
        state.update((total, last_us))
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame(
            {
                "station": [key[0]],
                "total_events": [total],
                "last_ts": [pd.Timestamp(last_us * 1000) if last_us is not None else pd.NaT],
            }
        )

    return update


def running_station_counts(
    events: DataFrame,
    station_col: str = "user_id",
    ts_col: str = "ts",
    idle_timeout_ms: int | None = None,
) -> DataFrame:
    """Per-station cumulative event count, emitted once per micro-batch per
    active key. State: (total, last event time in micros).

    ``idle_timeout_ms`` bounds the state store: keys quiet for that much
    PROCESSING time are evicted via ProcessingTimeTimeout. Set it (e.g.
    3_600_000 = 1h) on any production stream whose key cardinality grows —
    without it every key ever seen holds a state entry forever and the
    store grows monotonically. It is opt-in rather than the default
    because pending timers keep the engine scheduling no-data
    micro-batches indefinitely (measured: ~1 batch/s after the source
    drains), which makes ``processAllAvailable``-style drain harnesses —
    including this repo's tests and the driver's memory-sink checks —
    hang forever. Leave None for drain-to-quiescence usage and bounded
    key domains."""
    keyed = events.select(
        events[station_col].alias("station"), events[ts_col].alias("ts")
    ).groupBy("station")
    return keyed.applyInPandasWithState(
        _make_update_running_counts(idle_timeout_ms),
        outputStructType=RUNNING_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.NoTimeout
            if idle_timeout_ms is None
            else GroupStateTimeout.ProcessingTimeTimeout
        ),
    )
