"""Custom stateful streaming operator: gap-based sessionization with
`applyInPandasWithState` (SURVEY.md §2.6 — absent from the reference;
driver north star asks for custom stateful streaming operators).

The batch engine sessionizes with window functions
(operators/analytics.py::sessionize_events); over an unbounded stream
that approach is impossible — gap detection needs *cross-batch memory*
per user. Here each user_id carries explicit state (open session start,
last event time, running aggregates, session counter):

- events arrive in micro-batches, grouped by user_id;
- a gap > SESSION_GAP_S closes the open session -> emitted downstream
  (append mode: closed sessions are immutable facts);
- the still-open session persists in the state store across batches.

Scale: state is O(active users) x a few scalars, hash-partitioned on
user_id — the same shuffle key the batch variant uses. Arrow batches
cross the Python boundary; per-group work is a single sorted pass.
The open-session tail can be flushed via processing-time timeouts in
production; kept NoTimeout here so finite replays are deterministic.
"""

from __future__ import annotations

import warnings
from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

SESSION_GAP_S = 30 * 60

# PySpark's grouped-state serializer (pyspark/sql/pandas/serializers.py,
# dump_stream's construct_record_batch) appends an all-None padding frame
# to the output frames of every Arrow batch and concatenates them, and
# pandas 2.2 warns about that concat once per worker for any batch with
# output rows, whatever this module yields (empty frames are dropped
# before it). The batch is cast to the declared output schema afterwards,
# so the dtype change the warning announces cannot reach the rows. The
# Python workers import this module to unpickle _sessionize_group.
warnings.filterwarnings(
    "ignore",
    message="The behavior of DataFrame concatenation with empty or all-NA entries",
    category=FutureWarning,
    module="pyspark.sql.pandas.serializers",
)

EVENT_SCHEMA = "user_id long, ts_s double, value double"

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_seq", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("duration_s", T.DoubleType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)

# (session_start_ts, last_event_ts, session_seq, n_events, total_value)
STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_ts", T.DoubleType()),
        T.StructField("last_ts", T.DoubleType()),
        T.StructField("seq", T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("total", T.DoubleType()),
    ]
)


def _sessionize_group(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    if state.exists:
        start_ts, last_ts, seq, n, total = state.get
    else:
        start_ts = last_ts = None
        seq, n, total = 0, 0, 0.0

    closed: list[tuple] = []
    events = pd.concat(list(pdfs), ignore_index=True)
    # Null guard (round-12 review): a missing ts arrives as NaN, which is
    # incomparable — every gap test is False, so a NaN event would join
    # the open session AND poison last_ts, after which no later gap can
    # ever close the session (two sessions silently merge). An event
    # without a time cannot be sessionized: drop it. A missing value is
    # counted with value 0 (the event happened; its revenue is unknown).
    events = events[events["ts_s"].notna()]
    events["value"] = events["value"].fillna(0.0)
    events = events.sort_values("ts_s")
    for ts, value in zip(events["ts_s"], events["value"]):
        # Late-data policy: events are sorted within a micro-batch, but an
        # event arriving in a LATER batch with ts < state.last_ts would
        # otherwise produce a negative gap and silently distort duration.
        # Clamp it to last_ts: it joins the open session with zero gap
        # (counted in n_events/total_value, never reopens a closed session).
        # True event-time correction would need watermark-style buffering.
        if last_ts is not None and ts < last_ts:
            ts = last_ts
        if last_ts is not None and ts - last_ts > SESSION_GAP_S:
            closed.append((user_id, seq, n, last_ts - start_ts, total))
            seq += 1
            start_ts, n, total = ts, 0, 0.0
        if start_ts is None:
            start_ts = ts
        last_ts = ts
        n += 1
        total += float(value)

    state.update((start_ts, last_ts, seq, n, total))
    yield pd.DataFrame(closed, columns=[f.name for f in OUTPUT_SCHEMA.fields])


def sessionize_stream(events: DataFrame) -> DataFrame:
    """events stream (user_id, ts_s, value) -> closed-session stream."""
    return events.groupBy("user_id").applyInPandasWithState(
        _sessionize_group,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_files_to_memory(
    spark: SparkSession, input_path: str, *, table_name: str, one_file_per_batch: bool = True
) -> DataFrame:
    """Test harness: drive the file stream to completion, one file per
    micro-batch so cross-batch state transitions are actually exercised."""
    from .runner import drain_to_memory

    drain_to_memory(
        spark,
        input_path,
        schema=EVENT_SCHEMA,
        build=sessionize_stream,
        table_name=table_name,
        one_file_per_batch=one_file_per_batch,
    )
    return spark.table(table_name)
