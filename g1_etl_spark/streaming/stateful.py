"""Arbitrary stateful streaming via applyInPandasWithState — the escape
hatch for semantics windowed aggregation can't express.

Pattern: groupBy(key).applyInPandasWithState(fn, outputSchema,
stateSchema, outputMode, timeoutConf). State lives per key in the state
store; the watermark/timeout bounds it. Two exemplars, one per timeout
mode:

- running_user_totals: NoTimeout, update mode — running per-key
  counters emitted every micro-batch;
- streaming_pattern_seq: EventTimeTimeout, append mode — events buffer
  in state until the watermark seals them, and a timer flushes keys the
  stream stops mentioning.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

_OUT_SCHEMA = ("user_id long, total_events long, total_value double, "
               "batch_events long")
_STATE_SCHEMA = "total_events long, total_value double"


def _update_user_totals(key, pdfs: Iterator[pd.DataFrame],
                        state: GroupState) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    total_events, total_value = (
        state.get if state.exists else (0, 0.0))
    batch_events = 0
    for pdf in pdfs:
        batch_events += len(pdf)
        total_events += len(pdf)
        total_value += float(pdf["value"].sum())
    state.update((total_events, total_value))
    yield pd.DataFrame({
        "user_id": [user_id],
        "total_events": [total_events],
        "total_value": [total_value],
        "batch_events": [batch_events],
    })


def running_user_totals(events: DataFrame) -> DataFrame:
    """Per-user running totals across micro-batches (arbitrary stateful
    processing; emits one row per user per batch)."""
    return (events
            .groupBy("user_id")
            .applyInPandasWithState(
                _update_user_totals,
                outputStructType=_OUT_SCHEMA,
                stateStructType=_STATE_SCHEMA,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout))


_PAT_STEPS = ("view", "click", "purchase")
_PAT_OUT = "user_id long, start_us long, end_us long, duration_us long"
# buffered events awaiting watermark closure (types + event times + ids
# for a total order on timestamp ties)
_PAT_STATE = "types array<string>, uss array<long>, ids array<long>"
_PAT_MAX_GAP_US = 86_400_000_000  # 24h, matches the batch plan


def _match_pattern(key, pdfs: Iterator[pd.DataFrame],
                   state: GroupState) -> Iterator[pd.DataFrame]:
    """Watermark-correct strict-sequence matcher. Buffer the user's
    events in state; a triple (i, i+1, i+2) is CLOSED once the
    watermark passes us[i+2] — no late event can land inside it
    anymore, because any not-yet-arrived event has ts > watermark >=
    us[i+2]. Emit matches among closed triples only, keep the last two
    closed events plus everything open, and arm an event-time timeout
    so the tail flushes when the watermark advances past it even if
    the user never appears in another batch."""
    (user_id,) = key
    types, uss, ids = (list(state.get[0]), list(state.get[1]),
                       list(state.get[2])) if state.exists else ([], [], [])
    if not state.hasTimedOut:
        for pdf in pdfs:
            types.extend(pdf["event_type"])
            uss.extend(int(u) for u in pdf["us"])
            ids.extend(int(i) for i in pdf["event_id"])
    order = sorted(range(len(uss)), key=lambda i: (uss[i], ids[i]))
    types = [types[i] for i in order]
    uss = [uss[i] for i in order]
    ids = [ids[i] for i in order]

    wm_us = state.getCurrentWatermarkMs() * 1000
    rows = []
    # last index whose triple-closing position the watermark PASSED.
    # Strictly below: an event with ts exactly at the watermark can
    # still arrive (only ts < watermark is guaranteed dropped), so a
    # triple closing at the boundary stays open one more advance.
    closed = sum(1 for u in uss if u < wm_us)
    for i in range(max(0, closed - 2)):
        if (types[i] == _PAT_STEPS[0] and types[i + 1] == _PAT_STEPS[1]
                and types[i + 2] == _PAT_STEPS[2]
                and uss[i + 2] - uss[i] <= _PAT_MAX_GAP_US):
            rows.append({"user_id": user_id, "start_us": uss[i],
                         "end_us": uss[i + 2],
                         "duration_us": uss[i + 2] - uss[i]})
    # retain the last two closed events (possible prefix of an open
    # triple) and every open one
    keep_from = max(0, closed - 2)
    types, uss, ids = types[keep_from:], uss[keep_from:], ids[keep_from:]
    if types:
        state.update((types, uss, ids))
        # arm a flush timeout ONLY while something is still open (a
        # fully-closed <=2-event leftover can only ever emit when a NEW
        # event arrives, which re-invokes this function anyway), and arm
        # it at the EARLIEST open event: the next watermark advance past
        # it seals new positions, so each firing does real emission work
        # and the tail drains progressively. An arm at max(uss) can
        # exceed the final watermark and strand the last user's
        # sealed-but-unemitted matches forever.
        open_us = [u for u in uss if u >= wm_us]
        if open_us:
            # (min//1000, wm+1): fires at the FIRST watermark that
            # strictly passes the event; the former outer +1 could
            # strand a terminal event one watermark-granule longer
            state.setTimeoutTimestamp(
                max(min(open_us) // 1000,
                    state.getCurrentWatermarkMs() + 1))
    else:
        state.remove()
    yield pd.DataFrame(rows, columns=["user_id", "start_us", "end_us",
                                      "duration_us"])


def streaming_pattern_seq(events: DataFrame,
                          delay: str = "0 seconds") -> DataFrame:
    """Streaming twin of the batch events_pattern_seq: strict
    view->click->purchase adjacency per user within 24h, detected with
    buffered arbitrary-stateful processing. It is ORDER-CORRECT under
    out-of-order arrival: events buffer in state until the event-time
    watermark closes their triple, so the emitted matches equal the
    batch plan's on any arrival order (for events inside the
    watermark). EventTimeTimeout flushes users the stream stops
    mentioning."""
    prepared = (events
                .withWatermark("ts", delay)
                .select("user_id", "event_id", "event_type",
                        F.unix_micros("ts").alias("us"), "ts"))
    return (prepared
            .groupBy("user_id")
            .applyInPandasWithState(
                _match_pattern,
                outputStructType=_PAT_OUT,
                stateStructType=_PAT_STATE,
                outputMode="append",
                timeoutConf=GroupStateTimeout.EventTimeTimeout))

