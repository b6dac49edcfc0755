"""Custom stateful streaming operator: gap-based sessionization via
``applyInPandasWithState``.

This is the one operator family Structured Streaming's built-in
aggregations cannot express directly with these exact semantics (emit a
row per *session* keyed by an incrementing per-user session number,
matching the batch lag+running-sum idiom in
queries.relational_ext.sessionize_events). State per user is O(1): the
open session's (number, start, last-seen, count, value-sum). Arrow
batches cross the Python boundary, one state lookup per (user, batch).

Semantics: within a micro-batch, a user's rows are processed in event
order; a gap > ``gap_s`` closes the open session. Each batch emits every
session it touched - closed sessions with ``closed=true`` (final), the
still-open session with ``closed=false`` (its latest running totals).
Downstream consumers keep the last emission per (user_id, session_no),
exactly the Update-mode contract of a streaming aggregation. A
production deployment would add a GroupStateTimeout to flush sessions
idle longer than the gap even with no new events; correctness for
arriving data does not depend on it, so this module keeps NoTimeout and
lets the final open session surface through its ``closed=false`` row.

Ordering caveat (inherent to the operator, not this implementation):
rows must reach a key in event-time order across batches - the file
source preserves file order, so replaying splits partitioned on time is
exact. With out-of-order arrival you would buffer in state up to a
watermark before folding, trading latency for disorder tolerance.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

SESSION_GAP_MIN = 30  # matches queries.relational_ext.SESSION_GAP_MIN

SESSION_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_no", LongType()),
        StructField("n_events", LongType()),
        StructField("duration_s", LongType()),
        StructField("session_value", DoubleType()),
        StructField("closed", BooleanType()),
    ]
)

#: (session_no, start_us, last_us, n_events, value_sum); times are epoch
#: microseconds, so the gap test sees sub-second differences.
SESSION_STATE = StructType(
    [
        StructField("session_no", LongType()),
        StructField("start", LongType()),
        StructField("last", LongType()),
        StructField("n", LongType()),
        StructField("val", DoubleType()),
    ]
)


_US = 1_000_000


def _whole_s(start_us: int, last_us: int) -> int:
    """Whole-second boundaries crossed between two epoch-micro instants
    (the batch query's ``duration_s``)."""
    return last_us // _US - start_us // _US


def _fold_user(
    key: Tuple[int], pdfs: Iterator[pd.DataFrame], state: GroupState, gap_s: int
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    if state.exists:
        session_no, start, last, n, val = state.get
    else:
        session_no, start, last, n, val = 0, None, None, 0, 0.0
    out: list[tuple] = []
    gap_us = gap_s * _US
    for pdf in pdfs:
        pdf = pdf.sort_values(["__us", "event_id"])
        for us, value in zip(pdf["__us"], pdf["value"]):
            us = int(us)
            if start is not None and us - last <= gap_us:
                last, n, val = us, n + 1, val + float(value)
            else:
                if start is not None:  # close the previous session
                    out.append((user_id, session_no, n, _whole_s(start, last), val, True))
                session_no, start, last, n, val = session_no + 1, us, us, 1, float(value)
    if start is not None:  # running totals of the open session
        out.append((user_id, session_no, n, _whole_s(start, last), val, False))
    state.update((session_no, start, last, n, val))
    yield pd.DataFrame(out, columns=[f.name for f in SESSION_OUT.fields])


def sessionize_stream(events: DataFrame, gap_min: int = SESSION_GAP_MIN) -> DataFrame:
    """events (streaming, with ts/user_id/event_id/value) -> per-session
    rows as described in the module docstring."""
    gap_s = gap_min * 60
    with_us = events.select(
        "user_id", "event_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("__us"), "value"
    )
    return with_us.groupBy("user_id").applyInPandasWithState(
        lambda key, pdfs, state: _fold_user(key, pdfs, state, gap_s),
        outputStructType=SESSION_OUT,
        stateStructType=SESSION_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def latest_sessions(rows: DataFrame) -> DataFrame:
    """Collapse the emission log to the final row per (user_id,
    session_no) - the Update-mode materialization a sink would keep."""
    w = F.row_number().over(
        Window.partitionBy("user_id", "session_no").orderBy(
            F.desc("n_events"), F.desc("closed")
        )
    )
    return rows.withColumn("__rn", w).filter(F.col("__rn") == 1).drop("__rn")
