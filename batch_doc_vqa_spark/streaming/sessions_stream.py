"""Streaming sessionization via ``applyInPandasWithState``.

The custom-stateful-operator path: per-user session state (start, last ts,
count) carried across micro-batches, sessions emitted on gap timeout. The
streaming twin of ``operators/sessions.sessionize``; the batch form is the
correctness oracle in tests (same gap rule ⇒ same closed sessions).

Late-data semantics (events admitted by the 1h watermark but arriving in a
later micro-batch): the state is a summary (start, last, n), not the full
event buffer, so exact batch semantics can't always be reconstructed. The
fold is monotone — ``last`` only advances — with explicit late handling:

- a late event within the open session's span (or within GAP before its
  start) merges into it, extending ``start`` backwards if needed;
- a late event older than ``start - GAP`` can never join the open session;
  consecutive such events are folded with the same gap rule and emitted
  immediately as closed sessions (best-effort: a *future* late event that
  batch processing would have merged with them arrives too late to do so).

Timeouts are event-time (the watermark clock), so idle-stream session closure
is a pure function of the data, not of wall clock.
"""

from __future__ import annotations

import datetime as dt

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .dedup_stream import EVENTS_SCHEMA

SESSION_SCHEMA = "user_id long, session_start timestamp, session_end timestamp, n_events long"
_STATE_SCHEMA = "start long, last long, n long"

GAP_SECONDS = 30 * 60


def _fold(ts_sorted, start, last, n, rows, user_id):
    """Gap-fold in-order timestamps into (start, last, n); emit closed ones."""
    for t in ts_sorted:
        if t - last > GAP_SECONDS:
            rows.append((user_id, start, last, n))
            start, n = t, 0
        last = max(last, t)
        n += 1
    return start, last, n


def _update(key, pdfs, state: GroupState):
    """Fold new events into the open session; emit sessions closed by gap."""
    (user_id,) = key
    rows = []
    if state.hasTimedOut:
        if state.exists:
            start, last, n = state.get
            rows.append((user_id, start, last, n))
            state.remove()
    else:
        ts_all = []
        for pdf in pdfs:
            ts_all.extend(int(t.timestamp()) for t in pdf["ts"])
        ts_all.sort()
        if not ts_all:
            yield pd.DataFrame(columns=["user_id", "session_start", "session_end", "n_events"])
            return
        if state.exists:
            start, last, n = state.get
            # events that can never join the open session: fold + emit now
            too_old = [t for t in ts_all if t < start - GAP_SECONDS]
            if too_old:
                s0, l0, n0 = _fold(too_old[1:], too_old[0], too_old[0], 1, rows, user_id)
                rows.append((user_id, s0, l0, n0))
            # late-but-mergeable events extend the open session backwards
            late = [t for t in ts_all if start - GAP_SECONDS <= t <= last]
            if late:
                start = min(start, late[0])
                n += len(late)
            fresh = [t for t in ts_all if t > last]
        else:
            start, last, n = ts_all[0], ts_all[0], 1
            fresh = ts_all[1:]
        start, last, n = _fold(fresh, start, last, n, rows, user_id)
        state.update((start, last, n))
        # event-time timeout: close the session once the watermark passes
        # last + GAP (must be strictly later than the current watermark)
        wm = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(max((last + GAP_SECONDS) * 1000, wm + 1))
    out = pd.DataFrame(
        rows, columns=["user_id", "session_start", "session_end", "n_events"]
    )
    if not out.empty:
        out["session_start"] = out["session_start"].map(
            lambda s: dt.datetime.utcfromtimestamp(s)
        )
        out["session_end"] = out["session_end"].map(lambda s: dt.datetime.utcfromtimestamp(s))
    yield out


def session_stream(spark: SparkSession, events_dir: str) -> DataFrame:
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(events_dir)
    return (
        stream.withWatermark("ts", "1 hour")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update,
            outputStructType=SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
