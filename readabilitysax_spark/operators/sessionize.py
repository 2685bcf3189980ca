"""Sessionization over event streams — the window-function /
stateful-streaming shell capability (SURVEY.md §2.4: absent in the
reference, built Spark-first here).

* ``sessionize`` — batch: gap-based sessions via lag() + running sum
  (two window passes over one shuffle on user_id).
* ``user_session_stats`` — per-user rollup on top.
* ``sessionize_stream`` — streaming: the same semantics as a custom
  stateful operator via ``applyInPandasWithState`` (per-user state =
  last event time + open session counter), with an event-time timeout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SESSION_GAP_MINUTES = 30  # a longer pause between events starts a session


def sessionize(events: DataFrame) -> DataFrame:
    """(event_id, user_id, ts, session_id) — session_id is the running
    count of gap-breaks per user (0-based), deterministic."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # NTZ timestamps need the two-step cast to epoch seconds
    epoch = F.col("ts").cast("timestamp").cast("long")
    gap = epoch - F.lag(epoch).over(w)
    is_new = F.when(gap.isNull() | (gap > SESSION_GAP_MINUTES * 60), 1).otherwise(0)
    return (
        events.withColumn("is_new", is_new)
        .withColumn(
            "session_id",
            F.sum("is_new").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ) - 1,
        )
        .drop("is_new")
    )


def user_session_stats(events: DataFrame) -> DataFrame:
    """(user_id, n_sessions, n_events, avg_events_per_session)."""
    s = sessionize(events)
    return (
        s.groupBy("user_id")
        .agg(
            (F.max("session_id") + 1).alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
        .withColumn(
            "avg_events_per_session",
            F.round(F.col("n_events") / F.col("n_sessions"), 6),
        )
        .orderBy("user_id")
    )


def sessionize_stream(events_stream: DataFrame) -> DataFrame:
    """Streaming sessionization: emits one row per CLOSED session
    (user_id, session_start, session_end, n_events) using
    applyInPandasWithState with an event-time timeout of
    ``SESSION_GAP_MINUTES``."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = SESSION_GAP_MINUTES * 60 * 1_000_000

    def fn(key, pdfs, state: GroupState):
        import pandas as pd

        def frame(rows):
            # state keeps integer MICROseconds: float epoch seconds lose
            # sub-microsecond bits and Arrow refuses the lossy ns cast
            return pd.DataFrame(
                {"user_id": [r[0] for r in rows],
                 "session_start": [pd.Timestamp(r[1], unit="us") for r in rows],
                 "session_end": [pd.Timestamp(r[2], unit="us") for r in rows],
                 "n_events": [r[3] for r in rows]}
            )

        (user_id,) = key
        if state.hasTimedOut:
            start, end, n = state.get
            state.remove()
            yield frame([(user_id, start, end, n)])
            return

        out_rows = []
        start, end, n = state.get if state.exists else (None, None, 0)
        for pdf in pdfs:
            for ts in sorted(pdf["ts"]):
                t = int(pd.Timestamp(ts).value // 1000)  # ns → us
                if start is None:
                    start, end, n = t, t, 1
                elif t - end > gap_us:
                    out_rows.append((user_id, start, end, n))
                    start, end, n = t, t, 1
                else:
                    end, n = t, n + 1
        if start is not None:
            state.update((int(start), int(end), int(n)))
            state.setTimeoutTimestamp((end + gap_us) // 1000)
        if out_rows:
            yield frame(out_rows)

    return (
        events_stream.withWatermark("ts", f"{SESSION_GAP_MINUTES * 2} minutes")
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=(
                "user_id bigint, session_start timestamp, "
                "session_end timestamp, n_events bigint"
            ),
            stateStructType="start bigint, end bigint, n bigint",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
