"""Sessionization over event streams — the window-function /
session-window streaming shell capability (SURVEY.md §2.4: absent in the
reference, built Spark-first here).

* ``sessionize`` — batch: gap-based sessions via lag() + running sum
  (two window passes over one shuffle on user_id).
* ``user_session_stats`` — per-user rollup on top.
* ``sessionize_stream`` — streaming: the same sessions from Spark's
  built-in ``session_window`` aggregation under an event-time
  watermark (no Python in the stateful operator).
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
    (user_id, session_start, session_end, n_events), the sessions of
    ``sessionize``. Spark's ``session_window`` with the plain gap merges
    windows that touch, so an event exactly ``SESSION_GAP_MINUTES`` after
    the last one joins its session and 1 µs more starts a new one. A
    session is emitted once the watermark (2 × the gap behind the latest
    event) passes its end."""
    return (
        events_stream.withWatermark("ts", f"{SESSION_GAP_MINUTES * 2} minutes")
        .groupBy("user_id",
                 F.session_window("ts", f"{SESSION_GAP_MINUTES} minutes"))
        .agg(F.min("ts").alias("session_start"),
             F.max("ts").alias("session_end"),
             F.count("*").alias("n_events"))
        .select("user_id", "session_start", "session_end", "n_events")
    )
