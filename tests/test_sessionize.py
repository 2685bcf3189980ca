"""Sessionization: batch window-function version (oracle-checked via
the driver gate) and the session-window streaming version — closed
stream sessions must exactly match the batch sessions."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from readabilitysax_spark.operators.sessionize import (
    SESSION_GAP_MINUTES,
    sessionize,
    sessionize_stream,
    user_session_stats,
)

from .conftest import SF_TINY


@pytest.fixture(scope="module")
def events(spark):
    return (
        spark.read.parquet(f"{SF_TINY}/events.parquet")
        .select("event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id")
        .cache()
    )


def test_batch_sessionize_gap_semantics(spark):
    rows = [
        (1, "2024-01-01 00:00:00", 7),
        (2, "2024-01-01 00:10:00", 7),   # same session (10 min gap)
        (3, "2024-01-01 01:00:00", 7),   # new session (50 min gap)
        (4, "2024-01-01 01:10:00", 8),   # other user
    ]
    df = spark.createDataFrame(rows, "event_id long, ts string, user_id long") \
        .withColumn("ts", F.to_timestamp("ts"))
    got = {(r.event_id): r.session_id for r in sessionize(df).collect()}
    assert got == {1: 0, 2: 0, 3: 1, 4: 0}
    stats = {r.user_id: r for r in user_session_stats(df).collect()}
    assert stats[7].n_sessions == 2 and stats[7].n_events == 3


def _run_stream(spark, events, tmp_path):
    """Closed sessions of ``sessionize_stream`` over ``events`` written
    as one parquet input, drained with an availableNow trigger."""
    in_dir, out_dir = str(tmp_path / "in"), str(tmp_path / "out")
    events.write.parquet(in_dir)
    stream = spark.readStream.schema(
        "event_id bigint, ts timestamp, user_id bigint").parquet(in_dir)
    q = (
        sessionize_stream(stream)
        .writeStream.format("parquet").option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append").trigger(availableNow=True).start()
    )
    assert q.awaitTermination(240)
    return spark.read.parquet(out_dir)


def test_streaming_matches_batch(spark, events, tmp_path):
    """Every closed stream session is a batch session, for every user,
    and the batch has more only by the sessions the final watermark
    (2 gaps behind the latest event) leaves open."""
    got = _run_stream(spark, events, tmp_path)
    assert got.count() > 100

    batch = (
        sessionize(events).groupBy("user_id", "session_id")
        .agg(F.min("ts").alias("session_start"),
             F.max("ts").alias("session_end"),
             F.count("*").alias("n_events"))
        .select("user_id", "session_start", "session_end", "n_events")
    )
    assert got.exceptAll(batch).count() == 0
    latest = events.agg(F.max("ts")).head()[0]
    cutoff = latest - timedelta(minutes=3 * SESSION_GAP_MINUTES)
    still_open = batch.exceptAll(got).collect()
    assert batch.count() - got.count() == len(still_open)
    assert all(r.session_end >= cutoff for r in still_open), still_open


def test_streaming_gap_boundary(spark, tmp_path):
    """Exactly ``SESSION_GAP_MINUTES`` apart shares a session; 1 µs more
    splits it. A later event of another user moves the watermark past
    both sessions so they close."""
    t0 = datetime(2024, 1, 1)
    gap = timedelta(minutes=SESSION_GAP_MINUTES)
    us = timedelta(microseconds=1)
    rows = [
        (1, t0, 7),
        (2, t0 + gap, 7),                   # exactly the gap: same session
        (3, t0 + 2 * gap + us, 7),          # gap + 1 µs: new session
        (4, t0 + 20 * gap, 8),              # advances the watermark
    ]
    events = spark.createDataFrame(rows, "event_id bigint, ts timestamp, user_id bigint")
    got = sorted(
        (r.session_start, r.session_end, r.n_events)
        for r in _run_stream(spark, events, tmp_path).where("user_id = 7").collect()
    )
    assert got == [(t0, t0 + gap, 2), (t0 + 2 * gap + us, t0 + 2 * gap + us, 1)]
