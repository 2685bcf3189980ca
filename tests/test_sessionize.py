"""Sessionization: batch window-function version (oracle-checked via
the driver gate) and the applyInPandasWithState streaming version —
closed stream sessions must exactly match the batch sessions."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from readabilitysax_spark.operators.sessionize import (
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


def test_streaming_matches_batch(spark, events, tmp_path):
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    events.write.parquet(in_dir)
    stream = spark.readStream.schema(
        "event_id bigint, ts timestamp, user_id bigint").parquet(in_dir)
    q = (
        sessionize_stream(stream)
        .writeStream.format("parquet").option("path", out_dir)
        .option("checkpointLocation", ck).outputMode("append")
        .trigger(availableNow=True).start()
    )
    assert q.awaitTermination(240)
    got = spark.read.parquet(out_dir)
    assert got.count() > 100

    batch = sessionize(events)
    uid = got.groupBy("user_id").count().orderBy(F.desc("count")).head().user_id
    b = (
        batch.where(F.col("user_id") == uid)
        .groupBy("session_id")
        .agg(F.min("ts").alias("st"), F.count("*").alias("n"))
        .orderBy("st").collect()
    )
    s = got.where(F.col("user_id") == uid).orderBy("session_start").collect()
    assert len(s) >= len(b) - 1  # the final session may remain open
    for x, y in zip(s, b):
        assert abs((x.session_start - y.st).total_seconds()) < 0.001
        assert x.n_events == y.n
