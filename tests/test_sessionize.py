"""Sessionization: batch window form vs stateful streaming form."""

from __future__ import annotations

import time

import pandas as pd
import pytest
from pyspark.sql import functions as F

from codebased_spark.streaming.sessionize import sessionize_batch, sessionize_stream

GAP = 1800


@pytest.fixture(scope="module")
def tiny_events(spark):
    rows = []
    base = pd.Timestamp("2024-01-01 00:00:00")
    # user 1: two sessions (events 0,10,20 min; then gap 2h; 140,150 min)
    for m in (0, 10, 20, 140, 150):
        rows.append((1, base + pd.Timedelta(minutes=m)))
    # user 2: one long session, event every 20 min
    for m in (0, 20, 40, 60):
        rows.append((2, base + pd.Timedelta(minutes=m)))
    # user 3: single event
    rows.append((3, base))
    return spark.createDataFrame(pd.DataFrame(rows, columns=["user_id", "ts"]))


def test_sessionize_batch_exact(tiny_events):
    got = {
        (r.user_id, r.session_start.minute + 60 * r.session_start.hour, r.n_events)
        for r in sessionize_batch(tiny_events, gap_seconds=GAP).collect()
    }
    assert got == {(1, 0, 3), (1, 140, 2), (2, 0, 4), (3, 0, 1)}


def test_sessionize_batch_on_driver_events(spark):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    sessions = sessionize_batch(ev, gap_seconds=GAP)
    per_user = sessions.groupBy("user_id").agg(
        F.sum("n_events").alias("n")
    )
    totals = ev.groupBy("user_id").count()
    joined = per_user.join(totals, "user_id").where(F.col("n") != F.col("count"))
    assert joined.count() == 0  # every event lands in exactly one session


def test_sessionize_stream_matches_batch_closed_sessions(spark, tiny_events, tmp_path):
    src = str(tmp_path / "events")
    tiny_events.write.parquet(src)
    stream = spark.readStream.schema("user_id long, ts timestamp").parquet(src)
    q = (
        sessionize_stream(stream, gap_seconds=GAP)
        .writeStream.format("memory")
        .queryName("sessions_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    # the state's processing-time timeout makes Spark run no-data batches
    # forever, so an availableNow query never terminates (nor does
    # processAllAvailable return): wait up to 120 s for the batch that
    # read the input, then stop the query, which would otherwise keep
    # taking task slots from every later test
    try:
        deadline = time.time() + 120
        while time.time() < deadline and not any(
            p["numInputRows"] for p in q.recentProgress
        ):
            time.sleep(0.2)
    finally:
        q.stop()
    streamed = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in spark.sql("select * from sessions_out").collect()
    }
    batch_all = sessionize_batch(tiny_events, gap_seconds=GAP)
    # the stream emits sessions CLOSED by a later event in the same batch;
    # each user's final (still-open) session stays in state
    w_last = batch_all.withColumn(
        "rn",
        F.row_number().over(
            __import__("pyspark.sql.window", fromlist=["Window"]).Window
            .partitionBy("user_id")
            .orderBy(F.desc("session_start"))
        ),
    )
    expected = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in w_last.where(F.col("rn") > 1).drop("rn").collect()
    }
    assert streamed == expected
