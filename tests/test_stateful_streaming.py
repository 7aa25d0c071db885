"""Per-user running profile (streaming/stateful.py) over two
micro-batches — counts accumulate across batches via the state store,
not by re-reading history — plus the ``ttl=True`` pandas kernel, both
driven by a fake GroupState and end-to-end."""

from __future__ import annotations

import datetime as dt

from pyspark.sql.types import (
    BooleanType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from grader_etl_spark.streaming.jobs import file_stream
from grader_etl_spark.streaming.stateful import user_profile_stream

SCHEMA = StructType(
    [
        StructField("user_id", StringType()),
        StructField("event_timestamp", TimestampType()),
        StructField("is_correct", BooleanType()),
    ]
)

T0 = dt.datetime(2024, 1, 15, 10, 0, 0)


def _run_batch(spark, landing, name):
    # foreachBatch (not the memory sink): it supports checkpoint
    # recovery, which is what carries the state store across the two
    # availableNow runs — the production sink shape.
    rows: list = []

    def sink(batch_df, _batch_id):
        rows.extend(batch_df.collect())

    q = (
        user_profile_stream(file_stream(spark, landing, SCHEMA))
        .writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", landing + "/_chk")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return {r["user_id"]: r for r in rows}


def test_state_accumulates_across_microbatches(spark, tmp_path):
    landing = str(tmp_path / "landing")

    spark.createDataFrame(
        [("u1", T0, True), ("u1", T0 + dt.timedelta(minutes=1), False), ("u2", T0, True)],
        SCHEMA,
    ).coalesce(1).write.mode("append").parquet(landing)
    out1 = _run_batch(spark, landing, "profiles_1")
    assert out1["u1"]["n_attempts"] == 2 and out1["u1"]["n_success"] == 1
    assert out1["u2"]["n_attempts"] == 1

    # Second batch: state (not input re-read) carries the old counts.
    spark.createDataFrame(
        [("u1", T0 + dt.timedelta(hours=1), True)], SCHEMA
    ).coalesce(1).write.mode("append").parquet(landing)
    out2 = _run_batch(spark, landing, "profiles_2")
    assert out2["u1"]["n_attempts"] == 3 and out2["u1"]["n_success"] == 2
    assert out2["u1"]["last_seen"] == T0 + dt.timedelta(hours=1)
    # u2 had no new events -> not re-emitted in update mode.
    assert "u2" not in out2


def test_last_seen_never_moves_backwards(spark, tmp_path):
    """A later micro-batch holding OLDER events must not pull last_seen
    back: it is the running maximum over every event, as the batch
    twin (max over all events) computes it."""
    landing = str(tmp_path / "landing")
    late = T0 + dt.timedelta(hours=5)

    spark.createDataFrame([("u1", late, True)], SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(landing)
    out1 = _run_batch(spark, landing, "profiles_1")
    assert out1["u1"]["last_seen"] == late

    spark.createDataFrame(
        [("u1", T0, False), ("u1", T0 + dt.timedelta(hours=1), True)], SCHEMA
    ).coalesce(1).write.mode("append").parquet(landing)
    out2 = _run_batch(spark, landing, "profiles_2")
    assert out2["u1"]["n_attempts"] == 3 and out2["u1"]["n_success"] == 2
    assert out2["u1"]["last_seen"] == late


class _FakeGroupState:
    """GroupState stand-in for driving the ``ttl=True`` kernel without
    a streaming query."""

    def __init__(self):
        self.value = None
        self.timeout_ms = None
        self.hasTimedOut = False

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return self.value

    def update(self, v):
        self.value = tuple(v)

    def remove(self):
        self.value = None

    def setTimeoutDuration(self, ms):
        self.timeout_ms = ms


def test_ttl_kernel_running_profile_with_fake_state():
    """The pandas kernel behind ``ttl=True``: counts accumulate across
    micro-batches through the state, NULL is_correct is not a success,
    last_seen is a running maximum (an older second batch keeps it),
    every update re-arms the 7-day timeout, and a timed-out state is
    evicted without output."""
    import pandas as pd

    from grader_etl_spark.streaming.stateful import STATE_TTL_MS, _update_profile

    t1 = pd.Timestamp("2024-01-15 10:00:00")
    t2 = pd.Timestamp("2024-01-15 12:00:00")
    b1 = pd.DataFrame({"is_correct": [True, False, None], "event_timestamp": [t1, t1, t2]})
    b2 = pd.DataFrame({"is_correct": [True], "event_timestamp": [t1]})

    state = _FakeGroupState()
    (out1,) = list(_update_profile(("u1",), iter([b1]), state))
    assert out1.iloc[0][["user_id", "n_attempts", "n_success"]].tolist() == ["u1", 3, 1]
    assert out1.iloc[0]["last_seen"] == t2
    assert state.timeout_ms == STATE_TTL_MS

    (out2,) = list(_update_profile(("u1",), iter([b2]), state))
    assert out2.iloc[0][["n_attempts", "n_success"]].tolist() == [4, 2]
    assert out2.iloc[0]["last_seen"] == t2

    # several Arrow chunks of one micro-batch fold into one profile row
    state2 = _FakeGroupState()
    (out3,) = list(_update_profile(("u2",), iter([b2, b1]), state2))
    assert out3.iloc[0][["n_attempts", "n_success"]].tolist() == [4, 2]
    assert out3.iloc[0]["last_seen"] == t2

    state.hasTimedOut = True
    assert list(_update_profile(("u1",), iter([]), state)) == []
    assert not state.exists


def test_ttl_profile_runs_under_processing_time_trigger(spark, tmp_path):
    """``ttl=True`` end-to-end: the pandas kernel with its 7-day
    eviction timeout, under a processing-time trigger (availableNow
    would wait on the timeout, and processAllAvailable does not
    return), driven by polling the sink and then stopping the query."""
    import time

    landing = str(tmp_path / "landing")
    late = T0 + dt.timedelta(hours=5)
    spark.createDataFrame([("u1", late, True), ("u2", T0, None)], SCHEMA).coalesce(
        1
    ).write.parquet(landing)
    rows: list = []
    q = (
        user_profile_stream(
            file_stream(spark, landing, SCHEMA, max_files_per_trigger=1), ttl=True
        )
        .writeStream.foreachBatch(lambda batch_df, _id: rows.extend(batch_df.collect()))
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .trigger(processingTime="200 milliseconds")
        .start()
    )

    def wait_for(n):
        deadline = time.monotonic() + 120
        while len(rows) < n and q.exception() is None and time.monotonic() < deadline:
            time.sleep(0.2)

    try:
        wait_for(2)
        spark.createDataFrame([("u1", T0, False)], SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(landing)
        wait_for(3)
        assert q.exception() is None
    finally:
        q.stop()
    latest = {r["user_id"]: r for r in rows}
    assert latest["u1"]["n_attempts"] == 2 and latest["u1"]["n_success"] == 1
    assert latest["u1"]["last_seen"] == late  # the older event does not pull it back
    assert latest["u2"]["n_attempts"] == 1 and latest["u2"]["n_success"] == 0
