"""Streaming twins for the time-series/anomaly family (streaming/
timeseries.py): after every wave the metrics derived from the stream's
emitted log equal the batch twins over all rows sent so far — EWMA,
residual, running peak/drawdown, Bollinger band break, and the
snapshot-derived anomaly flag (the one column whose value later events
may flip) — including a mid-stream restart on a durable sink whose
checkpointed state must resume the deque/peak/forecast exactly.

The batch twins themselves are asserted equal to the four REGISTERED
queries on the full table first, so stream == twin == registered is
pinned transitively (one semantics, two execution shapes)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from async_event_streams_spark.queries import QUERIES
from async_event_streams_spark.streaming import (
    anomaly_batch_twin,
    anomaly_view,
    bollinger_batch_twin,
    drawdown_batch_twin,
    ewma_batch_twin,
    rolling_median_batch_twin,
    timeseries_stream,
)
from async_event_streams_spark.tables import table
from async_event_streams_spark.topics import Topic, TopicRegistry

def _x():
    return F.floor(F.col("value") * 1000000).cast("long").alias("x_micro")


def _events_frame(spark, sf_dir, n=240):
    return (
        table(spark, sf_dir, "events")
        .filter(F.col("event_id") < n)
        .select("user_id", "event_id", _x())
    )


def test_batch_twins_equal_registered_queries(spark, sf_dir):
    """The twin plans applied to the full table must reproduce the
    registered queries row-for-row — the guard that keeps the twin
    and the oracle-checked batch lane from drifting apart."""
    full = table(spark, sf_dir, "events").select("user_id", "event_id", _x())
    pairs = [
        ("c_ewma", ewma_batch_twin),
        ("c_window_drawdown", drawdown_batch_twin),
        ("c_window_bollinger", bollinger_batch_twin),
        ("c_window_rolling_median", rolling_median_batch_twin),
        ("c_anomaly_ewma", anomaly_batch_twin),
    ]
    for name, twin in pairs:
        want = {tuple(r) for r in QUERIES[name](spark, sf_dir).collect()}
        got = {tuple(r) for r in twin(full).collect()}
        assert got == want, name


def _waves(spark, sf_dir, k=3):
    rows = _events_frame(spark, sf_dir).orderBy("event_id").collect()
    step = (len(rows) + k - 1) // k
    return [
        [
            {"user_id": r.user_id, "eid": r.event_id, "xm": r.x_micro}
            for r in rows[i : i + step]
        ]
        for i in range(0, len(rows), step)
    ]


def _stream_from(topic):
    return topic.subscribe().select(
        "user_id",
        F.col("eid").alias("event_id"),
        F.col("xm").alias("x_micro"),
    )


_PAYLOAD = "user_id long, eid long, xm long"


def _check_all(spark, emitted, sofar_df):
    ew = {tuple(r) for r in emitted.select(
        "user_id", "event_id", "x_micro", "ewma_pico").collect()}
    assert ew == {tuple(r) for r in ewma_batch_twin(sofar_df).collect()}
    dd = {tuple(r) for r in emitted.select(
        "user_id", "event_id", "x_micro", "peak_micro", "drawdown_micro"
    ).collect()}
    assert dd == {tuple(r) for r in drawdown_batch_twin(sofar_df).collect()}
    bb = {
        (r.user_id, r.event_id, r.x_micro, r.band_break)
        for r in emitted.collect()
    }
    assert bb == {
        (r.user_id, r.event_id, r.x_micro, r.band_break)
        for r in bollinger_batch_twin(sofar_df).collect()
    }
    rm = {tuple(r) for r in emitted.select(
        "user_id", "event_id", "x_micro", "med2_micro").collect()}
    assert rm == {
        tuple(r) for r in rolling_median_batch_twin(sofar_df).collect()
    }
    an = {tuple(r) for r in anomaly_view(emitted).collect()}
    assert an == {tuple(r) for r in anomaly_batch_twin(sofar_df).collect()}


def test_timeseries_stream_equals_batch_wave_by_wave(spark, sf_dir, tmp_path):
    from async_event_streams_spark.streaming import run_stream_to_memory

    reg = TopicRegistry()
    t = Topic(spark, "ts_ev", _PAYLOAD, str(tmp_path / "t"), reg)
    query, tbl = run_stream_to_memory(
        timeseries_stream(_stream_from(t)), output_mode="append"
    )
    t.attach_query(query)
    try:
        sofar = []
        for wave in _waves(spark, sf_dir):
            t.send(wave)
            sofar += wave
            emitted = spark.sql(f"SELECT * FROM {tbl}")
            sofar_df = spark.createDataFrame(
                [(r["user_id"], r["eid"], r["xm"]) for r in sofar],
                "user_id long, event_id long, x_micro long",
            )
            _check_all(spark, emitted, sofar_df)
    finally:
        t.close()


def test_timeseries_stream_restart_resumes_state(spark, sf_dir, tmp_path):
    """Stop the query mid-stream (rows continue arriving while it is
    down), restart with the same checkpoint + durable parquet sink:
    the state store must restore every user's deque/peak/forecast so
    the full emitted log still equals the batch twins — in particular
    the first post-restart EWMA depends on pre-restart frame values
    and the first post-restart residual on the pre-restart forecast."""
    reg = TopicRegistry()
    t = Topic(spark, "ts_rs", _PAYLOAD, str(tmp_path / "t"), reg)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def start():
        q = (
            timeseries_stream(_stream_from(t))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )
        t.attach_query(q)
        return q

    waves = _waves(spark, sf_dir)
    q1 = start()
    try:
        t.send(waves[0])
    finally:
        q1.stop()
    t.post(waves[1])  # arrives while the query is down
    q2 = start()
    try:
        t.send(waves[2])
        emitted = spark.read.schema(
            "user_id long, event_id long, x_micro long, ewma_pico long, "
            "residual_pico long, peak_micro long, drawdown_micro long, "
            "band_break int, med2_micro long"
        ).parquet(out)
        allrows = [r for w in waves for r in w]
        sofar_df = spark.createDataFrame(
            [(r["user_id"], r["eid"], r["xm"]) for r in allrows],
            "user_id long, event_id long, x_micro long",
        )
        # exactly-once across the restart: no duplicated event rows
        n = emitted.count()
        assert n == len(allrows), (n, len(allrows))
        _check_all(spark, emitted, sofar_df)
    finally:
        q2.stop()
        t.close()
        # parquet sink leaves a _spark_metadata dir; nothing to clean
        assert os.path.isdir(out)
