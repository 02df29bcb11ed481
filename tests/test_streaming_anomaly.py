"""Streaming EWMA anomaly maintenance (streaming/anomaly_stream.py):
the maintained anomaly table must equal the batch
hourly_count_anomaly_ewma over the same events, replay idempotently
(additive state!), and ignore torn writes."""

from __future__ import annotations

import datetime as dt
import os

import pandas as pd

from tdk_apache_log_etl_spark.operators import QUERIES
from tdk_apache_log_etl_spark.streaming.anomaly_stream import (
    apply_anomaly_batch,
    maintain_anomaly_stream,
    read_current_anomalies,
)
from tdk_apache_log_etl_spark.streaming.state_swap import committed_batches

EVENT_DDL = (
    "event_id long, ts timestamp_ntz, user_id long, event_type string, "
    "value double, props string"
)
COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]

#: the batch-dir parts anomaly_stream commits per batch
STATE_PARTS = ("hourly",)


def _events(hour_specs):
    # hour_specs: list of (hour, event_type, n)
    rows = []
    eid = 0
    for hour, etype, n in hour_specs:
        for i in range(n):
            eid += 1
            rows.append(
                (eid, dt.datetime(2026, 8, 3, hour, i % 60), 1, etype,
                 1.0, "{}")
            )
    return rows


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _write(path, rows):
    df = pd.DataFrame(rows, columns=COLS)
    df["ts"] = df["ts"].astype("datetime64[ms]")
    df.to_parquet(path)


def test_streamed_anomalies_equal_batch_query(spark, tmp_path):
    # steady 8/hour for hours 0-3, then a 40-event spike at hour 4 that
    # straddles BOTH micro-batches (20 + 20) — only the merged state can
    # see the full spike.
    specs1 = [(0, "view", 8), (1, "view", 8), (2, "view", 8),
              (3, "view", 8), (4, "view", 20)]
    specs2 = [(4, "view", 20), (5, "view", 8)]
    src = tmp_path / "ev"
    src.mkdir()
    _write(src / "d1.parquet", _events(specs1))
    _write(src / "d2.parquet", _events(specs2))
    state = str(tmp_path / "state")
    stream = (
        spark.readStream.schema(EVENT_DDL)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = maintain_anomaly_stream(
        spark, stream, state, str(tmp_path / "ckpt")
    ).start()
    assert q.awaitTermination(120)
    streamed = _rows(read_current_anomalies(spark, state))
    batch_dir = tmp_path / "batch"
    batch_dir.mkdir()
    _write(batch_dir / "events.parquet", _events(specs1) + _events(specs2))
    expected = _rows(QUERIES["hourly_count_anomaly_ewma"](spark, str(batch_dir)))
    assert streamed == expected
    # the merged hour-4 spike (40 > 3x the ~8/hour baseline) is flagged
    flagged = [r for r in streamed if r[4]]
    assert [r[1].hour for r in flagged] == [4]
    assert flagged[0][2] == 40


def test_silent_hours_decay_the_baseline(spark, tmp_path):
    # 64/hour at hour 0, then silence until hour 10: the EWMA must decay
    # ((7/8)^9 over the 9 silent hours), not freeze. The baseline decays
    # 65536 -> ~19709 (~19/hour), so the 3x flag needs >57 events at
    # hour 10; 70 clears it (a 40-spike would NOT have, pre-decay).
    state = str(tmp_path / "state")
    b0 = spark.createDataFrame(
        _events([(0, "view", 64), (10, "view", 70)]), EVENT_DDL
    )
    apply_anomaly_batch(spark, state, b0, 0)
    out = {
        r.hour.hour: r for r in read_current_anomalies(spark, state).collect()
    }
    assert len(out) == 11  # zero-filled calendar, hours 0..10
    assert out[5].n_events == 0
    assert out[5].ewma_scaled < out[0].ewma_scaled
    assert out[10].is_anomaly


def test_replayed_batch_does_not_double_count(spark, tmp_path):
    state = str(tmp_path / "state")
    b0 = spark.createDataFrame(_events([(0, "view", 10)]), EVENT_DDL)
    apply_anomaly_batch(spark, state, b0, 0)
    before = _rows(read_current_anomalies(spark, state))
    apply_anomaly_batch(spark, state, b0, 0)  # at-least-once replay
    assert _rows(read_current_anomalies(spark, state)) == before


def test_torn_hourly_write_ignored(spark, tmp_path):
    state = str(tmp_path / "state")
    apply_anomaly_batch(
        spark, state,
        spark.createDataFrame(_events([(0, "view", 10)]), EVENT_DDL), 0,
    )
    torn = os.path.join(state, "batch=1", "hourly")
    os.makedirs(torn)
    with open(os.path.join(torn, "part-00000.parquet"), "wb") as f:
        f.write(b"torn")
    assert committed_batches(state, STATE_PARTS) == [0]
    [r] = read_current_anomalies(spark, state).collect()
    assert (r.event_type, r.n_events) == ("view", 10)
    apply_anomaly_batch(
        spark, state,
        spark.createDataFrame(_events([(2, "view", 5)]), EVENT_DDL), 1,
    )
    assert len(read_current_anomalies(spark, state).collect()) == 3
