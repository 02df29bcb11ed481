"""Streaming SLO maintenance (streaming/slo_stream.py): the maintained
alert table must equal the batch slo_burn_rate over the same events,
replay idempotently (additive state!), and ignore torn writes."""

from __future__ import annotations

import datetime as dt
import os

import pandas as pd

from tdk_apache_log_etl_spark.operators import QUERIES
from tdk_apache_log_etl_spark.streaming.slo_stream import (
    apply_slo_batch,
    maintain_slo_stream,
    read_current_alerts,
)
from tdk_apache_log_etl_spark.streaming.state_swap import committed_batches

EVENT_DDL = (
    "event_id long, ts timestamp_ntz, user_id long, event_type string, "
    "value double, props string"
)
COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]

#: the batch-dir parts slo_stream commits per batch
STATE_PARTS = ("hourly",)


def _events(hour_specs):
    # hour_specs: list of (hour, n_total, n_errors)
    rows = []
    eid = 0
    for hour, n, n_err in hour_specs:
        for i in range(n):
            eid += 1
            rows.append(
                (
                    eid,
                    dt.datetime(2026, 8, 3, hour, i % 60),
                    1,
                    "error" if i < n_err else "view",
                    1.0,
                    "{}",
                )
            )
    return rows


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _write(path, rows):
    # ms precision: an ns ts column reads as INT64 under the session's
    # nanosAsLong conf and breaks the declared timestamp_ntz schema
    df = pd.DataFrame(rows, columns=COLS)
    df["ts"] = df["ts"].astype("datetime64[ms]")
    df.to_parquet(path)


def test_streamed_alerts_equal_batch_query(spark, tmp_path):
    specs1 = [(0, 100, 1), (1, 100, 20)]
    specs2 = [(1, 50, 10), (5, 100, 0)]  # hour 1 spans BOTH deltas
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
    q = maintain_slo_stream(
        spark, stream, state, str(tmp_path / "ckpt")
    ).start()
    assert q.awaitTermination(120)
    streamed = _rows(read_current_alerts(spark, state))
    # batch reference: the registered query over ALL the same events
    batch_dir = tmp_path / "batch"
    batch_dir.mkdir()
    _write(batch_dir / "events.parquet", _events(specs1) + _events(specs2))
    expected = _rows(QUERIES["slo_burn_rate"](spark, str(batch_dir)))
    assert streamed == expected
    # the cross-batch hour merged additively: 150 events, 30 errors
    by_hour = {r[0].hour: r for r in streamed}
    assert by_hour[1][1] == 150 and by_hour[1][2] == 30


def test_replayed_batch_does_not_double_count(spark, tmp_path):
    state = str(tmp_path / "state")
    b0 = spark.createDataFrame(_events([(0, 10, 2)]), EVENT_DDL)
    apply_slo_batch(spark, state, b0, 0)
    before = _rows(read_current_alerts(spark, state))
    apply_slo_batch(spark, state, b0, 0)  # at-least-once replay
    assert _rows(read_current_alerts(spark, state)) == before


def test_torn_hourly_write_ignored(spark, tmp_path):
    state = str(tmp_path / "state")
    apply_slo_batch(
        spark, state, spark.createDataFrame(_events([(0, 10, 2)]), EVENT_DDL), 0
    )
    torn = os.path.join(state, "batch=1", "hourly")
    os.makedirs(torn)
    with open(os.path.join(torn, "part-00000.parquet"), "wb") as f:
        f.write(b"torn")
    assert committed_batches(state, STATE_PARTS) == [0]
    [r] = read_current_alerts(spark, state).collect()
    assert (r.n_events, r.n_errors) == (10, 2)
    # a later good batch still lands with the next id
    apply_slo_batch(
        spark, state, spark.createDataFrame(_events([(2, 5, 0)]), EVENT_DDL), 1
    )
    assert len(read_current_alerts(spark, state).collect()) == 2
