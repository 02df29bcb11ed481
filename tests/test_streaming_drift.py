"""Streaming drift monitor (streaming/drift_stream.py): PSI vs a frozen
baseline must be exactly 0 when live matches baseline, match the batch
event_feature_psi when baseline/live mirror its calendar halves, exceed
the re-fit threshold on a hard mix swap, and replay without
double-counting."""

from __future__ import annotations

import datetime as dt

import pandas as pd

from tdk_apache_log_etl_spark.operators import QUERIES
from tdk_apache_log_etl_spark.streaming.drift_stream import (
    apply_drift_batch,
    freeze_baseline,
    maintain_drift_stream,
    read_live_counts,
    read_psi_vs_baseline,
)

EVENT_DDL = (
    "event_id long, ts timestamp_ntz, user_id long, event_type string, "
    "value double, props string"
)
COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]


def _rows(specs, day):
    out = []
    for i, (etype, val) in enumerate(specs):
        out.append(
            (day * 10_000 + i, dt.datetime(1992, 1, 1 + day), 1, etype,
             val, "{}")
        )
    return out


def _write(path, rows):
    df = pd.DataFrame(rows, columns=COLS)
    df["ts"] = df["ts"].astype("datetime64[ms]")
    df.to_parquet(path)


def test_psi_zero_when_live_matches_baseline(spark, tmp_path):
    specs = [("click", 1.0), ("view", 8.0), ("click", 8.0)] * 5
    _write(tmp_path / "base.parquet", _rows(specs, 0))
    _write(tmp_path / "live.parquet", _rows(specs, 2))
    baseline = str(tmp_path / "baseline")
    freeze_baseline(spark.read.parquet(str(tmp_path / "base.parquet")), baseline)
    state = str(tmp_path / "state")
    apply_drift_batch(
        spark.read.parquet(str(tmp_path / "live.parquet")), state, 0
    )
    out = {r.feature: r.psi for r in read_psi_vs_baseline(
        spark, state, baseline).collect()}
    assert out == {"event_type": 0.0, "value_log2": 0.0}


def test_stream_psi_equals_batch_halves_query(spark, tmp_path):
    # batch E233 splits at the calendar midpoint; lay baseline rows on
    # days {0,1} and live rows on days {2,3} so its halves ARE the
    # baseline/live split, then the streaming read must agree exactly.
    base_specs = [("click", 1.0)] * 30 + [("view", 60.0)] * 10
    live_specs = [("click", 1.0)] * 10 + [("view", 60.0)] * 30
    base_rows = _rows(base_specs, 0) + _rows([("signup", 2.0)], 1)
    live_rows = _rows(live_specs, 2) + _rows([("signup", 2.0)], 3)

    batch_dir = tmp_path / "batch"
    batch_dir.mkdir()
    _write(batch_dir / "events.parquet", base_rows + live_rows)
    expected = {
        r.feature: r.psi
        for r in QUERIES["event_feature_psi"](spark, str(batch_dir)).collect()
    }

    _write(tmp_path / "base.parquet", base_rows)
    src = tmp_path / "live"
    src.mkdir()
    # live arrives as TWO micro-batches
    _write(src / "a.parquet", live_rows[:20])
    _write(src / "b.parquet", live_rows[20:])
    baseline = str(tmp_path / "baseline")
    freeze_baseline(
        spark.read.parquet(str(tmp_path / "base.parquet")), baseline
    )
    state = str(tmp_path / "state")
    stream = (
        spark.readStream.schema(EVENT_DDL)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = maintain_drift_stream(stream, state, str(tmp_path / "ckpt")).start()
    assert q.awaitTermination(120)
    got = {
        r.feature: r.psi
        for r in read_psi_vs_baseline(spark, state, baseline).collect()
    }
    assert got == expected
    assert got["event_type"] > 0.25  # the mix swap crosses re-fit


def test_drift_replay_does_not_double_count(spark, tmp_path):
    _write(tmp_path / "live.parquet", _rows([("click", 1.0)] * 7, 0))
    state = str(tmp_path / "state")
    df = spark.read.parquet(str(tmp_path / "live.parquet"))
    apply_drift_batch(df, state, 0)
    before = sorted(tuple(r) for r in read_live_counts(spark, state).collect())
    apply_drift_batch(df, state, 0)
    assert sorted(
        tuple(r) for r in read_live_counts(spark, state).collect()
    ) == before
    assert before[0][2] == 7


def test_state_retention_keeps_only_commit_and_predecessor(spark, tmp_path):
    """Committed dirs are full snapshots, so after batch N only N and
    N's predecessor may remain — without pruning a long-running stream
    grows O(batches x state size) (round-4 advice)."""
    import os

    state = str(tmp_path / "state")
    for i in range(4):
        df = spark.read.parquet(
            str(_write(tmp_path / f"b{i}.parquet", _rows([("click", 1.0)], i))
                or (tmp_path / f"b{i}.parquet"))
        )
        apply_drift_batch(df, state, i)
    dirs = sorted(d for d in os.listdir(state) if d.startswith("batch="))
    assert dirs == ["batch=2", "batch=3"]
    # the live read still resolves to the latest commit
    total = sum(
        r.cnt
        for r in read_live_counts(spark, state)
        .filter("feature = 'event_type'")
        .collect()
    )
    assert total == 4


def test_replay_of_pruned_batch_id_is_a_no_op(spark, tmp_path):
    """Batch ids grow per checkpoint, so an id at or below the latest
    commit is a replay even after retention pruned its dir: it must not
    recompute, write a new dir, or prune the predecessor readers use."""
    import os

    _write(tmp_path / "live.parquet", _rows([("click", 1.0)], 0))
    df = spark.read.parquet(str(tmp_path / "live.parquet"))
    state = str(tmp_path / "state")
    for i in range(3):
        apply_drift_batch(df, state, i)

    def dirs():
        return sorted(d for d in os.listdir(state) if d.startswith("batch="))

    assert dirs() == ["batch=1", "batch=2"]
    before = sorted(tuple(r) for r in read_live_counts(spark, state).collect())
    apply_drift_batch(df, state, 0)  # replay of the pruned id 0
    assert dirs() == ["batch=1", "batch=2"]
    assert sorted(
        tuple(r) for r in read_live_counts(spark, state).collect()
    ) == before
