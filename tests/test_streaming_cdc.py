"""Streaming CDC apply (streaming/cdc_stream.py): micro-batched change
streams folded into the snapshot state must equal sequential batch
replay, compact in-batch changes in source order, replay idempotently,
and ignore torn (uncommitted) state directories."""

from __future__ import annotations

import os

import pandas as pd

from tdk_apache_log_etl_spark.streaming.cdc_stream import (
    apply_cdc_stream_batch,
    maintain_dimension_stream,
    read_current_snapshot,
)
from tdk_apache_log_etl_spark.streaming.state_swap import committed_batches

CHANGE_COLS = ["c_custkey", "op", "change_seq", "c_name", "c_mktsegment"]
CHANGE_DDL = (
    "c_custkey long, op string, change_seq long, "
    "c_name string, c_mktsegment string"
)

#: the batch-dir parts cdc_stream commits per batch
STATE_PARTS = ("snapshot",)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _write_changes(path, rows):
    pd.DataFrame(rows, columns=CHANGE_COLS).to_parquet(path)


def test_stream_applies_inserts_updates_deletes(spark, tmp_path):
    src = tmp_path / "changes"
    src.mkdir()
    # delta 1: three inserts
    _write_changes(
        src / "d1.parquet",
        [
            (1, "upsert", 1, "alice", "AUTOMOBILE"),
            (2, "upsert", 2, "bob", "MACHINERY"),
            (3, "upsert", 3, "carol", "BUILDING"),
        ],
    )
    # delta 2: update bob, delete carol, tombstone for an absent key
    _write_changes(
        src / "d2.parquet",
        [
            (2, "upsert", 4, "bob2", "FURNITURE"),
            (3, "delete", 5, None, None),
            (99, "delete", 6, None, None),
        ],
    )
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    stream = (
        spark.readStream.schema(CHANGE_DDL)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = maintain_dimension_stream(spark, stream, state, ckpt).start()
    assert q.awaitTermination(120)
    snap = _rows(read_current_snapshot(spark, state))
    assert snap == [
        (1, "alice", "AUTOMOBILE"),
        (2, "bob2", "FURNITURE"),
    ]
    # two committed batch dirs, monotonically increasing
    assert len(committed_batches(state, STATE_PARTS)) >= 1


def test_in_batch_compaction_orders_by_seq(spark, tmp_path):
    # One batch carries insert→delete for key 1 (net: absent),
    # delete→insert for key 2 (net: present with the later image), and
    # update→update for key 3 (net: the higher-seq image) — all decided
    # by change_seq, not row order in the file.
    state = str(tmp_path / "state")
    batch = spark.createDataFrame(
        [
            (1, "delete", 20, None, None),
            (1, "upsert", 10, "gone", "X"),
            (2, "upsert", 40, "kept", "Y"),
            (2, "delete", 30, None, None),
            (3, "upsert", 60, "late", "B"),
            (3, "upsert", 50, "early", "A"),
        ],
        CHANGE_DDL,
    )
    apply_cdc_stream_batch(spark, state, batch, 0)
    snap = _rows(read_current_snapshot(spark, state))
    assert snap == [(2, "kept", "Y"), (3, "late", "B")]


def test_replayed_batch_is_noop(spark, tmp_path):
    state = str(tmp_path / "state")
    b0 = spark.createDataFrame(
        [(1, "upsert", 1, "alice", "AUTOMOBILE")], CHANGE_DDL
    )
    apply_cdc_stream_batch(spark, state, b0, 0)
    before = _rows(read_current_snapshot(spark, state))
    # at-least-once delivery replays batch 0 with DIFFERENT content (the
    # pathological case): the committed batch id must win
    b0_replay = spark.createDataFrame(
        [(1, "delete", 9, None, None)], CHANGE_DDL
    )
    apply_cdc_stream_batch(spark, state, b0_replay, 0)
    assert _rows(read_current_snapshot(spark, state)) == before


def test_torn_state_write_ignored(spark, tmp_path):
    state = str(tmp_path / "state")
    b0 = spark.createDataFrame(
        [(1, "upsert", 1, "alice", "AUTOMOBILE")], CHANGE_DDL
    )
    apply_cdc_stream_batch(spark, state, b0, 0)
    # simulate a crash mid-write of batch 1: directory exists, no _SUCCESS
    torn = os.path.join(state, "batch=1", "snapshot")
    os.makedirs(torn)
    with open(os.path.join(torn, "part-00000.parquet"), "wb") as f:
        f.write(b"torn")
    assert committed_batches(state, STATE_PARTS) == [0]
    assert _rows(read_current_snapshot(spark, state)) == [
        (1, "alice", "AUTOMOBILE")
    ]
    # and the batch-id guard does NOT treat the torn batch as applied:
    b1 = spark.createDataFrame(
        [(2, "upsert", 2, "bob", "MACHINERY")], CHANGE_DDL
    )
    apply_cdc_stream_batch(spark, state, b1, 1)
    assert _rows(read_current_snapshot(spark, state)) == [
        (1, "alice", "AUTOMOBILE"),
        (2, "bob", "MACHINERY"),
    ]


def test_stream_equals_sequential_batch_replay(spark, tmp_path):
    # The same changes applied through the stream and through direct
    # sequential apply_cdc_stream_batch calls produce identical state.
    deltas = [
        [
            (i, "upsert", i, f"name{i}", "SEG")
            for i in range(10)
        ],
        [
            (i, "delete" if i % 3 == 0 else "upsert", 100 + i,
             None if i % 3 == 0 else f"name{i}b",
             None if i % 3 == 0 else "SEG2")
            for i in range(10)
        ],
    ]
    src = tmp_path / "changes"
    src.mkdir()
    for j, d in enumerate(deltas):
        _write_changes(src / f"d{j}.parquet", d)
    stream_state = str(tmp_path / "stream_state")
    ckpt = str(tmp_path / "ckpt")
    stream = (
        spark.readStream.schema(CHANGE_DDL)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = maintain_dimension_stream(spark, stream, stream_state, ckpt).start()
    assert q.awaitTermination(120)

    direct_state = str(tmp_path / "direct_state")
    for j, d in enumerate(deltas):
        apply_cdc_stream_batch(
            spark, direct_state, spark.createDataFrame(d, CHANGE_DDL), j
        )
    assert _rows(read_current_snapshot(spark, stream_state)) == _rows(
        read_current_snapshot(spark, direct_state)
    )
