"""Unit tests for the two state-commit protocols in streaming/state_swap.py.

The swap-merge protocol has three distinct crash points; each must heal on
the next recover_state/swap_write pair without losing accumulated state
or wedging the stream:

  1. between rename(live, old) and rename(tmp, live)  — live missing,
     ._old holds the full prior state  → recover_state renames it back.
  2. after rename(tmp, live) but before rmtree(old)   — live is newest,
     ._old is a stale predecessor      → recover_state (or the next
     swap_write) clears ._old; rename(live, old) must not ENOTEMPTY.
  3. mid-write of ._tmp                               — overwrite mode
     on the next batch replaces it; nothing to heal.

The batch-dir protocol must keep only the latest commit and its
predecessor, and must treat any id at or below the latest commit as a
replay — even when that id's own directory was already pruned.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from tdk_apache_log_etl_spark.streaming.state_swap import (
    apply_batch,
    committed_batches,
    prune_batch_dirs,
    read_batch_state,
    recover_state,
    swap_write,
)

_COUNTS = {
    "counts": T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("n", T.LongType()),
        ]
    )
}


def _state_df(spark, vals):
    return spark.createDataFrame([(v,) for v in vals], "v int")


def _read_vals(spark, path):
    return sorted(r.v for r in spark.read.parquet(path).collect())


def test_recover_restores_old_when_live_missing(spark, tmp_path):
    live = str(tmp_path / "state")
    swap_write(_state_df(spark, [1, 2]), live)
    # crash point 1: live renamed away, tmp never renamed in
    os.rename(live, live + "._old")
    recover_state(live)
    assert _read_vals(spark, live) == [1, 2]
    assert not os.path.exists(live + "._old")


def test_recover_clears_stale_old_when_live_exists(spark, tmp_path):
    live = str(tmp_path / "state")
    swap_write(_state_df(spark, [1]), live)
    # crash point 2: simulate dying after rename(tmp, live) but before
    # rmtree(old) — both live and a non-empty ._old exist
    swap_write(_state_df(spark, [1, 2]), live)
    os.makedirs(live + "._old")
    with open(live + "._old/part-stale.parquet", "w") as f:
        f.write("stale")
    recover_state(live)
    assert not os.path.exists(live + "._old")  # stale predecessor gone
    assert _read_vals(spark, live) == [1, 2]  # newest state untouched


def test_swap_write_survives_stale_old_without_recover(spark, tmp_path):
    # belt-and-braces: even if a caller skips recover_state, the next
    # swap_write must not ENOTEMPTY on the leftover ._old
    live = str(tmp_path / "state")
    swap_write(_state_df(spark, [1]), live)
    os.makedirs(live + "._old")
    with open(live + "._old/part-stale.parquet", "w") as f:
        f.write("stale")
    swap_write(_state_df(spark, [1, 2, 3]), live)
    assert _read_vals(spark, live) == [1, 2, 3]
    assert not os.path.exists(live + "._old")


def test_swap_write_restores_old_when_live_missing(spark, tmp_path):
    # ADVICE r7: crash point 1 (live renamed away, tmp never renamed
    # in) followed by a swap_write whose caller skipped recover_state.
    # The old unconditional pre-clean rmtree'd ._old — the ONLY
    # surviving copy — before the merged plan materialized; the
    # entry-point recover_state must rename it back first, so a lazy
    # merged plan that reads the live table still sees the full
    # accumulated state.
    live = str(tmp_path / "state")
    swap_write(_state_df(spark, [1, 2]), live)
    merged = spark.read.parquet(live).unionByName(_state_df(spark, [3]))
    os.rename(live, live + "._old")  # crash point 1
    swap_write(merged, live)  # no recover_state by the caller
    assert _read_vals(spark, live) == [1, 2, 3]
    assert not os.path.exists(live + "._old")


def test_full_cycle_with_recover_between_every_batch(spark, tmp_path):
    live = str(tmp_path / "state")
    for upto in range(1, 5):
        recover_state(live)
        swap_write(_state_df(spark, list(range(upto))), live)
    assert _read_vals(spark, live) == [0, 1, 2, 3]


def test_prune_batch_dirs_keeps_only_requested(tmp_path):
    sd = str(tmp_path)
    for bid in (1, 2, 3, 7):
        os.makedirs(os.path.join(sd, f"batch={bid}"))
    os.makedirs(os.path.join(sd, "notabatch"))
    prune_batch_dirs(sd, keep_ids={3, 7})
    kept = sorted(os.listdir(sd))
    assert kept == ["batch=3", "batch=7", "notabatch"]


def _apply_one(spark, state_dir, batch_id):
    """An additive batch-dir step: every batch adds 1 to key 'a'."""

    def step(state):
        delta = spark.createDataFrame([("a", 1)], _COUNTS["counts"])
        return {
            "counts": state["counts"]
            .unionByName(delta)
            .groupBy("k")
            .agg(F.sum("n").cast("long").alias("n"))
        }

    apply_batch(spark, state_dir, batch_id, _COUNTS, step)


def _total(spark, state_dir):
    state = read_batch_state(spark, state_dir, _COUNTS)
    return sum(r.n for r in state["counts"].collect())


def _batch_dirs(state_dir):
    return sorted(d for d in os.listdir(state_dir) if d.startswith("batch="))


def test_apply_batch_keeps_only_commit_and_predecessor(spark, tmp_path):
    sd = str(tmp_path / "state")
    for bid in range(4):
        _apply_one(spark, sd, bid)
    assert _batch_dirs(sd) == ["batch=2", "batch=3"]
    assert committed_batches(sd, _COUNTS) == [2, 3]
    # the read resolves to batch 3, the only dir holding all four adds
    assert _total(spark, sd) == 4


def test_apply_batch_skips_replay_of_pruned_id(spark, tmp_path):
    sd = str(tmp_path / "state")
    for bid in range(3):
        _apply_one(spark, sd, bid)
    assert _batch_dirs(sd) == ["batch=1", "batch=2"]
    for replayed in (0, 1, 2):  # pruned, predecessor, latest
        _apply_one(spark, sd, replayed)
        assert _batch_dirs(sd) == ["batch=1", "batch=2"]
        assert _total(spark, sd) == 3


def test_read_batch_state_cold_start_is_empty_with_schema(spark, tmp_path):
    state = read_batch_state(spark, str(tmp_path / "none"), _COUNTS)
    assert state["counts"].schema == _COUNTS["counts"]
    assert state["counts"].count() == 0
