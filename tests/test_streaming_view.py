"""Streaming join-view maintenance: micro-batched order deltas folded
into the persisted (view, partials) state must reproduce the direct
batch recompute exactly, survive replays idempotently, and tolerate a
crash between state write and checkpoint commit."""

from __future__ import annotations

import os

import pyspark.sql.functions as F

from tdk_apache_log_etl_spark.operators.incremental import revenue_by_nation
from tdk_apache_log_etl_spark.sources.tables import load_table
from tdk_apache_log_etl_spark.streaming.view_maintenance import (
    apply_orders_batch,
    maintain_join_view_stream,
    read_current_view,
)
from tdk_apache_log_etl_spark.streaming.state_swap import committed_batches

from .conftest import SF_DIR_SMOKE

#: the batch-dir parts view_maintenance commits per batch
STATE_PARTS = ("view", "partials")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _expected_view(spark):
    orders = load_table(spark, SF_DIR_SMOKE, "orders")
    customer = load_table(spark, SF_DIR_SMOKE, "customer")
    return revenue_by_nation(orders, customer).select(
        "nationkey",
        "n_orders",
        (F.col("sum_scaled").cast("double") / 10_000).alias("revenue"),
    )


def _write_order_files(spark, src_dir):
    """Split the fixture orders into two delta files so maxFilesPerTrigger
    produces multiple micro-batches."""
    orders = load_table(spark, SF_DIR_SMOKE, "orders").select(
        "o_custkey", "o_totalprice", "o_orderkey"
    )
    seam = orders.agg(
        F.percentile_approx("o_orderkey", 0.5)
    ).collect()[0][0]
    orders.where(F.col("o_orderkey") <= seam).coalesce(1).write.parquet(
        os.path.join(src_dir, "d1")
    )
    orders.where(F.col("o_orderkey") > seam).coalesce(1).write.parquet(
        os.path.join(src_dir, "d2")
    )
    return orders.schema


def test_streamed_view_equals_direct_recompute(spark, tmp_path):
    src = str(tmp_path / "orders_in")
    schema = _write_order_files(spark, src)
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    customer = load_table(spark, SF_DIR_SMOKE, "customer")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    q = maintain_join_view_stream(spark, stream, customer, state, ckpt).start()
    q.awaitTermination(120)

    # every delta landed as its own committed batch
    assert len(committed_batches(state, STATE_PARTS)) >= 2
    assert _rows(read_current_view(spark, state)) == _rows(
        _expected_view(spark)
    )

    # restart with no new files: no new state, view unchanged
    before = committed_batches(state, STATE_PARTS)
    q2 = maintain_join_view_stream(
        spark,
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src),
        customer,
        state,
        ckpt,
    ).start()
    q2.awaitTermination(60)
    assert committed_batches(state, STATE_PARTS) == before
    assert _rows(read_current_view(spark, state)) == _rows(
        _expected_view(spark)
    )


def test_replayed_batch_is_exactly_once(spark, tmp_path):
    # Simulate foreachBatch's at-least-once contract: the same batch
    # delivered twice (crash after state commit, before checkpoint
    # commit) must not double-count.
    state = str(tmp_path / "state")
    customer = load_table(spark, SF_DIR_SMOKE, "customer")
    orders = load_table(spark, SF_DIR_SMOKE, "orders")
    half = orders.where(F.col("o_orderkey") % 2 == 0)

    apply_orders_batch(spark, state, half, 0, customer)
    once = _rows(read_current_view(spark, state))
    apply_orders_batch(spark, state, half, 0, customer)  # replay
    assert _rows(read_current_view(spark, state)) == once

    # the next batch id still applies normally
    apply_orders_batch(
        spark, state, orders.where(F.col("o_orderkey") % 2 == 1), 1, customer
    )
    assert _rows(read_current_view(spark, state)) == _rows(
        _expected_view(spark)
    )


def test_incomplete_batch_directory_is_ignored(spark, tmp_path):
    # A crash mid-write leaves a batch dir without both _SUCCESS markers;
    # it must be invisible to readers and re-appliable.
    state = str(tmp_path / "state")
    customer = load_table(spark, SF_DIR_SMOKE, "customer")
    orders = load_table(spark, SF_DIR_SMOKE, "orders")

    apply_orders_batch(spark, state, orders, 0, customer)
    # fabricate a torn batch=1: view written, partials missing
    torn = tmp_path / "state" / "batch=1" / "view"
    torn.mkdir(parents=True)
    (torn / "_SUCCESS").touch()

    assert committed_batches(state, STATE_PARTS) == [0]
    good = _rows(read_current_view(spark, state))
    assert good == _rows(_expected_view(spark))

    # re-applying batch 1 (the replay after the crash) repairs the tear
    apply_orders_batch(spark, state, orders.limit(0), 1, customer)
    assert committed_batches(state, STATE_PARTS) == [0, 1]
    assert _rows(read_current_view(spark, state)) == good
