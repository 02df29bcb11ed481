"""Streaming materialized-view maintenance feeding the rewrite layer.

The batch path (operators/tablestats.mv_monthly_revenue_rewrite) builds
the (day x status) rollup with one fact scan; this module keeps the SAME
rollup current as order micro-batches land, so planning/mv_rewrite.py
can answer month/quarter/year queries from streaming state that is never
more than one micro-batch stale — the lakehouse "continuous MV".

Sums and counts are ADDITIVE, not idempotent, so the rollup lives
under the batch-dir protocol (streaming/state_swap.py): replays are
no-ops and only the latest commit and its predecessor are kept.

Scale: per batch the work is O(|delta| + |view|) — the delta collapses
map-side to its (day x status) partial before touching the view; no
historical fact is ever rescanned.  The full-view rewrite per batch is
the self-contained-parquet simplification (production: MERGE into a
table format, same dataflow).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from ..operators.tablestats import daily_rev_mv_spec, monthly_rev_query
from ..planning import MaterializedView, rollup_frame, try_rewrite
from .state_swap import (
    apply_batch,
    batch_part_path,
    committed_batches,
    foreach_batch_stream,
    read_batch_state,
)

_STATE = {
    "mv": T.StructType(
        [
            T.StructField("month_day", T.TimestampNTZType()),
            T.StructField("status", T.StringType()),
            T.StructField("rev_cents", T.LongType()),
            T.StructField("n_orders", T.LongType()),
            T.StructField("n_vals", T.LongType()),
        ]
    )
}


def apply_mv_batch(
    batch_df: DataFrame, state_dir: str, batch_id: int
) -> None:
    """Merge one micro-batch of orders into the rollup state — skipped
    when this batch id is already committed (replay)."""

    def step(state: dict[str, DataFrame]) -> dict[str, DataFrame]:
        delta = rollup_frame(batch_df, daily_rev_mv_spec())
        return {
            "mv": state["mv"]
            .unionByName(delta)
            .groupBy("month_day", "status")
            .agg(
                F.sum("rev_cents").cast("long").alias("rev_cents"),
                F.sum("n_orders").cast("long").alias("n_orders"),
                F.sum("n_vals").cast("long").alias("n_vals"),
            )
        }

    apply_batch(batch_df.sparkSession, state_dir, batch_id, _STATE, step)


def maintain_mv_stream(
    orders: DataFrame, state_dir: str, checkpoint_path: str
) -> DataStreamWriter:
    """Continuously maintain the rollup.  Caller ``.start()``s."""
    return foreach_batch_stream(
        orders,
        lambda batch_df, batch_id: apply_mv_batch(
            batch_df, state_dir, batch_id
        ),
        checkpoint_path,
    )


def read_mv_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """The rollup at the highest committed batch (empty on cold start)."""
    return read_batch_state(spark, state_dir, _STATE)["mv"]


def monthly_from_stream(
    spark: SparkSession, state_dir: str
) -> DataFrame:
    """Answer the month-grain revenue query THROUGH the rewrite layer,
    directly off streaming state — no fact scan anywhere."""
    committed = committed_batches(state_dir, _STATE)
    if not committed:
        raise ValueError(f"no committed MV state under {state_dir}")
    mv = MaterializedView(
        "daily_rev_stream",
        daily_rev_mv_spec(),
        batch_part_path(state_dir, committed[-1], "mv"),
    )
    out = try_rewrite(spark, monthly_rev_query(), mv)
    assert out is not None  # spec subsumes by construction
    return out
