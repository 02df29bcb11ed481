"""Streaming SLO burn-rate maintenance: the E94 multi-window
error-budget alarm (operators/logmetrics.slo_burn_rate) kept current by
a ``foreachBatch`` loop — the on-call alert table for exactly the
reference's log shape, updated as micro-batches land instead of
recomputed nightly.

Design split: the ALERT computation (RANGE-framed 6h window over hourly
counts) is not incrementally maintainable row-by-row, but it doesn't
need to be — it reads the tiny hourly-count table, and THAT table is
additive. So each micro-batch aggregates its own rows to
(hour, n_events, n_errors) partials (logmetrics.hourly_error_counts —
the same function the batch query uses), merges them into the persisted
hourly state by summation, and ``read_current_alerts`` applies the
shared ``burn_from_hourly`` over the state. Batch and stream cannot
drift: they are the same code.

Exactly-once: additive merges are NOT replay-idempotent (a replayed
batch would double-count), so state lives under the batch-dir protocol
(streaming/state_swap.py); contrast sketch_rollup.py where HLL union is
idempotent by algebra and needs none of this.

Scale: per-batch cost is one aggregate over the batch plus a merge of
two |hours|-sized frames — hours grow with calendar time, not volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.logmetrics import burn_from_hourly, hourly_error_counts
from .state_swap import apply_batch, foreach_batch_stream, read_batch_state

_STATE = {
    "hourly": T.StructType(
        [
            T.StructField("hour", T.TimestampNTZType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("n_errors", T.LongType()),
        ]
    )
}


def apply_slo_batch(
    spark: SparkSession, state_dir: str, batch_df: DataFrame, batch_id: int
) -> None:
    """Fold one micro-batch's hourly partials into the state — the
    foreachBatch body, exposed for direct replay testing."""

    def step(state: dict[str, DataFrame]) -> dict[str, DataFrame]:
        return {
            "hourly": state["hourly"]
            .unionByName(hourly_error_counts(batch_df))
            .groupBy("hour")
            .agg(
                F.sum("n_events").alias("n_events"),
                F.sum("n_errors").alias("n_errors"),
            )
        }

    apply_batch(spark, state_dir, batch_id, _STATE, step)


def maintain_slo_stream(
    spark: SparkSession,
    events_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
):
    """Wire the hourly merge into a writeStream; ``.start()`` to run.
    Required stream columns: ts, event_type."""
    return foreach_batch_stream(
        events_stream,
        lambda batch_df, batch_id: apply_slo_batch(
            spark, state_dir, batch_df, batch_id
        ),
        checkpoint_dir,
    )


def read_current_alerts(spark: SparkSession, state_dir: str) -> DataFrame:
    """Burn rates + alert flags over the maintained hourly table — the
    IDENTICAL computation as the batch slo_burn_rate query."""
    return burn_from_hourly(
        read_batch_state(spark, state_dir, _STATE)["hourly"]
    )
