"""Streaming EWMA anomaly maintenance: the E153 hourly spike detector
(operators/logmetrics.hourly_count_anomaly_ewma) kept current by a
``foreachBatch`` loop — the live "is this hour weird" table for the
reference's log shape, updated as micro-batches land.

Design split (same as slo_stream.py): the EWMA walk is a sequential
recurrence and not incrementally maintainable row-by-row, but it reads
only the tiny (type, hour, n_events) table — and THAT table is additive.
Each micro-batch aggregates its own rows to per-(type, hour) partials
(logmetrics.hourly_type_counts — the same function the batch query
uses), merges them into persisted state by summation, and
``read_current_anomalies`` applies the shared
``ewma_anomalies_from_hourly`` walk. Batch and stream cannot drift: they
are the same code.

Exactly-once: additive merges are NOT replay-idempotent, so state lives
under the batch-dir protocol (streaming/state_swap.py).

Scale: per-batch cost is one aggregate over the batch plus a merge of
two |types|x|hours| frames — state grows with calendar time, not event
volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.logmetrics import (
    ewma_anomalies_from_hourly,
    hourly_type_counts,
)
from .state_swap import apply_batch, foreach_batch_stream, read_batch_state

_STATE = {
    "hourly": T.StructType(
        [
            T.StructField("event_type", T.StringType()),
            T.StructField("hour", T.TimestampNTZType()),
            T.StructField("n_events", T.LongType()),
        ]
    )
}


def apply_anomaly_batch(
    spark: SparkSession, state_dir: str, batch_df: DataFrame, batch_id: int
) -> None:
    """Fold one micro-batch's (type, hour) partials into the state —
    the foreachBatch body, exposed for direct replay testing."""

    def step(state: dict[str, DataFrame]) -> dict[str, DataFrame]:
        return {
            "hourly": state["hourly"]
            .unionByName(hourly_type_counts(batch_df))
            .groupBy("event_type", "hour")
            .agg(F.sum("n_events").alias("n_events"))
        }

    apply_batch(spark, state_dir, batch_id, _STATE, step)


def maintain_anomaly_stream(
    spark: SparkSession,
    events_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
):
    """Wire the hourly merge into a writeStream; ``.start()`` to run.
    Required stream columns: ts, event_type."""
    return foreach_batch_stream(
        events_stream,
        lambda batch_df, batch_id: apply_anomaly_batch(
            spark, state_dir, batch_df, batch_id
        ),
        checkpoint_dir,
    )


def read_current_anomalies(spark: SparkSession, state_dir: str) -> DataFrame:
    """EWMA baselines + spike flags over the maintained hourly table —
    the IDENTICAL walk as the batch hourly_count_anomaly_ewma query."""
    return ewma_anomalies_from_hourly(
        read_batch_state(spark, state_dir, _STATE)["hourly"]
    )
