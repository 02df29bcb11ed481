"""Streaming freshness maintenance: an incrementally-maintained
per-type high-water-mark table — the streaming face of
``operators/logmetrics.type_freshness_staleness`` (E212).

The monitor that detects a stalled producer must not itself rescan the
event history: each micro-batch contributes only its OWN per-type MAX
timestamps, merged into the persisted watermark table by groupBy-MAX.

MAX is idempotent: replaying a micro-batch re-MAXes the same
timestamps and the table is bit-identical, so it is swap-merged
(streaming/state_swap.py). Late/out-of-order events are also harmless
by the same algebra — an old timestamp can never LOWER a high-water
mark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from .state_swap import foreach_batch_stream, merge_swap


def merge_batch_watermarks(
    batch_df: DataFrame,
    table_path: str,
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> None:
    """One micro-batch → per-type MAX timestamps → MAX-merge into the
    persisted watermark table."""
    fresh = batch_df.groupBy(
        F.col(type_col).alias("event_type")
    ).agg(
        F.max(F.col(ts_col)).alias("last_ts"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    merge_swap(
        fresh,
        table_path,
        lambda both: both.groupBy("event_type").agg(
            F.max("last_ts").alias("last_ts"),
            # counts are additive, NOT idempotent — they are advisory
            # here (replay may overcount); the CONTRACT column is the
            # max-merged watermark. Exactly-once counts belong to the
            # jdbc_stream batch-id protocol.
            F.sum("n_events").cast("long").alias("n_events"),
        ),
    )


def write_freshness_stream(
    events: DataFrame,
    table_path: str,
    checkpoint_path: str,
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataStreamWriter:
    """Continuously maintain the per-type watermark table. Caller
    ``.start()``s."""
    return foreach_batch_stream(
        events,
        lambda batch_df, batch_id: merge_batch_watermarks(
            batch_df, table_path, type_col, ts_col
        ),
        checkpoint_path,
    )


def read_staleness(spark: SparkSession, table_path: str) -> DataFrame:
    """(event_type, last_ts, staleness_secs vs the table's high-water
    mark) — the E212 read shape over the maintained table, never the
    facts."""
    per = spark.read.parquet(table_path)
    g = per.agg(F.max("last_ts").alias("corpus_max"))
    return per.crossJoin(F.broadcast(g)).select(
        "event_type",
        "last_ts",
        F.expr("timestampdiff(SECOND, last_ts, corpus_max)")
        .cast("long")
        .alias("staleness_secs"),
    )
