"""Streaming OHLC bar maintenance: the incrementally-maintained twin of
``operators/temporal.events_value_ohlc_hourly`` (E225).

A live candlestick table must absorb each micro-batch WITHOUT rescanning
history.  The trick is that every OHLC component is a mergeable min/max:

  * open  = value carried by the MIN (ts, event_id, value) struct
  * close = value carried by the MAX (ts, event_id, value) struct
  * high/low = plain MAX/MIN of value

Struct min/max is IDEMPOTENT — re-merging a replayed micro-batch
re-minimizes the same keys and the table is bit-identical — so the bar
table is swap-merged (streaming/state_swap.py) with no batch-id
bookkeeping for the O/H/L/C contract columns; the additive n_events
count is advisory under replay, exactly like freshness_stream's
n_events (exactly-once counts belong to the jdbc_stream batch-id
protocol).

Late/out-of-order events are correct by the same algebra: an event older
than the current open simply wins the struct-MIN and becomes the open.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from .state_swap import foreach_batch_stream, merge_swap


def _partial_bars(
    df: DataFrame,
    type_col: str,
    ts_col: str,
    id_col: str,
    value_col: str,
) -> DataFrame:
    """Collapse any slice of events to mergeable per-(type, hour) bar
    state: first/last (ts, id, value) structs + extrema + count."""
    key = F.struct(
        F.col(ts_col).alias("ts"),
        F.col(id_col).alias("event_id"),
        F.col(value_col).alias("value"),
    )
    return df.groupBy(
        F.col(type_col).alias("event_type"),
        F.date_trunc("hour", F.col(ts_col)).alias("hour_ts"),
    ).agg(
        F.min(key).alias("ofirst"),
        F.max(key).alias("olast"),
        F.max(F.col(value_col)).alias("high_value"),
        F.min(F.col(value_col)).alias("low_value"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )


def _merge_bars(bars: DataFrame) -> DataFrame:
    return bars.groupBy("event_type", "hour_ts").agg(
        F.min("ofirst").alias("ofirst"),
        F.max("olast").alias("olast"),
        F.max("high_value").alias("high_value"),
        F.min("low_value").alias("low_value"),
        F.sum("n_events").cast("long").alias("n_events"),
    )


def merge_batch_bars(
    batch_df: DataFrame,
    table_path: str,
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
) -> None:
    """One micro-batch → partial bars → min/max-merge into the persisted
    bar-state table."""
    fresh = _partial_bars(batch_df, type_col, ts_col, id_col, value_col)
    merge_swap(fresh, table_path, _merge_bars)


def write_ohlc_stream(
    events: DataFrame,
    table_path: str,
    checkpoint_path: str,
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
) -> DataStreamWriter:
    """Continuously maintain the per-(type, hour) bar table.  Caller
    ``.start()``s."""
    return foreach_batch_stream(
        events,
        lambda batch_df, batch_id: merge_batch_bars(
            batch_df, table_path, type_col, ts_col, id_col, value_col
        ),
        checkpoint_path,
    )


def read_bars(spark: SparkSession, table_path: str) -> DataFrame:
    """The E225 read shape (open/high/low/close/volume) off the
    maintained state table — never the facts."""
    return spark.read.parquet(table_path).select(
        "event_type",
        "hour_ts",
        F.col("ofirst.value").alias("open_value"),
        "high_value",
        "low_value",
        F.col("olast.value").alias("close_value"),
        "n_events",
    )
