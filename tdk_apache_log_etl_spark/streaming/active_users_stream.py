"""Streaming exact sliding-window distinct users: the incremental face
of ``operators/logmetrics.active_users_7d_sliding`` (E175).

The 100 TB pattern: "distinct users in the trailing 7 days, per day,
exactly" must not rescan the fact stream's history. The right persisted
state is the DEDUPED ``(user_id, day)`` activity table — O(user-days),
orders of magnitude smaller than the facts, and the minimal sufficient
statistic for ANY day-grain distinct-activity question (WAU/MAU at
every window length, streaks, novelty). Each micro-batch set-unions its
own (user, day) pairs into that table via ``foreachBatch``; the window
counts are answered at read time by the E175 delta pipeline over the
maintained table — O(user-days) work, never a fact rescan.

Replay safety is BY ALGEBRA: set union is idempotent, so an
at-least-once replay of a micro-batch is a table no-op and the table is
swap-merged (streaming/state_swap.py). Out-of-order and late events need no
watermark: a late (user, day) pair lands in the same set it would have
landed in on time, and the read-side recompute repairs every affected
window — exactness without eviction is exactly what the deduped-state
design buys (a watermark would only be needed to BOUND the table; at
day grain it grows with calendar × active users, not volume).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from ..operators.logmetrics import sliding_active_counts
from .state_swap import foreach_batch_stream, merge_swap


def merge_batch_user_days(
    batch_df: DataFrame,
    table_path: str,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> None:
    """One micro-batch → its distinct (user_id, d) pairs → set-union
    into the persisted activity table."""
    fresh = (
        batch_df.where(F.col(user_col).isNotNull())
        .select(
            F.col(user_col).cast("long").alias("user_id"),
            F.col(ts_col).cast("date").alias("d"),
        )
        .distinct()
    )
    merge_swap(fresh, table_path, lambda both: both.distinct())


def write_active_users_stream(
    parsed: DataFrame,
    table_path: str,
    checkpoint_path: str,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataStreamWriter:
    """Continuously maintain the deduped (user, day) activity table from
    an event stream. Caller ``.start()``s."""
    return foreach_batch_stream(
        parsed,
        lambda batch_df, batch_id: merge_batch_user_days(
            batch_df, table_path, user_col, ts_col
        ),
        checkpoint_path,
    )


def read_sliding_active_users(
    spark: SparkSession, table_path: str
) -> DataFrame:
    """(win_end, n_active_users) for every calendar day — the E175
    delta-encoded pipeline over the maintained activity table."""
    return sliding_active_counts(spark.read.parquet(table_path))
