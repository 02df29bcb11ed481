"""Streaming sketch-rollup: an incrementally-maintained HLL distinct-count
table — the streaming face of ``operators/sketches.py``.

The 100 TB pattern: the nightly "how many distinct users per (type, day)"
question should never rescan the day's facts. Each micro-batch builds
per-grain HLL sketches of JUST ITS OWN rows (one map-side-combinable
aggregate over the batch) and MERGES them into a persisted sketch table
via ``foreachBatch``; any coarser rollup then reads kilobytes of
sketches, not terabytes of facts (see sketches.merge_hll_sketches).

Why this is replay-safe without batch-id bookkeeping: HLL union is
idempotent (register-wise max — merging the same sketch twice is a
no-op), so an at-least-once replay of a micro-batch leaves the table
EXACTLY as a single delivery would. Contrast jdbc_stream.py, where the
additive counts need delete-then-insert keyed by batch id to survive
replay. Idempotent-by-algebra beats idempotent-by-protocol when the
aggregate allows it; tests/test_streaming_sketch.py replays a batch and
asserts bit-identical sketches. The table is swap-merged
(streaming/state_swap.py).

Merge cost: the rewrite touches one sketch table of |grain| rows
(day×type — thousands, not billions) per micro-batch. At higher grain
cardinality you'd partition the sketch table and rewrite only the
partitions the batch touched (same dynamic-overwrite pattern as
sinks/staging.py); the fixture grain is small enough that a full
rewrite is the honest simple form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from ..operators.sketches import HLL_LGK
from .state_swap import foreach_batch_stream, merge_swap


def _merge_batch_sketches(
    batch_df: DataFrame,
    table_path: str,
    dims: list[str],
    key: str,
    lgk: int = HLL_LGK,
) -> None:
    """One micro-batch → per-grain sketches → union-merge into the table.

    A crash mid-rewrite leaves the old table intact (state_swap's
    swap-merge protocol); the checkpoint replays the batch and the
    idempotent union converges to the same table either way.
    """
    fresh = batch_df.groupBy(*dims).agg(
        F.hll_sketch_agg(F.col(key), F.lit(lgk)).alias("hll")
    )
    merge_swap(
        fresh,
        table_path,
        lambda both: both.groupBy(*dims).agg(
            F.hll_union_agg(F.col("hll"), F.lit(False)).alias("hll")
        ),
    )


def write_sketch_rollup_stream(
    parsed: DataFrame,
    table_path: str,
    checkpoint_path: str,
    dims: list[str] | None = None,
    key: str = "user_id",
) -> DataStreamWriter:
    """Continuously maintain the (event_type, day)-grain distinct-``key``
    sketch table from a parsed CLF stream. Caller ``.start()``s."""
    dims = dims or ["status_code", "date"]

    return foreach_batch_stream(
        parsed,
        lambda batch_df, batch_id: _merge_batch_sketches(
            batch_df.filter(F.col(key).isNotNull()), table_path, dims, key
        ),
        checkpoint_path,
    )


def read_sketch_estimates(
    spark: SparkSession, table_path: str, dims: list[str]
) -> DataFrame:
    """Rollup read: estimate distinct keys at any grain ≤ the stored one
    by sketch union — never touching the facts."""
    sk = spark.read.parquet(table_path)
    est = F.hll_sketch_estimate(F.col("hll")).alias("est_distinct")
    if set(dims) == set(sk.columns) - {"hll"}:
        return sk.select(*dims, est)
    return (
        sk.groupBy(*dims)
        .agg(F.hll_union_agg(F.col("hll"), F.lit(False)).alias("hll"))
        .select(*dims, est)
    )
