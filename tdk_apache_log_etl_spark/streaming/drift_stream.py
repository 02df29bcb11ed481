"""Streaming drift monitor: live feature-bin counts maintained per
micro-batch, PSI against a FROZEN baseline computed on read.

This is the deployed shape of E233 (`concentration.event_feature_psi`):
at training/launch time the input distribution is frozen as a baseline
count table; in production each micro-batch adds its (feature, bin)
counts to the live table, and the read side scores the live distribution
against the baseline with the same quarter-bit-lattice PSI — so the
monitor never rescans history AND never evaluates a libm log.

Counts are ADDITIVE, not idempotent, so the live table lives under the
batch-dir protocol (streaming/state_swap.py): replays are no-ops and
only the latest commit and its predecessor are kept.

Scale: each batch collapses map-side to its ≤(|types| + ~10 magnitude
buckets) cell frame before touching the state; the PSI read joins two
cell frames of that same bounded size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter

from ..operators.concentration import _PSI_FEATURES_SPARK, psi_from_cells
from .state_swap import apply_batch, foreach_batch_stream, read_batch_state

_COUNT_SCHEMA = T.StructType(
    [
        T.StructField("feature", T.StringType()),
        T.StructField("bin", T.StringType()),
        T.StructField("cnt", T.LongType()),
    ]
)
_STATE = {"counts": _COUNT_SCHEMA}


def _feature_bin_counts(df: DataFrame) -> DataFrame:
    """(feature, bin, cnt) for one slice of events — the same feature
    stack E233 uses (event-type mix + value-magnitude buckets)."""
    return (
        df.select(F.expr(_PSI_FEATURES_SPARK))
        .filter(F.col("bin").isNotNull())
        .groupBy("feature", "bin")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def freeze_baseline(events: DataFrame, path: str) -> None:
    """Snapshot the reference distribution (training-time input) the
    live stream will be scored against."""
    _feature_bin_counts(events).write.mode("overwrite").parquet(path)


def apply_drift_batch(
    batch_df: DataFrame, state_dir: str, batch_id: int
) -> None:
    def step(state: dict[str, DataFrame]) -> dict[str, DataFrame]:
        return {
            "counts": state["counts"]
            .unionByName(_feature_bin_counts(batch_df))
            .groupBy("feature", "bin")
            .agg(F.sum("cnt").cast("long").alias("cnt"))
        }

    apply_batch(batch_df.sparkSession, state_dir, batch_id, _STATE, step)


def maintain_drift_stream(
    events: DataFrame, state_dir: str, checkpoint_path: str
) -> DataStreamWriter:
    """Continuously maintain the live count table. Caller ``.start()``s."""
    return foreach_batch_stream(
        events,
        lambda batch_df, batch_id: apply_drift_batch(
            batch_df, state_dir, batch_id
        ),
        checkpoint_path,
    )


def read_live_counts(spark: SparkSession, state_dir: str) -> DataFrame:
    return read_batch_state(spark, state_dir, _STATE)["counts"]


def read_psi_vs_baseline(
    spark: SparkSession, state_dir: str, baseline_path: str
) -> DataFrame:
    """Per-feature PSI of the LIVE distribution against the frozen
    baseline — full-outer on (feature, bin) so bins seen on only one
    side still count (Laplace +1 keeps them defined), then the shared
    E233 lattice scorer."""
    base = (
        spark.read.schema(_COUNT_SCHEMA)
        .parquet(baseline_path)
        .withColumnRenamed("cnt", "base_cnt")
    )
    live = read_live_counts(spark, state_dir).withColumnRenamed(
        "cnt", "live_cnt"
    )
    cells = (
        base.join(live, ["feature", "bin"], "full_outer")
        .select(
            "feature",
            "bin",
            (F.coalesce("base_cnt", F.lit(0)) + 1)
            .cast("long")
            .alias("la"),
            (F.coalesce("live_cnt", F.lit(0)) + 1)
            .cast("long")
            .alias("lb"),
        )
    )
    return psi_from_cells(cells)
