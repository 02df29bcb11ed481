"""Streaming CDC apply: the E75 batch MERGE-with-tombstones
(operators/cdc.apply_cdc) driven by a Structured Streaming
``foreachBatch`` loop, so a dimension snapshot stays current as change
micro-batches (op = 'upsert' | 'delete') land — the streaming form of a
Debezium/DMS-style replication consumer, where the reference's answer is
"reload the table nightly".

Two CDC-specific correctness points on top of the batch-dir state
protocol (streaming/state_swap.py):

  * IN-BATCH COMPACTION: one micro-batch may carry several changes for
    the same key (insert then delete, update then update). They must
    apply in source order, which ``apply_cdc``'s single full-outer join
    cannot express — so the batch is first collapsed to its LAST change
    per key by the monotonic ``change_seq`` the source stamps
    (row_number desc, one window on the key partitioning).

    Compaction-equivalence contract: stream upserts carry FULL-ROW
    after-images (every payload column populated — the Debezium shape),
    so the last change per key fully determines the key's final state
    and collapsing is exactly sequential replay (upsert→delete ≡ delete,
    delete→upsert ≡ replace, upsert→upsert ≡ last upsert). apply_cdc's
    NULL-means-keep *partial* updates are deliberately NOT part of the
    stream contract — under compaction a partial update could leak
    pre-delete base values; batch callers who need partials use
    apply_cdc directly, one batch per change set.
  * DELETE SEMANTICS ACROSS BATCHES: a tombstone must delete a row
    inserted many batches ago (state carries the full snapshot, not a
    delta), and replaying a tombstone for an absent key is a no-op —
    both inherited from apply_cdc and e2e-tested here.

Scale: per-batch cost is O(|batch| + |state|) — one window over the
batch, one full-outer shuffle against the snapshot; historical change
batches are never rescanned. The full snapshot rewrite per batch is the
self-contained-parquet simplification; with a MERGE-capable table format
only touched keys would rewrite, same dataflow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.cdc import apply_cdc
from .state_swap import apply_batch, foreach_batch_stream, read_batch_state

#: Maintained snapshot shape (customer-like dimension).
KEY = "c_custkey"
PAYLOAD = ["c_name", "c_mktsegment"]
_STATE = {
    "snapshot": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    )
}


def compact_batch(batch_df: DataFrame) -> DataFrame:
    """Collapse a change batch to its LAST change per key in source
    order (change_seq); ties impossible by the source's monotonic-seq
    contract, but (change_seq, op) ordering makes even a violated
    contract deterministic."""
    w = Window.partitionBy(KEY).orderBy(
        F.desc("change_seq"), F.desc("op")
    )
    return (
        batch_df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def apply_cdc_stream_batch(
    spark: SparkSession, state_dir: str, batch_df: DataFrame, batch_id: int
) -> None:
    """The foreachBatch body, exposed for direct replay testing."""

    def step(state: dict[str, DataFrame]) -> dict[str, DataFrame]:
        changes = compact_batch(batch_df)
        return {
            "snapshot": apply_cdc(
                state["snapshot"], changes, KEY, PAYLOAD
            ).drop("op")
        }

    apply_batch(spark, state_dir, batch_id, _STATE, step)


def maintain_dimension_stream(
    spark: SparkSession,
    changes_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
):
    """Wire the CDC apply into a writeStream; ``.start()`` to run.
    Required stream columns: c_custkey, op, change_seq, and the payload
    columns (full after-images — see the module compaction contract)."""
    return foreach_batch_stream(
        changes_stream,
        lambda batch_df, batch_id: apply_cdc_stream_batch(
            spark, state_dir, batch_df, batch_id
        ),
        checkpoint_dir,
    )


def read_current_snapshot(spark: SparkSession, state_dir: str) -> DataFrame:
    """The maintained dimension as of the last committed batch."""
    return read_batch_state(spark, state_dir, _STATE)["snapshot"]
