"""Streaming Bloom-filter maintenance: an incrementally-maintained
blocklist membership filter — the streaming face of
``operators/sketches.bloom_blocklist_probe`` (E178).

The 100 TB pattern: the blocklist (suspended users, revoked keys) grows
continuously; the scan-side pruning filter must follow it WITHOUT
rebuilding from the full history. A Bloom filter's word table is an
OR-monoid: each micro-batch builds the word table of JUST ITS OWN new
keys (k salted xxhash64 positions → 64-bit words) and bit_or-merges it
into the persisted table via ``foreachBatch``.

Why this is replay-safe without batch-id bookkeeping: OR is idempotent
(setting an already-set bit is a no-op), so an at-least-once replay of a
micro-batch leaves the table EXACTLY as a single delivery would; the
table is swap-merged (streaming/state_swap.py). Bloom deletions don't
exist (that would need a counting filter); a shrinking blocklist is a
periodic rebuild, which is the batch operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from ..operators.sketches import (
    bloom_dense_row,
    bloom_hit_sql,
    bloom_word_table,
)
from .state_swap import foreach_batch_stream, merge_swap


def merge_batch_bloom(
    batch_df: DataFrame, table_path: str, key_expr: str
) -> None:
    """One micro-batch of keys → word table → bit_or-merge into the
    persisted filter. ``key_expr`` is a SQL expression producing the
    key; xxhash64 is TYPE-sensitive, so build and probe must use the
    same expression (both default to a BIGINT cast here and in
    ``probe_bloom_table``)."""
    fresh = bloom_word_table(
        batch_df.select(F.expr(key_expr).alias("k")).where(
            F.col("k").isNotNull()
        ),
        "k",
    )
    merge_swap(
        fresh,
        table_path,
        lambda both: both.groupBy("widx").agg(
            F.expr("bit_or(word)").alias("word")
        ),
    )


def write_bloom_stream(
    keys: DataFrame,
    table_path: str,
    checkpoint_path: str,
    key_expr: str = "CAST(user_id AS BIGINT)",
) -> DataStreamWriter:
    """Continuously maintain the blocklist Bloom word table from a
    stream of blocked keys. Caller ``.start()``s."""
    return foreach_batch_stream(
        keys,
        lambda batch_df, batch_id: merge_batch_bloom(
            batch_df, table_path, key_expr
        ),
        checkpoint_path,
    )


def probe_bloom_table(
    probe: DataFrame,
    spark: SparkSession,
    table_path: str,
    key_expr: str = "CAST(user_id AS BIGINT)",
) -> DataFrame:
    """Probe any frame against the maintained filter: the word table is
    collapsed to ONE broadcast map row and each probe row gets a
    ``bloom_hit`` column from k codegen bit tests — the fact side never
    shuffles. No false negatives for every key ever merged (asserted
    end-to-end in tests/test_streaming_bloom.py)."""
    words = spark.read.parquet(table_path)
    bloom = bloom_dense_row(words)
    return probe.withColumn("__k", F.expr(key_expr)).crossJoin(
        F.broadcast(bloom)
    ).withColumn("bloom_hit", F.expr(bloom_hit_sql("__k"))).drop(
        "__k", "bf"
    )
