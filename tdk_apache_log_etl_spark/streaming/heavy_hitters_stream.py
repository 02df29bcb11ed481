"""Streaming heavy hitters: the E116 Misra–Gries candidate summary
maintained from a document stream by ``foreachBatch`` — the "trending
n-grams" table a 100 TB ingest keeps current without ever re-scanning
the corpus or holding the unbounded vocabulary anywhere.

Why this shape: the batch operator (operators/sketches.py
``heavy_hitter_ngrams``) can afford an exact verification pass because
the corpus is still there to re-count; a stream cannot. So the
streaming state IS the mergeable summary — ≤ k (ngram, est) rows plus
two scalars (n_total, err_bound) — and every batch folds its exact
n-gram counts in by the PODS'12 merge rule: sum counters, and while
more than k remain subtract the (k+1)-th largest value Δ and drop the
non-positive (err_bound += Δ). The classic MG invariants survive any
batch split:

    est(t)  ≤  count(t)  ≤  est(t) + err_bound,   err_bound ≤ n/(k+1)

so ``read_current_heavy_hitters`` can label every candidate
``guaranteed`` (est alone clears the n/(k+1) frequency threshold — no
false positives) or merely ``possible`` (only est + err_bound clears
it), and every truly-heavy n-gram is in the table (no false
negatives). Those bounds — not run-to-run bit equality, which merge
order legitimately changes — are the contract the tests pin.

Exactly-once: counter addition is NOT replay-idempotent, so the
(summary, meta) pair lives under the batch-dir protocol
(streaming/state_swap.py), same as slo_stream.py; contrast
sketch_rollup.py where HLL union needs none of this by algebra.

Scale: per batch, one exact count of the BATCH's n-grams (bounded by
batch vocabulary), a union with the ≤ k-row state, and a
TakeOrdered(k+1) to find Δ — nothing proportional to the historical
corpus or the global vocabulary is ever shuffled, stored, or
collected.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.sketches import MG_K
from .state_swap import apply_batch, foreach_batch_stream, read_batch_state

_STATE = {
    "summary": T.StructType(
        [
            T.StructField("ngram", T.StringType()),
            T.StructField("est", T.LongType()),
        ]
    ),
    "meta": T.StructType(
        [
            T.StructField("n_total", T.LongType()),
            T.StructField("err_bound", T.LongType()),
        ]
    ),
}


def batch_ngram_counts(batch_df: DataFrame) -> DataFrame:
    """Exact word-trigram counts of one micro-batch (text column) —
    the same explode the batch operator uses."""
    ws = batch_df.select(F.split("text", " ").alias("w")).filter(
        F.size("w") >= 3
    )
    return (
        ws.select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(w) - 3), "
                    "i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))"
                )
            ).alias("ngram")
        )
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("est"))
    )


def _meta_scalars(meta: DataFrame) -> tuple[int, int]:
    """(n_total, err_bound) of a committed meta part; (0, 0) when cold."""
    rows = meta.collect()
    return (rows[0].n_total, rows[0].err_bound) if rows else (0, 0)


def apply_hh_batch(
    spark: SparkSession,
    state_dir: str,
    batch_df: DataFrame,
    batch_id: int,
    k: int = MG_K,
) -> None:
    """Fold one micro-batch into the MG state — the foreachBatch body,
    exposed for direct replay/torn-write testing. ``k`` is the counter
    budget (tests shrink it to force the decrement path)."""

    def step(state: dict[str, DataFrame]) -> dict[str, DataFrame]:
        n_total, err_bound = _meta_scalars(state["meta"])
        counts = batch_ngram_counts(batch_df)
        batch_n = counts.agg(F.sum("est")).collect()[0][0] or 0
        merged = (
            state["summary"]
            .unionByName(counts)
            .groupBy("ngram")
            .agg(F.sum("est").alias("est"))
        )
        # reduce to ≤ k entries; one TakeOrdered(k+1) per pass finds Δ. A
        # single subtraction can land exactly ON several tied counters and
        # still leave > k strictly-greater survivors only if > k entries
        # exceed Δ — impossible by choice of Δ as the (k+1)-th largest —
        # so ONE pass always suffices; the loop is belt-and-braces for the
        # degenerate all-equal frame.
        while True:
            top = merged.orderBy(F.desc("est"), "ngram").limit(k + 1)
            stats = top.agg(
                F.count(F.lit(1)).alias("m"), F.min("est").alias("kth1")
            ).collect()[0]
            if stats.m <= k:
                break
            delta = stats.kth1
            err_bound += delta
            merged = merged.select(
                "ngram", (F.col("est") - delta).alias("est")
            ).filter(F.col("est") > 0)
        meta = spark.createDataFrame(
            [(int(n_total + batch_n), int(err_bound))], _STATE["meta"]
        )
        return {"summary": merged, "meta": meta}

    apply_batch(spark, state_dir, batch_id, _STATE, step)


def maintain_heavy_hitters_stream(
    spark: SparkSession,
    docs_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    k: int = MG_K,
):
    """Wire the MG fold into a writeStream; ``.start()`` to run.
    Required stream column: text."""
    return foreach_batch_stream(
        docs_stream,
        lambda batch_df, batch_id: apply_hh_batch(
            spark, state_dir, batch_df, batch_id, k=k
        ),
        checkpoint_dir,
    )


def read_current_heavy_hitters(
    spark: SparkSession, state_dir: str, k: int = MG_K
) -> DataFrame:
    """Candidate table with the MG certainty labels: ``guaranteed``
    (est alone clears the n/(k+1) threshold — truly heavy, no rescan
    needed) and ``possible`` (only est + err_bound clears it)."""
    state = read_batch_state(spark, state_dir, _STATE)
    n_total, err_bound = _meta_scalars(state["meta"])
    return state["summary"].select(
        "ngram",
        "est",
        F.lit(n_total).alias("n_total"),
        F.lit(err_bound).alias("err_bound"),
        (F.col("est") * (k + 1) > F.lit(n_total)).alias("guaranteed"),
        (
            (F.col("est") + F.lit(err_bound)) * (k + 1) > F.lit(n_total)
        ).alias("possible"),
    )
