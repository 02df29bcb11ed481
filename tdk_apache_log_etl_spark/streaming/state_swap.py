"""The two state-commit protocols of the ``foreachBatch`` maintainers.

Every incremental streaming maintainer keeps a small parquet state table
that each micro-batch rewrites.  Which protocol it uses depends on
whether its merge is replay-idempotent:

SWAP-MERGE (idempotent merges: HLL register-max in sketch_rollup,
bit-OR in bloom_stream, set-union in active_users_stream, timestamp-MAX
in freshness_stream, struct-min/max in ohlc_stream).  Replaying a
micro-batch re-merges the same values and leaves the table
bit-identical, so at-least-once delivery needs no batch-id bookkeeping.
:func:`merge_swap` reads the live table, merges the batch's ``fresh``
partial into it and rewrites it via write-tmp → rename-away-live →
rename-tmp-into-place.  The double rename is NOT atomic: a process
dying between the two renames leaves no live table, and a naive next
batch would silently restart state from that one batch (all prior
accumulation lost) while the orphaned ``._old`` copy rots on disk.
:func:`recover_state` heals exactly that window, before the read.

BATCH-DIR (additive merges — sums, counts, CDC snapshots, Misra–Gries
counters — in mv_stream, drift_stream, view_maintenance, cdc_stream,
slo_stream, anomaly_stream and heavy_hitters_stream).  A replayed batch
would double-count, so :func:`apply_batch` makes replay a no-op by
protocol:

  * each batch writes the FULL new state to fresh
    ``state_dir/batch=<id>/<part>`` directories, never an in-place
    overwrite; a batch counts as committed only when every part's
    ``_SUCCESS`` marker exists, so a crash mid-write leaves an
    uncommitted directory that readers ignore;
  * readers and the next batch resolve state as the highest committed
    id (:func:`committed_batches`, :func:`read_batch_state`);
  * a batch id at or below the highest committed one is skipped.
    Batch ids grow monotonically per checkpoint, so such an id is a
    replay even when its own directory was already pruned; starting a
    NEW checkpoint against an old state_dir is a contract violation;
  * after the commit only the new batch and its predecessor stay
    (:func:`prune_batch_dirs`) — without retention, state grows
    O(batches x state size) on a long-running stream.

Local-filesystem semantics are deliberate: this state layer is the
single-node test double for what is a transactional table format
(Delta/Iceberg) on a real cluster, where commit atomicity comes from
the table format, not from renames or marker files.  Recovery is
idempotent, the state tables are tiny (one row per grain cell), and the
swap window is milliseconds.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter


def foreach_batch_stream(
    stream: DataFrame,
    write_batch: Callable[[DataFrame, int], None],
    checkpoint_path: str,
) -> DataStreamWriter:
    """``stream`` → ``write_batch(batch_df, batch_id)`` per micro-batch,
    checkpointed at ``checkpoint_path`` and triggered ``availableNow``
    (process everything that arrived, then stop).  Caller ``.start()``s."""
    return (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
    )


# ---------------------------------------------------------------------------
# swap-merge family
# ---------------------------------------------------------------------------


def recover_state(table_path: str) -> None:
    """Heal a crash inside the swap window: if the live table is missing
    but its ``._old`` predecessor survives, the writer died between the
    two renames — rename the predecessor back so the next merge resumes
    from the full accumulated state instead of restarting from one
    batch.  Idempotent; a no-op whenever the live table exists."""
    old = table_path + "._old"
    if not os.path.exists(table_path) and os.path.exists(old):
        os.rename(old, table_path)
    elif os.path.exists(table_path) and os.path.exists(old):
        # Crash AFTER os.rename(tmp, table_path) but BEFORE the rmtree:
        # the live table is the newer state and ``._old`` is its stale
        # predecessor.  Left in place it would wedge the NEXT swap_write
        # (os.rename(table_path, old) raises ENOTEMPTY), so clear it here.
        shutil.rmtree(old)


def swap_write(merged: DataFrame, table_path: str) -> None:
    """Write ``merged`` to ``table_path`` via tmp-then-double-rename.
    Crash-recoverable (see module docstring), not atomic: pair every
    read of ``table_path`` with a prior :func:`recover_state` call."""
    # Heal BOTH crash windows at entry, BEFORE the tmp write can
    # materialize a lazy ``merged`` plan that reads ``table_path``: if
    # the live table is missing, the orphaned ``._old`` is the ONLY
    # surviving copy of accumulated state (crash between the two
    # renames) and must be renamed back, never rmtree'd.  When the live
    # table exists, this clears the stale predecessor so the rename
    # below doesn't ENOTEMPTY.  Idempotent; callers that already
    # recovered (merge_swap does, before building ``merged``) pay a
    # stat call.
    recover_state(table_path)
    old = table_path + "._old"
    tmp = table_path + "._tmp"
    merged.write.mode("overwrite").parquet(tmp)
    if os.path.exists(table_path):
        os.rename(table_path, old)
    os.rename(tmp, table_path)
    if os.path.exists(old):
        shutil.rmtree(old)


def merge_swap(
    fresh: DataFrame,
    table_path: str,
    merge: Callable[[DataFrame], DataFrame],
) -> None:
    """Fold one micro-batch's ``fresh`` partial into the live table:
    ``merge(live.unionByName(fresh))`` is swap-written back.  On a cold
    start (no live table) ``fresh`` is written unmerged."""
    # heal a crash inside a previous swap window before reading state
    recover_state(table_path)
    if os.path.exists(table_path):
        # the swap protocol guarantees table_path is absent or complete,
        # so a plain (non-declared-schema) read can't see a half-write
        live = fresh.sparkSession.read.parquet(table_path)
        fresh = merge(live.unionByName(fresh))
    swap_write(fresh, table_path)


# ---------------------------------------------------------------------------
# batch-dir family
# ---------------------------------------------------------------------------


def batch_part_path(state_dir: str, batch_id: int, part: str) -> str:
    return os.path.join(state_dir, f"batch={batch_id}", part)


def committed_batches(state_dir: str, parts: Iterable[str]) -> list[int]:
    """Sorted ids of the batches whose every part finished its write
    (``_SUCCESS`` marker present)."""
    if not os.path.isdir(state_dir):
        return []
    parts = list(parts)
    out = []
    for name in os.listdir(state_dir):
        if name.startswith("batch=") and all(
            os.path.exists(os.path.join(state_dir, name, p, "_SUCCESS"))
            for p in parts
        ):
            out.append(int(name.split("=", 1)[1]))
    return sorted(out)


def read_batch_state(
    spark: SparkSession,
    state_dir: str,
    schemas: dict[str, T.StructType],
) -> dict[str, DataFrame]:
    """Each part of the highest committed batch, read with its declared
    schema; empty frames of those schemas on a cold start.

    Snapshot lifetime: keep-2 retention means the batch resolved here
    survives exactly ONE further commit — materialize promptly, don't
    hold the lazy frames across two commits (see prune_batch_dirs)."""
    committed = committed_batches(state_dir, schemas)
    if not committed:
        return {p: spark.createDataFrame([], s) for p, s in schemas.items()}
    return {
        p: spark.read.schema(s).parquet(
            batch_part_path(state_dir, committed[-1], p)
        )
        for p, s in schemas.items()
    }


def apply_batch(
    spark: SparkSession,
    state_dir: str,
    batch_id: int,
    schemas: dict[str, T.StructType],
    step: Callable[[dict[str, DataFrame]], dict[str, DataFrame]],
) -> None:
    """Commit one micro-batch under the batch-dir protocol: skip a
    replayed id, read the latest committed parts, ``step`` them to the
    new parts, write each to ``batch=<batch_id>/<part>`` (in ``schemas``
    order), then prune to this commit and its predecessor."""
    committed = committed_batches(state_dir, schemas)
    if committed and batch_id <= committed[-1]:
        return  # replay of an already-applied batch: exactly-once no-op
    new_state = step(read_batch_state(spark, state_dir, schemas))
    for part in schemas:
        new_state[part].write.mode("overwrite").parquet(
            batch_part_path(state_dir, batch_id, part)
        )
    prune_batch_dirs(state_dir, {batch_id, *committed[-1:]})


def prune_batch_dirs(state_dir: str, keep_ids: set[int]) -> None:
    """Retention for the batch-dir layout: the state is CUMULATIVE —
    each committed dir holds the full merged table — so after committing
    batch N only N itself and its predecessor (kept for readers that
    resolved the latest id just before the commit) are live.  Everything
    older is garbage.  Unknown dir names are left alone.

    CONCURRENT-READER LIMIT: the keep-2 window tolerates exactly ONE
    in-flight commit between a reader resolving ``committed[-1]`` and
    materializing the DataFrame.  If two commits can land inside a
    single reader's resolve→materialize gap (very slow readers, very
    fast triggers), pass a larger ``keep_ids`` set from the caller —
    the function prunes whatever is NOT in ``keep_ids``, so the window
    is the caller's policy, not this function's."""
    if not os.path.isdir(state_dir):
        return
    for name in os.listdir(state_dir):
        if not name.startswith("batch="):
            continue
        try:
            bid = int(name.split("=", 1)[1])
        except ValueError:
            continue
        if bid not in keep_ids:
            shutil.rmtree(os.path.join(state_dir, name), ignore_errors=True)
