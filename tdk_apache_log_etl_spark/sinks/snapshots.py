"""Snapshot table sink: manifest-committed parquet with time travel —
the minimal Iceberg/Delta-log shape, self-contained on any filesystem.

Why it exists: a plain ``mode("append")`` parquet directory has no
transaction boundary — readers see half-written batches, failed jobs
leave orphan part files that silently join every future scan, and
yesterday's view of the table is unrecoverable. The fix every table
format (Iceberg, Delta, Hudi) converges on is the same: DATA FILES ARE
IMMUTABLE AND INVISIBLE until a tiny manifest naming them commits via
ONE atomic filesystem operation. This module implements exactly that
core:

  * ``snapshot_write(df, dir, mode)`` — writes part files under
    ``data/snap-N/``, then commits ``manifests/snap-N.json`` listing
    every referenced file (append mode carries the previous snapshot's
    files forward). The manifest lands via write-to-temp + ``os.rename``
    — atomic on POSIX, so a reader sees the old table or the new one,
    never a blend. A crash before the rename leaves data files that NO
    manifest references: invisible, and garbage-collected later.
  * ``snapshot_read(spark, dir, version=None)`` — reads the file list of
    the requested (default: latest) committed snapshot. Time travel is
    just naming an older manifest.
  * ``expire_snapshots(dir, keep_last)`` — drops old manifests and
    deletes data files no surviving manifest references (the GC that
    bounds storage; identical contract to Iceberg's expire_snapshots).

Scale: manifests hold file PATHS (KBs per thousand files), never data;
commit cost is O(1) regardless of table size, and concurrent readers
need no locks — they resolve one manifest and read immutable files.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from ..streaming import state_swap

_MANIFEST_DIR = "manifests"
_DATA_DIR = "data"


def _manifest_path(table_dir: str, version: int) -> str:
    return os.path.join(table_dir, _MANIFEST_DIR, f"snap-{version}.json")


def committed_versions(table_dir: str) -> list[int]:
    """Sorted committed snapshot ids (manifest present = committed)."""
    mdir = os.path.join(table_dir, _MANIFEST_DIR)
    if not os.path.isdir(mdir):
        return []
    out = []
    for name in os.listdir(mdir):
        if name.startswith("snap-") and name.endswith(".json"):
            out.append(int(name[len("snap-"):-len(".json")]))
    return sorted(out)


def _load_manifest(table_dir: str, version: int) -> dict:
    with open(_manifest_path(table_dir, version)) as f:
        return json.load(f)


def snapshot_write(
    df: DataFrame, table_dir: str, mode: str = "append"
) -> int:
    """Write ``df`` as a new committed snapshot; returns its version.

    ``append`` carries the previous snapshot's files forward;
    ``overwrite`` starts the file list fresh (old versions stay
    readable until expired — that IS the time-travel contract)."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite (got {mode!r})")
    committed = committed_versions(table_dir)
    version = (committed[-1] + 1) if committed else 0
    snap_data = os.path.join(table_dir, _DATA_DIR, f"snap-{version}")
    # 1. data files first — invisible until the manifest commits.
    # overwrite, not error: if data/snap-N exists without a manifest it
    # is a torn leftover from a crashed writer (nothing references it),
    # and the new writer reclaims the id by replacing it.
    df.write.mode("overwrite").parquet(snap_data)
    new_files = sorted(
        os.path.join(_DATA_DIR, f"snap-{version}", name)
        for name in os.listdir(snap_data)
        if name.endswith(".parquet")
    )
    files = list(new_files)
    if mode == "append" and committed:
        files = _load_manifest(table_dir, committed[-1])["files"] + files
    # 2. manifest via temp + atomic rename: the commit point
    os.makedirs(os.path.join(table_dir, _MANIFEST_DIR), exist_ok=True)
    tmp = _manifest_path(table_dir, version) + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"version": version, "mode": mode, "files": files}, f)
    os.rename(tmp, _manifest_path(table_dir, version))
    return version


def snapshot_read(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """Read a committed snapshot (default: latest). Raises on an
    uncommitted/expired version — a missing manifest is not a table."""
    committed = committed_versions(table_dir)
    if not committed:
        raise FileNotFoundError(f"no committed snapshots under {table_dir}")
    if version is None:
        version = committed[-1]
    if version not in committed:
        raise FileNotFoundError(
            f"snapshot {version} is not committed (have {committed})"
        )
    files = _load_manifest(table_dir, version)["files"]
    return spark.read.parquet(
        *[os.path.join(table_dir, rel) for rel in files]
    )


def expire_snapshots(table_dir: str, keep_last: int = 1) -> dict:
    """Drop all but the newest ``keep_last`` manifests and delete data
    files no surviving manifest references. Returns counts."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    committed = committed_versions(table_dir)
    drop = committed[:-keep_last]
    keep = committed[-keep_last:]
    live: set[str] = set()
    for v in keep:
        live.update(_load_manifest(table_dir, v)["files"])
    n_files = 0
    data_root = os.path.join(table_dir, _DATA_DIR)
    if os.path.isdir(data_root):
        for snap in sorted(os.listdir(data_root)):
            snap_dir = os.path.join(data_root, snap)
            for name in sorted(os.listdir(snap_dir)):
                rel = os.path.join(_DATA_DIR, snap, name)
                if name.endswith(".parquet") and rel not in live:
                    os.remove(os.path.join(table_dir, rel))
                    n_files += 1
            if not any(
                n.endswith(".parquet") for n in os.listdir(snap_dir)
            ):
                for leftover in os.listdir(snap_dir):
                    os.remove(os.path.join(snap_dir, leftover))
                os.rmdir(snap_dir)
    for v in drop:
        os.remove(_manifest_path(table_dir, v))
    return {"expired_manifests": len(drop), "deleted_files": n_files}


# --------------------------------------------------------------------------
# Streaming ingest into the snapshot table (exactly-once via batch ids)
# --------------------------------------------------------------------------


def snapshot_write_batch(
    df: DataFrame, table_dir: str, batch_id: int
) -> int | None:
    """foreachBatch body: append one micro-batch as a snapshot, skipping
    batch ids that already committed — at-least-once delivery from the
    stream becomes EXACTLY-ONCE table content, because the manifest
    records which stream batch produced each snapshot and a replayed
    batch finds its id and no-ops (the same idempotence contract Delta's
    txn version / Iceberg's WAP give foreachBatch writers).

    Returns the committed version, or None for a replay no-op."""
    committed = committed_versions(table_dir)
    for v in committed:
        if _load_manifest(table_dir, v).get("batch_id") == batch_id:
            return None
    version = (committed[-1] + 1) if committed else 0
    snap_data = os.path.join(table_dir, _DATA_DIR, f"snap-{version}")
    df.write.mode("overwrite").parquet(snap_data)
    new_files = sorted(
        os.path.join(_DATA_DIR, f"snap-{version}", name)
        for name in os.listdir(snap_data)
        if name.endswith(".parquet")
    )
    files = new_files
    if committed:
        files = _load_manifest(table_dir, committed[-1])["files"] + files
    os.makedirs(os.path.join(table_dir, _MANIFEST_DIR), exist_ok=True)
    tmp = _manifest_path(table_dir, version) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(
            {
                "version": version,
                "mode": "append",
                "batch_id": batch_id,
                "files": files,
            },
            f,
        )
    os.rename(tmp, _manifest_path(table_dir, version))
    return version


def maintain_snapshot_stream(stream_df: DataFrame, table_dir: str,
                             checkpoint_dir: str):
    """Wire snapshot appends into a writeStream; ``.start()`` to run."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        snapshot_write_batch(batch_df, table_dir, batch_id)

    return state_swap.foreach_batch_stream(stream_df, _apply, checkpoint_dir)


def snapshot_diff(
    spark: SparkSession, table_dir: str, v_old: int, v_new: int
) -> DataFrame:
    """Row-level content diff between two committed snapshots: each row
    tagged ``added`` or ``removed`` with its multiplicity change —
    multiset semantics (exceptAll both ways), so duplicate rows diff by
    COUNT, not presence. The audit primitive a versioned table owes its
    users: "what changed between yesterday's snapshot and today's"
    without any CDC feed (complements operators/cdc.py, which diffs
    EXTERNAL frames; this reads the table's own history).

    Scale: both sides group map-side to (row, count) before the one
    full-outer join on the row key — traffic is O(distinct rows), and
    unchanged rows with equal counts drop before the driver sees
    anything."""
    old = snapshot_read(spark, table_dir, v_old)
    new = snapshot_read(spark, table_dir, v_new)
    from pyspark.sql import functions as F

    cols = old.columns
    if cols != new.columns:
        raise ValueError(
            f"snapshot schemas differ: {cols} vs {new.columns}"
        )
    oc = old.groupBy(*cols).agg(F.count(F.lit(1)).alias("_n_old"))
    nc = new.groupBy(*cols).agg(F.count(F.lit(1)).alias("_n_new"))
    j = oc.join(nc, cols, "full_outer").select(
        *cols,
        F.coalesce(F.col("_n_old"), F.lit(0)).alias("_n_old"),
        F.coalesce(F.col("_n_new"), F.lit(0)).alias("_n_new"),
    )
    delta = F.col("_n_new") - F.col("_n_old")
    return j.where(delta != 0).select(
        *cols,
        F.when(delta > 0, F.lit("added")).otherwise("removed").alias("change"),
        F.abs(delta).cast("long").alias("n_rows"),
    )
