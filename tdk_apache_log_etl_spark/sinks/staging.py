"""Staging table: date-partitioned Snappy Parquet — the reference's K1/K2
collapsed into ONE write (the reference writes the same frame twice:
catalog-partitioned at sree-etl-tdk-lambda.py:112-118 and plain parquet at
:121-122), plus the quarantine sidecar for malformed lines, the
partition-pruned reader (S4/F3) and the post-ingest archive move (K5).
``pipeline.ingest`` composes them into the batch ingest flow.

Scale notes:
  * partitionBy("date") gives the identical hive-style layout the reference
    builds via Glue partition keys (sree-etl-tdk-lambda.py:78, :118); at
    100 TB each daily partition is itself many files sized by
    spark.sql.files.maxPartitionBytes.
  * The reader applies the date predicate BEFORE any action, so Catalyst
    prunes partitions at planning time — the manual push_down_predicate
    string of sree-etl-tdk-glue-job.py:39 is automatic here (asserted in
    tests/test_plans.py).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

STAGING_TABLE = "log_clean"

#: The cleansed staging schema (SURVEY.md §1.3; matches what
#: sources/apache_log.py writes — time is TIMESTAMP_NTZ so values never
#: shift with the reader's session timezone).
STAGING_SCHEMA = (
    "ip_address string, rfc_1413_identity double, user_id bigint, "
    "time timestamp_ntz, status_code bigint, size bigint, referer string, "
    "user_agent string, request_method string, request_resource string, "
    "request_protocol string, date string"
)


#: The quarantine sidecar's schema: the raw malformed line and the run
#: date that stamps its partition.
QUARANTINE_SCHEMA = "_corrupt STRING, date STRING"


#: Columnar formats the staging table may be stored in. Parquet is the
#: default (the reference's choice); ORC is the drop-in alternative for
#: Hive-centric estates — same partitioning, pruning, and compression
#: semantics through the identical DataFrameWriter path. (Avro would be
#: the row-oriented third, but its module isn't bundled in this
#: container — format-gated rather than stubbed.)
STAGING_FORMATS = ("parquet", "orc")


def write_staging(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    fmt: str = "parquet",
) -> None:
    """K1/K2: partitioned Snappy columnar staging write (one write, not
    the reference's two).

    Overwrites are DYNAMIC per-partition: only the dates present in the
    frame are replaced, so the nightly job is idempotent for its own day
    and never wipes earlier days — static overwrite would delete the
    whole table on each run, which is exactly the multi-day data-loss
    trap (the reference's daily Glue catalog write has per-partition
    semantics too)."""
    if fmt not in STAGING_FORMATS:
        raise ValueError(
            f"unsupported staging format {fmt!r}; expected one of "
            f"{STAGING_FORMATS}"
        )
    (
        df.write.mode(mode)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("date")
        .option("compression", "snappy")
        .format(fmt)
        .save(path)
    )


def quarantine_date(run_date: str | None) -> str:
    """The quarantine partition a run's corrupt lines land in: corrupt
    lines have no parseable event date, so the run date stamps them."""
    return run_date if run_date is not None else "unknown"


def write_quarantine(
    parsed: DataFrame, staging_path: str, run_date: str | None
) -> str:
    """Quarantine the ``_corrupt`` audit rows next to (not inside) the
    declared staging columns. ``pipeline.ingest`` drops ``_corrupt``
    before ``write_staging`` — otherwise the parquet grows an undeclared
    13th column that the declared-schema read silently hides and that
    ``compact_staging`` (which rewrites through STAGING_SCHEMA) would
    permanently discard. The quarantine is date-partitioned with dynamic
    overwrite so re-running a day replaces that day's corrupt rows.
    Returns the quarantine path."""
    quarantine = os.path.join(staging_path, "_quarantine")
    (
        parsed.filter(F.col("_corrupt").isNotNull())
        .select("_corrupt", F.lit(quarantine_date(run_date)).alias("date"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("date")
        .parquet(quarantine)
    )
    return quarantine


def read_staging(
    spark: SparkSession,
    path: str,
    date: str | None = None,
    fmt: str = "parquet",
) -> DataFrame:
    """S4/F3: staging read, partition-pruned when ``date`` is given.

    The schema is DECLARED, not inferred: inference fails outright on an
    empty staging table (a brand-new deployment before the first log
    arrives — same failure class as the quarantine read fixed in
    pipeline.ingest), and at scale it costs a footer-sampling pass the
    fixed contract makes unnecessary."""
    if fmt not in STAGING_FORMATS:
        raise ValueError(
            f"unsupported staging format {fmt!r}; expected one of "
            f"{STAGING_FORMATS}"
        )
    df = spark.read.schema(STAGING_SCHEMA).format(fmt).load(path)
    if date is not None:
        df = df.where(F.col("date") == date)
    return df


def register_staging_table(
    spark: SparkSession, path: str, table: str = STAGING_TABLE
) -> None:
    """Idempotent catalog DDL over the staging path — the Spark-native form
    of the reference's table_exists → create_glue_table dance
    (sree-etl-tdk-lambda.py:59-100): an external parquet table pointing at
    the partitioned layout, partitions discovered via MSCK REPAIR (the
    catalog equivalent of Glue partition registration at :118). After this,
    ``spark.read.table(table)`` and ad-hoc SQL (the Athena entry point,
    SURVEY.md §3.3) resolve against the catalog with partition pruning.
    """
    # No explicit column list → schema AND the date partitioning are
    # inferred from the hive-style layout (Spark rejects PARTITIONED BY
    # without a column list).
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {table} USING parquet LOCATION '{path}'"
    )
    spark.sql(f"MSCK REPAIR TABLE {table}")


def archive_processed(src_dir: str, dst_dir: str) -> list[str]:
    """K5: move processed ``*.log`` files (copy+delete, like
    sree-etl-tdk-lambda.py:129-142). Driver-side FS metadata ops — never
    data-plane work. The streaming path gets this natively via
    cleanSource=archive (streaming/log_stream.py)."""
    os.makedirs(dst_dir, exist_ok=True)
    moved = []
    for name in sorted(os.listdir(src_dir)):
        if name.endswith(".log"):
            shutil.move(os.path.join(src_dir, name), os.path.join(dst_dir, name))
            moved.append(name)
    return moved


def write_bucketed(
    df,
    table: str,
    key: str,
    n_buckets: int,
    path: str | None = None,
) -> None:
    """Hash-bucketed, per-bucket-sorted table — the 100 TB upgrade path for
    recurring fact-fact joins (SCALE.md): two tables bucketed AND sorted on
    the same key with the same bucket count join with ZERO exchange and
    ZERO sort (bucket-local merge join). The shuffle is paid once at write
    time, then amortized over every downstream join/aggregation on the key.
    ``path`` makes it an external table (tests point this at a tmp dir).

    The pre-write ``repartition(n_buckets, key)`` uses the same murmur3
    hash as the bucket-id assignment, so every task holds exactly one
    bucket → ONE file per bucket. That is the condition under which the
    reader trusts per-bucket sortedness; with many files per bucket Spark
    keeps a defensive per-task Sort below the merge join."""
    w = (
        df.repartition(n_buckets, F.col(key))
        .write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, key)
        .sortBy(key)
    )
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


def compact_staging(
    spark: SparkSession,
    path: str,
    dates: list[str] | None = None,
    target_files_per_partition: int = 1,
) -> int:
    """Small-files compaction for the staging table — the standing ops
    task of any streaming/incremental ingest at scale (each micro-batch
    appends files; a month of 5-minute triggers is ~8k files per
    partition, and scan planning cost grows with file count, not bytes).

    Rewrites the given date partitions (default: all) at
    ``target_files_per_partition`` files each, via per-partition
    repartition + dynamic partition overwrite — untouched partitions are
    NOT rewritten, so compaction cost is proportional to the compacted
    data, and readers never see a partially-deleted partition (the
    overwrite swaps per-partition directories atomically at commit).
    Returns the number of partitions compacted.
    """
    part_dates = dates
    if part_dates is None:
        part_dates = sorted(
            e.split("=", 1)[1]
            for e in os.listdir(path)
            if e.startswith("date=")
        )
    if not part_dates:
        return 0
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", None)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        df = spark.read.schema(STAGING_SCHEMA).parquet(path).where(
            F.col("date").isin(list(part_dates))
        )
        # hashing on date alone puts each date in ONE task however many
        # partitions are requested; a bounded salt spreads a date across
        # exactly target_files_per_partition tasks (= output files)
        salt = F.pmod(
            F.xxhash64(F.monotonically_increasing_id()),
            F.lit(target_files_per_partition),
        )
        (
            df.withColumn("_salt", salt)
            .repartition(
                len(part_dates) * target_files_per_partition,
                "date",
                "_salt",
            )
            .drop("_salt")
            .write.mode("overwrite")
            .partitionBy("date")
            .option("compression", "snappy")
            .parquet(path)
        )
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        else:
            spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    return len(part_dates)


def expire_partitions(path: str, keep_after: str) -> list[str]:
    """Retention expiry: drop whole date partitions strictly older than
    ``keep_after`` (YYYY-MM-DD). Partition-level deletion is pure
    metadata+directory work — no data is read, no job runs, cost is
    O(expired partitions) regardless of table size, which is why
    retention at 100 TB is always partition-grained (row-grained
    retention is delete_user_rows below). Returns the expired dates."""
    expired = sorted(
        e.split("=", 1)[1]
        for e in os.listdir(path)
        if e.startswith("date=") and e.split("=", 1)[1] < keep_after
    )
    for d in expired:
        shutil.rmtree(os.path.join(path, f"date={d}"))
    return expired


def delete_user_rows(
    spark: SparkSession, path: str, user_ids: list[int]
) -> int:
    """Row-level erasure (the GDPR/right-to-be-forgotten shape): remove
    every staging row for the given user ids by rewriting ONLY the
    partitions that contain them.

    Two passes, both pruned: (1) a scan finds the affected dates —
    the user_id IN filter is pushed to parquet, so row groups whose
    min/max excludes the ids are never decoded; (2) those partitions
    are rewritten through a NOT IN filter with dynamic partition
    overwrite, leaving every other partition byte-identical (asserted
    via mtime in tests). This is exactly what a table format's
    row-level DELETE lowers to without deletion vectors; cost is
    O(affected partitions), not table size. Returns the number of
    partitions rewritten."""
    ids = [int(u) for u in user_ids]
    if not ids:
        return 0
    full = spark.read.schema(STAGING_SCHEMA).parquet(path)
    dates = [
        r.date
        for r in full.where(F.col("user_id").isin(ids))
        .select("date")
        .distinct()
        .collect()
    ]
    if not dates:
        return 0
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", None)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        kept = full.where(F.col("date").isin(dates)).where(
            ~F.col("user_id").isin(ids) | F.col("user_id").isNull()
        )
        # Dynamic overwrite only replaces partitions PRESENT in the
        # written frame: a date whose every row was erased writes
        # nothing and would silently keep its old files — the one
        # failure mode an erasure tool must not have. Find those dates
        # BEFORE the rewrite (afterwards the cached file listing is
        # stale), then drop their directories explicitly.
        survivors = {
            r.date for r in kept.select("date").distinct().collect()
        }
        (
            kept.write.mode("overwrite")
            .partitionBy("date")
            .option("compression", "snappy")
            .parquet(path)
        )
        for d in set(dates) - survivors:
            shutil.rmtree(os.path.join(path, f"date={d}"), ignore_errors=True)
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        else:
            spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    return len(dates)
