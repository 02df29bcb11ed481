"""End-to-end pipeline entry points mirroring the reference's two jobs.

A user of the reference runs two scheduled scripts; these are their
drop-in equivalents, Spark-native:

  * ``ingest``  ≙ the Lambda (sree-etl-tdk-lambda.py:145-218): discover
    ``*.log`` files → parse CLF → write date-partitioned Snappy-Parquet
    staging (K1/K2 collapsed into ONE write) → quarantine malformed
    lines → archive processed files. A clean day is ONE scan of the
    text (the staging write, with its data-quality counts observed on
    that same pass); a day with malformed lines is TWO (the quarantine
    write re-reads and re-parses the day's text).
  * ``daily_analytics`` ≙ the Glue job (sree-etl-tdk-glue-job.py:13-100):
    partition-pruned read of one day → the three metrics in one scan →
    per-user counts + a one-row summary, handed to any sink (JDBC via
    sinks.jdbc, or parquet for offline use).

Differences from the reference, all deliberate (SURVEY.md §7):
  * one distributed parse instead of single-process pandas;
  * malformed lines quarantined in ``_corrupt``, not file-fatal;
  * one staging write, not two;
  * three metrics share one scan instead of three;
  * ``run_date`` is a parameter, not wall-clock ``datetime.now()``;
  * NULL user_id (the CLF ``-`` placeholder) is excluded from BOTH
    outputs: ``requests_per_user`` filters the NULL group the reference's
    ``groupBy('user_id')`` would emit, and ``user_count`` uses
    ``countDistinct`` (NULL-excluding) where the reference's
    ``.distinct().count()`` counts NULL as one extra "user". Anonymous
    traffic is not a user; the un-dropped totals remain available via
    ``total_requests`` in the staging queries.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .sinks.staging import (
    QUARANTINE_SCHEMA,
    archive_processed,
    quarantine_date,
    read_staging,
    write_quarantine,
    write_staging,
)
from .sources.apache_log import read_apache_log


def ingest(
    spark: SparkSession,
    log_dir: str,
    staging_path: str,
    archive_dir: str | None = None,
    run_date: str | None = None,
) -> tuple[DataFrame, dict[str, int]]:
    """Batch ingest: ``*.log`` under ``log_dir`` → partitioned staging.

    Returns ``(corrupt, metrics)``. ``metrics`` comes from ``df.observe``
    on the staging write itself: ``n_rows``, ``n_unparsed``,
    ``n_null_user``, ``n_null_size`` and ``n_corrupt``, with no
    validation scan of its own (the reference's blind ``df.count()``,
    sree-etl-tdk-lambda.py:191, is exactly such a pass). ``corrupt`` is
    the run date's quarantined lines, read back from the quarantine
    parquet so it stays valid after the source files are archived away.

    The quarantine pass runs only when the write saw a corrupt line. On
    a clean day the run date's quarantine partition is removed instead:
    a dynamic overwrite with an empty frame replaces no partition, so a
    clean re-run of a dirty day would otherwise keep the stale rows.

    Archiving moves processed files driver-side — the batch equivalent
    of the streaming source's ``cleanSource=archive`` (K5).
    """
    parsed = read_apache_log(spark, log_dir, run_date=run_date)
    obs = Observation("ingest")
    observed = parsed.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("request_method").isNull(), 1)).alias(
            "n_unparsed"
        ),
        F.count(F.when(F.col("user_id").isNull(), 1)).alias("n_null_user"),
        F.count(F.when(F.col("size").isNull(), 1)).alias("n_null_size"),
        F.count(F.col("_corrupt")).alias("n_corrupt"),
    )
    # The observe node sits below the drop, so the _corrupt tally rides
    # the staging write while the written columns honor STAGING_SCHEMA.
    write_staging(observed.drop("_corrupt"), staging_path)
    metrics = dict(obs.get)
    quarantine = os.path.join(staging_path, "_quarantine")
    day = os.path.join(quarantine, f"date={quarantine_date(run_date)}")
    if metrics["n_corrupt"]:
        write_quarantine(parsed, staging_path, run_date)
        # The partition dir under basePath keeps the date column without
        # Spark's "All paths were ignored" warning for a root named "_…".
        corrupt = (
            spark.read.schema(QUARANTINE_SCHEMA)
            .option("basePath", quarantine)
            .parquet(day)
        )
    else:
        shutil.rmtree(day, ignore_errors=True)
        corrupt = spark.createDataFrame([], QUARANTINE_SCHEMA)
    if archive_dir is not None:
        archive_processed(log_dir, archive_dir)
    return corrupt, metrics


def daily_analytics(
    spark: SparkSession, staging_path: str, run_date: str
) -> tuple[DataFrame, DataFrame]:
    """The Glue job's analytical output for one day.

    Returns ``(requests_per_user, daily_summary)``:
      * requests_per_user: (user_id, requests_count) — K3's payload;
      * daily_summary: one row (current_date, user_count,
        total_successful_requests) — K4's payload, with the reference's
        schema-literal bug fixed (proper typed columns).
    ONE partition-pruned scan feeds both (the reference scans three times).
    """
    day = read_staging(spark, staging_path, date=run_date)
    per_user = (
        day.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("requests_count"))
    )
    summary = day.agg(
        F.lit(run_date).alias("current_date"),
        F.countDistinct("user_id").cast("int").alias("user_count"),
        F.count(F.when(F.col("status_code") == 200, 1))
        .cast("int")
        .alias("total_successful_requests"),
    )
    return per_user, summary
