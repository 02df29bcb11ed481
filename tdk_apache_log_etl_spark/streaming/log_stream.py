"""Structured Streaming variant of the ingest + analytics pipeline.

The reference simulates streaming with a nightly CloudWatch cron + manual
S3 file moves (README.md:52,70; sree-etl-tdk-lambda.py:129-142). The native
Spark equivalent is a file-source stream over the log directory:

  * ``trigger(availableNow=True)`` reproduces the nightly-batch semantics
    incrementally (process everything that arrived, then stop);
  * ``cleanSource=archive`` + ``sourceArchiveDir`` IS the reference's K5
    copy-then-delete archive step, handled by the engine exactly once per
    file;
  * watermarks bound state for late events; tumbling windows and session
    windows give the E5 streaming aggregations.

The SAME native parse expressions from sources/apache_log.py run on the
streaming frame — one definition of the CLF semantics for batch and
streaming.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from ..sources.apache_log import parse_clf_lines
from .state_swap import foreach_batch_stream


def read_log_stream(
    spark: SparkSession,
    log_dir: str,
    archive_dir: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming CLF source: text file stream → parsed staging schema."""
    reader = (
        spark.readStream.format("text")
        .option("pathGlobFilter", "*.log")
    )
    if archive_dir is not None:
        reader = reader.option("cleanSource", "archive").option(
            "sourceArchiveDir", archive_dir
        )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    lines = reader.load(log_dir)
    return parse_clf_lines(lines)


def write_staging_stream(
    parsed: DataFrame,
    staging_path: str,
    checkpoint_path: str,
    available_now: bool = True,
) -> DataStreamWriter:
    """Streaming staging sink: partitioned parquet with exactly-once file
    tracking via the checkpoint. Caller runs ``.start()`` and awaits."""
    writer = (
        parsed.writeStream.format("parquet")
        .option("path", staging_path)
        .option("checkpointLocation", checkpoint_path)
        .partitionBy("date")
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer


def windowed_event_counts(
    events: DataFrame,
    ts_col: str = "time",
    key_col: str = "status_code",
    window_duration: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """E5 streaming tumbling-window counts with a watermark bounding state:
    events later than the watermark are dropped, everything else is
    incrementally aggregated per (window, key).

    The CLF parser emits ``time`` as TIMESTAMP_NTZ (session-tz-independent,
    SURVEY.md §7.4.1) but event-time watermarks require TIMESTAMP; the cast
    re-interprets the UTC wall-clock in the UTC session tz — same instant.
    """
    events = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window_duration), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            key_col,
            "n_events",
        )
    )


def session_window_counts(
    events: DataFrame,
    ts_col: str = "time",
    user_col: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """E5 streaming sessionization: native session_window (dynamic-gap
    merge handled by the state store; the batch twin is
    operators/logmetrics.sessionize_gap). NTZ→LTZ cast as in
    windowed_event_counts."""
    events = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap), F.col(user_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            user_col,
            "n_events",
        )
    )


def enrich_stream(parsed: DataFrame, dim: DataFrame, key: str = "user_id") -> DataFrame:
    """Stream-static enrichment join: each micro-batch of the parsed log
    stream joins the (small) static dimension. The dim is explicitly
    broadcast — per-batch hash join against an executor-local table, no
    shuffle of the stream and no state store; the static side is re-read
    per trigger, so a catalog-backed dim picks up dimension updates between
    batches. This is the streaming twin of E7 (the batch enrichment joins
    in operators/relational.py)."""
    return parsed.join(F.broadcast(dim), on=key, how="left")


def dedup_stream(
    parsed: DataFrame,
    keys: list[str] | None = None,
    ts_col: str = "time",
    watermark: str = "30 minutes",
) -> DataFrame:
    """E1 streaming exact dedup with BOUNDED state:
    ``dropDuplicatesWithinWatermark`` keeps each key only until the
    watermark passes it, so state size tracks the (late-data window ×
    arrival rate), not the whole corpus — the property that lets this run
    forever at 100 TB/day where an unbounded ``dropDuplicates`` would OOM
    the state store. Duplicates arriving within the watermark window are
    suppressed even when their event times differ (retransmitted log lines
    get fresh ingest timestamps; the reference's file-level move protocol
    cannot dedup at all — SURVEY.md §2.5)."""
    keys = keys or ["ip_address", "user_id", "request_resource", "status_code"]
    deduped = (
        parsed.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(keys)
    )
    return deduped


def stream_stream_error_followup(
    parsed: DataFrame,
    horizon: str = "10 minutes",
    watermark: str = "30 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join: for each successful request, the error the
    SAME user hits within ``horizon`` afterwards (the ops question
    "which pages precede failures?"). Both sides carry watermarks and the
    join has a bounded event-time range — the two conditions under which
    Spark can expire join state instead of buffering both streams forever;
    state per side is O(arrival rate × (watermark + horizon)), constant in
    stream length. Equi-key user_id partitions both state stores the same
    way, so matching is executor-local after one shuffle per side.

    ``how="leftOuter"``: successes with NO follow-up error emit once the
    watermark passes their join window — NULL-padded, exactly-once, the
    streaming form of "requests that did NOT fail within 10 minutes".
    Outer rows are emitted by the state-expiry path, so they appear in
    the micro-batch AFTER the watermark passes the window close, never
    the batch that read the row — a single-batch run emits no outer
    rows (tests/test_streaming.py drives this with maxFilesPerTrigger=1
    so later files advance the watermark across batches)."""
    base = parsed.withColumn("ts", F.col("time").cast("timestamp"))
    ok = (
        base.filter(F.col("status_code") == 200)
        .select(
            F.col("user_id").alias("ok_user"),
            F.col("request_resource").alias("ok_resource"),
            F.col("ts").alias("ok_ts"),
        )
        .withWatermark("ok_ts", watermark)
    )
    err = (
        base.filter(F.col("status_code") >= 400)
        .select(
            F.col("user_id").alias("err_user"),
            F.col("request_resource").alias("err_resource"),
            F.col("status_code").alias("err_status"),
            F.col("ts").alias("err_ts"),
        )
        .withWatermark("err_ts", watermark)
    )
    return ok.join(
        err,
        (F.col("ok_user") == F.col("err_user"))
        & (F.col("err_ts") > F.col("ok_ts"))
        & (F.col("err_ts") <= F.col("ok_ts") + F.expr(f"INTERVAL {horizon}")),
        how,
    )


def write_summary_stream(
    parsed: DataFrame,
    out_path: str,
    checkpoint_path: str,
) -> DataStreamWriter:
    """Streaming twin of the reference's JDBC result tables (K3/K4): each
    micro-batch appends that batch's per-user request counts, stamped with
    the batch id, via ``foreachBatch`` — the hook where an arbitrary batch
    writer (``DataFrameWriter.jdbc``, sinks.jdbc.write_jdbc) plugs into a
    stream. Parquet stands in for the JDBC target here (no driver jar in
    the container). Restart safety comes from the checkpoint: a replayed
    batch rewrites the SAME batch_id partition (idempotent per-batch
    overwrite), so the result table never double-counts — the exactly-once
    contract the reference's truncate-and-reload gets only by redoing
    everything."""

    def _write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.filter(F.col("user_id").isNotNull())
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("requests_count"))
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option(
                "partitionOverwriteMode", "dynamic"
            )  # replace only this batch's partition on replay
            .partitionBy("batch_id")
            .parquet(out_path)
        )

    return foreach_batch_stream(parsed, _write_batch, checkpoint_path)


def write_windowed_topk_stream(
    parsed: DataFrame,
    out_path: str,
    checkpoint_path: str,
    k: int = 3,
    ts_col: str = "time",
    key_col: str = "status_code",
    window_duration: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataStreamWriter:
    """Streaming per-window top-k: rank functions aren't supported on
    streaming aggregates (no window functions over an unbounded frame),
    so the standard shape is watermarked windowed counts + a
    ``foreachBatch`` hook that ranks WITHIN each emitted micro-batch —
    the batch is a plain DataFrame, so the same WindowGroupLimit-planned
    top-k the batch engine uses applies verbatim.  Append output mode
    means a window's counts arrive once, after the watermark closes it,
    so the per-batch rank over finalized windows is the global rank for
    those windows.  Idempotent per-batch partition overwrite as in
    write_summary_stream."""
    from pyspark.sql import Window

    counts = windowed_event_counts(
        parsed,
        ts_col=ts_col,
        key_col=key_col,
        window_duration=window_duration,
        watermark=watermark,
    )

    def _write_batch(batch_df: DataFrame, batch_id: int) -> None:
        w = Window.partitionBy("window_start").orderBy(
            F.desc("n_events"), F.asc(key_col)
        )
        (
            batch_df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .drop("rn")
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_path)
        )

    # append is the default output mode
    return foreach_batch_stream(counts, _write_batch, checkpoint_path)


def enrich_stream_ip_ranges(parsed: DataFrame, nation: DataFrame) -> DataFrame:
    """Streaming twin of E27 (operators/logmetrics.py:
    ip_range_enrich_traffic): map each micro-batch's request IPs into
    their owning CIDR-style block via the SAME interval-bucketed range
    join — with_ip_bucket / bucketed_ip_ranges / ip_range_join compose
    identically over a stream because every piece is a narrow projection
    plus a stream-static join (broadcast per trigger, no state store).
    Emits one enriched row per request; aggregate downstream with
    whatever window the consumer needs."""
    from ..operators.logmetrics import (
        bucketed_ip_ranges,
        ip_range_join,
        with_ip_bucket,
    )

    ips = with_ip_bucket(parsed)
    ranges = bucketed_ip_ranges(nation)
    return ip_range_join(ips, ranges).select(
        "ip_idx", "sz", "block_owner"
    )


def sliding_error_rate(
    events: DataFrame,
    ts_col: str = "time",
    window_duration: str = "10 minutes",
    slide_duration: str = "5 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Sliding (overlapping) windows — the third member of the window
    trio next to tumbling (windowed_event_counts) and session
    (session_window_counts): each event lands in window/slide
    overlapping windows, giving a smoothed error-rate monitor that a
    tumbling window would chop at arbitrary boundaries.

    State per key is window/slide live windows, still bounded by the
    watermark. The error rate divides two exact counts (deterministic).
    NTZ→LTZ cast as in windowed_event_counts."""
    events = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window_duration, slide_duration))
        .agg(
            F.count(F.lit(1)).alias("n_requests"),
            F.count(F.when(F.col("status_code") >= 500, 1)).alias(
                "n_errors"
            ),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "n_requests",
            "n_errors",
            F.round(
                F.col("n_errors").cast("double") / F.col("n_requests"), 6
            ).alias("error_rate"),
        )
    )
