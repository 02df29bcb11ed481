"""End-to-end batch pipeline: ingest (parse → staging → archive) then the
daily analytics pass — the reference's two scheduled jobs back to back."""

from __future__ import annotations

import os

import pytest

from tdk_apache_log_etl_spark.pipeline import daily_analytics, ingest
from tdk_apache_log_etl_spark.sinks.jdbc import jdbc_writer
from tdk_apache_log_etl_spark.sinks.staging import read_staging

LINES = [
    '10.0.0.1 - 1 [13/Aug/2026:10:00:00 +0000] "GET /a HTTP/1.1" 200 10 "-" "ua"',
    '10.0.0.1 - 1 [13/Aug/2026:10:00:01 +0000] "GET /b HTTP/1.1" 200 10 "-" "ua"',
    '10.0.0.2 - 2 [13/Aug/2026:10:00:02 +0000] "GET /c HTTP/1.1" 404 20 "-" "ua"',
    '10.0.0.3 - - [13/Aug/2026:10:00:03 +0000] "GET /d HTTP/1.1" 200 - "-" "ua"',
    "totally malformed line",
]


def test_ingest_then_analytics(spark, tmp_path):
    logs = tmp_path / "logs"
    logs.mkdir()
    (logs / "2026-08-13.log").write_text("\n".join(LINES) + "\n")
    staging = str(tmp_path / "staging")
    archive = str(tmp_path / "archive")

    corrupt, _ = ingest(
        spark, str(logs), staging, archive_dir=archive, run_date="2026-08-13"
    )
    assert corrupt.count() == 1  # the malformed line, quarantined not fatal
    # source archived
    assert os.listdir(archive) == ["2026-08-13.log"]
    assert not any(f.endswith(".log") for f in os.listdir(logs))

    staged = read_staging(spark, staging, date="2026-08-13")
    assert staged.count() == len(LINES)  # corrupt row kept as all-NULL + date

    per_user, summary = daily_analytics(spark, staging, "2026-08-13")
    by_user = {r.user_id: r.requests_count for r in per_user.collect()}
    assert by_user == {1: 2, 2: 1}
    s = summary.collect()[0]
    assert s.current_date == "2026-08-13"
    assert s.user_count == 2          # distinct non-null user ids
    assert s.total_successful_requests == 3


def test_jdbc_writer_validates_url_and_configures(spark):
    df = spark.range(3).toDF("user_id")
    with pytest.raises(ValueError):
        jdbc_writer(df, "not-a-jdbc-url", "t")
    w = jdbc_writer(
        df, "jdbc:oracle:thin:@//db:1521/svc", "tdk_user_requests_table",
        mode="overwrite",
    )
    # writer is fully constructed; .save() is the only step needing a DB
    assert w is not None


def test_multi_day_lifecycle_keeps_prior_partitions(spark, tmp_path):
    """Two nightly runs back to back: day 2's ingest must not wipe day 1
    (dynamic partition overwrite), re-running a day must be idempotent,
    and each day's analytics sees only its own partition."""
    day2_lines = [
        '10.0.0.9 - 9 [14/Aug/2026:09:00:00 +0000] "GET /x HTTP/1.1" 200 1 "-" "ua"',
        '10.0.0.9 - 9 [14/Aug/2026:09:00:01 +0000] "GET /y HTTP/1.1" 200 1 "-" "ua"',
    ]
    logs = tmp_path / "logs_md"
    logs.mkdir()
    staging = str(tmp_path / "staging_md")

    (logs / "2026-08-13.log").write_text("\n".join(LINES) + "\n")
    ingest(spark, str(logs), staging, run_date="2026-08-13")
    for f in logs.iterdir():
        f.unlink()
    (logs / "2026-08-14.log").write_text("\n".join(day2_lines) + "\n")
    corrupt2, _ = ingest(spark, str(logs), staging, run_date="2026-08-14")
    # a clean day's corrupt frame is its own (empty), not day 1's row
    assert corrupt2.count() == 0

    # both days present after the second run
    assert read_staging(spark, staging, date="2026-08-13").count() == len(LINES)
    assert read_staging(spark, staging, date="2026-08-14").count() == 2

    # re-running day 2 is idempotent (replaces, never duplicates)
    ingest(spark, str(logs), staging, run_date="2026-08-14")
    assert read_staging(spark, staging, date="2026-08-14").count() == 2
    assert read_staging(spark, staging, date="2026-08-13").count() == len(LINES)

    # per-day analytics isolation
    _, s1 = daily_analytics(spark, staging, "2026-08-13")
    _, s2 = daily_analytics(spark, staging, "2026-08-14")
    assert s1.collect()[0].user_count == 2
    assert s2.collect()[0].user_count == 1


def test_quarantine_is_idempotent_per_day(spark, tmp_path):
    logs = tmp_path / "logs_q"
    logs.mkdir()
    staging = str(tmp_path / "staging_q")
    (logs / "2026-08-13.log").write_text("\n".join(LINES) + "\n")
    c1, _ = ingest(spark, str(logs), staging, run_date="2026-08-13")
    assert c1.count() == 1
    # re-run the same day: corrupt rows replaced, not duplicated
    c2, _ = ingest(spark, str(logs), staging, run_date="2026-08-13")
    assert c2.count() == 1
    # re-run it from a fixed, clean file: the stale partition goes too
    (logs / "2026-08-13.log").write_text("\n".join(LINES[:-1]) + "\n")
    c3, _ = ingest(spark, str(logs), staging, run_date="2026-08-13")
    assert c3.count() == 0
    assert not os.path.exists(
        os.path.join(staging, "_quarantine", "date=2026-08-13")
    )


def test_ingest_job_count_clean_one_dirty_two(spark, tmp_path):
    # The staging write is the only scan of a clean day; a day with a
    # malformed line adds exactly the quarantine write.
    sc = spark.sparkContext
    logs = tmp_path / "logs_jobs"
    logs.mkdir()
    staging = str(tmp_path / "staging_jobs")

    def jobs(group, lines, run_date):
        (logs / "day.log").write_text("\n".join(lines) + "\n")
        sc.setJobGroup(group, group)
        try:
            ingest(spark, str(logs), staging, run_date=run_date)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert jobs("ingest-clean", LINES[:-1], "2026-08-13") == 1
    assert jobs("ingest-dirty", LINES, "2026-08-14") == 2


def test_ingest_observed_metrics_single_pass(spark, tmp_path):
    # df.observe rides the write action: metrics arrive without a second
    # scan, and they agree with what a separate count would say.
    logs = tmp_path / "obs_logs"
    logs.mkdir()
    (logs / "2026-08-13.log").write_text("\n".join(LINES) + "\n")
    staging = str(tmp_path / "obs_staging")

    _, metrics = ingest(spark, str(logs), staging, run_date="2026-08-13")
    assert metrics["n_rows"] == len(LINES)
    assert metrics["n_unparsed"] == 1   # the malformed line
    assert metrics["n_null_user"] == 2  # '-' user + malformed line
    assert metrics["n_null_size"] == 2  # 304-style '-' size + malformed
    assert metrics["n_corrupt"] == 1    # quarantined, not staged
    staged = read_staging(spark, staging, date="2026-08-13")
    assert staged.count() == metrics["n_rows"]


def test_ingest_staging_honors_declared_schema(spark, tmp_path):
    # The staging writer must drop _corrupt before writing: an inferred
    # read of the staging parquet (what a foreign engine would do) must
    # show exactly the declared 12 columns, and the corrupt audit row must
    # land in the quarantine sidecar instead (round-2 ADVICE).
    from tdk_apache_log_etl_spark.sinks.staging import STAGING_SCHEMA

    declared = {c.split()[0] for c in STAGING_SCHEMA.split(", ")}
    logs = tmp_path / "schema_logs"
    logs.mkdir()
    (logs / "2026-08-13.log").write_text("\n".join(LINES) + "\n")
    staging = str(tmp_path / "schema_staging")
    ingest(spark, str(logs), staging, run_date="2026-08-13")
    inferred = spark.read.parquet(staging)
    assert set(inferred.columns) == declared
    quarantined = spark.read.schema("_corrupt STRING, date STRING").parquet(
        os.path.join(staging, "_quarantine")
    )
    assert quarantined.count() == 1


def test_cli_analytics_requires_out_or_jdbc(tmp_path):
    from tdk_apache_log_etl_spark.__main__ import main

    with pytest.raises(SystemExit) as exc:
        main(["analytics", str(tmp_path / "staging"), "2026-08-13"])
    assert exc.value.code == 2


def test_cli_ingest_and_query(tmp_path, capsys):
    # __main__.main drives the same pipeline code paths end to end.
    from tdk_apache_log_etl_spark.__main__ import main

    logs = tmp_path / "cli_logs"
    logs.mkdir()
    (logs / "2026-08-13.log").write_text("\n".join(LINES) + "\n")
    staging = str(tmp_path / "cli_staging")
    rc = main(
        ["ingest", str(logs), staging, "--run-date", "2026-08-13"]
    )
    assert rc == 0
    assert "corrupt_lines=1" in capsys.readouterr().out

    out = str(tmp_path / "cli_q")
    rc = main(
        ["query", "clf_user_count", "/root/testdata/sf0.001", "--out", out]
    )
    assert rc == 0
    assert "rows=1" in capsys.readouterr().out

    rc = main(["query", "no_such_query", "/root/testdata/sf0.001"])
    assert rc == 2


def test_cli_ingest_stream(tmp_path, capsys, spark):
    # the streaming CLI path: availableNow drains the directory once and
    # the checkpoint makes a re-run a no-op (exactly-once).
    from tdk_apache_log_etl_spark.__main__ import main

    logs = tmp_path / "cli_slogs"
    logs.mkdir()
    (logs / "2026-08-13.log").write_text("\n".join(LINES) + "\n")
    staging = str(tmp_path / "cli_sstaging")
    ckpt = str(tmp_path / "cli_sckpt")
    assert main(["ingest-stream", str(logs), staging, ckpt]) == 0
    assert "ingest_stream_ok=1" in capsys.readouterr().out
    n1 = spark.read.parquet(staging).count()
    assert n1 == len(LINES)
    assert main(["ingest-stream", str(logs), staging, ckpt]) == 0
    assert spark.read.parquet(staging).count() == n1  # no reprocessing


def test_read_staging_survives_empty_table(spark, tmp_path):
    # a brand-new staging location (no partitions yet) must read as an
    # empty typed frame, not an UNABLE_TO_INFER_SCHEMA crash
    from tdk_apache_log_etl_spark.sinks.staging import read_staging
    from tdk_apache_log_etl_spark.sources.apache_log import read_apache_log
    from tdk_apache_log_etl_spark.sinks.staging import write_staging

    logs = tmp_path / "empty_logs"
    logs.mkdir()
    (logs / "2026-08-13.log").write_text("")  # zero lines
    staging = str(tmp_path / "empty_staging")
    parsed = read_apache_log(spark, str(logs), run_date="2026-08-13")
    write_staging(parsed.drop("_corrupt"), staging)
    df = read_staging(spark, staging, date="2026-08-13")
    assert df.count() == 0
    assert "request_method" in df.columns


def test_orc_staging_roundtrip_and_pruning(spark, tmp_path):
    """The staging table is format-pluggable: the same writer path
    produces ORC with identical partitioning semantics, the declared-
    schema read returns the same rows as the parquet table, partition
    pruning still works, and an unknown format fails loudly."""
    import pytest as _pytest

    from tdk_apache_log_etl_spark.sinks.staging import write_staging
    from tdk_apache_log_etl_spark.sources.apache_log import parse_clf_lines

    parsed = parse_clf_lines(
        spark.createDataFrame([(x,) for x in LINES], "value string")
    ).drop("_corrupt")
    parsed = parsed.withColumn(
        "date",
        parsed["time"].cast("date").cast("string"),
    )
    pq = str(tmp_path / "stage_pq")
    orc = str(tmp_path / "stage_orc")
    write_staging(parsed.na.fill({"date": "unknown"}), pq)
    write_staging(parsed.na.fill({"date": "unknown"}), orc, fmt="orc")

    a = sorted(map(tuple, read_staging(spark, pq).collect()), key=repr)
    b = sorted(
        map(tuple, read_staging(spark, orc, fmt="orc").collect()), key=repr
    )
    assert a == b and len(a) == len(LINES)

    pruned = read_staging(spark, orc, date="2026-08-13", fmt="orc")
    assert pruned.count() == len(LINES) - 1  # malformed row has no date
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    # partition filter reaches the ORC scan (same as the parquet assert
    # in test_plans.test_staging_partition_pruning)
    assert "PartitionFilters" in plan and "2026-08-13" in plan

    with _pytest.raises(ValueError, match="unsupported staging format"):
        write_staging(parsed, str(tmp_path / "x"), fmt="avro")
    with _pytest.raises(ValueError, match="unsupported staging format"):
        read_staging(spark, orc, fmt="avro")
