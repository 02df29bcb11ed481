"""Golden-line unit tests for the CLF source — pinning the exact parse
semantics of the reference (sree-etl-tdk-lambda.py:30-55, :167-186):
quote/bracket stripping, '-' → NULL, ±HHMM offsets applied, request split,
malformed-line auditability."""

from __future__ import annotations

import datetime
import os

from tdk_apache_log_etl_spark.sources.apache_log import (
    parse_clf_lines,
    read_apache_log,
)

GOLDEN = [
    '203.0.113.7 - 4521 [13/Aug/2026:23:41:02 +0000] "GET /index.html HTTP/1.1" '
    '200 5120 "https://example.com/" '
    '"Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36"',
    '198.51.100.9 - - [13/Aug/2026:23:41:03 +0530] "POST /api/v1/login HTTP/1.1" '
    '401 211 "-" "curl/8.4.0"',
    '192.0.2.44 - 4521 [13/Aug/2026:23:41:05 -0800] "GET /img/logo.png HTTP/1.0" '
    '304 - "https://example.com/index.html" '
    '"Mozilla/5.0 (Windows NT 10.0; Win64; x64)"',
    "not a log line at all",
]


def _parse(spark, lines):
    df = spark.createDataFrame([(l,) for l in lines], ["value"])
    return parse_clf_lines(df).collect()


def test_full_line(spark):
    r = _parse(spark, [GOLDEN[0]])[0]
    assert r.ip_address == "203.0.113.7"
    assert r.rfc_1413_identity is None  # '-' → NULL, typed double
    assert r.user_id == 4521
    assert r.time == datetime.datetime(2026, 8, 13, 23, 41, 2)  # +0000 → UTC
    assert r.status_code == 200
    assert r.size == 5120
    assert r.referer == "https://example.com/"
    # quoted UA with spaces survives as one field (quote-protected split)
    assert r.user_agent == "Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36"
    assert (r.request_method, r.request_resource, r.request_protocol) == (
        "GET", "/index.html", "HTTP/1.1",
    )
    assert r.date == "2026-08-13"
    assert r._corrupt is None


def test_positive_offset_and_null_fields(spark):
    r = _parse(spark, [GOLDEN[1]])[0]
    # 23:41:03 +0530 → 18:11:03 UTC (offset minutes applied, reference
    # parse_datetime semantics sree-etl-tdk-lambda.py:54)
    assert r.time == datetime.datetime(2026, 8, 13, 18, 11, 3)
    assert r.user_id is None  # '-' user
    assert r.referer is None  # quoted "-" → '-' after strip → NULL
    assert r.request_method == "POST"
    assert r.status_code == 401
    assert (r.ip_address, r.rfc_1413_identity, r.size, r.user_agent,
            r._corrupt) == ("198.51.100.9", None, 211, "curl/8.4.0", None)


def test_negative_offset_and_null_size(spark):
    r = _parse(spark, [GOLDEN[2]])[0]
    # 23:41:05 -0800 → 07:41:05 UTC next day
    assert r.time == datetime.datetime(2026, 8, 14, 7, 41, 5)
    assert r.size is None  # '-' body on a 304
    assert r.status_code == 304
    assert r.date == "2026-08-14"  # stamped from UTC event time
    assert (r.ip_address, r.rfc_1413_identity, r.user_id, r.referer,
            r.user_agent, r._corrupt) == (
        "192.0.2.44", None, 4521, "https://example.com/index.html",
        "Mozilla/5.0 (Windows NT 10.0; Win64; x64)", None,
    )


def test_malformed_line_preserved_not_fatal(spark):
    r = _parse(spark, [GOLDEN[3]])[0]
    # the reference aborts the whole file (sree-etl-tdk-lambda.py:214-218);
    # we keep the row, all-NULL, with the raw line auditable
    assert r.ip_address is None and r.time is None and r.status_code is None
    assert (r.rfc_1413_identity, r.user_id, r.size, r.referer,
            r.user_agent) == (None, None, None, None, None)
    assert r._corrupt == "not a log line at all"


def test_read_apache_log_glob_filter(spark, tmp_path):
    (tmp_path / "2026-08-13.log").write_text("\n".join(GOLDEN[:3]) + "\n")
    (tmp_path / "ignore.txt").write_text("should not be read\n")
    df = read_apache_log(spark, str(tmp_path))
    rows = df.collect()
    assert len(rows) == 3  # the .txt was filtered by pathGlobFilter (F4)
    assert {r.status_code for r in rows} == {200, 401, 304}


def test_run_date_override(spark):
    df = spark.createDataFrame([(GOLDEN[0],)], ["value"])
    r = parse_clf_lines(df, run_date="2001-01-01").collect()[0]
    assert r.date == "2001-01-01"
