"""Streaming → JDBC with exactly-once semantics: the real end-to-end
analog of the reference's Glue-job → Oracle loads (sree-etl-tdk-glue-job
.py:72-94), driven as a stream.

Spark's built-in JDBC sink has no streaming mode; ``foreachBatch`` is the
documented bridge. At-least-once delivery (a crashed micro-batch replays
after restart) would double-count an append-only result table, so each
batch writes IDEMPOTENTLY: rows are stamped with the batch id, and the
batch writer deletes that batch id's rows before inserting — a replay
overwrites itself instead of accumulating. This is the standard
"transactional upsert by epoch" pattern; with a target database that
supports MERGE you'd use one statement, but delete+insert is portable
down to Derby/sqlite and is idempotent regardless of how many times the
batch replays.

The per-batch DELETE runs on the driver over a plain JDBC connection
(one statement per micro-batch — negligible); the INSERT is Spark's
parallel JDBC writer (sinks/jdbc.py: numPartitions × batchsize). Tested
end-to-end against embedded Derby in tests/test_streaming_jdbc.py,
including a simulated replay.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from ..sinks.jdbc import write_jdbc
from .state_swap import foreach_batch_stream

#: Derby's SQLState for "table does not exist" — the first batch races
#: table auto-creation, so a missing table on DELETE is expected once.
_MISSING_TABLE_STATES = ("42X05", "42Y55")


def _delete_batch_rows(
    spark: SparkSession,
    url: str,
    table: str,
    batch_id: int,
    properties: dict[str, str] | None,
) -> None:
    jvm = spark._jvm
    props = properties or {}
    if "driver" in props:
        jvm.java.lang.Class.forName(props["driver"])
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        st = conn.createStatement()
        try:
            # Spark's JDBC table auto-create quotes column names, making
            # them case-sensitive in Derby/Postgres-family targets — the
            # DELETE must quote to match ("batch_id", not BATCH_ID).
            st.executeUpdate(
                f'DELETE FROM {table} WHERE "batch_id" = {int(batch_id)}'
            )
        finally:
            st.close()
    except Exception as e:  # noqa: BLE001 - py4j surfaces SQLException here
        if not any(state in str(e) for state in _MISSING_TABLE_STATES):
            raise
    finally:
        conn.close()


def upsert_user_counts_batch(
    batch_df: DataFrame,
    batch_id: int,
    url: str,
    table: str,
    properties: dict[str, str] | None = None,
) -> None:
    """One micro-batch → (batch_id, user_id, requests_count) rows,
    delete-then-insert keyed by batch_id. Calling this twice with the
    same (batch, id) leaves the table unchanged — the idempotence the
    streaming checkpoint's replay contract requires."""
    agg = (
        batch_df.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("requests_count"))
        .withColumn("batch_id", F.lit(int(batch_id)))
    )
    _delete_batch_rows(batch_df.sparkSession, url, table, batch_id, properties)
    write_jdbc(
        agg, url, table, mode="append", properties=properties, num_partitions=2
    )


def write_jdbc_summary_stream(
    parsed: DataFrame,
    url: str,
    table: str,
    checkpoint_path: str,
    properties: dict[str, str] | None = None,
) -> DataStreamWriter:
    """The streaming K3: per-user request counts continuously upserted
    into a JDBC table, exactly-once under replay. Per-user TOTALS are
    ``SUM(requests_count) GROUP BY user_id`` over the batch-stamped rows
    — kept additive so the database write stays append-shaped (no
    read-modify-write races between batches)."""
    return foreach_batch_stream(
        parsed,
        lambda batch_df, batch_id: upsert_user_counts_batch(
            batch_df, batch_id, url, table, properties
        ),
        checkpoint_path,
    )
