"""JSONL/CSV source round-trips with planted corruption: clean rows
parse to the declared schema, bad lines quarantine instead of failing
the read, and the clean/corrupt split partitions the input exactly."""

from __future__ import annotations

from tdk_apache_log_etl_spark.sources.textual import (
    DOCUMENTS_DDL,
    quarantine_split,
    read_csv,
    read_jsonl,
)


def test_jsonl_roundtrip_with_planted_corruption(spark, tmp_path):
    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "hello world", "lang": "en", '
        '"source": "web", "n_chars": 11}\n'
        '{"doc_id": 2, "text": "bonjour", "lang": "fr", '
        '"source": "web", "n_chars": 7}\n'
        "{not json at all\n"
        '{"doc_id": "NOT_A_NUMBER", "text": "x", "lang": "en", '
        '"source": "web", "n_chars": 1}\n'
    )
    df = read_jsonl(spark, str(p), DOCUMENTS_DDL)
    clean, corrupt = quarantine_split(df)
    got = {r.doc_id: r for r in clean.collect()}
    assert set(got) == {1, 2}
    assert got[1].text == "hello world"
    assert got[2].lang == "fr"
    bad = [r._corrupt for r in corrupt.collect()]
    assert len(bad) == 2
    assert any("not json" in b for b in bad)
    assert any("NOT_A_NUMBER" in b for b in bad)


def test_jsonl_schema_is_declared_not_inferred(spark, tmp_path):
    p = tmp_path / "docs.jsonl"
    # doc_id arrives as a JSON string of digits → coerced per the DDL,
    # not inferred as string
    p.write_text('{"doc_id": 3, "text": "t", "lang": "en", "source": "s", "n_chars": 1}\n')
    df = read_jsonl(spark, str(p), DOCUMENTS_DDL, keep_corrupt=False)
    assert dict(df.dtypes)["doc_id"] == "bigint"
    assert df.columns == ["doc_id", "text", "lang", "source", "n_chars"]


def test_csv_roundtrip_with_planted_corruption(spark, tmp_path):
    p = tmp_path / "events.csv"
    p.write_text(
        "event_id,user_id,value\n"
        "1,100,2.5\n"
        "2,101,3.5\n"
        "3,oops,not_a_double\n"
    )
    df = read_csv(spark, str(p), "event_id long, user_id long, value double")
    clean, corrupt = quarantine_split(df)
    ids = sorted(r.event_id for r in clean.collect())
    assert ids == [1, 2]
    bad = corrupt.collect()
    assert len(bad) == 1
    # PERMISSIVE keeps the parseable fields of the bad row...
    assert bad[0].event_id == 3
    # ...and the raw line for replay
    assert "not_a_double" in bad[0]._corrupt


def test_orc_roundtrip_with_partition_pruning(spark, tmp_path):
    # format breadth beyond parquet: the same partitioned-staging pattern
    # works over Spark's built-in ORC source, pruning included
    from pyspark.sql import functions as F

    df = spark.range(100).select(
        F.col("id"),
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("part"),
    )
    path = str(tmp_path / "orc_staging")
    df.write.mode("overwrite").partitionBy("part").orc(path)
    back = spark.read.orc(path).filter(F.col("part") == "a")
    assert back.count() == 50
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
