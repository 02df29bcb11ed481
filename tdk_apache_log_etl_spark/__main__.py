"""Command-line entry points — the two scheduled jobs of the reference
(`python -m tdk_apache_log_etl_spark ingest|analytics`, replacing the
CloudWatch-triggered Lambda and Glue job, sree-etl-tdk-lambda.py:145 /
sree-etl-tdk-glue-job.py:13) plus the extension surfaces (corpus
preparation, ad-hoc registered queries, interactive SQL).

Every subcommand builds one SparkSession via session.get_spark (AQE on,
UTC, tuned shuffle partitions) and writes results as parquet — a JDBC
URL switches the analytics sinks to a database, matching the reference's
Oracle loads (K3/K4).
"""

from __future__ import annotations

import argparse
import sys


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="tdk_apache_log_etl_spark",
        description="PySpark-native Apache-log ETL + analytics engine",
    )
    sub = p.add_subparsers(dest="cmd", required=True)

    pi = sub.add_parser("ingest", help="parse *.log files into staging")
    pi.add_argument("log_dir")
    pi.add_argument("staging_path")
    pi.add_argument("--archive-dir", default=None)
    pi.add_argument("--run-date", default=None, help="YYYY-MM-DD")

    pa = sub.add_parser(
        "analytics", help="daily per-user counts + summary row"
    )
    pa.add_argument("staging_path")
    pa.add_argument("run_date", help="YYYY-MM-DD partition to analyze")
    pa.add_argument(
        "--out", default=None,
        help="output directory (required unless --jdbc-url is given)",
    )
    pa.add_argument(
        "--jdbc-url", default=None,
        help="write to JDBC instead of parquet (reference K3/K4 semantics)",
    )

    pc = sub.add_parser(
        "corpus", help="hygiene -> dedup -> pack corpus preparation"
    )
    pc.add_argument("sf_dir", help="fixture dir with documents.parquet")
    pc.add_argument("--out", default=None)

    pq = sub.add_parser("query", help="run a registered query by name")
    pq.add_argument("name")
    pq.add_argument("sf_dir")
    pq.add_argument("--out", default=None, help="parquet output (else show)")

    ps = sub.add_parser("sql", help="run one SQL string over the fixtures")
    ps.add_argument("sf_dir")
    ps.add_argument("statement")

    pe = sub.add_parser(
        "explain", help="print a registered query's physical plan"
    )
    pe.add_argument("name")
    pe.add_argument("sf_dir")

    pst = sub.add_parser(
        "ingest-stream",
        help="incremental ingest via Structured Streaming (availableNow)",
    )
    pst.add_argument("log_dir")
    pst.add_argument("staging_path")
    pst.add_argument("checkpoint_path")
    pst.add_argument(
        "--archive-dir", default=None,
        help="cleanSource=archive target for processed files",
    )

    psk = sub.add_parser(
        "sketch-rollup",
        help="incrementally maintain the distinct-user HLL sketch table "
        "from a log stream (replay-safe by union idempotence)",
    )
    psk.add_argument("log_dir")
    psk.add_argument("table_path", help="sketch-table parquet path")
    psk.add_argument("checkpoint_path")
    return p


def main(argv: list[str] | None = None) -> int:
    parser = _build_parser()
    args = parser.parse_args(argv)
    if args.cmd == "analytics" and not args.jdbc_url and not args.out:
        # Exactly one sink: parquet (--out) or database (--jdbc-url).
        # Requiring --out unconditionally invited the belief that parquet
        # was also written on JDBC runs (it never was).
        parser.error("analytics requires --out unless --jdbc-url is given")
    from pyspark.sql import SparkSession

    from .session import get_spark

    # Only stop a session this process created: getOrCreate returns any
    # live session (e.g. a test harness's), and stopping someone else's
    # JVM context is not this CLI's call.
    owns_session = SparkSession.getActiveSession() is None
    spark = get_spark(f"tdk-{args.cmd}")
    try:
        if args.cmd == "ingest":
            from .pipeline import ingest

            _, metrics = ingest(
                spark,
                args.log_dir,
                args.staging_path,
                archive_dir=args.archive_dir,
                run_date=args.run_date,
            )
            print(f"corrupt_lines={metrics['n_corrupt']}")
        elif args.cmd == "analytics":
            from .pipeline import daily_analytics
            from .sinks.jdbc import write_jdbc

            per_user, summary = daily_analytics(
                spark, args.staging_path, args.run_date
            )
            if args.jdbc_url:
                write_jdbc(
                    per_user, args.jdbc_url, "tdk_user_requests_table",
                    mode="overwrite",
                )
                write_jdbc(
                    summary, args.jdbc_url, "tdk_total_requests_table",
                    mode="append",
                )
            else:
                per_user.write.mode("overwrite").parquet(
                    f"{args.out}/user_requests"
                )
                summary.write.mode("append").parquet(
                    f"{args.out}/total_requests"
                )
            print("analytics_ok=1")
        elif args.cmd == "corpus":
            from .pipeline_corpus import prepare_corpus

            out = prepare_corpus(spark, args.sf_dir, out_dir=args.out)
            print(f"corpus_rows={out.count()}")
        elif args.cmd == "query":
            from .operators import QUERIES

            if args.name not in QUERIES:
                print(f"unknown query {args.name!r}", file=sys.stderr)
                return 2
            df = QUERIES[args.name](spark, args.sf_dir)
            if args.out:
                df.write.mode("overwrite").parquet(args.out)
                print(f"rows={spark.read.parquet(args.out).count()}")
            else:
                df.show(50, truncate=False)
        elif args.cmd == "sql":
            from .sources.tables import TABLES, load_table

            for t in TABLES:
                load_table(spark, args.sf_dir, t).createOrReplaceTempView(t)
            spark.sql(args.statement).show(50, truncate=False)
        elif args.cmd == "explain":
            from .operators import QUERIES

            if args.name not in QUERIES:
                print(f"unknown query {args.name!r}", file=sys.stderr)
                return 2
            QUERIES[args.name](spark, args.sf_dir).explain("formatted")
        elif args.cmd == "ingest-stream":
            from .streaming.log_stream import (
                read_log_stream,
                write_staging_stream,
            )

            parsed = read_log_stream(
                spark, args.log_dir, archive_dir=args.archive_dir
            ).drop("_corrupt")
            q = write_staging_stream(
                parsed, args.staging_path, args.checkpoint_path
            ).start()
            q.awaitTermination()
            print("ingest_stream_ok=1")
        elif args.cmd == "sketch-rollup":
            from .streaming.log_stream import read_log_stream
            from .streaming.sketch_rollup import (
                read_sketch_estimates,
                write_sketch_rollup_stream,
            )

            parsed = read_log_stream(spark, args.log_dir)
            q = write_sketch_rollup_stream(
                parsed, args.table_path, args.checkpoint_path
            ).start()
            q.awaitTermination()
            n = read_sketch_estimates(
                spark, args.table_path, ["status_code", "date"]
            ).count()
            print(f"sketch_cells={n}")
        return 0
    finally:
        if owns_session:
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
