"""The benchmark's workloads.

Each workload is one closed loop with one client: the next operation is
issued only after the previous one returned. A workload makes its inputs
from the seed (``prepare``, untimed), runs identical iterations
(``iteration``, timed), checks the program's outputs (``check``,
untimed) and, in a traced run, repeats an iteration with a span around
each layer call (``traced_iteration``, through ``Layers``).

An iteration returns the latency of each operation (scheduled job) it
issued: one day's log job, the corpus pass or one report query for
``nightly_batch``; one file-drop-to-commit trigger for
``incremental_ingest``. Work between operations (restoring archived
files, hashing the manifest) is not timed.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from contextlib import nullcontext

import pyarrow.parquet as pq

import gen
from spans import Tracer, tree_cpu_s

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"
K3_TABLE = "tdk_user_requests_table"
K4_TABLE = "tdk_total_requests_table"

#: Fewest operations a run times: a tail percentile needs ten beyond it.
MIN_OPS = 12


def dir_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``, hidden files included."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


def parquet_rows(path: str) -> int:
    """Rows in the parquet files directly under ``path``, read with
    pyarrow: Spark's reader skips a root path whose name starts with "_"
    (the quarantine) and would count nothing."""
    if not os.path.isdir(path):
        return 0
    return sum(
        pq.read_metadata(os.path.join(path, n)).num_rows
        for n in os.listdir(path)
        if n.endswith(".parquet")
    )


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Layers:
    """The traced view of one call into the program; does nothing when
    ``tr`` is None.

    ``span`` opens a span. ``materialise`` persists a frame and computes
    it with one count inside the current span, so the next stage reads
    it from the cache and each span's time is its own stage's.
    ``wrap`` replaces a function that a program module calls by name
    with one that runs it in a span and materialises the frame it
    returns; the program's own composition runs unchanged around it.
    Leaving the ``with`` block puts the functions back and unpersists
    every materialised frame."""

    def __init__(self, tr: Tracer | None):
        self.tr = tr
        self.held: list = []
        self._saved: list[tuple] = []

    def __enter__(self) -> Layers:
        return self

    def __exit__(self, *exc) -> None:
        for module, name, fn in reversed(self._saved):
            setattr(module, name, fn)
        for df in self.held:
            df.unpersist()

    def span(self, name: str):
        return nullcontext() if self.tr is None else self.tr.span(name)

    def materialise(self, df, rows=None) -> tuple:
        """(the persisted frame, rows of ``rows(frame)`` or of the
        frame); untraced, the frame as it is and 0."""
        if self.tr is None:
            return df, 0
        df = df.persist()
        self.held.append(df)
        return df, (df if rows is None else rows(df)).count()

    def wrap(self, module, fn_name: str, span_name: str, count=None,
             arg_span: str | None = None) -> None:
        """Run ``module.<fn_name>`` in span ``span_name``. ``count`` is
        (name, rows) to record a row count of the result; ``arg_span``
        first materialises the first argument in a span of its own."""
        if self.tr is None:
            return
        fn = getattr(module, fn_name)
        self._saved.append((module, fn_name, fn))
        name, rows = count or (None, None)

        def traced(first, *args, **kwargs):
            if arg_span is not None:
                with self.span(arg_span):
                    first, _ = self.materialise(first)
            with self.span(span_name) as s:
                out = fn(first, *args, **kwargs)
                if hasattr(out, "persist"):  # writes return None or a path
                    out, n = self.materialise(out, rows)
                    if name is not None:
                        s["counts"][name] = n
            return out

        setattr(module, fn_name, traced)


class OpClock:
    """Wall and CPU seconds of each operation, with its kind ("log" for
    a CLF log job or trigger, "corpus", "query"). CPU seconds are those
    of this process and its descendants (the JVM, Python workers)."""

    def __init__(self):
        self.wall: list[float] = []
        self.cpu: list[float] = []
        self.kinds: list[str] = []
        self._start = (0.0, 0.0)

    def start(self, kind: str) -> None:
        self.kinds.append(kind)
        self._start = (time.perf_counter(), tree_cpu_s(os.getpid()))

    def stop(self) -> None:
        wall, cpu = self._start
        self.wall.append(time.perf_counter() - wall)
        self.cpu.append(tree_cpu_s(os.getpid()) - cpu)

    def take(self) -> tuple[list[float], list[float], list[str]]:
        """The operations timed since the last take."""
        out = (self.wall, self.cpu, self.kinds)
        self.wall, self.cpu, self.kinds = [], [], []
        return out


class Workload:
    name = ""
    #: discarded iterations before timing starts (charged to setup_s)
    warmup = 1
    #: nominal seconds per iteration on the reference box; the number
    #: of timed iterations is round(--seconds / nominal), at least 2 and
    #: enough for MIN_OPS operations
    nominal_iter_s = 1.0
    ops_per_iter = 1

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.items = 0  # input records (lines, docs) one iteration reads
        self.failures: list[str] = []
        self.clock = OpClock()

    def iterations(self, seconds: float) -> int:
        return max(
            2,
            -(-MIN_OPS // self.ops_per_iter),
            round(seconds / self.nominal_iter_s),
        )

    def fail(self, what: str) -> None:
        self.failures.append(what)

    def warm(self, spark) -> None:
        self.iteration(spark)

    def split_for_trace(self) -> None:
        """Prepare a traced run: half the timed work untraced, half traced."""


# ---------------------------------------------------------------------------


#: The report queries of the nightly schedule, run in this order.
REPORT_QUERIES = (
    "tpch_q5_local_supplier_volume",
    "user_activity_gini",
)

#: Warehouse tables the corpus pass and the report queries read.
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents",
)


class NightlyBatch(Workload):
    """A night of scheduled jobs over a multi-day backfill. First the
    paper's log job for each day: ``pipeline.ingest`` (parse, staging,
    quarantine, archive), then ``daily_analytics`` and the K3 overwrite /
    K4 append into Derby. Then the jobs that never parse CLF: the corpus
    refresh ``pipeline_corpus.prepare_corpus`` and the report queries,
    each materialised with a noop write."""

    name = "nightly_batch"
    days = 3
    lines_per_day = 15_000
    sf = 0.01  # warehouse tables: 500 documents, 60k lineitem
    #: measured on a 4-core VM: after one warm-up iteration the first
    #: timed one still takes 24-28% more CPU than the second (JIT), after
    #: two 5-20%; a second one would not fit the run's time budget on a
    #: busy host (about 15 s more per run)
    warmup = 1
    nominal_iter_s = 10.0
    ops_per_iter = days + 1 + len(REPORT_QUERIES)

    def prepare(self, seconds: float) -> None:
        self.day_dirs, self.expect, clf_bytes = gen.write_clf_days(
            os.path.join(self.work, "logs"), self.seed, self.days,
            self.lines_per_day,
        )
        self.tables = os.path.join(self.work, "tables")
        gen.write_tables(self.tables, self.seed, self.sf, TABLES)
        docs = os.path.join(self.tables, "documents.parquet")
        n_docs = pq.read_metadata(docs).num_rows
        self.raw_bytes = clf_bytes + os.path.getsize(docs)
        self.items = self.days * self.lines_per_day + n_docs
        self.manifest = os.path.join(self.work, "manifest")
        self.manifest_hashes: list[str] = []
        self.staging = os.path.join(self.work, "staging")
        self.archive = os.path.join(self.work, "archive")
        self.url = f"jdbc:derby:{self.work}/derby/sinkdb;create=true"
        self.props = {"driver": DERBY_DRIVER}
        self.appends = 0  # K4 rows appended per day so far

    def _restore(self, day_dir: str) -> None:
        """Put the archived day file back for the next iteration."""
        src = os.path.join(self.archive, os.path.basename(day_dir))
        for n in os.listdir(src):
            shutil.move(os.path.join(src, n), os.path.join(day_dir, n))

    def iteration(self, spark) -> None:
        self._log_days(spark)
        self._offline(spark)

    def traced_iteration(self, spark, tr: Tracer) -> None:
        self._log_days(spark, tr)
        self._offline(spark, tr)

    def _log_days(self, spark, tr: Tracer | None = None) -> None:
        """One log job per day. Traced, the same calls run with the
        layer functions that ``pipeline`` calls wrapped in spans, and
        the analytics frames materialised before the sink."""
        from pyspark.sql import functions as F

        from tdk_apache_log_etl_spark import pipeline
        from tdk_apache_log_etl_spark.sinks.jdbc import write_jdbc

        for day_dir, exp in zip(self.day_dirs, self.expect):
            arch = os.path.join(self.archive, exp.date)
            self.clock.start("log")
            with Layers(tr) as lay:
                lay.wrap(pipeline, "read_apache_log", "apache_log.parse",
                         count=("corrupt_lines",
                                lambda df: df.filter(F.col("_corrupt").isNotNull())))
                lay.wrap(pipeline, "write_staging", "staging.write")
                lay.wrap(pipeline, "write_quarantine", "staging.quarantine")
                lay.wrap(pipeline, "read_staging", "staging.read_pruned")
                with lay.span("pipeline.ingest"):
                    pipeline.ingest(spark, day_dir, self.staging,
                                    archive_dir=arch, run_date=exp.date)
                with lay.span("pipeline.analytics"):
                    per_user, summary = (
                        lay.materialise(df)[0]
                        for df in pipeline.daily_analytics(
                            spark, self.staging, exp.date
                        )
                    )
                with lay.span("jdbc.sink"):
                    write_jdbc(per_user, self.url, K3_TABLE, mode="overwrite",
                               properties=self.props)
                    write_jdbc(summary, self.url, K4_TABLE, mode="append",
                               properties=self.props)
            self.clock.stop()
            self._restore(day_dir)
        self.appends += 1

    def layer_counts(self) -> dict[str, float]:
        files = size = 0
        for exp in self.expect:
            f, b = dir_bytes(os.path.join(self.staging, f"date={exp.date}"))
            files, size = files + f, size + b
        return {"staging.files": files, "staging.bytes": size}

    def write_amp(self) -> float:
        written = self.layer_counts()["staging.bytes"]
        written += dir_bytes(self.manifest)[1]
        for exp in self.expect:
            written += dir_bytes(
                os.path.join(self.staging, "_quarantine", f"date={exp.date}")
            )[1]
        return written / self.raw_bytes

    def check(self, spark) -> None:
        self._check_log_days(spark)
        self._check_offline(spark)

    def _check_log_days(self, spark) -> None:
        from pyspark.sql import functions as F

        from tdk_apache_log_etl_spark.sinks.staging import read_staging

        def jdbc(table):
            return (
                spark.read.format("jdbc").option("url", self.url)
                .option("dbtable", table).option("driver", DERBY_DRIVER)
                .load()
            )

        last = self.expect[-1]
        k3 = {int(r[0]): int(r[1]) for r in jdbc(K3_TABLE).collect()}
        if k3 != last.per_user:
            self.fail(f"K3 rows differ from {last.date}'s per-user counts")
        k4 = sorted(tuple(r) for r in jdbc(K4_TABLE).collect())
        want = sorted(
            (e.date, e.user_count, e.status_200)
            for e in self.expect
            for _ in range(self.appends)
        )
        if k4 != want:
            self.fail(f"K4 rows differ: got {len(k4)}, want {len(want)}")
        staged = {
            r["date"]: r["n"]
            for r in read_staging(spark, self.staging)
            .groupBy("date").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        for e in self.expect:
            # every line of the day, malformed ones as all-NULL rows
            if staged.get(e.date) != e.lines:
                self.fail(f"staging {e.date}: {staged.get(e.date)} rows")
            got = parquet_rows(
                os.path.join(self.staging, "_quarantine", f"date={e.date}")
            )
            if got != e.corrupt:
                self.fail(f"quarantine {e.date}: {got} rows, want {e.corrupt}")

    def _offline(self, spark, tr: Tracer | None = None) -> None:
        """The corpus refresh, then each report query. Traced, the stage
        functions that ``prepare_corpus`` calls are wrapped in spans; the
        exact dedup is materialised as the shingle stage's input. What
        is left in the ``pipeline_corpus`` span is the packing and the
        manifest write."""
        from pyspark.sql import functions as F

        from tdk_apache_log_etl_spark import pipeline_corpus
        from tdk_apache_log_etl_spark.operators import QUERIES

        self.clock.start("corpus")
        with Layers(tr) as lay:
            lay.wrap(pipeline_corpus, "scrub_columns", "hygiene.filter",
                     count=("rows_out", lambda df: df.filter(~F.col("dropped"))))
            lay.wrap(pipeline_corpus, "shingle_frame", "dedup.shingle",
                     arg_span="dedup.exact")
            lay.wrap(pipeline_corpus, "exact_jaccard_pairs", "dedup.pairs",
                     count=("pairs", None))
            lay.wrap(pipeline_corpus, "connected_components", "dedup.cc")
            with lay.span("pipeline_corpus"):
                pipeline_corpus.prepare_corpus(
                    spark, self.tables, self.manifest
                )
        self.clock.stop()
        for name in REPORT_QUERIES:
            self.clock.start("query")
            with Layers(tr).span(f"query.{name}"):
                _noop(QUERIES[name](spark, self.tables))
            self.clock.stop()
        self._hash_manifest(spark)

    def _hash_manifest(self, spark) -> None:
        """Untimed: the manifest must have unique doc ids and contiguous
        pack offsets; its hash is kept to compare across iterations."""
        rows = sorted(
            tuple(r)
            for r in spark.read.parquet(self.manifest)
            .select("doc_id", "source", "n_tokens", "pack_id",
                    "offset_in_pack").collect()
        )
        ids = [r[0] for r in rows]
        if len(set(ids)) != len(ids):
            self.fail("manifest doc_id not unique")
        from tdk_apache_log_etl_spark.operators.packing import CTX

        pos = 0
        for r in sorted(rows, key=lambda r: r[3] * CTX + r[4]):
            if r[3] * CTX + r[4] != pos:
                self.fail(f"pack offsets not contiguous at doc {r[0]}")
                break
            pos += r[2]
        self.manifest_hashes.append(
            hashlib.sha256(repr(rows).encode()).hexdigest()
        )

    def _check_offline(self, spark) -> None:
        from tdk_apache_log_etl_spark.operators import ORACLES, QUERIES

        from tests import parity

        if len(set(self.manifest_hashes)) != 1:
            self.fail(
                f"manifest differs across iterations: "
                f"{len(set(self.manifest_hashes))} distinct hashes"
            )
        for name in REPORT_QUERIES:
            ok, detail = parity.compare(
                spark, name, QUERIES[name], ORACLES[name], self.tables
            )
            if not ok:
                self.fail(f"{name}: {detail}")


# ---------------------------------------------------------------------------


class IncrementalIngest(Workload):
    """The same kind of lines arriving as many small files: one
    ``availableNow`` log_stream trigger per arrival; the next file is
    dropped only after the trigger has committed."""

    name = "incremental_ingest"
    lines_per_file = 2_000
    warmup = 1
    #: arrivals per timed second; the sequence is round(seconds * rate)
    arrivals_per_s = 1.5
    warmup_files = 16

    def iterations(self, seconds: float) -> int:
        return 1  # one arrival sequence

    def prepare(self, seconds: float) -> None:
        n = max(MIN_OPS, round(seconds * self.arrivals_per_s))
        files = gen.render_arrivals(
            self.seed, self.warmup_files + n, self.lines_per_file
        )
        self.warm_files, self.files = files[: self.warmup_files], files[
            self.warmup_files:]
        self.items = n * self.lines_per_file
        self.queue: list[list] = []
        self.streams: list[dict] = []  # one per sequence run, in order

    def split_for_trace(self) -> None:
        """A traced run times half the arrivals untraced, half traced."""
        half = len(self.files) // 2
        self.queue = [self.files[:half], self.files[half:]]
        self.items //= 2

    def _sequence(self, spark, batches, tr: Tracer | None = None) -> None:
        from tdk_apache_log_etl_spark.streaming.log_stream import (
            read_log_stream,
            write_staging_stream,
        )

        root = os.path.join(self.work, f"stream{len(self.streams)}")
        src, arch = os.path.join(root, "in"), os.path.join(root, "archive")
        os.makedirs(src)
        staging = os.path.join(root, "staging")
        checkpoint = os.path.join(root, "checkpoint")
        self.streams.append(
            {"staging": staging, "checkpoint": checkpoint, "batches": batches}
        )
        for k, b in enumerate(batches):
            tmp = os.path.join(root, f".{k}.tmp")
            with open(tmp, "w") as f:
                f.write(b.text)
            self.clock.start("log")
            os.rename(tmp, os.path.join(src, f"arrival-{k:05d}.log"))
            if tr is None:
                q = write_staging_stream(
                    read_log_stream(spark, src, archive_dir=arch),
                    staging, checkpoint,
                ).start()
                q.awaitTermination()
            else:
                with tr.span("log_stream.trigger") as s:
                    q = write_staging_stream(
                        read_log_stream(spark, src, archive_dir=arch),
                        staging, checkpoint,
                    ).start()
                    tr.stream_runs[str(q.runId)] = s["id"]
                    q.awaitTermination()
            self.clock.stop()
            if q.exception() is not None:
                self.fail(f"trigger {k}: {q.exception()}")

    def warm(self, spark) -> None:
        self._sequence(spark, self.warm_files)

    def _next(self) -> list:
        return self.queue.pop(0) if self.queue else self.files

    def iteration(self, spark) -> None:
        self._sequence(spark, self._next())

    def traced_iteration(self, spark, tr: Tracer) -> None:
        self._sequence(spark, self._next(), tr)

    def layer_counts(self) -> dict[str, float]:
        files, size = dir_bytes(self.streams[-1]["staging"])
        return {"staging.files": files, "staging.bytes": size}

    def write_amp(self) -> float:
        last = self.streams[-1]
        written = dir_bytes(last["staging"])[1] + dir_bytes(last["checkpoint"])[1]
        return written / sum(len(b.text) for b in last["batches"])

    def check(self, spark) -> None:
        for stream in self.streams:
            self._check_stream(spark, stream["staging"], stream["batches"])

    def _check_stream(self, spark, staging: str, delivered: list) -> None:
        from pyspark.sql import functions as F

        out = spark.read.parquet(staging)
        good = out.filter(F.col("_corrupt").isNull())
        row = out.agg(
            F.count(F.col("_corrupt")).alias("bad"),
            F.count(F.when(F.col("_corrupt").isNull(), 1)).alias("good"),
            F.countDistinct(
                F.when(F.col("_corrupt").isNull(), F.col("request_resource"))
            ).alias("distinct_good"),
        ).collect()[0]
        want_good = sum(b.good for b in delivered)
        want_bad = sum(b.corrupt for b in delivered)
        if row["good"] != want_good or row["distinct_good"] != want_good:
            self.fail(
                f"staging rows {row['good']} ({row['distinct_good']} "
                f"distinct), delivered {want_good}"
            )
        if row["bad"] != want_bad:
            self.fail(f"quarantined {row['bad']}, injected {want_bad}")
        want_dates: dict[str, int] = {}
        for b in delivered:
            for d, c in b.utc_dates.items():
                want_dates[d] = want_dates.get(d, 0) + c
        got = {
            str(r["date"]): r["n"]
            for r in good.groupBy("date")
            .agg(F.count(F.lit(1)).alias("n")).collect()
        }
        if got != want_dates:
            self.fail(f"per-date staging counts differ: {got} vs {want_dates}")


WORKLOADS = {w.name: w for w in (NightlyBatch, IncrementalIngest)}
