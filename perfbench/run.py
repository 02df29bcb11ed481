"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. It makes the workload's inputs from the
seed, starts one Spark session on ``local[<cores>]`` through the
program's ``session.get_spark``, discards the workload's warm-up
iterations, times the measured iterations, checks the outputs, and
prints a table of the metrics followed, as the last line, by one JSON
object ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics (BENCHMARK.json
``end_to_end``). ``--trace 1`` turns on Spark's event log, times the
same number of iterations untraced and then traced with a span around
each layer call, and reports the per-layer metrics plus the tracing
overhead; its spans and counters also go to a new file under
``.perfbench/results/`` that no later run overwrites.

Everything the run writes stays under ``.perfbench/`` in the checkout;
its working directory `.perfbench/work/` is removed at exit. Layer-to-metric map: LAYERS.md.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import shutil
import statistics
import sys
import time

sys.dont_write_bytecode = True  # write nothing outside the checkout

import spans  # noqa: E402
import workloads  # noqa: E402

#: How many operations must lie beyond a reported tail percentile.
TAIL_BEYOND = 10


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that still has
    TAIL_BEYOND samples above it."""
    xs = sorted(values)
    k = len(xs) - TAIL_BEYOND - 1
    if k < 0:
        raise ValueError(f"{len(xs)} operations are too few for a tail")
    return xs[k], 100.0 * (k + 1) / len(xs)


def _env(work: str, trace: bool) -> dict[str, str]:
    """Spark settings that keep every file inside ``work``; the event
    log only in a traced run. The session itself comes from the
    program's get_spark, unchanged."""
    cores = len(os.sched_getaffinity(0))
    for d in ("local", "tmp", "warehouse", "events"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    conf = [
        f"spark.local.dir={work}/local",
        f"spark.sql.warehouse.dir={work}/warehouse",
        f"spark.driver.extraJavaOptions=-Dderby.system.home={work}/derby "
        f"-Dderby.stream.error.file={work}/tmp/derby.log",
    ]
    if trace:
        conf += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{work}/events",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
        ]
    args = " ".join(f"--conf '{c}'" for c in conf)
    return {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_LOCAL_DIRS": f"{work}/local",
        "SPARK_DRIVER_MEMORY": "2g",
        "TMPDIR": f"{work}/tmp",
        # every JVM, the launcher included: no /tmp/hsperfdata files
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp",
        "PYTHONDONTWRITEBYTECODE": "1",
        "PYSPARK_SUBMIT_ARGS": f"{args} pyspark-shell",
    }


def _cpu_jiffies() -> list[int]:
    """Machine-wide CPU counters (user ... steal) from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM and its Python workers to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    kids = spans.descendants(os.getpid())
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while kids and time.monotonic() < deadline:
        kids = {p for p in kids if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for p in kids:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


def measure(wl, spark, n_iter: int, run_id: str | None = None) -> dict:
    """Time ``n_iter`` iterations, traced when ``run_id`` is given:
    per-operation wall latencies and CPU seconds with their kinds,
    per-iteration wall and CPU seconds and mean CPU seconds of a log
    operation. Untimed work between operations is in neither."""
    tracer = spans.Tracer(run_id, spark) if run_id else None
    walls, cpus, log_cpus, ops, op_cpus, kinds = [], [], [], [], [], []
    for _ in range(n_iter):
        if tracer is None:
            wl.iteration(spark)
        else:
            wl.traced_iteration(spark, tracer)
        lat, cpu, kind = wl.clock.take()
        walls.append(sum(lat))
        cpus.append(sum(cpu))
        log_cpus.append(statistics.mean(
            c for c, k in zip(cpu, kind) if k == "log"
        ))
        ops.extend(lat)
        op_cpus.extend(cpu)
        kinds.extend(kind)
    return {"walls": walls, "cpus": cpus, "log_cpus": log_cpus, "ops": ops,
            "op_cpus": op_cpus, "kinds": kinds, "tracer": tracer}


def end_to_end(wl, setup_s: float, timed: dict) -> dict:
    """The gated metrics; wall-clock latency and throughput are printed
    as well, ungated, because hypervisor CPU steal on a shared host moves
    them by more than any allowed bound between runs (LAYERS.md)."""
    walls, ops = timed["walls"], timed["ops"]
    p_tail, pct = tail(ops)
    print(
        f"# {len(walls)} timed iterations, {len(ops)} operations; "
        f"wall_s {statistics.median(walls):.6g} s, "
        f"batch_p50_s {statistics.median(ops):.6g} s, "
        f"{wl.items * len(walls) / sum(walls):.6g} input records/s"
        + (f", operation latency p{pct:.1f} of n={len(ops)} {p_tail:.6g} s"
           if pct >= 50 else "")
    )
    by_kind: dict[str, float] = {}
    for kind, cpu in zip(timed["kinds"], timed["op_cpus"]):
        by_kind[kind] = by_kind.get(kind, 0.0) + cpu / len(walls)
    print("# CPU seconds per iteration by operation kind: " + ", ".join(
        f"{k} {v:.6g}" for k, v in by_kind.items()))
    return {
        "setup_s": setup_s,
        "cpu_s": statistics.median(timed["cpus"]),
        "log_op_cpu_s": statistics.median(timed["log_cpus"]),
        "write_amp": wl.write_amp(),
    }


def per_layer(wl, plain: dict, traced: dict, work: str) -> tuple[dict, dict]:
    """Per-layer metrics from the traced iterations' spans and the Spark
    event log; also the raw record written to the results file."""
    tr = traced["tracer"]
    groups = spans.spark_counts_by_group(
        spans.read_event_log(os.path.join(work, "events"))
    )
    # stream triggers run their jobs under the query's run id
    for run_id, sid in tr.stream_runs.items():
        if run_id in groups:
            groups[tr.group(sid)] = groups.pop(run_id)
    self_s = tr.self_seconds()
    n = len(traced["walls"])
    metrics: dict[str, float] = {}

    def add(key: str, value: float) -> None:
        metrics[key] = metrics.get(key, 0.0) + value / n

    jobs_of = {
        s["id"]: groups.get(tr.group(s["id"]), {}) for s in tr.spans
    }
    for s in tr.spans:
        name = s["name"]
        for k, v in s["counts"].items():
            add(f"{name.split('.')[0]}.{k}", v)
        if name.startswith("query."):
            add(f"{name}.wall_s", s["end"] - s["start"])
            add(f"{name}.jobs", jobs_of[s["id"]].get("jobs", 0))
            add(f"{name}.tasks", jobs_of[s["id"]].get("tasks", 0))
        else:
            add(f"{name}_s", self_s[s["id"]])
        if name == "dedup.cc":
            add("dedup.cc_jobs", jobs_of[s["id"]].get("jobs", 0))
    triggers = [s for s in tr.spans if s["name"] == "log_stream.trigger"]
    if triggers:
        metrics["log_stream.trigger_s"] = statistics.median(
            self_s[s["id"]] for s in triggers
        )
        metrics["log_stream.jobs"] = statistics.median(
            jobs_of[s["id"]].get("jobs", 0) for s in triggers
        )
        ops = plain["ops"] + traced["ops"]
        metrics["log_stream.trigger_tail_s"], pct = tail(ops)
        print(f"# log_stream.trigger_tail_s is p{pct:.1f} of n={len(ops)}")
    # what prepare_corpus does outside its wrapped stage functions
    metrics["packing.pack_s"] = metrics.pop("pipeline_corpus_s", 0.0)
    mine = [g for key, g in groups.items() if key.startswith(tr.run_id + ":")]
    for k in ("jobs", "stages", "tasks", "executor_run_s", "shuffle_bytes",
              "spill_bytes"):
        metrics[f"spark.{k}"] = sum(g[k] for g in mine) / n
    for k, v in wl.layer_counts().items():
        metrics[k] = v
    metrics["trace.overhead_s"] = statistics.median(
        traced["walls"]
    ) - statistics.median(plain["walls"])
    record = {
        "spans": tr.spans,
        "spark_by_group": groups,
        "walls_untraced": plain["walls"],
        "walls_traced": traced["walls"],
    }
    return metrics, record


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    sys.path.insert(1, root)  # after this directory
    try:
        import tdk_apache_log_etl_spark as program
    except ImportError as exc:
        print(f"program not found in {root}: {exc}", file=sys.stderr)
        return 2
    if not os.path.abspath(program.__file__).startswith(root + os.sep):
        print(f"program imported from outside {root}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    base = os.path.join(root, ".perfbench")
    work = os.path.join(
        base, "work", f"{args.workload}-s{args.seed}-p{os.getpid()}"
    )
    os.makedirs(work)
    os.environ.update(_env(work, bool(args.trace)))
    wl = workloads.WORKLOADS[args.workload](work, args.seed)
    spark = None
    try:
        t_gen = time.perf_counter()
        wl.prepare(args.seconds)
        n_iter = wl.iterations(args.seconds)
        phases = {"generate": time.perf_counter() - t_gen}

        t0 = time.perf_counter()
        from tdk_apache_log_etl_spark.session import get_spark

        spark = get_spark(f"perfbench-{args.workload}")
        session_s = time.perf_counter() - t0
        phases["session"] = session_s
        for i in range(wl.warmup):
            t1 = time.perf_counter()
            wl.warm(spark)
            phases[f"warm-up {i + 1}"] = time.perf_counter() - t1
        setup_s = time.perf_counter() - t0
        wl.clock.take()  # discard the warm-up operations

        cpu0 = _cpu_jiffies()
        if args.trace:
            wl.split_for_trace()
            half = max(1, n_iter // 2)
            plain = measure(wl, spark, half)
            traced = measure(wl, spark, half, os.path.basename(work))
            runs = [plain, traced]
        else:
            runs = [measure(wl, spark, n_iter)]
        attempted = sum(len(r["ops"]) for r in runs)
        phases["timed"] = sum(sum(r["walls"]) for r in runs)
        phases["timed cpu"] = sum(sum(r["cpus"]) for r in runs)
        cpu1 = _cpu_jiffies()
        busy = sum(cpu1) - sum(cpu0) - (cpu1[3] - cpu0[3])
        steal_share = (cpu1[7] - cpu0[7]) / max(1, busy)
        t1 = time.perf_counter()
        wl.check(spark)
        phases["check"] = time.perf_counter() - t1

        rss_mb = spans.tree_peak_rss_mb(os.getpid())
        _stop(spark)
        spark = None

        if args.trace:
            values, record = per_layer(wl, plain, traced, work)
            values["session.start_s"] = session_s
            values["process.peak_rss_mb"] = rss_mb
        else:
            values = end_to_end(wl, setup_s, runs[0])
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    print("# phases: " + ", ".join(f"{k} {v:.1f}s" for k, v in phases.items())
          + f"; CPU steal {100 * steal_share:.0f}% of busy time while timed")
    failed = attempted if wl.failures else 0
    for msg in wl.failures:
        print(f"# CHECK FAILED: {msg}")
    metrics = {}
    for m in wanted:
        value = values.get(m["name"], 0.0)
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
        print(f"{m['name']:<44} {value:>16.6g} {m['unit']}")
    print(f"# error_rate {failed / attempted:.6g} ({failed} of {attempted} operations)")
    if args.trace:
        out_dir = os.path.join(base, "results")
        os.makedirs(out_dir, exist_ok=True)
        stamp = dt.datetime.now(dt.timezone.utc).strftime("%Y%m%dT%H%M%S%fZ")
        name = (
            f"trace-{args.workload}-c{os.environ['SPARK_GRAFT_CPUS']}"
            f"-s{args.seed}-{stamp}-p{os.getpid()}.json"
        )
        with open(os.path.join(out_dir, name), "x") as f:  # never overwrite
            json.dump({"workload": args.workload, "seed": args.seed,
                       "metrics": values, **record}, f)
        print(f"# spans and counters: .perfbench/results/{name}")
    print(json.dumps({
        "correct": not wl.failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
