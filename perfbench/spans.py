"""Spans, Spark event-log counters and process memory for the benchmark.

A span is (name, start, end, parent, run id), kept in memory and written
once when the run ends. Spans are opened from the benchmark's own code,
around calls into the program's public functions; a span's self time is
its duration minus the time its child spans cover.

In a traced run each span also tags the Spark jobs it starts with a job
group, so the jobs, stages, tasks, executor run time, shuffle and spill
bytes that Spark records in its own event log can be charged to the
layer that caused them.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder. With ``spark`` given, each span sets a
    job group ``<run_id>:<span id>`` for the jobs started inside it."""

    def __init__(self, run_id: str, spark=None):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = spark.sparkContext if spark is not None else None
        #: streaming query run id -> span id (stream jobs carry the
        #: query's run id as their job group, not ours)
        self.stream_runs: dict[str, int] = {}

    def group(self, span_id: int) -> str:
        return f"{self.run_id}:{span_id}"

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            "counts": {},
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        if self._sc is not None:
            self._sc.setJobGroup(self.group(rec["id"]), name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._sc is not None:
                if self._stack:
                    self._sc.setJobGroup(self.group(self._stack[-1]), "")
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)

    def self_seconds(self) -> dict[int, float]:
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {
            s["id"]: s["end"] - s["start"] - child[s["id"]] for s in self.spans
        }


def read_event_log(log_dir: str) -> list[dict]:
    """Parse the (uncompressed, non-rolling) event log of the one
    application that wrote into ``log_dir``."""
    files = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, got {files}")
    with open(os.path.join(log_dir, files[0])) as f:
        return [json.loads(line) for line in f if line.strip()]


_ACC = {
    "internal.metrics.executorRunTime": "executor_run_ms",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
}


def spark_counts_by_group(events: list[dict]) -> dict[str, dict[str, float]]:
    """Per job group: jobs, completed stages, tasks, executor run
    seconds, shuffle bytes written and bytes spilled to disk."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(
            ("jobs", "stages", "tasks", "executor_run_s", "shuffle_bytes",
             "spill_bytes"), 0.0
        )
    )
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            out[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            group = stage_group.get(info["Stage ID"], "")
            c = out[group]
            c["stages"] += 1
            c["tasks"] += info.get("Number of Tasks", 0)
            for acc in info.get("Accumulables", []):
                key = _ACC.get(acc.get("Name"))
                if key == "executor_run_ms":
                    c["executor_run_s"] += float(acc["Value"]) / 1000.0
                elif key is not None:
                    c[key] += float(acc["Value"])
    return dict(out)


def descendants(pid: int) -> set[int]:
    """Live descendant process ids of ``pid``."""
    children: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children[ppid].append(int(entry))
    out, todo = set(), [pid]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.add(c)
            todo.append(c)
    return out


def tree_peak_rss_mb(pid: int) -> float:
    """Sum of peak resident set sizes (VmHWM) of ``pid`` and every live
    descendant: the Python driver, the JVM and Python workers."""
    total_kb = 0
    for p in {pid, *descendants(pid)}:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def tree_cpu_s(pid: int) -> float:
    """CPU seconds (user + system, reaped children included) of ``pid``
    and every live descendant. Time the hypervisor steals from the
    machine is not in it."""
    ticks = 0
    for p in {pid, *descendants(pid)}:
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")

