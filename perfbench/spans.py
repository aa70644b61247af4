"""Spans recorded around the benchmark's calls into each layer, and Spark's
own task metrics reduced into them.

A span is (id, name, start, end, parent, run). While a span is open its name
is the Spark job group, so the event log ties jobs to spans; jobs submitted
from threads the program starts itself carry no group and are placed by
time instead (``attribute`` uses the submission time for every job).

The event log is Spark's own (``spark.eventLog.enabled``, uncompressed);
``read_event_log`` reduces ``SparkListenerTaskEnd`` per job.
"""

from __future__ import annotations

import contextlib
import glob
import json
import time

TASK_FIELDS = (
    "run_s", "cpu_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "input_bytes", "input_records", "output_bytes", "files_written",
)


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes ``span`` a no-op, so
    the untraced run executes the same benchmark code."""

    def __init__(self, spark=None, run_id: str = "run", enabled: bool = True):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def _group(self, name: str | None) -> None:
        if self.spark is not None:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", name)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans), "name": name, "start": time.time(), "end": None,
            "parent": self._stack[-1] if self._stack else None, "run": self.run_id,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._group(name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._group(self.spans[self._stack[-1]]["name"] if self._stack else None)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of its interval that child spans cover."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, reach = 0.0, s["start"]
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], reach), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                reach = hi
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def _task_metrics(e: dict) -> dict[str, float]:
    m = e.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics", {})
    files = sum(
        int(a.get("Update", 0))
        for a in e.get("Task Info", {}).get("Accumulables", [])
        if a.get("Name") == "number of written files"
    )
    return {
        "run_s": m.get("Executor Run Time", 0) / 1e3,
        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1e3,
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle_write_bytes": m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
        "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        "input_bytes": m.get("Input Metrics", {}).get("Bytes Read", 0),
        "input_records": m.get("Input Metrics", {}).get("Records Read", 0),
        "output_bytes": m.get("Output Metrics", {}).get("Bytes Written", 0),
        "files_written": files,
    }


def read_event_log(log_dir: str) -> list[dict]:
    """Jobs of every application log in ``log_dir``, in submission order:
    start/end (epoch s), SQL execution id, whether that execution writes
    files, and the summed task metrics of the job's stages."""
    out = []
    for path in sorted(glob.glob(f"{log_dir}/*")):
        out += _read_app_log(path)
    return sorted(out, key=lambda j: j["start"])


def _read_app_log(path: str) -> list[dict]:
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    writes: dict[int, bool] = {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                exec_id = props.get("spark.sql.execution.id")
                jobs[e["Job ID"]] = {
                    "id": e["Job ID"], "start": e["Submission Time"] / 1e3, "end": None,
                    "exec": int(exec_id) if exec_id is not None else None,
                    **{k: 0.0 for k in TASK_FIELDS},
                }
                for sid in e["Stage IDs"]:
                    stage_job.setdefault(sid, e["Job ID"])
            elif ev == "SparkListenerJobEnd":
                jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
            elif ev == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(e["Stage ID"]))
                if job is not None:
                    for k, v in _task_metrics(e).items():
                        job[k] += v
            elif ev.endswith("SparkListenerSQLExecutionStart"):
                writes[e["executionId"]] = "InsertIntoHadoopFsRelationCommand" in e.get(
                    "physicalPlanDescription", ""
                )
    for j in jobs.values():
        j["writes"] = writes.get(j["exec"], False)
        if j["end"] is None:
            j["end"] = j["start"]
    return list(jobs.values())


def attribute(spans: list[dict], jobs: list[dict]) -> dict[int, list[dict]]:
    """Jobs per span: each job goes to the innermost span open at its
    submission time."""
    by_span: dict[int, list[dict]] = {s["id"]: [] for s in spans}
    for j in jobs:
        best = None
        for s in spans:
            if s["start"] <= j["start"] <= s["end"] and (best is None or s["start"] >= best["start"]):
                best = s
        if best is not None:
            by_span[best["id"]].append(j)
    return by_span


def subtree(spans: list[dict], root: int) -> list[int]:
    ids, frontier = [root], [root]
    while frontier:
        frontier = [s["id"] for s in spans if s["parent"] in frontier]
        ids += frontier
    return ids


def totals(jobs: list[dict]) -> dict[str, float]:
    return {k: sum(j[k] for j in jobs) for k in TASK_FIELDS}


def batch_phases(span: dict, jobs: list[dict]) -> dict[str, float]:
    """Split a ``run_batch`` span into pipeline phases by job order around
    the records write — the first SQL execution in the batch that writes
    files: parse+stats before it, write = its jobs, read-backs = later jobs,
    bookkeeping = driver-only tail after the last job."""
    jobs = sorted(jobs, key=lambda j: j["start"])
    first_write = next((j["exec"] for j in jobs if j["writes"]), None)
    w = [j for j in jobs if j["exec"] == first_write and first_write is not None]
    if not w:
        return {"parse_stats_s": span["end"] - span["start"], "write_s": 0.0, "readbacks_s": 0.0, "bookkeeping_s": 0.0}
    w_start, w_end = min(j["start"] for j in w), max(j["end"] for j in w)
    last = max(j["end"] for j in jobs)
    return {
        "parse_stats_s": w_start - span["start"],
        "write_s": w_end - w_start,
        "readbacks_s": max(0.0, last - w_end),
        "bookkeeping_s": max(0.0, span["end"] - max(last, w_end)),
    }


def span_table(spans: list[dict], jobs: list[dict]) -> list[dict]:
    """Each span with its self time and the task metrics of the jobs in its
    subtree — the file the traced run writes out."""
    by_span = attribute(spans, jobs)
    selfs = self_times(spans)
    return [
        {**s, "self_s": selfs[s["id"]], **totals([j for sid in subtree(spans, s["id"]) for j in by_span[sid]])}
        for s in spans
    ]

