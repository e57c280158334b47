"""Spans around public calls, and Spark event-log decoding.

Spans are recorded by the benchmark (never inside the program): name,
parent, start and end, kept in memory and written out when the run ends.
Each span also sets the Spark job description on the calling thread, so
jobs submitted from that thread carry the span's name; jobs submitted from
the pipeline's fan-out thread pool do not (the description is a
thread-local property), and are counted as unlabeled.

Spark jobs are attributed to the innermost span open at their submission
time. Per-span event-log metrics are task time, CPU time, GC time, jobs,
shuffle-write bytes and spill bytes, plus the SQL metrics of the Arrow
Python UDF boundary (time in, and bytes to and from, Python workers).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager

import pyarrow as pa


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._sc = None

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name,
               "parent": parent["id"] if parent else None, "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec)
        if self._sc is not None:
            self._sc.setJobDescription(name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._sc is not None:
                self._sc.setJobDescription(parent["name"] if parent else None)

    def last(self, name: str) -> dict:
        return [s for s in self.spans if s["name"] == name][-1]

    def wall(self, name: str) -> float:
        s = self.last(name)
        return s["end"] - s["start"]

    def dump(self, path: str, per_span: dict) -> None:
        """Write the spans, each with its own event-log totals."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump([dict(s, events=per_span.get(s["id"], {})) for s in self.spans], fh, default=str)


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

PY_RUN = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


def _event_files(ev_dir: str) -> list[str]:
    """Spark 4 rolls the log into eventlog_v2_<app>/events_<n>_<app>[.zstd];
    a non-rolling log is one file in the directory."""
    rolled = glob.glob(os.path.join(ev_dir, "eventlog_v2_*", "events_*"))
    if rolled:
        return sorted(rolled, key=lambda p: int(os.path.basename(p).split("_")[1]))
    return sorted(p for p in glob.glob(os.path.join(ev_dir, "*")) if os.path.isfile(p))


def read_events(ev_dir: str):
    for path in _event_files(ev_dir):
        codec = "zstd" if path.endswith(".zstd") else None
        with pa.input_stream(path, compression=codec) as fh:
            data = fh.read()
        for line in data.splitlines():
            if line.strip():
                yield json.loads(line)


def attribute(ev_dir: str, spans: list[dict]) -> dict[int, dict]:
    """Per span id: event-log totals of the jobs whose submission falls
    inside it (innermost span wins) and of the tasks of their stages."""
    jobs, stage_job, tasks = {}, {}, []
    for e in read_events(ev_dir):
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jobs[e["Job ID"]] = (e["Submission Time"] / 1000.0, props.get("spark.job.description"))
            for sid in e.get("Stage IDs", []):
                stage_job.setdefault(sid, e["Job ID"])
        elif kind == "SparkListenerTaskEnd":
            tasks.append(e)

    def innermost(t: float):
        best = None
        for s in spans:
            if s["end"] is not None and s["start"] <= t <= s["end"]:
                if best is None or s["start"] >= best["start"]:
                    best = s
        return best

    out: dict[int, dict] = {}

    def acc(span_id: int) -> dict:
        return out.setdefault(span_id, {
            "jobs": 0, "unlabeled_jobs": 0, "task_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
            "shuffle_write_bytes": 0, "spill_bytes": 0, "python_s": 0.0,
            "python_bytes_sent": 0, "python_bytes_returned": 0, "stage_reads": {},
        })

    job_span = {}
    for jid, (t, desc) in jobs.items():
        s = innermost(t)
        if s is None:
            continue
        job_span[jid] = s["id"]
        a = acc(s["id"])
        a["jobs"] += 1
        a["unlabeled_jobs"] += desc is None
    for e in tasks:
        jid = stage_job.get(e["Stage ID"])
        if jid not in job_span:
            continue
        a = acc(job_span[jid])
        m = e.get("Task Metrics") or {}
        a["task_s"] += m.get("Executor Run Time", 0) / 1e3
        a["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        a["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        a["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        a["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
        rd = m.get("Shuffle Read Metrics") or {}
        read = rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
        if read:
            a["stage_reads"].setdefault(e["Stage ID"], []).append(read)
        for u in (e.get("Task Info") or {}).get("Accumulables", []):
            name = u.get("Name")
            if name == PY_RUN:
                a["python_s"] += int(u.get("Update", 0)) / 1e3
            elif name == PY_SENT:
                a["python_bytes_sent"] += int(u.get("Update", 0))
            elif name == PY_RETURNED:
                a["python_bytes_returned"] += int(u.get("Update", 0))
    return out


def partition_skew(stage_reads: dict) -> float:
    """max ÷ median shuffle-read bytes over the reduce tasks of the stage
    that read the most; with a fixed partition count every reduce
    partition is one task."""
    if not stage_reads:
        raise ValueError("the span read no shuffle data")
    reads = max(stage_reads.values(), key=sum)
    return max(reads) / statistics.median(reads)
