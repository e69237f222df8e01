"""Tracing for the benchmark's traced run, all from outside the engine.

* ``Tracer`` records spans (name, start, end, parent, run id) around the
  benchmark's own calls into the engine's public functions, keeps them in
  memory and writes them as JSON lines at exit. Each span also sets the
  Spark job description, so every job it launches is tagged with the span
  (the innermost open span wins).
* ``parse_event_log`` reads Spark's own uncompressed event log and sums
  TaskEnd metrics per job description: task seconds, bytes read, shuffle
  bytes written, and the Python-worker SQL metrics (time to run Python
  workers, data sent to / returned from Python workers).
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str):
        """Time one layer call; jobs launched inside are tagged ``name``."""
        parent = self.spans[self._open[-1]]["name"] if self._open else None
        rec = {"name": name, "parent": parent, "run_id": self.run_id,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._open.append(len(self.spans) - 1)
        self.sc.setJobDescription(name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._open.pop()
            self.sc.setJobDescription(
                self.spans[self._open[-1]]["name"] if self._open else None
            )

    def seconds(self, name: str, parent: str | None = None) -> float:
        """Summed duration of every span called ``name`` (under ``parent``,
        when given)."""
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and parent in (None, s["parent"]))

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


#: task-level SQL accumulables summed per job description
_ACCUMS = {
    "time to run Python workers": "py_worker_ms",
    "data sent to Python workers": "to_py_bytes",
    "data returned from Python workers": "from_py_bytes",
}


def event_log_files(log_dir: str) -> list[str]:
    """Spark 4 writes a rolling directory ``eventlog_v2_<app>/events_<n>_<app>``."""
    files = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    return sorted(files, key=lambda p: int(os.path.basename(p).split("_")[1]))


def parse_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """{job description: {task_s, cpu_s, input_bytes, shuffle_write_bytes,
    py_worker_ms, to_py_bytes, from_py_bytes, tasks}} over every finished
    task. Tasks of jobs without a description are filed under ``""``."""
    stage_desc: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for path in event_log_files(log_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                    for sid in ev.get("Stage IDs", []):
                        stage_desc.setdefault(sid, desc)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    acc = out[stage_desc.get(ev["Stage ID"], "")]
                    acc["tasks"] += 1
                    acc["task_s"] += m.get("Executor Run Time", 0) / 1e3
                    acc["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    acc["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    acc["shuffle_write_bytes"] += (
                        (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    )
                    for a in (ev.get("Task Info") or {}).get("Accumulables", []):
                        key = _ACCUMS.get(a.get("Name"))
                        if key is not None:
                            acc[key] += float(a.get("Update") or 0)
    return {k: dict(v) for k, v in out.items()}
