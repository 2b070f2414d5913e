"""Spans around the benchmark's calls into the program, and Spark's own
per-stage metrics from its JSON event log.

A span records name, start, end, parent span and run id. Spans stay in
memory and are written out when the run ends. A span's self time is its
duration minus the part of it covered by its child spans. The layer of a
span is the part of its name before the first dot.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import statistics
import time
from pathlib import Path


class Tracer:
    def __init__(self, run_id: str, on_enter=None):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._ids = itertools.count(1)
        # called with the innermost open span's name ("" when none is open),
        # so Spark jobs can be tagged with the span that started them
        self._on_enter = on_enter or (lambda name: None)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "parent": parent, "name": name, "run": self.run_id,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        self._on_enter(name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._on_enter(self.spans[self._stack[-1] - 1]["name"] if self._stack else "")

    def write(self, path: Path) -> None:
        path.write_text("\n".join(json.dumps(s) for s in self.spans) + "\n")


class NullTracer:
    """Same interface, records nothing: the untraced runs use it."""

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield {}


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id -> duration minus the union of its children's intervals."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(kids.get(s["id"], [])):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = max(0.0, (s["end"] - s["start"]) - covered)
    return out


def layer_self_times(spans: list[dict]) -> dict[str, float]:
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        layer = s["name"].split(".", 1)[0]
        out[layer] = out.get(layer, 0.0) + st[s["id"]]
    return out


# --- Spark event log --------------------------------------------------------

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
}
_PY_ACCUMS = {"data sent to Python workers": "py_sent_b",
              "data returned from Python workers": "py_returned_b",
              "time to run Python workers": "py_run_ms"}


def read_event_log(log_dir: Path) -> list[dict]:
    events = []
    for f in sorted(log_dir.rglob("*")):
        if f.is_file() and (f.name.startswith("events_") or f.name.startswith("local-")):
            with f.open() as fh:
                events.extend(json.loads(line) for line in fh if line.strip())
    return events


def spark_metrics(events: list[dict], props: dict[str, str],
                  passes: int) -> dict[str, float]:
    """Per-pass Spark metrics over the jobs whose local properties include
    `props`. task_skew is max over median task run time in the longest stage
    of those jobs."""
    stages: set[int] = set()
    jobs = 0
    for e in events:
        have = e.get("Properties", {})
        if e["Event"] == "SparkListenerJobStart" and \
                all(have.get(k) == v for k, v in props.items()):
            jobs += 1
            stages.update(e["Stage IDs"])
    run_ms = cpu_ns = sw = sr = spill = 0
    tasks = failed = 0
    task_ms: dict[int, list[int]] = {}
    acc = dict.fromkeys(_PY_ACCUMS.values(), 0)
    stage_wall: dict[int, int] = {}
    ran_stages = 0
    for e in events:
        ev = e["Event"]
        if ev == "SparkListenerTaskEnd" and e["Stage ID"] in stages:
            tasks += 1
            failed += bool(e["Task Info"].get("Failed"))
            tm = e.get("Task Metrics") or {}
            run_ms += tm.get("Executor Run Time", 0)
            cpu_ns += tm.get("Executor CPU Time", 0)
            sw += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            rd = tm.get("Shuffle Read Metrics", {})
            sr += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            spill += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            task_ms.setdefault(e["Stage ID"], []).append(tm.get("Executor Run Time", 0))
        elif ev == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            if si["Stage ID"] not in stages:
                continue
            ran_stages += 1
            stage_wall[si["Stage ID"]] = (si.get("Completion Time", 0)
                                          - si.get("Submission Time", 0))
            for a in si.get("Accumulables", []):
                key = _PY_ACCUMS.get(a.get("Name"))
                if key:
                    acc[key] += int(a.get("Value", 0))
    skew = 1.0
    if stage_wall:
        longest = max(stage_wall, key=stage_wall.get)
        times = task_ms.get(longest, [])
        med = statistics.median(times) if times else 0
        skew = max(times) / med if med else 1.0
    n = max(1, passes)
    return {
        "spark.jobs": jobs / n,
        "spark.stages": ran_stages / n,
        "spark.tasks": tasks / n,
        "spark.failed_tasks": failed / n,
        "spark.executor_run_s": run_ms / 1e3 / n,
        "spark.executor_cpu_s": cpu_ns / 1e9 / n,
        "spark.shuffle_write_mb": sw / 1e6 / n,
        "spark.shuffle_read_mb": sr / 1e6 / n,
        "spark.spill_mb": spill / 1e6 / n,
        "spark.py_sent_mb": acc["py_sent_b"] / 1e6 / n,
        "spark.py_returned_mb": acc["py_returned_b"] / 1e6 / n,
        "spark.py_run_s": acc["py_run_ms"] / 1e3 / n,
        "spark.task_skew": skew,
    }
