"""Tracing helpers: in-memory spans, the Spark event-log reader and the
Python-worker peak-RSS probe. No Spark import here, so tests run bare."""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from statistics import median

# Task-end accumulables that PythonSQLMetrics reports per task (Spark 4.1).
PY_ACCUMS = {
    "data sent to Python workers": "py_sent_bytes",
    "data returned from Python workers": "py_returned_bytes",
    "time to start Python workers": "py_boot_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
}

SPAN_PROPERTY = "perfbench.span"  # Spark local property tagging each job


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory.

    ``on_enter`` is called with the span id when a span opens, and with the
    parent's id (or None) when it closes, so callers can tag Spark jobs
    with the innermost open span."""

    def __init__(self, run_id: str, on_enter=None) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._on_enter = on_enter

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        if self._on_enter:
            self._on_enter(str(sid))
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._on_enter:
                self._on_enter(str(self._stack[-1]) if self._stack else None)

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def subtree_ids(self, sid: int) -> set[int]:
        out = {sid}
        for s in self.spans:  # parents always precede children
            if s["parent"] in out:
                out.add(s["id"])
        return out

    def dump(self, path: str) -> None:
        out = with_self_times(self.spans)
        t0 = min((s["start"] for s in out), default=0.0)
        for s in out:
            s["start"] -= t0
            s["end"] -= t0
        with open(path, "w") as f:
            json.dump(out, f, indent=1)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def with_self_times(spans: list[dict]) -> list[dict]:
    """Copies of closed ``spans`` with ``dur`` and ``self`` (= duration minus
    the part of it that direct children cover)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None and s["end"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = []
    for s in spans:
        if s["end"] is None:
            continue
        dur = s["end"] - s["start"]
        c = covered(kids.get(s["id"], []), s["start"], s["end"])
        out.append({**s, "dur": dur, "self": dur - c})
    return out


# -- Spark event log ---------------------------------------------------------


def read_event_log(log_dir: str) -> list[dict]:
    """All events under ``log_dir`` — plain files and Spark 4's rolling
    ``eventlog_v2_*/events_<n>_*`` directories, in file order."""
    files = sorted(p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p))
    for d in sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*"))):
        files += sorted(
            glob.glob(os.path.join(d, "events_*")),
            key=lambda p: int(os.path.basename(p).split("_")[1]),
        )
    events = []
    for p in files:
        with open(p) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def task_records(events: list[dict]) -> list[dict]:
    """One flat record per successful task end, tagged with the span id its
    stage was submitted under (``SPAN_PROPERTY``)."""
    stage_span: dict[tuple[int, int], str | None] = {}
    for e in events:
        if e.get("Event") == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            props = e.get("Properties") or {}
            stage_span[(info["Stage ID"], info.get("Stage Attempt ID", 0))] = props.get(
                SPAN_PROPERTY
            )
    out = []
    for e in events:
        if e.get("Event") != "SparkListenerTaskEnd":
            continue
        if (e.get("Task End Reason") or {}).get("Reason") != "Success":
            continue
        info, m = e["Task Info"], e.get("Task Metrics") or {}
        rec = {
            "span": stage_span.get((e["Stage ID"], e.get("Stage Attempt ID", 0))),
            "duration_ms": info["Finish Time"] - info["Launch Time"],
            "run_ms": m.get("Executor Run Time", 0),
            "gc_ms": m.get("JVM GC Time", 0),
            "shuffle_write_bytes": (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            ),
            "output_records": (m.get("Output Metrics") or {}).get("Records Written", 0),
        }
        rec.update(dict.fromkeys(PY_ACCUMS.values(), 0), python=False)
        for acc in info.get("Accumulables", []):
            key = PY_ACCUMS.get(acc.get("Name"))
            if key is not None:
                rec[key] += int(acc.get("Update", 0))
                rec["python"] = True
        out.append(rec)
    return out


def stage_summary(tasks: list[dict]) -> dict[str, float]:
    """Boundary, task-floor and scheduling figures over ``tasks``: the
    Python (extraction) stages' tasks for the py/run/tail figures, every
    task for the shuffle write."""
    py = [t for t in tasks if t["python"]]
    durs = sorted(t["duration_ms"] / 1000 for t in py)
    mean = sum(durs) / len(durs) if durs else 0.0
    return {
        "extract.py_sent_mb": sum(t["py_sent_bytes"] for t in py) / 1e6,
        "extract.py_returned_mb": sum(t["py_returned_bytes"] for t in py) / 1e6,
        "extract.py_boot_s": sum(t["py_boot_ms"] for t in py) / 1000,
        "extract.py_init_s": sum(t["py_init_ms"] for t in py) / 1000,
        "extract.py_run_s": sum(t["py_run_ms"] for t in py) / 1000,
        "extract.executor_run_s": sum(t["run_ms"] for t in py) / 1000,
        "extract.gc_s": sum(t["gc_ms"] for t in py) / 1000,
        "extract.tasks": len(py),
        "extract.task_p50_s": median(durs) if durs else 0.0,
        "extract.task_max_s": durs[-1] if durs else 0.0,
        "extract.task_max_over_mean": durs[-1] / mean if mean else 0.0,
        "extract.shuffle_write_mb": sum(t["shuffle_write_bytes"] for t in tasks) / 1e6,
    }


# -- /proc -------------------------------------------------------------------


def _children(pid: int) -> list[int]:
    out = []
    for task in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(task) as f:
                out += [int(c) for c in f.read().split()]
        except OSError:
            continue
    return out


def python_worker_peak_rss_mb(root_pid: int | None = None) -> float:
    """Largest ``VmHWM`` among the PySpark daemon/worker processes that
    descend from ``root_pid`` (this process by default), in MB."""
    todo, best = [root_pid or os.getpid()], 0
    seen = set()
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        todo += _children(pid)
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
            if b"pyspark.daemon" not in cmd and b"pyspark.worker" not in cmd:
                continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        best = max(best, int(line.split()[1]))
        except OSError:
            continue
    return best / 1024
