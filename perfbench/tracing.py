"""Measurement plumbing: in-memory spans, the peak-RSS sampler, the
streaming listener and the Spark event-log fold.

Spans are recorded by the benchmark around its calls into the
engine's layers; nothing inside the engine is instrumented.  Event-log
records and listener progress are attributed to a span by time: one
client issues one operation at a time, so every job, task and
micro-batch that starts inside an operation's span belongs to it.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    """Spans as dicts ``{id, parent, name, start, end, **attrs}``
    (epoch seconds), kept in memory; nothing is recorded when off."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        rec = {"id": len(self.spans), "parent": self._stack[-1] if self._stack else None,
               "name": name, **attrs, "start": time.time()}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` by a function that runs the original
        inside a span (used on the engine's public layer functions)."""
        orig = getattr(module, attr)
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        setattr(module, attr, traced)

    def with_self_times(self) -> list[dict]:
        """Spans with ``dur_s`` and ``self_s`` (duration minus the part
        covered by child spans, which never overlap each other)."""
        child_s: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] += s["end"] - s["start"]
        return [
            {**s, "dur_s": s["end"] - s["start"], "self_s": s["end"] - s["start"] - child_s[s["id"]]}
            for s in self.spans
        ]


def process_tree(root: int) -> list[int]:
    """``root`` and the pids of all its live descendants, from /proc."""
    children: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children[ppid].append(int(entry))
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, ()))
    return tree


def _tree_pss_bytes(root: int) -> int:
    """Proportional set size of ``root`` and its descendants: each
    page shared between processes (forked Python workers share most of
    theirs with the daemon) is split between them, not counted twice."""
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                total += next(int(l.split()[1]) for l in fh if l.startswith("Pss:")) * 1024
        except (OSError, StopIteration, IndexError, ValueError):
            continue
    return total


class RssSampler:
    """Peak resident memory of a process tree (the driver JVM and its
    Python workers), as the sum of proportional set sizes, sampled
    from /proc every ``interval_s`` on a thread.  One sample walks the
    page tables of a ~2 GB tree (about 20 ms of kernel time on a 4-core
    host), so sampling much more often slows the passes it measures."""

    def __init__(self, root_pid: int, interval_s: float = 0.5):
        self.root_pid, self.interval_s, self.peak_bytes = root_pid, interval_s, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_bytes = max(self.peak_bytes, _tree_pss_bytes(self.root_pid))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def _iso_epoch(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class BatchListener(StreamingQueryListener):
    """Keeps every micro-batch's progress: start, phase durations and
    state-store totals."""

    def __init__(self):
        self.batches: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.batches.append({
            "start": _iso_epoch(p.timestamp),
            "durationMs": dict(p.durationMs),
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
            "state_memory_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
            "state_commit_ms": sum(s.commitTimeMs for s in p.stateOperators),
        })

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def drain_listener_bus(spark) -> None:
    """Block until Spark has delivered every queued listener event."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


# ------------------------------------------------------------ event log

_PY_METRICS = {
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
}
_TIMING_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


def _walk_plan(info: dict, out: dict[int, tuple[str, float]]) -> None:
    names = {m["name"] for m in info.get("metrics", [])}
    is_python = "data returned from Python workers" in names
    for m in info.get("metrics", []):
        key = _PY_METRICS.get(m["name"])
        if key is None and is_python and m["name"] == "number of output rows":
            key = "python.rows_returned"
        if key is not None:
            out[m["accumulatorId"]] = (key, _TIMING_SCALE.get(m["metricType"], 1.0))
    for child in info.get("children", []):
        _walk_plan(child, out)


def read_event_log(log_dir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if path.endswith(".inprogress"):
            continue
        with open(path) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def fold_event_log(events: list[dict], windows: list[tuple[float, float, str]]) -> dict:
    """Sum event-log counters per window label.

    ``windows`` are ``(start, end, label)`` in epoch seconds; a job
    counts where it was submitted, a stage and a task where they were
    launched.  Returns ``{label: {metric: value}}``.
    """
    py_accums: dict[int, tuple[str, float]] = {}
    for e in events:
        if e["Event"].endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            _walk_plan(e["sparkPlanInfo"], py_accums)

    def label_at(ms: float):
        t = ms / 1000.0
        for start, end, label in windows:
            if start <= t <= end:
                return label
        return None

    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            if (lab := label_at(e["Submission Time"])) is not None:
                out[lab]["jobs"] += 1
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if (lab := label_at(info.get("Submission Time", 0))) is not None:
                out[lab]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            ti = e["Task Info"]
            lab = label_at(ti["Launch Time"])
            if lab is None:
                continue
            o = out[lab]
            o["tasks"] += 1
            m = e.get("Task Metrics") or {}
            o["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
            o["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            o["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sw, sr = m.get("Shuffle Write Metrics", {}), m.get("Shuffle Read Metrics", {})
            o["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            o["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            o["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
            o["spill_memory_bytes"] += m.get("Memory Bytes Spilled", 0)
            o["spill_disk_bytes"] += m.get("Disk Bytes Spilled", 0)
            o["scan_bytes_read"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
            o["scan_records_read"] += m.get("Input Metrics", {}).get("Records Read", 0)
            o["output_bytes_written"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
            o["output_records_written"] += m.get("Output Metrics", {}).get("Records Written", 0)
            for acc in ti.get("Accumulables", []):
                hit = py_accums.get(acc.get("ID"))
                if hit is not None and isinstance(acc.get("Update"), (int, float, str)):
                    o[hit[0]] += float(acc["Update"]) * hit[1]
    return out
