"""The ctgov_etl workload's stand-ins for the CTGov API and the LLM.

Both run inside Spark's Python workers (the REST reader and the
classify stage resolve them by ``module:function``), so each appends
a fixed-size record per page or call to a per-process file under a
count directory; the driver sums the files after each pass.
"""

from __future__ import annotations

import os
import struct
import time
from typing import Any

from perfbench.data import make_study

_RECORD = struct.Struct("d")


class _Counter:
    """Appends one float per event to ``<count_dir>/<kind>-<pid>``.

    Transports are pickled from the planning worker to the reading
    ones, so the file is opened lazily in the process that writes."""

    def __init__(self, count_dir: str, kind: str):
        self.count_dir, self.kind = count_dir, kind
        self._fd: int | None = None
        self._pid: int | None = None

    def __getstate__(self):
        return {"count_dir": self.count_dir, "kind": self.kind, "_fd": None, "_pid": None}

    def add(self, value: float) -> None:
        if self._pid != os.getpid():
            path = os.path.join(self.count_dir, f"{self.kind}-{os.getpid()}")
            self._fd = os.open(path, os.O_WRONLY | os.O_APPEND | os.O_CREAT, 0o644)
            self._pid = os.getpid()
        os.write(self._fd, _RECORD.pack(value))

    def __del__(self):
        if self._fd is not None and self._pid == os.getpid():
            os.close(self._fd)


def read_counts(count_dir: str, kind: str) -> tuple[int, float]:
    """(number of events, sum of their values) recorded under ``kind``."""
    n, total = 0, 0.0
    for name in os.listdir(count_dir):
        if name.startswith(kind + "-"):
            with open(os.path.join(count_dir, name), "rb") as fh:
                for (v,) in _RECORD.iter_unpack(fh.read()):
                    n, total = n + 1, total + v
    return n, total


def paged_transport(seed: int, n_studies: int, count_dir: str, indexed: bool = False):
    """Serves the seeded corpus in pages.  By default the second
    argument is a ``nextPageToken``, the only paging protocol the live
    CTGov v2 API offers; with ``indexed`` it is a page number
    (``paging=indexed``, one partition per page)."""
    counter = _Counter(count_dir, "pages")

    def fetch(params: dict[str, Any], cursor: Any) -> dict[str, Any]:
        size = int(params["pageSize"])
        start = int(cursor or 0) * (size if indexed else 1)
        page: dict[str, Any] = {
            "studies": [make_study(seed, i) for i in range(start, min(start + size, n_studies))]
        }
        if not indexed and start + size < n_studies:
            page["nextPageToken"] = str(start + size)
        counter.add(1.0)
        return page

    return fetch


class SleepingRuleClient:
    """Answers like the engine's deterministic pregnancy-rule client
    after sleeping a fixed delay, standing in for a remote model call."""

    def __init__(self, delay_s: float, count_dir: str):
        from ctgov_ai_etl_spark.operators.llm import PREGNANCY_RULES

        self._rules = PREGNANCY_RULES
        self._delay_s = delay_s
        self._waits = _Counter(count_dir, "llm")

    def classify(self, prompt: str) -> str | None:
        t0 = time.perf_counter()
        time.sleep(self._delay_s)
        self._waits.add(time.perf_counter() - t0)
        return self._rules.classify(prompt)


def sleeping_client(gem_cfg: dict) -> SleepingRuleClient:
    """``gemini.client_factory`` target: reads ``delay_s`` and ``count_dir``."""
    return SleepingRuleClient(float(gem_cfg["delay_s"]), gem_cfg["count_dir"])

