"""Timed wrapper of the engine's real ``UrllibTransport`` (traced runs).

Named in ``RoundConfig.http_transport`` as
``crawlbench.transport:timed_urllib_transport``; the engine resolves it
inside each Python worker. ``arg`` is a directory: every request
appends its client-side latency in ms to ``http-<pid>.txt`` there.
"""

from __future__ import annotations

import os
import threading
import time

from pyspider_spark.engine.fetch_http import UrllibTransport


class TimedTransport(UrllibTransport):
    def __init__(self, out_dir: str):
        super().__init__()
        self._path = os.path.join(out_dir, f"http-{os.getpid()}.txt")
        self._lock = threading.Lock()

    def request(self, method, url, headers, timeout, body=None):
        t0 = time.perf_counter()
        try:
            return super().request(method, url, headers, timeout, body)
        finally:
            ms = (time.perf_counter() - t0) * 1000.0
            with self._lock, open(self._path, "a") as f:
                f.write(f"{ms:.4f}\n")


def timed_urllib_transport(arg: str | None = None) -> TimedTransport:
    return TimedTransport(arg or ".")
