"""Measurements taken from outside the package: resident memory from
``/proc``, streaming progress from a query listener, and the per-route
kernel probe."""

from __future__ import annotations

import os
import statistics
import threading
import time

_PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 2 ** 20


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                # the command name may hold spaces: ppid follows the ')'
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE_MB
    except (OSError, IndexError, ValueError):
        return 0.0


class PeakRss:
    """Samples the summed resident memory of this process's descendants
    (the JVM and its Python workers) while the ``with`` block runs. The
    process tree is re-listed only every ``rescan`` samples: walking /proc
    costs milliseconds, and the sampler shares the driver's interpreter
    lock with the call being measured."""

    def __init__(self, interval_s: float = 0.1, rescan: int = 10):
        self.interval_s, self.rescan = interval_s, rescan
        self.peak_mb = 0.0
        self._pids: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self, relist: bool) -> None:
        if relist:
            self._pids = descendants(os.getpid())
        self.peak_mb = max(self.peak_mb, sum(_rss_mb(p) for p in self._pids))

    def _run(self) -> None:
        n = 0
        while not self._stop.wait(self.interval_s):
            n += 1
            self._sample(n % self.rescan == 0)

    def __enter__(self):
        self._sample(True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample(True)


def stream_listener(spark):
    """Registers a StreamingQueryListener that keeps each micro-batch's
    ``durationMs``; returns it (``.batches``, ``.terminated``)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self):
            self.batches: list[dict] = []
            self.terminated = 0
            self._lock = threading.Lock()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            with self._lock:
                self.batches.append({"batch_id": p.batchId,
                                     "rows": p.numInputRows,
                                     **dict(p.durationMs)})

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self._lock:
                self.terminated += 1

        def take(self, timeout_s: float = 10.0) -> list[dict]:
            """Wait for the query's termination event, then hand over and
            clear the batches seen since the last take."""
            deadline = time.monotonic() + timeout_s
            while self.terminated == 0 and time.monotonic() < deadline:
                time.sleep(0.05)
            with self._lock:
                out, self.batches, self.terminated = self.batches, [], 0
            return out

    listener = Listener()
    spark.streams.addListener(listener)
    return listener


def kernel_route_us(htmls: list[bytes], per_route: int = 60,
                    passes: int = 3) -> dict[str, float]:
    """µs per document of sequential ``extract_one``, grouped by
    ``detect_route``, over the first ``per_route`` documents of each route.
    One untimed pass warms up; the result is the median of ``passes``."""
    from pubscience_spark.operators.extract import detect_route, extract_one
    sample: dict[str, list[bytes]] = {}
    for raw in htmls:
        group = sample.setdefault(detect_route(raw), [])
        if len(group) < per_route:
            group.append(raw)
    out = {}
    for route, docs in sample.items():
        for raw in docs:
            extract_one(raw)
        times = []
        for _ in range(passes):
            t0 = time.perf_counter()
            for raw in docs:
                extract_one(raw)
            times.append((time.perf_counter() - t0) / len(docs) * 1e6)
        out[route] = statistics.median(times)
    return out
