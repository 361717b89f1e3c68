"""Session set-up and the closed call loop shared by timed and traced runs."""

from __future__ import annotations

import ctypes
import os
import signal
import statistics
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
WORK = BENCH / ".work"
NPROC = len(os.sched_getaffinity(0))
# the first sample launches the JVM, the others restart in it
SETUP_SAMPLES = 3
MIN_TIMED_CALLS = 2
MAX_CALLS = 40
# stop starting calls once a run is this old, to end well within 180 s
RUN_BUDGET_S = 120


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def session_conf(event_log: Path | None = None) -> dict:
    conf = {
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData",
    }
    if event_log is not None:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(event_log),
            # read back in Python: a zstd-compressed log would need a zstd
            # decoder package
            "spark.eventLog.compress": "false",
        })
    return conf


def start_session(conf: dict):
    """get_spark + Python-worker warm-up; returns (spark, start_s,
    warmup_s)."""
    from pubscience_spark.operators.extract import extract_pages
    from pubscience_spark.session import get_spark
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", master=f"local[{NPROC}]",
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    warm = spark.range(0, 4 * NPROC, numPartitions=NPROC).selectExpr(
        "concat('warm-', id) AS url", "cast('<p>warm</p>' AS binary) AS html")
    extract_pages(warm).write.format("noop").mode("overwrite").save()
    return spark, t1 - t0, time.perf_counter() - t1


def set_up(conf: dict):
    """Starts the session SETUP_SAMPLES times and keeps the last one."""
    starts, warms = [], []
    for i in range(SETUP_SAMPLES):
        spark, start_s, warm_s = start_session(conf)
        starts.append(start_s)
        warms.append(warm_s)
        if i < SETUP_SAMPLES - 1:
            spark.stop()
    setups = [a + b for a, b in zip(starts, warms)]
    log(f"set-up samples {[round(s, 3) for s in setups]}")
    return spark, {"setup_s": statistics.median(setups),
                   "session.start_s": statistics.median(starts),
                   "session.warmup_s": statistics.median(warms)}


def end_jvm() -> None:
    """Shuts the py4j gateway down and waits for the JVM to exit, so no
    process outlives the run (call after the last ``spark.stop()``)."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()          # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def become_subreaper() -> None:
    """Makes this process the child subreaper of everything it starts:
    a process orphaned by its parent's exit (the Python worker daemon
    outlives the JVM by a moment) is re-parented here instead of to init,
    so ``end_descendants`` can see it and wait for it."""
    PR_SET_CHILD_SUBREAPER = 36
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        log(f"prctl(PR_SET_CHILD_SUBREAPER) failed: "
            f"{os.strerror(ctypes.get_errno())}")


def end_descendants(grace_s: float = 30.0) -> None:
    """Waits until every process this one started has ended and been
    reaped. Whatever is still running after ``grace_s`` is killed (and
    then waited for), so no process outlives the run."""
    from probes import descendants
    deadline = time.monotonic() + grace_s
    killed = False
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        left = descendants(os.getpid())
        if not left:
            return
        if not killed and time.monotonic() > deadline:
            log(f"killing {len(left)} process(es) left after the run")
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed = True
        time.sleep(0.05)


class Calls:
    """The closed loop: reset, timed call, check; one caller. ``after``
    runs after each successful call with its row (the traced run uses it
    to collect per-call counters)."""

    def __init__(self, spark, wl, t_start: float, after=None):
        self.spark, self.wl, self.t_start, self.after = \
            spark, wl, t_start, after
        self.attempted = self.failed = 0
        self.rows: list[dict] = []

    def one(self, timed: bool, group: str | None = None) -> None:
        from probes import PeakRss
        wl, sc = self.wl, self.spark.sparkContext
        wl.reset()
        self.attempted += 1
        if group:
            sc.setJobGroup(group, group)
        try:
            with PeakRss() as rss:
                t_wall, t0 = time.time(), time.perf_counter()
                res = wl.call(self.spark)
                wall = time.perf_counter() - t0
            errs = wl.check(res)
        except Exception as exc:  # a failed call counts, the loop goes on
            errs = [f"{type(exc).__name__}: {exc}"]
        finally:
            if group:
                sc.setLocalProperty("spark.jobGroup.id", None)
        if errs:
            self.failed += 1
            log(f"call failed: {errs}")
            return
        files, nbytes = wl.written()
        row = {"wall_s": wall, "t0": t_wall, "t1": t_wall + wall,
               "files_written": files, "out_bytes": nbytes,
               "peak_rss_mb": rss.peak_mb, "group": group, "res": res}
        log(f"{'timed' if timed else 'warm-up'} call {wall:.3f} s")
        if self.after is not None:
            self.after(row)
        if timed:
            self.rows.append(row)

    def loop(self, seconds: float, group_prefix: str | None = None) -> None:
        t0 = time.perf_counter()
        while True:
            group = (f"{group_prefix}-{self.attempted}"
                     if group_prefix else None)
            self.one(timed=True, group=group)
            if self.attempted >= MAX_CALLS or (
                    len(self.rows) >= MIN_TIMED_CALLS
                    and time.perf_counter() - t0 >= seconds):
                break
            if time.perf_counter() - self.t_start > RUN_BUDGET_S:
                break

    def median(self, key: str) -> float:
        return statistics.median(r[key] for r in self.rows)


def end_to_end(setup: dict, calls: Calls, input_rows: int) -> dict:
    wall = calls.median("wall_s")
    return {
        "setup_s": (setup["setup_s"], "s"),
        "wall_s": (wall, "s"),
        "docs_per_s": (input_rows / wall, "docs/s"),
        "out_bytes_per_doc": (calls.median("out_bytes") / input_rows,
                              "B/doc"),
        "files_written": (calls.median("files_written"), "files"),
        "peak_rss_mb": (calls.median("peak_rss_mb"), "MB"),
    }
