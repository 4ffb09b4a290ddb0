"""Shared helpers for the benchmark: paths, the Spark session, timing
statistics, resident-memory sampling and content digests."""

from __future__ import annotations

import contextlib
import gc
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import sys
import threading
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

with open(os.path.join(BENCH_DIR, "config.json"), encoding="utf-8") as _f:
    CONFIG = json.load(_f)


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def pin_environment() -> int:
    """Pin core count, time zone and every scratch location inside the
    checkout (a fresh .perfbench_work/) before the JVM starts. Returns
    the pinned core count: the CPUs this process may run on."""
    cpus = len(os.sched_getaffinity(0))
    tmp = fresh_dir(os.path.join(fresh_dir(WORK_ROOT), "tmp"))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["TZ"] = "UTC"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    os.environ.setdefault("PYSPARK_DRIVER_PYTHON", sys.executable)
    time.tzset()
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return cpus


def start_spark(work: str, trace: bool = False):
    """The program's own session factory, with only scratch locations
    redirected into the checkout (and, for a traced run, the status
    stores sized to keep every job of the pass)."""
    from pasta_pipeline_spark.session import get_spark

    tmp = os.path.join(WORK_ROOT, "tmp")
    conf = {
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000",
                     "spark.sql.ui.retainedExecutions": "100000"})
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def settle(spark) -> None:
    """Full JVM and Python garbage collection, so a measured operation
    starts from the same heap state instead of paying for the garbage
    of whatever ran before it."""
    spark._jvm.System.gc()
    gc.collect()


def span(ctx, name: str, layer: str):
    """A tracer span when the pass is traced, else nothing."""
    tracer = getattr(ctx, "tracer", None)
    return tracer.span(name, layer) if tracer is not None else contextlib.nullcontext()


# -- statistics --------------------------------------------------------


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(xs, beyond: int = 10):
    """The highest percentile with at least ``beyond`` samples above it:
    returns (value, percentile, n). A sample too small for that
    percentile to lie above the median (n < 2 * beyond) reports its
    maximum, at percentile 100."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return float("nan"), 0.0, 0
    if n < 2 * beyond:
        return s[-1], 100.0, n
    i = n - beyond - 1
    return s[i], round(100.0 * (i + 1) / n, 1), n


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``; dot- and underscore-files
    (checksums, markers) are counted in bytes but not as files."""
    total, files = 0, 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            p = os.path.join(root, name)
            try:
                total += os.path.getsize(p)
            except OSError:
                continue
            if not name.startswith((".", "_")):
                files += 1
    return total, files


def digest(parts) -> str:
    h = hashlib.sha256()
    for p in parts:
        h.update(p if isinstance(p, bytes) else str(p).encode())
        h.update(b"\0")
    return h.hexdigest()[:16]


def file_digest(paths) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


# -- resident memory ----------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="utf-8") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", encoding="utf-8") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def descendants() -> list[int]:
    """Every live process below this one (the driver JVM, the Python
    worker daemon it forks and that daemon's workers)."""
    kids = _children_map()
    todo, out = list(kids.get(os.getpid(), [])), []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", encoding="utf-8") as f:
            return f.read().rsplit(")", 1)[1].split()[0] not in ("Z", "X")
    except OSError:
        return False


def _wait_gone(pids, timeout: float) -> list[int]:
    deadline = time.monotonic() + timeout
    left = [p for p in pids if _alive(p)]
    while left and time.monotonic() < deadline:
        time.sleep(0.05)
        left = [p for p in left if _alive(p)]
    return left


def stop_everything(timeout: float = 30.0) -> None:
    """Stop the Spark session, end the gateway JVM and every process
    below this one, and wait until each has ended. The JVM exits when
    its stdin closes; whatever is still running after ``timeout`` is
    sent SIGTERM, then SIGKILL."""
    from pyspark import SparkContext

    pids = set(descendants())
    sc = SparkContext._active_spark_context
    if sc is not None:
        with contextlib.suppress(Exception):
            sc.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        with contextlib.suppress(Exception):
            gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout)
        except Exception:
            proc.kill()
            proc.wait()
    pids |= set(descendants())
    left = _wait_gone(pids, timeout)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in left:
            with contextlib.suppress(OSError):
                os.kill(pid, sig)
        left = _wait_gone(left, 5.0)
    # reap this process's own children; orphans are reaped by their new parent
    with contextlib.suppress(ChildProcessError):
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass
    if left:
        raise RuntimeError(f"processes still running after stop: {left}")


class RssSampler:
    """Samples the combined RSS of every descendant of this process
    (the driver JVM and the Python workers it forks) from /proc."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> int:
        kids = _children_map()
        todo, total = list(kids.get(os.getpid(), [])), 0
        while todo:
            pid = todo.pop()
            total += _rss_bytes(pid)
            todo.extend(kids.get(pid, []))
        self.peak = max(self.peak, total)
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak / (1024 * 1024)


def finite(x) -> bool:
    return isinstance(x, (int, float)) and math.isfinite(x)
