"""The benchmark's process tree: peak resident memory while it runs,
and a teardown that waits until every process it started has exited."""

from __future__ import annotations

import os
import signal
import threading
import time


def descendants(pid: int) -> set[int]:
    """Every live descendant of ``pid``, from the kernel's per-thread
    child lists."""
    out: set[int] = set()
    todo = [pid]
    while todo:
        p = todo.pop()
        try:
            tasks = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue
        for t in tasks:
            try:
                with open(f"/proc/{p}/task/{t}/children") as f:
                    kids = [int(c) for c in f.read().split()]
            except OSError:
                continue
            for k in kids:
                if k not in out:
                    out.add(k)
                    todo.append(k)
    return out


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def tree_rss(pid: int) -> int:
    return sum(rss_bytes(p) for p in {pid} | descendants(pid))


def process_age_s() -> float:
    """Seconds since this process started, from ``/proc``."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


class PeakRss:
    """Samples the resident memory of this process and all its
    descendants (driver, JVM, Python workers) until stopped."""

    def __init__(self, interval: float = 0.2):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, args=(interval,), daemon=True)

    def _run(self, interval: float) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss(me))
            self._stop.wait(interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False


def wait_gone(pids: set[int], timeout: float) -> set[int]:
    """Wait until none of ``pids`` is alive; kill what is left at the
    deadline and return those pids."""
    deadline = time.time() + timeout
    alive = set(pids)
    while alive and time.time() < deadline:
        alive = {p for p in alive if os.path.exists(f"/proc/{p}") and not _zombie(p)}
        time.sleep(0.05)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    return alive


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return False


def stop_spark(spark, timeout: float = 60.0) -> set[int]:
    """Stop the session and the JVM behind it, then wait for the JVM and
    every Python worker to exit. Returns pids that had to be killed."""
    children = descendants(os.getpid())
    gateway = spark.sparkContext._gateway
    jvm = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if jvm is not None:
        # The JVM exits when the pipe to its stdin closes.
        jvm.stdin.close()
        try:
            jvm.wait(timeout=timeout)
        except Exception:  # noqa: BLE001 - killed below
            pass
    return wait_gone(children, timeout)
