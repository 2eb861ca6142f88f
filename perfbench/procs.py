"""The Spark JVM and its Python workers as seen from ``/proc``: peak
memory sampling, and stopping every one of them when the run ends."""

from __future__ import annotations

import os
import signal
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _ppid_map() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ")"
        out[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(root: int) -> set[int]:
    """root and every process below it."""
    kids: dict[int, list[int]] = {}
    for pid, ppid in _ppid_map().items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = set(), [root]
    while todo:
        pid = todo.pop()
        if pid not in out:
            out.add(pid)
            todo.extend(kids.get(pid, ()))
    return out


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


def pss_bytes(pid: int) -> int:
    """Proportional set size: pages shared with other processes (a forked
    worker shares its parent's) count in proportion, not once per process."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


def alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


class MemorySampler:
    """Samples the memory of the JVM and its descendants (the Python
    daemon and workers) on a background thread: the JVM's RSS plus the
    descendants' PSS, since forked workers share pages with the daemon.
    Reading the JVM's RSS from ``statm`` is cheap; its PSS would make the
    kernel walk the whole heap's page tables on every sample."""

    def __init__(self, root_pid: int, interval: float = 0.2, rescan: float = 0.5):
        self.root = root_pid
        self.interval = interval
        self.rescan = rescan
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> "MemorySampler":
        self._thread.start()
        return self

    def _run(self) -> None:
        live, last_scan = {self.root}, 0.0
        while not self._stop.is_set():
            now = time.monotonic()
            if now - last_scan >= self.rescan:
                live = descendants(self.root)
                last_scan = now
            total = rss_bytes(self.root) + sum(
                pss_bytes(p) for p in live if p != self.root
            )
            self.peak = max(self.peak, total)
            self._stop.wait(self.interval)

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def stop_spark(spark, timeout: float = 30.0) -> set[int]:
    """Stop the session, shut the JVM down and wait for it and every
    process it started to end. Returns the pids that had to be killed."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    pids = descendants(proc.pid) if proc is not None else set()
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout)
        except Exception:
            proc.kill()
            proc.wait(timeout)
    killed = set()
    deadline = time.monotonic() + timeout
    for pid in sorted(pids):
        while alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if alive(pid):
            os.kill(pid, signal.SIGKILL)
            killed.add(pid)
    return killed
