"""Process-tree helpers: peak RSS of the driver, the JVM and the Python
workers, and stopping everything the run started."""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time


def _children_map() -> "dict[int, list[int]]":
    kids: "dict[int, list[int]]" = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> "list[int]":
    kids, out, stack = _children_map(), [], [pid]
    while stack:
        for c in kids.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


def steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests, summed over this
    machine's CPUs since boot (/proc/stat). A run that lost much of it
    ran slower for reasons outside the program."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


class RssSampler:
    """Samples the RSS of this process (the driver) and all its
    descendants (the JVM and the Python workers under it) on a
    background thread. ``peaks`` holds the largest RSS seen of each
    part, of ``python`` (driver plus workers) and of ``all``."""

    def __init__(self, jvm_pid: "int | None", interval: float = 0.5):
        self.jvm_pid = jvm_pid
        self.interval = interval
        self.peaks = {"driver": 0, "jvm": 0, "workers": 0, "python": 0, "all": 0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            parts = {"driver": rss_bytes(me), "jvm": 0, "workers": 0}
            for p in descendants(me):
                parts["jvm" if p == self.jvm_pid else "workers"] += rss_bytes(p)
            parts["python"] = parts["driver"] + parts["workers"]
            parts["all"] = parts["python"] + parts["jvm"]
            for k, v in parts.items():
                self.peaks[k] = max(self.peaks[k], v)
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


def stop_tree(jvm_proc, graceful, timeout: float = 20.0) -> "list[int]":
    """Stop the JVM and every process under it, and wait for each to end.

    ``graceful`` is tried first (``SparkSession.stop``); then the JVM's
    stdin is closed, which ends it, and anything still running after
    ``timeout`` is killed. Returns the pids that had to be killed."""
    tree = descendants(os.getpid())
    if graceful is not None:
        try:
            graceful()
        except Exception:  # the JVM may already be gone; fall through to the kill path
            pass
    if jvm_proc is not None:
        try:
            jvm_proc.stdin.close()
        except (OSError, ValueError):
            pass
        try:
            jvm_proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            jvm_proc.kill()
            jvm_proc.wait(timeout=5)
    killed = []
    deadline = time.monotonic() + timeout
    for pid in tree:
        while alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
                killed.append(pid)
            except ProcessLookupError:
                pass
    for pid in killed:
        while alive(pid) and time.monotonic() < deadline + 5:
            time.sleep(0.05)
    return killed
