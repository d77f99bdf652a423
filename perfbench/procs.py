"""Process bookkeeping read from /proc: resident memory of the Spark
process tree, and a clean shutdown that waits for every process the
benchmark started."""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid is the 2nd field after ")"
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm", "rb") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass  # exited between the listing and the read
    return total


class PeakRss:
    """Samples the summed RSS of the JVM and its Python workers every
    ``interval`` seconds while running; ``peak`` is the largest sum seen."""

    def __init__(self, jvm_pid: int, interval: float = 0.1):
        self.jvm_pid = jvm_pid
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def sample(self) -> None:
        self.peak = max(self.peak, rss_bytes(tree(self.jvm_pid)))

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait until the JVM and
    every Python worker it forked have exited."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = gateway.proc
    pids = [p for p in tree(proc.pid) if p != proc.pid]
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the gateway server exits on stdin EOF
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.monotonic() + 15
    for pid in pids:
        while _alive(pid):
            if time.monotonic() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
                deadline = time.monotonic() + 15
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read()
    except OSError:
        return False
    # a zombie has exited; its parent (gone or not ours) reaps it
    return stat[stat.rindex(b")") + 2 : stat.rindex(b")") + 3] != b"Z"
