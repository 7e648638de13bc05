"""Process-tree memory sampling and a Spark shutdown that waits for the JVM."""

from __future__ import annotations

import os
import subprocess
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")
SAMPLE_INTERVAL_S = 0.1
RESCAN_S = 1.0  # Python workers come and go: re-list the tree this often
JVM_EXIT_TIMEOUT_S = 60.0


def _tree(root: int) -> list[int]:
    """``root``, its ``python*`` descendants and the oldest ``java`` one.

    A process the JVM spawns (Hadoop's ``chmod``, ``readlink``...) starts
    as a vfork child that shares the JVM's memory and reports the JVM's
    RSS as its own until it execs, so it is left out; it is short-lived
    and small once it has exec'ed.
    """
    children: dict[int, list[int]] = {}
    comm: dict[int, str] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        pid = int(entry)
        comm[pid] = stat[stat.index(b"(") + 1 : stat.rindex(b")")].decode(errors="replace")
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(pid)
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, ()))
    jvms = sorted(p for p in tree if comm.get(p) == "java")
    return [p for p in tree if p == root or comm.get(p, "").startswith("python")] + jvms[:1]


def _rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm", "rb") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue  # exited since the tree was listed
    return total


def tree_rss_bytes(root: int) -> int:
    """Summed resident set of ``root``'s process tree: the driver's Python
    process, the JVM it launched and the JVM's Python workers."""
    return _rss_bytes(_tree(root))


class RssSampler:
    """Peak of the process tree's summed RSS, sampled every
    ``SAMPLE_INTERVAL_S`` between ``start`` and ``stop``. The tree is
    re-listed only every ``RESCAN_S``, which keeps the sampler's own /proc
    walk off the measured ops."""

    def __init__(self, root: int):
        self.root = root
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        pids, listed = [], -RESCAN_S
        clock = 0.0
        while True:
            if clock - listed >= RESCAN_S:
                pids, listed = _tree(self.root), clock
            self.peak = max(self.peak, _rss_bytes(pids))
            if self._stop.wait(SAMPLE_INTERVAL_S):
                return
            clock += SAMPLE_INTERVAL_S

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> float:
        """Stop sampling; the peak in MB."""
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes(self.root))
        return self.peak / 2**20


def stop_spark(spark) -> None:
    """Stop the session, then wait until the JVM it launched (and with it
    the Python workers) has exited."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if proc is not None:
            # The gateway JVM exits on stdin EOF. Closing py4j's sockets
            # first can block on a callback connection, so they are left to
            # die with the JVM.
            proc.stdin.close()
            try:
                proc.wait(timeout=JVM_EXIT_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
