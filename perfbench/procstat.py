"""CPU time and resident memory of this process and its descendants
(the Spark driver JVM and its Python workers), read from ``/proc``."""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
MIN_AGE_S = 1.0


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as f:
            raw = f.read()
    except OSError:  # the process exited between listing and reading
        return None
    # fields after the parenthesised command name (which may hold spaces)
    return raw[raw.rindex(")") + 2:].split()


def process_tree(root: int) -> dict[int, int]:
    """``root`` and every live process below it, mapped to its parent."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = {root: 0}, [root]
    while todo:
        pid = todo.pop()
        for child in children.get(pid, ()):
            out[child] = pid
            todo.append(child)
    return out


def tree_cpu_seconds(root: int) -> float:
    """utime+stime of the live tree plus that of reaped children
    (cutime+cstime), so workers that exit mid-job are still counted."""
    ticks = 0
    for pid in process_tree(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # fields[11..14] = utime, stime, cutime, cstime (stat(5) 14-17)
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _TICK


def tree_rss_bytes(tree: dict[int, int]) -> int:
    """Summed RSS over the processes of ``tree`` (pid → parent) that are
    at least ``MIN_AGE_S`` old. A process the JVM is spawning shares the
    JVM's memory until it execs, so counting it would count the JVM
    twice; such helpers live for milliseconds."""
    with open("/proc/uptime", encoding="ascii") as f:
        now = float(f.read().split()[0])
    total = 0
    for pid in tree:
        fields = _stat_fields(pid)
        if fields is None or now - int(fields[19]) / _TICK < MIN_AGE_S:
            continue  # exited, or too young (stat(5) field 22: starttime)
        try:
            with open(f"/proc/{pid}/statm", encoding="ascii") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:  # exited since its stat was read
            pass
    return total


class PeakRss:
    """Samples the tree's summed RSS on a thread while armed."""

    def __init__(self, root: int, interval: float = 0.05) -> None:
        self.root = root
        self.interval = interval
        self.peak = 0
        self._armed = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="peak-rss", daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        tree, n = {self.root: 0}, 0
        while not self._stop.is_set():
            if self._armed.wait(0.2) and not self._stop.is_set():
                if n % 10 == 0:  # re-list the tree every 10 samples
                    tree = process_tree(self.root)
                n += 1
                self.peak = max(self.peak, tree_rss_bytes(tree))
                self._stop.wait(self.interval)

    def arm(self) -> None:
        self._armed.set()

    def disarm(self) -> None:
        self._armed.clear()

    def close(self) -> None:
        self._stop.set()
        self._armed.set()
        self._thread.join(timeout=5)
