"""CPU time and resident memory of this process and every descendant
(the Spark JVM, its Python daemon and workers), read from Linux /proc.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # exited between listing and reading
        return None
    # comm (field 2) may hold spaces: split after its closing paren
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def cpu_seconds(pids: list[int] | None = None) -> float:
    """user+sys CPU of the tree, including reaped children (cutime and
    cstime), so workers that already exited still count."""
    total = 0
    for pid in pids or descendants():
        st = _stat(pid)
        if st is not None:
            # fields 14-17 of stat: utime stime cutime cstime; st starts at field 3
            total += sum(int(v) for v in st[11:15])
    return total / _TICK


def steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests, all CPUs, since
    boot (0 on bare metal). A pass that lost much of it ran slow."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / _TICK if len(fields) > 8 else 0.0


def rss_mb(pids: list[int] | None = None) -> float:
    """Resident memory of the tree now (sum of VmRSS)."""
    total_kb = 0
    for pid in pids or descendants():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024


class RssPeak:
    """Peak of the tree's resident memory, sampled every ``period``
    seconds on a thread while the ``with`` block runs. Python workers
    that exit before the end still count, which a sum of the live
    processes' VmHWM at the end would miss."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)

    def _sample(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, rss_mb())
            if self._stop.wait(self.period):
                return

    def __enter__(self) -> "RssPeak":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, rss_mb())
