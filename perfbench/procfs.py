"""Process-tree CPU, memory and I/O from ``/proc``.

The tree is this Python driver, the Spark JVM it launched, and the
Python workers the JVM forks. CPU of a process that has exited is read
from its parent's ``cutime``/``cstime`` once it is reaped, so a delta of
``tree_cpu`` over an interval counts every process that ran in it.
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces; fields after it start at index 0 = state
    head, tail = raw.rsplit(")", 1)
    return [head.split("(", 1)[1]] + tail.split()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                kids.setdefault(int(st[2]), []).append(int(name))
    return kids


def tree(root: int | None = None) -> dict[int, str]:
    """Map each pid of the tree under ``root`` to its tier:
    ``driver`` (root), ``jvm`` (a java process) or ``pyworker``
    (anything the JVM forked)."""
    root = os.getpid() if root is None else root
    kids = _children()
    out = {root: "driver"}
    todo = [(k, None) for k in kids.get(root, [])]
    while todo:
        pid, tier = todo.pop()
        st = _stat(pid)
        if st is None:
            continue
        if tier is None:
            tier = "jvm" if st[0] == "java" else "driver"
        elif tier == "jvm":
            tier = "pyworker"
        out[pid] = tier
        todo.extend((k, tier) for k in kids.get(pid, []))
    return out


def tree_cpu(pids: dict[int, str] | None = None) -> dict[str, float]:
    """CPU seconds per tier, own plus reaped children."""
    pids = tree() if pids is None else pids
    out = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
    for pid, tier in pids.items():
        st = _stat(pid)
        if st is not None:
            # utime, stime, cutime, cstime are fields 14-17 of stat(5)
            out[tier] += sum(int(x) for x in st[12:16]) / _TICK
    return out


def tree_peak_rss_mb(pids: dict[int, str]) -> float:
    """Peak resident memory (``VmHWM``) summed over the live tree."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])  # kB
        except OSError:
            pass
    return total / 1024


def tree_io(pids: dict[int, str]) -> dict[str, int]:
    """``rchar``/``wchar`` summed over the live tree."""
    out = {"rchar": 0, "wchar": 0}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/io") as f:
                for line in f:
                    key, _, val = line.partition(":")
                    if key in out:
                        out[key] += int(val)
        except OSError:
            pass
    return out


def steal_jiffies() -> int:
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8])  # cpu user nice system idle iowait irq softirq steal


def process_start_time() -> float:
    """Wall-clock time at which this process started."""
    st = _stat(os.getpid())
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    # starttime is field 22 of stat(5), in ticks since boot
    return time.time() - uptime + int(st[20]) / _TICK
