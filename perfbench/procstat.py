"""CPU time and peak memory of this process and everything it started
(the Spark JVM and its Python workers), read from ``/proc``."""

from __future__ import annotations

import ctypes
import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the subreaper of everything it starts, so that a
    worker whose parent exits stays in the tree (its CPU is counted and
    it can be waited for) instead of moving to init."""
    prctl = ctypes.CDLL(None, use_errno=True).prctl
    prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    prctl.restype = ctypes.c_int
    if prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        err = ctypes.get_errno()
        raise OSError(err, os.strerror(err))


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces; the fields after it are fixed
    return raw[raw.rindex(")") + 2 :].split()


def tree() -> list[int]:
    """This process and all its live descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(entry))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_s() -> float:
    """User + system CPU seconds of the process tree, counting children
    that have exited and been reaped by a process in the tree."""
    total = 0
    for pid in tree():
        st = _stat(pid)
        if st is not None:
            # utime, stime, cutime, cstime
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def host_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine since boot: the share
    of steal over an interval is how much a hypervisor took from us."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def peak_rss_by_process() -> dict[str, float]:
    """VmHWM (peak resident set, MB) of each live process of the tree,
    keyed by ``pid:command``."""
    out = {}
    for pid in tree():
        try:
            with open(f"/proc/{pid}/status") as fh:
                fields = dict(line.split(":", 1) for line in fh if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            out[f"{pid}:{fields['Name'].strip()}"] = int(fields["VmHWM"].split()[0]) / 1024
    return out


def reap_descendants(timeout: float = 20.0) -> None:
    """Wait for every descendant of this process to end, killing what is
    left after ``timeout`` seconds."""
    deadline = time.monotonic() + timeout
    while True:
        left = [p for p in tree() if p != os.getpid()]
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.monotonic() + 5
        try:
            # reap direct children; grandchildren are reaped by theirs
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        time.sleep(0.05)
