"""Process-tree accounting from /proc: CPU seconds, peak RSS, and a clean
shutdown that waits for every descendant (the Spark JVM, its Python
daemon and workers)."""

from __future__ import annotations

import os
import signal
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process exited between listing and reading
        return None
    # comm may contain spaces and parentheses: split after the LAST ')'
    return raw[raw.rindex(")") + 2:].split()


def descendants() -> list[int]:
    """Every live descendant of this process."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s() -> float:
    """utime + stime of this process and its live descendants, plus what
    their reaped children already used (cutime + cstime)."""
    total = 0
    for pid in [os.getpid(), *descendants()]:
        f = _stat_fields(pid)
        if f is not None:
            # fields 14-17 of stat(5), i.e. 11-14 after pid/comm/state
            total += sum(int(x) for x in f[11:15])
    return total / _CLK_TCK


def tree_peak_rss_mb() -> float:
    """Sum of the kernel's VmHWM (peak resident set) over the live tree."""
    kb = 0
    for pid in [os.getpid(), *descendants()]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


def snapshot() -> dict[int, str]:
    """{pid: start time} of every live descendant, taken while the tree is
    intact: once the JVM exits its children are re-parented away from us,
    so the shutdown waits on this list instead of walking the tree again."""
    out = {}
    for pid in descendants():
        f = _stat_fields(pid)
        if f is not None:
            out[pid] = f[19]
    return out


def wait_for_exit(procs: dict[int, str], timeout_s: float = 60.0) -> None:
    """Wait until every process in `procs` has exited (a zombie counts as
    exited); SIGKILL the ones still alive after `timeout_s` and wait for
    those too."""
    def alive() -> list[int]:
        out = []
        for pid, started in procs.items():
            f = _stat_fields(pid)
            if f is not None and f[19] == started and f[0] != "Z":
                out.append(pid)
        return out

    deadline = time.monotonic() + timeout_s
    while alive() and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in alive():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while alive():
        time.sleep(0.1)
