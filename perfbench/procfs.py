"""Readers for the Linux ``/proc`` counters the benchmark reports.

CPU time comes from ``/proc/<pid>/stat`` (utime, stime, cutime, cstime,
in clock ticks), host steal from the aggregate line of ``/proc/stat``
and resident-set peaks from ``/proc/<pid>/status``.
"""

from __future__ import annotations

import os

_TICK = float(os.sysconf("SC_CLK_TCK"))


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` after the command name, or None
    when the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces and parentheses: split after the
    # last ')'.  fields[0] is then the state (field 3 of proc(5)).
    return raw[raw.rindex(")") + 2:].split()


def cpu_s(pid: int) -> tuple[float, float] | None:
    """(own CPU seconds, CPU seconds of reaped children) of ``pid``."""
    f = _stat_fields(pid)
    if f is None:
        return None
    own = int(f[11]) + int(f[12])
    reaped = int(f[13]) + int(f[14])
    return own / _TICK, reaped / _TICK


def process_age_s() -> float:
    """Seconds since this process started, from its kernel start time."""
    f = _stat_fields(os.getpid())
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - int(f[19]) / _TICK


def _children() -> dict[int, list[int]]:
    """ppid -> child pids, for every process visible in /proc."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            kids.setdefault(int(f[1]), []).append(int(name))
    return kids


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def descendants(pid: int) -> list[int]:
    """Every live descendant of ``pid``."""
    kids = _children()
    out, stack = [], list(kids.get(pid, []))
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(kids.get(p, []))
    return out


class PythonWorkerCpu:
    """Cumulative CPU seconds of the ``pyspark.daemon`` process tree
    under the JVM.

    Workers fork from the daemon and are reaped by it, so a worker's
    whole CPU time moves into the daemon's reaped-children counter when
    it exits.  The total is therefore

        daemon own + daemon reaped + live workers now
        + the last value seen of every process whose time can no
          longer be read anywhere (a daemon that exited, or a worker
          whose daemon is gone).

    Summing only the live processes instead goes backwards whenever a
    worker exits between two samples."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self._last: dict[int, tuple[float, int]] = {}  # pid -> (cpu, parent)
        self._daemons: set[int] = set()
        self._lost = 0.0

    def sample(self) -> float:
        kids = _children()
        live: dict[int, tuple[float, int]] = {}
        for d in kids.get(self.jvm_pid, []):
            if d not in self._daemons and "pyspark.daemon" not in _cmdline(d):
                continue
            self._daemons.add(d)
            c = cpu_s(d)
            if c is None:
                continue
            live[d] = (c[0] + c[1], self.jvm_pid)
            for w in kids.get(d, []):
                cw = cpu_s(w)
                if cw is not None:
                    live[w] = (cw[0] + cw[1], d)
        for pid, (cpu, parent) in self._last.items():
            if pid in live:
                continue
            # a vanished worker whose daemon is still alive was reaped by
            # it: its time is in the daemon's counter already
            if parent in live and parent != self.jvm_pid:
                continue
            self._lost += cpu
        self._last = live
        return self._lost + sum(cpu for cpu, _ in live.values())


def steal_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat") as fh:
        v = [int(x) for x in fh.readline().split()[1:9]]
    return v[7], sum(v)


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / total if total > 0 else 0.0


def peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of ``pid`` in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
