"""Host figures from /proc: the benchmark's process tree (this Python
driver, the Spark JVM and its Python workers), its CPU time and peak
RSS, and how busy the rest of the machine was while a run measured."""

from __future__ import annotations

import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")
#: a run counts as contended when, while it measured, other processes
#: used more than this share of the host's CPU ...
CONTENDED_OTHER_CPU = 0.25
#: ... or the hypervisor gave more than this share of its virtual CPUs'
#: time to other guests (steal)
CONTENDED_STEAL = 0.03


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2 :].split()  # fields after "pid (comm)"


def process_tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all of its descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(pids) -> float:
    total = 0
    for pid in pids:
        f = _stat_fields(pid)
        if f is not None:
            total += int(f[11]) + int(f[12])  # utime + stime
    return total / _TICK


def host_cpu_s() -> tuple[float, float, int]:
    """Busy and stolen CPU seconds summed over all cores since boot, and
    the core count, from /proc/stat."""
    ncpu, busy, steal = 0, 0.0, 0.0
    with open("/proc/stat") as fh:
        for line in fh:
            if line.startswith("cpu "):
                v = [int(x) for x in line.split()[1:]]
                busy = (sum(v[:7]) - v[3] - v[4]) / _TICK  # user..softirq less idle, iowait
                steal = v[7] / _TICK
            elif line.startswith("cpu"):
                ncpu += 1
    return busy, steal, ncpu


def peak_rss_mb(pids) -> float:
    """Sum of each live process's peak resident set (VmHWM)."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


def loadavg() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


class HostWindow:
    """CPU used by this process tree and by everything else between
    ``start()`` and ``stop()``."""

    def start(self) -> None:
        self._t = time.time()
        self._busy, self._steal, self.ncpu = host_cpu_s()
        self._ours = tree_cpu_s(process_tree())
        self._load0 = loadavg()

    def stop(self) -> dict:
        wall = time.time() - self._t
        busy, steal, _ = host_cpu_s()
        ours = tree_cpu_s(process_tree()) - self._ours
        capacity = wall * self.ncpu
        frac = max(0.0, (busy - self._busy) - ours) / capacity
        steal_frac = (steal - self._steal) / capacity
        return {
            "wall_s": wall,
            "own_cpu_s": ours,
            "other_cpu_frac": frac,
            "steal_frac": steal_frac,
            "loadavg": max(self._load0, loadavg()),
            "contended": frac > CONTENDED_OTHER_CPU or steal_frac > CONTENDED_STEAL,
        }


def reap(pids, timeout_s: float = 20.0) -> None:
    """Terminate the given processes (then kill the stragglers) and
    wait until each has ended."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        alive = [p for p in pids if _alive(p)]
        for p in alive:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + timeout_s / 2
        while time.time() < deadline and any(_alive(p) for p in alive):
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        os.waitpid(pid, os.WNOHANG)
    except ChildProcessError:
        pass
    f = _stat_fields(pid)
    return f is not None and f[0] != "Z"
