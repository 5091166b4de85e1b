"""CPU time of the benchmark's own process tree, read from ``/proc``, and
the host's speed while it is measured (``SpeedProbe``).

The tree is this process, the JVM it starts and the Python workers the
JVM forks. A process's ``utime + stime`` counts only the time it ran on
a CPU: time the hypervisor gave to other guests (steal) is not charged
to it. ``cutime + cstime`` carry the time of children that already
exited and were waited for. Python workers are forked by pyspark's
daemon, which does not wait for them, so a worker that ends takes its
time with it; workers are reused across tasks, and ``Meter`` counts the
processes that ended while it ran.

Run as a script, this module is the speed probe's process.
"""

from __future__ import annotations

import os
import select
import subprocess
import sys
import time

_TICK = os.sysconf("SC_CLK_TCK")
#: processes left out of the tree's CPU time (the speed probe)
SKIP: set[int] = set()


def _stat(pid: str) -> tuple[int, int] | None:
    """``(ppid, utime + stime + cutime + cstime)`` in clock ticks."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            text = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name is in parentheses and may hold spaces
    fields = text[text.rindex(")") + 2:].split()
    return int(fields[1]), sum(int(v) for v in fields[11:15])


def tree_ticks(root: int | None = None) -> dict[int, int]:
    """Clock ticks used so far by ``root`` (default: this process) and
    every live descendant, by pid."""
    root = os.getpid() if root is None else root
    ppid, ticks = {}, {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _stat(pid)
            if st is not None:
                ppid[int(pid)], ticks[int(pid)] = st
    children: dict[int, list[int]] = {}
    for pid, parent in ppid.items():
        children.setdefault(parent, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in SKIP:
            continue
        out[pid] = ticks.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return out


class Meter:
    """CPU seconds of the process tree between ``start()`` and ``stop()``,
    and how many of its processes ended in between (their time after the
    last reading is lost when nobody waits for them: pyspark's worker
    daemon ignores SIGCHLD)."""

    def start(self) -> "Meter":
        self._t0 = tree_ticks()
        return self

    def stop(self) -> float:
        t1 = tree_ticks()
        self.ended = len(set(self._t0) - set(t1))
        self.cpu_s = (sum(t1.values()) - sum(self._t0.values())) / _TICK
        return self.cpu_s


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its live descendants."""
    return sum(tree_ticks().values()) / _TICK


def cpu_ticks() -> list[int]:
    """The machine-wide ``cpu`` line of ``/proc/stat``."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def steal_share(since: list[int]) -> float:
    """Share of all CPU time the hypervisor gave to other guests since
    ``since`` (the steal column of ``/proc/stat``)."""
    d = [b - a for a, b in zip(since, cpu_ticks())]
    return d[7] / sum(d) if sum(d) else 0.0


class SpeedProbe:
    """The host's speed while the measured work runs.

    On a shared host the CPU time of a fixed piece of work moves by a
    quarter from one second to the next (other tenants share the
    physical cores and caches), and a run's figures move with it. A
    separate process, started by ``start()``, times a fixed pure-Python
    loop every ``INTERVAL_S`` until ``stop()``. ``REF_LOOP_MS`` over its
    mean CPU time per loop rescales a measured CPU time to the reference
    host's speed; times the share of CPU time the hypervisor left this
    guest (1 − steal), it rescales a wall time (see README). The probe
    uses about a tenth of one core and runs none of the engine's code;
    its own CPU time is left out of ``tree_ticks``. Stop it before the
    last reading of a ``Meter``: once waited for, its time joins this
    process's ``cutime``.
    """

    INTERVAL_S = 0.1
    LOOP = 100_000
    #: CPU time of one loop on the reference host (a 4-vCPU KVM guest
    #: on an Intel Xeon, Python 3.11, at a quiet moment)
    REF_LOOP_MS = 10.0
    SKIP_FIRST = 5

    def __init__(self):
        self._proc: subprocess.Popen | None = None

    def start(self) -> "SpeedProbe":
        self._proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        SKIP.add(self._proc.pid)
        self._ticks = cpu_ticks()
        return self

    def stop(self) -> "SpeedProbe":
        """Ends the probe (it stops when its stdin closes) and waits for
        it; a second call, or one before ``start()``, does nothing."""
        if self._proc is None or self._proc.returncode is not None:
            return self
        try:
            out, _ = self._proc.communicate(input="", timeout=30)
        except subprocess.TimeoutExpired:
            self._proc.kill()
            out, _ = self._proc.communicate()
        SKIP.discard(self._proc.pid)
        self.steal_share = steal_share(self._ticks)
        # the first loops run before the interpreter has warmed up
        rows = [ln.split() for ln in out.splitlines()][self.SKIP_FIRST:]
        self.wall_ms = [float(r[0]) for r in rows if len(r) == 2]
        self.cpu_ms = [float(r[1]) for r in rows if len(r) == 2]
        if not self.cpu_ms:
            raise RuntimeError("the speed probe reported no samples")
        return self

    @property
    def cpu_scale(self) -> float:
        """Reference speed over this run's speed, by the loop's CPU time:
        multiply a CPU time by it."""
        return self.REF_LOOP_MS / (sum(self.cpu_ms) / len(self.cpu_ms))

    @property
    def wall_scale(self) -> float:
        """``cpu_scale`` times the share of CPU time the hypervisor left
        this guest over the probe's span: multiply a wall time by it.
        (The loop's own wall time is no measure: it also counts the
        loop waiting for a core the engine's threads hold, so a change
        that made the engine busier would slow the probe and hide
        itself.)"""
        return self.cpu_scale * (1.0 - self.steal_share)


def _probe_main() -> None:
    """Time the loop every ``INTERVAL_S`` until stdin closes; print
    ``<wall ms> <cpu ms>`` per loop."""
    while not select.select([sys.stdin], [], [], SpeedProbe.INTERVAL_S)[0]:
        c, t = time.process_time(), time.perf_counter()
        s = 0
        for i in range(SpeedProbe.LOOP):
            s += i * i % 7
        print(f"{(time.perf_counter() - t) * 1e3:.4f} {(time.process_time() - c) * 1e3:.4f}",
              flush=True)


if __name__ == "__main__":
    _probe_main()
