"""CPU time of the program's process tree, split by layer.

The tree is this Python process (the driver: facade, serving, plan
construction), the Spark JVM it launched, and the JVM's descendants
(PySpark's daemon and the Python workers that run UDFs). A process's
CPU time is what the kernel charged it; on a guest with paravirtual
steal accounting that excludes the time the host ran someone else, so
it stays put when wall time swings with the host's load.

The JVM's JIT compiler threads are counted apart, as ``jit``: they
compile the JVM's hot code, including the classes Spark generates for
each plan, and took about 45% of the process tree's CPU in
``serve_read``'s measured window. The JVM runs with a fixed set of
compiler threads (``-XX:-UseDynamicNumberOfCompilerThreads``), so none
exits and takes its CPU time out of the split.
"""

from __future__ import annotations

import os
import resource

_TICK_MS = 1000.0 / os.sysconf("SC_CLK_TCK")
LAYERS = ("driver", "jvm", "jit", "workers")
JVM_FLAGS = "-XX:-UseDynamicNumberOfCompilerThreads"


def _stat(path: str) -> tuple[str, int, float] | None:
    """(name, ppid, CPU ms of the task and its reaped children) from a
    ``stat`` file, or None if the task has exited."""
    try:
        with open(path) as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces and parentheses; fields follow the last ')'
    fields = raw[raw.rindex(")") + 2:].split()
    ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return raw[raw.index("(") + 1:raw.rindex(")")], int(fields[1]), ticks * _TICK_MS


class TreeCPU:
    """Snapshots of CPU ms per layer: ``driver`` (this process, all
    threads), ``jit`` (the JVM's compiler threads), ``jvm`` (the rest
    of the JVM) and ``workers`` (every descendant of the JVM)."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    def snapshot(self) -> dict[str, float]:
        ru = resource.getrusage(resource.RUSAGE_SELF)
        out = dict.fromkeys(LAYERS, 0.0)
        out["driver"] = (ru.ru_utime + ru.ru_stime) * 1000.0
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(f"/proc/{name}/stat")
                if st is not None:
                    stats[int(name)] = st[1:]
        if self.jvm_pid in stats:
            for tid in os.listdir(f"/proc/{self.jvm_pid}/task"):
                st = _stat(f"/proc/{self.jvm_pid}/task/{tid}/stat")
                if st is not None and st[0].startswith(("C1 CompilerThre", "C2 CompilerThre")):
                    out["jit"] += st[2]
            out["jvm"] = stats[self.jvm_pid][1] - out["jit"]
        for pid, (_, ms) in stats.items():
            p = pid
            while p in stats and p != self.jvm_pid and p > 1:
                p = stats[p][0]
            if p == self.jvm_pid and pid != self.jvm_pid:
                out["workers"] += ms
        return out


def delta(a: dict[str, float], b: dict[str, float]) -> dict[str, float]:
    """CPU ms per layer spent between snapshots ``a`` and ``b``, and
    their sum under ``total``."""
    d = {k: b[k] - a[k] for k in LAYERS}
    d["total"] = sum(d.values())
    return d
