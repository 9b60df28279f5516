"""Host marker and memory readings.

The host marker is informational: it lets a slow run be attributed to
a noisy machine (load, steal, a busy CPU) instead of to the code. It
never gates a result. The spin probe is the same measurement as the
frozen harness's ``bench.py::_cpu_probe``: the time one process needs
for a fixed pure-Python loop, and the slowdown when one copy runs per
CPU at once.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time


def _spin() -> float:
    t0 = time.perf_counter()
    s = 0
    for i in range(1_000_000):
        s += i * i
    return time.perf_counter() - t0


def _spin_parallel(n: int) -> float:
    """Mean spin time of ``n`` copies run at once, each in its own
    process. The copies start spinning together once all have started.
    Plain child processes, each waited for, so that nothing outlives the
    probe (a multiprocessing pool leaves its resource tracker running
    until the interpreter exits)."""
    procs = [
        subprocess.Popen(
            [sys.executable, os.path.abspath(__file__)],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
        )
        for _ in range(n)
    ]
    try:
        for p in procs:
            p.stdout.readline()  # started
        for p in procs:
            p.stdin.write("go\n")
            p.stdin.flush()
        times = [float(p.communicate()[0]) for p in procs]
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
            p.wait()
    return sum(times) / n


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as fh:
        return list(map(int, fh.readline().split()[1:9]))


def host_marker() -> dict:
    n = len(os.sched_getaffinity(0))
    single = min(_spin() for _ in range(3))
    a = _cpu_ticks()
    par = _spin_parallel(n)
    b = _cpu_ticks()
    d = [y - x for x, y in zip(a, b)]
    return {
        "load1": os.getloadavg()[0],
        "steal_pct": 100.0 * d[7] / max(sum(d), 1),
        "spin_single_s": single,
        "spin_slowdown": par / single,
    }


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(root: int) -> list[int]:
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                # the command name may hold spaces; the ppid follows its ')'
                parent[int(entry)] = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    out, todo = [], [root]
    while todo:
        cur = todo.pop()
        kids = [p for p, pp in parent.items() if pp == cur]
        out.extend(kids)
        todo.extend(kids)
    return out


def _cpu_ticks_of(pid: int) -> int:
    """utime + stime of a process plus those of its reaped children."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    # fields[0] is the state (field 3 of stat); utime..cstime are fields 14-17
    return sum(int(x) for x in fields[11:15])


def _jit_ticks_of(pid: int) -> int:
    """utime + stime of the JIT compiler threads of a JVM. They are
    named ``C1 CompilerThreadN`` / ``C2 CompilerThreadN`` (cut to 15
    characters in /proc); the JVM must keep them alive
    (``-XX:-UseDynamicNumberOfCompilerThreads``), or the time of one that
    exits leaves this sum but stays in the process's."""
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        head, tail = raw.rsplit(")", 1)
        if "CompilerThre" in head.split("(", 1)[1]:
            fields = tail.split()
            total += int(fields[11]) + int(fields[12])
    return total


class ProcessTreeCpu:
    """CPU seconds used by this driver, the Spark JVM and every process
    under it (Python workers included), read from /proc, leaving out the
    JVM's JIT compiler threads. Those compile in the background whatever
    code has grown hot, so their time lands in whichever operation is
    running; on ``tier_query`` it was over half of a query's CPU time."""

    def __init__(self, jvm_pid: int) -> None:
        self.jvm_pid = jvm_pid
        self.hz = os.sysconf("SC_CLK_TCK")

    def seconds(self) -> float:
        pids = {os.getpid(), self.jvm_pid, *descendants(self.jvm_pid)}
        ticks = sum(_cpu_ticks_of(p) for p in pids) - _jit_ticks_of(self.jvm_pid)
        return ticks / self.hz


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the per-process peak resident memory (VmHWM) of ``pids``."""
    return sum(_status_kb(p, "VmHWM") for p in set(pids)) / 1024.0


if __name__ == "__main__":
    # one copy of the parallel spin probe
    print("ready", flush=True)
    sys.stdin.readline()
    print(_spin())
